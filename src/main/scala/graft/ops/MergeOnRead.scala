package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read snapshot maintenance — the at-scale alternative to the
  * reference's daily TRUNCATE+INSERT rebuild (SURVEY.md §2.10a,
  * ProcessDaily.usql:142-177).
  *
  * The faithful executor ([[graft.entities.Pipelines.runSnapshot]])
  * rewrites the whole curated table every run; correct, and cheap at
  * reference scale, but at 100 TB a daily run that rewrites 100 TB to
  * apply a sub-1% delta is the dominant cost of the whole pipeline. This
  * operator family splits the table into
  *
  *   - `base/` — the last compacted snapshot (large, rewritten rarely),
  *   - `delta/ingest_date=D/` — one partition per daily run (small,
  *     appended in O(delta) time),
  *
  * and resolves latest-effective-version-wins per key AT READ TIME over
  * base ∪ deltas — the same [[Merges.snapshotMerge]] plan, so the view is
  * row-identical to the full-rewrite executor's table at every point.
  * Periodic [[compact]] folds the deltas into a new base to bound read
  * amplification: write cost becomes O(delta) daily + O(table) per
  * compaction cycle instead of O(table) daily. This is the standard
  * copy-on-write vs merge-on-read trade (Hudi/Iceberg/Delta all expose
  * it); here it is expressed purely with Spark primitives: partitioned
  * parquet appends, `unionByName`, and one window.
  *
  * Scale notes: the read-side dedup costs one hash exchange on the key —
  * the same exchange the daily full rewrite already paid; deltas prune by
  * `ingest_date` partition; nothing collects to the driver. Re-running a
  * day is idempotent (dynamic partition overwrite replaces that day's
  * delta partition, mirroring StageData's partition replace,
  * StageData.usql:24-28).
  */
object MergeOnRead {

  private def basePath(dir: String, table: String) = s"$dir/$table/base"
  private def deltaPath(dir: String, table: String) = s"$dir/$table/delta"

  private def exists(spark: SparkSession, p: String): Boolean = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  private def readOpt(spark: SparkSession, p: String): Option[DataFrame] = {
    def attempt(): Option[DataFrame] =
      if (!exists(spark, p)) None
      else
        // a layer with no part file (a delta whose day partitions a
        // racing compaction just deleted) has no footer to read, and
        // Spark's inference fails there; treat it as absent. A
        // MISSING-path failure is NOT that case — let it escape so the
        // swap retry below can recover instead of silently reading an
        // empty base.
        try Some(graft.core.Tables.parquet(spark, p))
        catch { case e: org.apache.spark.sql.AnalysisException
            if !graft.core.FsOps.isMissingPath(e) => None }
    if (p.endsWith("/base")) {
      // [[compact]]'s swap can die between its two renames, leaving base
      // absent with the data stranded under .base_old_<stamp> — re-adopt
      // before concluding the base does not exist, and retry through
      // re-adoption if a racing swap moves the dir between the recovery
      // and the read's file listing ([[graft.core.FsOps.convergeRead]])
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.core.FsOps.convergeRead()(
        graft.core.FsOps.reAdopt(fs, path, ".base_old_"))(attempt())
    } else attempt()
  }

  /** Append one day's projected rows as the `ingest_date=day` delta
    * partition. O(delta) write; re-running the day replaces its partition
    * (idempotent). `fresh` must carry `etl_ingest_date`. */
  def appendDelta(fresh: DataFrame, dir: String, table: String): Unit =
    // PER-WRITER overwrite mode, never the session conf: ProcessDaily's
    // runMor fires ~25 appendDelta calls concurrently on one session,
    // and a set/restore of the shared conf races — a writer executing
    // under a concurrently-restored STATIC mode truncates the whole
    // delta/ dir to today's partition, silently deleting every earlier
    // un-compacted day (the Staging.writeStaging idiom, which is
    // race-free by construction).
    fresh
      .withColumn("ingest_date", col("etl_ingest_date"))
      .write.mode("overwrite").partitionBy("ingest_date")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(deltaPath(dir, table))

  /** The current snapshot view: base ∪ deltas, latest version per key —
    * row-identical to what the full-rewrite executor's table would hold.
    * Schema comes from whichever layer exists on disk (base wins); `like`
    * is the template for a table with no data yet. */
  def readSnapshot(spark: SparkSession, dir: String, table: String,
      keys: Seq[String], order: Seq[Column],
      like: Option[DataFrame] = None): DataFrame = {
    val (base, deltas) = layers(spark, dir, table, like, identity)
    Merges.snapshotMerge(base, deltas, keys, order)
  }

  /** The (base, deltas) pair every view merges: deltas pass through
    * `deltaFilter` (over the `ingest_date` partition column, which is then
    * dropped), and a missing layer is an empty frame of the schema from
    * whichever layer exists (base wins), else from `like`. */
  private def layers(spark: SparkSession, dir: String, table: String,
      like: Option[DataFrame], deltaFilter: DataFrame => DataFrame)
      : (DataFrame, DataFrame) =
    layersOpt(spark, dir, table, like, deltaFilter).getOrElse(
      throw new IllegalStateException(
        s"$table has no base, no deltas, and no schema template"))

  /** [[layers]], or None when neither layer exists and `like` is empty. */
  private def layersOpt(spark: SparkSession, dir: String, table: String,
      like: Option[DataFrame], deltaFilter: DataFrame => DataFrame)
      : Option[(DataFrame, DataFrame)] = {
    val base = readOpt(spark, basePath(dir, table))
    // a delta dir with no day partition holds no rows (an entity with no
    // rows for any staged day, or deltas all compacted away, leave only
    // _SUCCESS): skip it unread, since Spark runs its inference job over
    // no files before it fails
    val deltas =
      (if (pendingDeltaDays(spark, dir, table).isEmpty) None
       else readOpt(spark, deltaPath(dir, table)))
        .map(d => deltaFilter(d).drop("ingest_date"))
    base.orElse(deltas).map(_.schema).orElse(like.map(_.schema)).map { schema =>
      def orEmpty(d: Option[DataFrame]) = d.getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      (orEmpty(base), orEmpty(deltas))
    }
  }

  /** The merge-on-read view for a COLLECTION entity (§2.10b semantics:
    * a re-crawled origin's membership is replaced wholesale by its most
    * recent crawl; everything else carries forward). Resolution is
    * latest-DAY-wins per origin: among base ∪ deltas, an origin keeps
    * exactly the rows of its maximum `etl_ingest_date` — one aggregate +
    * one equi-join on the origin key, both distributed. Row-identical to
    * the full-rewrite `collectionMerge` chain because each day's delta is
    * already that day's resolved membership (latest crawl, exploded,
    * distinct), so replaying "newest day wholesale" reproduces the
    * replacement-then-carry-forward recurrence. */
  def readCollectionSnapshot(spark: SparkSession, dir: String, table: String,
      originCol: String, like: Option[DataFrame] = None): DataFrame = {
    val (base, deltas) = layers(spark, dir, table, like, identity)
    val all = base.unionByName(deltas)
    val winning = all.groupBy(originCol)
      .agg(max(col("etl_ingest_date")).as("__wd"))
    all.join(winning, Seq(originCol))
      .where(col("etl_ingest_date") === col("__wd"))
      .drop("__wd")
      .distinct()
  }

  /** Fold all deltas into a new base and clear them: one full-table
    * rewrite amortized over however many daily runs accumulated. Uses the
    * same tmp+rename swap discipline as the curated overwrite. */
  def compact(spark: SparkSession, dir: String, table: String,
      keys: Seq[String], order: Seq[Column]): Unit = {
    val target = new Path(basePath(dir, table))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ENUMERATE the delta partitions being folded BEFORE reading the
    // snapshot: a concurrent daily appendDelta can land a new
    // ingest_date= partition while the (long) rewrite runs, and a
    // recursive delete of the whole deltas/ dir afterwards would drop
    // that never-folded day's rows from every subsequent read. Only the
    // partitions this compaction actually folded are GC'd.
    val foldedParts = pendingDeltaDays(spark, dir, table)
      .map(d => new Path(deltaPath(dir, table), s"ingest_date=$d"))
    // each layer is read once, for both the no-op guard and the merge
    val (base, deltas) = layersOpt(spark, dir, table, None, identity) match {
      case Some(pair) => pair
      case None => return // nothing staged for this table yet — no-op
    }
    val snap = Merges.snapshotMerge(base, deltas, keys, order)
    val stamp = System.nanoTime()
    val tmp = new Path(s"$dir/$table/.base_staging_$stamp")
    snap.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(s"$dir/$table/.base_old_$stamp")
    graft.core.FsOps.atomicSwap(fs, tmp, target, old)
    // folded deltas are in the new base; clear ONLY them after the swap
    foldedParts.foreach(p => fs.delete(p, true))
  }

  /** TIME-TRAVEL read: the snapshot as it stood after ingesting
    * `asOfDay` — base ∪ only the delta partitions with
    * `ingest_date <= asOfDay`. The filter hits the delta PARTITION
    * column, so the scan prunes to exactly the ≤ asOfDay directories
    * (a metadata decision, no data read for later days).
    *
    * Horizon: compaction folds deltas into base, so travel reaches back
    * only to the last [[compact]] — the standard MOR trade (keep more
    * delta days ↔ deeper history; a real deployment tiers old deltas to
    * cold storage instead of deleting). Reading a pre-compaction day
    * raises rather than silently returning newer state: callers pass
    * `compactedThrough` (their compaction watermark) when they track
    * one. */
  def readSnapshotAsOf(spark: SparkSession, dir: String, table: String,
      keys: Seq[String], order: Seq[Column], asOfDay: String,
      like: Option[DataFrame] = None,
      compactedThrough: Option[String] = None): DataFrame = {
    compactedThrough.foreach { ct =>
      require(asOfDay >= ct,
        s"as-of $asOfDay predates the compaction horizon $ct — " +
          "that history was folded into base")
    }
    val (base, deltas) = layers(spark, dir, table, like,
      _.where(col("ingest_date") <= asOfDay))
    Merges.snapshotMerge(base, deltas, keys, order)
  }

  /** VACUUM: remove stranded maintenance artifacts — `.base_staging_*`
    * dirs from a compaction that died before its swap and `.base_old_*`
    * dirs from one that died between swap and cleanup. Both are invisible
    * to readers (the dot prefix keeps them out of every scan), but at
    * 100 TB a stranded old-base copy doubles the table's storage bill, so
    * a retention job has to reap them. Only artifacts older than
    * `olderThanMs` go (default 24 h): a CONCURRENT compaction's live
    * staging dir is younger than any sane retention window, which is the
    * same age-guard Delta's VACUUM uses against in-flight writers.
    * Returns the deleted paths. Live `base/` and `delta/` are never
    * touched. */
  def vacuum(spark: SparkSession, dir: String, table: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val root = new Path(s"$dir/$table")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    fs.listStatus(root).toSeq
      .filter { s =>
        val n = s.getPath.getName
        (n.startsWith(".base_staging_") || n.startsWith(".base_old_")) &&
          s.getModificationTime < cutoff
      }
      .map { s => fs.delete(s.getPath, true); s.getPath.toString }
  }

  /** Distinct delta days currently awaiting compaction (partition listing
    * only — a metadata read, no data scan). */
  def pendingDeltaDays(spark: SparkSession, dir: String, table: String): Seq[String] = {
    val dp = new Path(deltaPath(dir, table))
    val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dp)) Seq.empty
    else fs.listStatus(dp).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_date="))
      .map(_.stripPrefix("ingest_date=")).sorted
  }
}
