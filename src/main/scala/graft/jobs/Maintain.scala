package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The nightly table-maintenance composite — what keeps a 100 TB
  * warehouse scannable as streams and daily appends accumulate debris.
  * One call per table of a [[graft.core.Snapshots]] root runs, in order:
  *
  *  1. '''small-file compaction''' ([[graft.core.Layout.compact]]) —
  *     when the table's current version has fragmented past `maxFiles`,
  *     a row-identical rewrite into right-sized files is staged as the
  *     next version, with a zone synopsis over the columns the prior
  *     version's synopsis mapped, committed once and vacuumed to two
  *     versions. Below `maxFiles` nothing is committed (compaction is
  *     the expensive step, so the trigger is explicit). Of two racing
  *     compactions exactly one commits; the other throws;
  *  2. '''result-cache vacuum''' ([[graft.plans.ResultCache.vacuum]]) —
  *     entries older than `cacheTtlMs` are superseded fingerprints
  *     (any data change already re-keyed the readers) and are reaped.
  *
  * Vacuum runs last (independent, but a compaction invalidates cache
  * entries over this table anyway — their fingerprints bound the OLD
  * file listing, so they can never serve again and age out here). A
  * crashed run leaves only an invisible staged version and is simply
  * re-run — the same contract as the reference's daily procedures
  * (`ProcessDaily.usql`'s rebuild-style maintenance).
  *
  * Returns a one-row report (metadata-sized; every number comes from
  * file listings and footers, not data scans — except the compaction
  * rewrite itself, which is the point). `zoneMapped` is the number of
  * files the current version's synopsis maps. */
object Maintain {

  final case class Report(table: String, filesBefore: Long,
      filesAfter: Long, compacted: Boolean, cacheReaped: Long)

  def run(spark: SparkSession, root: String, table: String,
      cacheDir: Option[String] = None,
      maxFiles: Int = 64, targetFileBytes: Long = 128L << 20,
      cacheTtlMs: Long = 7L * 24 * 3600 * 1000,
      nowMs: Long = 0L): DataFrame = {
    // nowMs is caller-supplied (no wall-clock reads inside operators —
    // the corpus-wide determinism discipline), so an UNSET nowMs with a
    // cacheDir would make the vacuum a silent no-op (0 − mtime is never
    // > ttl) and report cacheReaped=0 as if it had run. Fail loudly.
    require(cacheDir.isEmpty || nowMs > 0L,
      "Maintain.run: nowMs must be supplied when cacheDir is set — " +
        "the cache vacuum compares nowMs against entry mtimes")
    import spark.implicits._
    import graft.core.{Layout, Snapshots}
    import org.apache.spark.sql.GraftSqlShim
    val txn = Snapshots.begin(spark, root)
    val current = txn.parent.getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    val before = GraftSqlShim.dataFiles(current.path(table),
      spark.sessionState.newHadoopConf()).size
    val (_, after) =
      if (before > maxFiles) Layout.compact(txn, table, targetFileBytes)
      else (before, before)
    val compacted = after < before
    if (compacted) {
      txn.commit()
      Snapshots.vacuum(spark, root, keepLast = 2)
    }
    val reaped = cacheDir.map(c => graft.plans.ResultCache
      .vacuum(spark, c, cacheTtlMs, nowMs)).getOrElse(0)
    Seq(Report(table, before.toLong, after.toLong, compacted,
      reaped.toLong)).toDF()
  }

  final case class IvfReport(index: String, cells: Long, maxStale: Double,
      rebuilt: Boolean)

  /** The IVF retrain policy — the piece [[graft.ops.Ann.ivfAppend]]
    * documents but leaves to maintenance: appends assign against FROZEN
    * centroids, so after enough drifted batches the cell means walk away
    * from the centroids and recall-per-probe decays. This job closes the
    * loop: read [[graft.ops.Ann.ivfStaleness]] (K rows — max L2 gap
    * between each stored centroid and its cell's current mean, deltas
    * included), and if any cell exceeds `staleThreshold`, RETRAIN — one
    * commit over the index's own live vectors (base ∪ deltas of one
    * pinned snapshot) with `kmeansIters` Lloyd's rounds producing fresh
    * centroids and a fresh assignment layout. The commit folds the
    * deltas and carries the stream watermark forward, so replayed
    * micro-batches stay hidden across a retrain. Below threshold it is a
    * strict no-op: no version is committed (the spec pins this).
    *
    * Scale: the decision reads K staleness rows (bounded driver class);
    * the rebuild, when triggered, is the same O(corpus) cost as the
    * original build — which is the point of gating it on a threshold
    * instead of rebuilding nightly. It reads the pinned version's
    * immutable files, so nothing is copied aside first.
    *
    * `numCentroids <= 0`: the retrain FOLLOWS CORPUS GROWTH — the same
    * appends that drifted the centroids also grew n, so the rebuild
    * re-sizes K from the corpus it rebuilds over
    * ([[graft.ops.Ann.autoGranularity]]: cell population pinned,
    * in-cell candidate volume linear in n). A fixed K drifts toward
    * quadratic in-cell cost as the index absorbs batches; the auto dial
    * is what keeps a long-lived, append-heavy index at its design
    * point without an operator remembering to re-tune it. */
  def maintainIvf(spark: SparkSession, indexPath: String, dim: Int,
      numCentroids: Int, staleThreshold: Double,
      kmeansIters: Int = 5): DataFrame = {
    import spark.implicits._
    require(staleThreshold > 0, s"staleThreshold must be > 0: $staleThreshold")
    val st = graft.ops.Ann.ivfStaleness(spark, indexPath, dim).collect()
    val maxStale = if (st.isEmpty) 0.0 else st.map(_.getDouble(2)).max
    val rebuilt = maxStale > staleThreshold
    if (rebuilt)
      graft.ops.Ann.ivfRetrain(spark, indexPath, dim, numCentroids, kmeansIters)
    Seq(IvfReport(indexPath, st.length.toLong, maxStale, rebuilt)).toDF()
  }
}
