package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The nightly table-maintenance composite — what keeps a 100 TB
  * path-addressed warehouse scannable as streams and daily appends
  * accumulate debris. One call per table directory runs, in order:
  *
  *  1. '''small-file compaction''' ([[graft.core.Layout.compact]]) —
  *     row-identical rewrite into right-sized files when the directory
  *     has fragmented past `maxFiles`; skipped otherwise (compaction is
  *     the expensive step, so the trigger is explicit);
  *  2. '''zone-map reconciliation''' ([[graft.core.ZoneMap]]) — after a
  *     compaction the old per-file stats describe files that no longer
  *     exist, so the map is REBUILT; with no compaction the cheap
  *     `refresh` (O(new files)) covers whatever appended since;
  *  3. '''result-cache vacuum''' ([[graft.plans.ResultCache.vacuum]]) —
  *     entries older than `cacheTtlMs` are superseded fingerprints
  *     (any data change already re-keyed the readers) and are reaped.
  *
  * Ordering matters: compact before zone-map (the map must describe the
  * final layout), vacuum last (independent, but a compaction invalidates
  * cache entries over this table anyway — their fingerprints bound the
  * OLD file listing, so they can never serve again and age out here).
  * Each step is idempotent, so a crashed run is simply re-run — the
  * same contract as the reference's daily procedures
  * (`ProcessDaily.usql`'s rebuild-style maintenance).
  *
  * Returns a one-row report (metadata-sized; every number comes from
  * file listings, not data scans — except the compaction rewrite
  * itself, which is the point). */
object Maintain {

  final case class Report(table: String, filesBefore: Long,
      filesAfter: Long, compacted: Boolean, zoneMapped: Long,
      cacheReaped: Long)

  def run(spark: SparkSession, tableDir: String, zoneCols: Seq[String],
      zoneDir: String, cacheDir: Option[String] = None,
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
    import graft.core.{Layout, ZoneMap}
    val before = ZoneMap.listDataFiles(spark, tableDir).size
    val compacted = before > maxFiles
    val after =
      if (compacted) Layout.compact(spark, tableDir, targetFileBytes)._2
      else before
    val zoned =
      if (compacted) { // old stats describe dead files — full rebuild
        ZoneMap.build(spark, tableDir, zoneCols, zoneDir)
        ZoneMap.listDataFiles(spark, tableDir).size
      } else ZoneMap.refresh(spark, tableDir, zoneCols, zoneDir)
    val reaped = cacheDir.map(c => graft.plans.ResultCache
      .vacuum(spark, c, cacheTtlMs, nowMs)).getOrElse(0)
    Seq(Report(tableDir, before.toLong, after.toLong, compacted,
      zoned.toLong, reaped.toLong)).toDF()
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
