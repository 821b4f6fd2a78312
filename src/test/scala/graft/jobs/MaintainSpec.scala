package graft.jobs

import graft.SparkSpec
import graft.core.Snapshots
import graft.plans.ResultCache
import org.apache.spark.sql.functions._

class MaintainSpec extends SparkSpec {
  import spark.implicits._

  /** Table `t` committed at a fresh Snapshots root as `files` files of
    * ids 0 until n. */
  private def zonedRoot(prefix: String, n: Long, files: Int): String = {
    val root = scratch(prefix)
    val txn = Snapshots.begin(spark, root)
    spark.range(n).select(col("id"), (col("id") % 9).as("k"))
      .repartition(files).write.parquet(txn.dir("t"))
    txn.commit()
    root
  }

  test("fragmented table: compact + zone-map rebuild + cache vacuum, data identical") {
    val root = zonedRoot("mt_tbl", 10000, 100)
    val cache = scratch("mt_cache")
    def current = Snapshots.open(spark, root).read(spark, "t")
    // a cached result whose fingerprint binds the OLD listing
    ResultCache.through(current.groupBy(col("k")).count(), cache)
    val sumBefore = current.agg(sum(col("id"))).collect().head.getLong(0)
    val v1 = Snapshots.currentId(spark, root).get

    val now = System.currentTimeMillis()
    val r = Maintain.run(spark, root, "t", Some(cache),
      maxFiles = 10, cacheTtlMs = 0L, nowMs = now + 10000).collect().head
    assert(r.getBoolean(3), "100 files over maxFiles=10 must compact")
    assert(r.getLong(2) < r.getLong(1), s"files must shrink: $r")
    assert(Snapshots.currentId(spark, root).contains(v1 + 1), "one commit")
    // data untouched by the rewrite
    assert(current.agg(sum(col("id"))).collect().head.getLong(0) == sumBefore)
    // pruning still correct on the new layout
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.ZoneMapRule
    try assert(current.where(col("id").between(100L, 199L)).count() == 100)
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == graft.plans.ZoneMapRule)
    // the superseded cache entry was reaped
    assert(r.getLong(4) == 1L && !ResultCache.isCached(
      current.groupBy(col("k")).count(), cache))
  }

  test("healthy table: no compaction commits no version") {
    val root = zonedRoot("mt_ok", 1000, 3)
    val version = Snapshots.currentId(spark, root)
    val r = Maintain.run(spark, root, "t", None, maxFiles = 64).collect().head
    assert(!r.getBoolean(3), "3 files under maxFiles=64 must not compact")
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L, s"$r")
    assert(Snapshots.currentId(spark, root) == version, "a healthy table commits nothing")
  }

  test("run: cacheDir without nowMs fails loudly instead of no-op vacuuming") {
    val root = zonedRoot("mt_now", 100, 1)
    intercept[IllegalArgumentException] {
      Maintain.run(spark, root, "t", Some(scratch("mt_now_c")))
    }
  }

  // --- IVF retrain policy -------------------------------------------------

  private def blobs(n: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.05f))
    }
  }

  /** The committed version of one index table (`centroids`, `assignments`). */
  private def committed(index: String, table: String) =
    Snapshots.open(spark, index).read(spark, table)

  test("maintainIvf: un-drifted appends are a strict no-op — index byte-stable") {
    import graft.ops.Ann
    val idx = scratch("mt_ivf_ok")
    Ann.buildIvfIndex(blobs(200, 1).toDF("vec_id", "vec"), "vec_id", "vec",
      4, numCentroids = 2, idx, kmeansIters = 5)
    // append MORE of the same two blobs: cell means stay put
    Ann.ivfAppend(spark, idx,
      blobs(60, 2).map { case (i, v) => (i + 1000L, v) }.toDF("vec_id", "vec"),
      "vec_id", "vec", 4)
    // every file under the index root, commit records included
    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idx))
        .map(f => f.getPath -> ((f.lastModified(), f.length()))).toMap
    }
    val version = Snapshots.currentId(spark, idx)
    val before = snapshot()
    val r = Maintain.maintainIvf(spark, idx, 4, numCentroids = 2,
      staleThreshold = 0.5).collect().head
    assert(!r.getBoolean(3), s"clean appends must not trigger retrain: $r")
    assert(r.getDouble(2) < 0.5 && r.getLong(1) == 2L, s"report: $r")
    assert(snapshot() == before, "no-op maintenance must not move a byte")
    assert(Snapshots.currentId(spark, idx) == version,
      "no-op maintenance commits nothing")
  }

  test("maintainIvf: drifted appends trigger retrain with FRESH centroids") {
    import graft.ops.Ann
    val idx = scratch("mt_ivf_drift")
    Ann.buildIvfIndex(blobs(200, 3).toDF("vec_id", "vec"), "vec_id", "vec",
      4, numCentroids = 2, idx, kmeansIters = 5)
    val centsBefore = committed(idx, "centroids")
      .orderBy(col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toList
    // a THIRD blob far from both centroids: whichever cell absorbs it
    // gets a mean dragged ~halfway to (0,0,5,5) — staleness >> 0.5
    val rnd = new scala.util.Random(4)
    val far = (0 until 200).map(i => (5000L + i,
      Array(0f, 0f, 5f, 5f).map(_ + rnd.nextFloat() * 0.05f)))
      .toDF("vec_id", "vec")
    Ann.ivfAppend(spark, idx, far, "vec_id", "vec", 4)
    val stale = Ann.ivfStaleness(spark, idx, 4).agg(max(col("stale")))
      .collect().head.getDouble(0)
    assert(stale > 0.5, s"fixture should drift a cell, max stale = $stale")
    val r = Maintain.maintainIvf(spark, idx, 4, numCentroids = 2,
      staleThreshold = 0.5, kmeansIters = 10).collect().head
    assert(r.getBoolean(3), s"drift past threshold must rebuild: $r")
    val centsAfter = committed(idx, "centroids")
      .orderBy(col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toList
    assert(centsAfter != centsBefore, "rebuild must produce fresh centroids")
    // the rebuilt index carries every vector (old + appended)
    assert(committed(idx, "assignments").count() == 400L)
    // and the fresh centroids fit the NEW distribution: staleness collapses
    val staleAfter = Ann.ivfStaleness(spark, idx, 4)
      .agg(max(col("stale"))).collect().head.getDouble(0)
    assert(staleAfter < 0.5, s"post-rebuild staleness should collapse: $staleAfter")
  }

  test("maintainIvf: retrain folds live deltas and preserves the watermark") {
    import graft.ops.Ann
    val idx = scratch("mt_ivf_delta")
    Ann.buildIvfIndex(blobs(200, 11).toDF("vec_id", "vec"), "vec_id", "vec",
      4, numCentroids = 2, idx, kmeansIters = 3)
    // streaming lifecycle: one folded batch (advances the watermark),
    // then a LIVE un-compacted delta carrying the drifting blob
    Ann.ivfDeltaAppend(spark, idx,
      blobs(50, 12).map { case (i, v) => (i + 2000L, v) }.toDF("vec_id", "vec"),
      "vec_id", "vec", 4, 0L)
    Ann.ivfCompactDeltas(spark, idx)
    assert(Snapshots.open(spark, idx).watermark.contains(0L))
    val rnd = new scala.util.Random(13)
    val far = (0 until 200).map(i => (5000L + i,
      Array(0f, 0f, 5f, 5f).map(_ + rnd.nextFloat() * 0.05f)))
      .toDF("vec_id", "vec")
    Ann.ivfDeltaAppend(spark, idx, far, "vec_id", "vec", 4, 1L)
    // a second live delta through the non-stream append path
    Ann.ivfAppend(spark, idx, far.withColumn("vec_id", col("vec_id") + 10000L),
      "vec_id", "vec", 4)
    val r = Maintain.maintainIvf(spark, idx, 4, numCentroids = 2,
      staleThreshold = 0.5, kmeansIters = 3).collect().head
    assert(r.getBoolean(3), s"drifted fixture must rebuild: $r")
    // every vector the index owned — base, folded batch, LIVE deltas —
    // is in the rebuilt base, and no delta is left beside it
    val rebuilt = Snapshots.open(spark, idx)
    assert(committed(idx, "assignments").count() == 650L)
    assert(rebuilt.dirs.keySet == Set("centroids", "assignments"))
    // the rebuild's record carries the watermark past the folded batch:
    // a replay of the folded batches stays hidden instead of double-counting
    assert(rebuilt.watermark.contains(1L),
      "rebuild must carry the watermark past the folded batches")
    Ann.ivfDeltaAppend(spark, idx,
      blobs(50, 12).map { case (i, v) => (i + 2000L, v) }.toDF("vec_id", "vec"),
      "vec_id", "vec", 4, 0L) // replayed old batch
    assert(Ann.readIvfAssignments(spark, idx).count() == 650L,
      "replayed pre-rebuild batch must not double-count")
  }

  test("maintainIvf: auto-dial retrain re-sizes K from the GROWN corpus") {
    import graft.ops.Ann
    val idx = scratch("mt_ivf_auto")
    // explicit K=2 at build over 200 vectors, then a drifted 900-vector
    // blob grows the corpus to 1100 — the retrain (numCentroids = 0)
    // must re-size to ceil(1100/512) = 3. Assertion is vs the formula.
    Ann.buildIvfIndex(blobs(200, 7).toDF("vec_id", "vec"), "vec_id", "vec",
      4, numCentroids = 2, idx, kmeansIters = 3)
    val rnd = new scala.util.Random(8)
    val far = (0 until 900).map(i => (9000L + i,
      Array(0f, 0f, 5f, 5f).map(_ + rnd.nextFloat() * 0.05f)))
      .toDF("vec_id", "vec")
    Ann.ivfAppend(spark, idx, far, "vec_id", "vec", 4)
    val n = Ann.readIvfAssignments(spark, idx).count()
    assert(n == 1100L)
    val r = Maintain.maintainIvf(spark, idx, 4, numCentroids = 0,
      staleThreshold = 0.5, kmeansIters = 3).collect().head
    assert(r.getBoolean(3), s"drifted fixture must rebuild: $r")
    val k = committed(idx, "centroids").count()
    assert(k == Ann.autoGranularity(n).toLong,
      s"retrain must re-size K = ceil($n/512) = ${Ann.autoGranularity(n)}, got $k")
    assert(committed(idx, "assignments").count() == n)
  }
}
