package graft.ops

import graft.SparkSpec
import graft.core.Snapshots
import org.apache.spark.sql.functions.{col, lit, row_number}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  /** The committed version of one index table (`centroids`, `assignments`). */
  private def committed(index: String, table: String) =
    Snapshots.open(spark, index).read(spark, table)

  // 4-dim toy corpus: 0‖1 (parallel), 2 orthogonal to both, 3 ≈ 0
  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(2f, 0f, 0f, 0f)),
    (2L, Array(0f, 1f, 0f, 0f)),
    (3L, Array(0.9f, 0.1f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("cosineTopK ranks exact neighbors, excludes self, breaks ties by id") {
    val out = Ann.cosineTopK(vecs, vecs, "vec_id", "embedding", 4, 2)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    assert(out(0L) == Seq(1L, 3L)) // parallel first, then near-parallel
    assert(out(1L) == Seq(0L, 3L))
    assert(out(2L).head == 3L)     // only 3 has any y-component
  }

  test("cosine values are exact") {
    val rows = Ann.cosineTopK(vecs, vecs, "vec_id", "embedding", 4, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(rows((0L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(rows((0L, 2L)) - 0.0) < 1e-12)
  }

  test("ivfTopK searches only within the probed cluster") {
    // centroids = ids < 2: x-axis and y-axis; 2 lands in cluster 0, 3 in 1
    val clustered = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Ann.ivfTopK(clustered, "vec_id", "embedding", 4, 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 2L), (2L, 0L), (1L, 3L), (3L, 1L)))
  }

  test("multi-probe IVF recovers cross-cluster neighbors nprobe=1 misses") {
    // centroids = ids < 2 (x-axis, y-axis); 2 lives in cluster 0 but its
    // second-closest cluster is 1 — with nprobe=2 it also sees 3 and 1
    val clustered = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val single = Ann.ivfTopK(clustered, "vec_id", "embedding", 4, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Ann.ivfTopKProbed(clustered, "vec_id", "embedding", 4,
        k = 3, numCentroids = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(multi))      // more probes never lose neighbors
    assert(multi.contains((2L, 3L)))    // cross-cluster pair nprobe=1 missed
    assert(!single.contains((2L, 3L)))
    // nprobe = numCentroids degrades to brute force
    val brute = Ann.cosineTopK(clustered, clustered, "vec_id", "embedding", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Ann.ivfTopKProbed(clustered, "vec_id", "embedding", 4,
        k = 3, numCentroids = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("int8 pack/dot: exact integer arithmetic, deterministic packing") {
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.functions.{col, lit, row_number}
    val df = Seq((1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.5f, 0.5f, -1.0f, 0.1f))).toDF("id", "v")
      .withColumn("sc", int8Scale(col("v")))
      .withColumn("codes", int8Pack(col("v"), col("sc")))
    val rows = df.select("id", "sc", "codes").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getAs[Array[Byte]](2))).toMap
    // scale = maxAbs/127; codes = rint(v/scale)
    assert(math.abs(rows(1L)._1 - 1.0 / 127) < 1e-12)
    assert(rows(1L)._2.toSeq == Seq[Byte](127, -64, 32, 0)) // -63.5 rounds half-even to -64
    assert(rows(2L)._2.toSeq == Seq[Byte](64, 64, -127, 13))
    // integer dot is exact: 127*64 + -64*64 + 32*-127 + 0*13
    val d = df.where(col("id") === 1L).select(col("codes").as("a"))
      .crossJoin(df.where(col("id") === 2L).select(col("codes").as("b")))
      .select(int8Dot(col("a"), col("b"))).head().getLong(0)
    assert(d == 127L * 64 - 64L * 64 + 32L * -127)
  }

  test("cosineTopKInt8: candidate stage recalls the exact top-k on real-ish data") {
    // 200 vectors in 16-dim, deterministic pseudo-random, some near-dups
    val rnd = new scala.util.Random(42)
    val base = (0L until 200L).map { i =>
      i -> Array.fill(16)(rnd.nextFloat() * 2 - 1)
    }
    val df = base.toDF("vec_id", "embedding")
    val exact = Ann.cosineTopK(df, df, "vec_id", "embedding", 16, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Ann.cosineTopKInt8(df, df, "vec_id", "embedding", 16, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall@5 = $recall")
    // approximate cosines stay within int8 quantization error of exact
    val ec = Ann.cosineTopK(df, df, "vec_id", "embedding", 16, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Ann.cosineTopKInt8(df, df, "vec_id", "embedding", 16, 5).collect()
      .foreach { r =>
        ec.get((r.getLong(0), r.getLong(1))).foreach { exactCos =>
          assert(math.abs(r.getDouble(2) - exactCos) < 0.02,
            s"pair ${(r.getLong(0), r.getLong(1))}: ${r.getDouble(2)} vs $exactCos")
        }
      }
  }

  test("persisted IVF index: query matches in-memory IVF; scan is partition-pruned") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 100L).map { i =>
      i -> Array.fill(8)(rnd.nextFloat() * 2 - 1)
    }.toDF("vec_id", "embedding")
    val path = scratch("ivf-index")
    Ann.buildIvfIndex(corpus, "vec_id", "embedding", 8, numCentroids = 4, path)
    // layout: one directory per cluster in the committed version
    val version = Snapshots.open(spark, path).path("assignments")
    val dirs = new java.io.File(version).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("cid=")) && dirs.length == 4, dirs.toSeq)
    // file-count discipline (guide §6/§2.2): the rebalance-keyed write
    // gives each cell dir exactly ONE data file below AQE's advisory
    // split size (this corpus is far below it) — never the tasks × cells
    // explosion of an unclustered write; only a genuinely oversized cell
    // may split into more files
    dirs.foreach { d =>
      val nFiles = new java.io.File(s"$version/$d").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(nFiles == 1, s"$d has $nFiles files, expected 1")
    }

    val queries = corpus.where(col("vec_id") < 10)
    val viaIndex = Ann.queryIvfIndex(spark, path, queries,
      "vec_id", "embedding", 8, k = 3, nprobe = 4)
    // nprobe = numCentroids ⇒ exhaustive ⇒ must equal brute force
    val brute = Ann.cosineTopK(queries, corpus, "vec_id", "embedding", 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == brute)

    // selective probe: dynamic partition pruning must reach the scan
    val selective = Ann.queryIvfIndex(spark, path, queries,
      "vec_id", "embedding", 8, k = 3, nprobe = 1)
    val plan = selective.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the assignments scan:\n$plan")
    selective.collect() // and it still executes
  }

  test("kmeansCentroids: Lloyd rounds move centroids onto the true blobs") {
    import spark.implicits._
    // two tight blobs on orthogonal axes, 30 vectors each, seeds start
    // INSIDE the data (ids 0,1 — one per blob by construction)
    val rnd = new scala.util.Random(3)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + rnd.nextFloat() * 0.05f)
    val blobA = Array(1f, 0f, 0f, 0f); val blobB = Array(0f, 1f, 0f, 0f)
    val vecs = (0 until 60).map { i =>
      (i.toLong, jitter(if (i % 2 == 0) blobA else blobB))
    }.toDF("vec_id", "embedding")
    val cents = Ann.kmeansCentroids(vecs, "vec_id", "embedding", 4,
      k = 2, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(cents.size == 2)
    // centroid 0 ≈ blob A mean (x-dominant), centroid 1 ≈ blob B mean
    assert(cents(0L).head > 0.9f && cents(0L)(1) < 0.1f, cents(0L))
    assert(cents(1L)(1) > 0.9f && cents(1L).head < 0.1f, cents(1L))
    // and they drive assignClusters to a clean 30/30 split
    val sizes = Ann.assignClusters(vecs,
        spark.createDataFrame(cents.toSeq.map { case (id, v) =>
          (id, v.toArray) }).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 4)
      .groupBy("__cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0L -> 30L, 1L -> 30L), sizes)
  }

  test("cosineDupPairs finds near-identical vectors above threshold") {
    val pairs = Ann.cosineDupPairs(vecs, "vec_id", "embedding", 4,
        threshold = 0.99, numCentroids = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("assignClusters: null input vector gets null cid, never a real cell") {
    val withNull = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (9L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val out = Ann.assignClusters(withNull,
        withNull.where(col("vec_id") < 2), "vec_id", "embedding", 4)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(0L).contains(0L) && out(1L).contains(1L))
    assert(out(9L).isEmpty,
      "an un-embeddable row must not land in a real cell")
  }

  test("autoGranularity: cell population pinned, clamped, deterministic") {
    assert(Ann.autoGranularity(0L) == 1)
    assert(Ann.autoGranularity(1L) == 1)
    assert(Ann.autoGranularity(512L) == 1)
    assert(Ann.autoGranularity(513L) == 2)
    assert(Ann.autoGranularity(5120L) == 10)
    assert(Ann.autoGranularity(1100L) == 3) // the MaintainSpec fixture
    assert(Ann.autoGranularity(Long.MaxValue) == (1 << 20)) // clamp
    assert(Ann.autoGranularity(100L, targetCell = 1) == 100)
    intercept[IllegalArgumentException](Ann.autoGranularity(10L, 0))
  }

  test("semanticDedup(numCentroids = 0): auto dial ≡ the formula's explicit K") {
    // 1100 vectors in two tight blobs → auto K = ceil(1100/512) = 3;
    // the auto path must be row-identical to passing 3 explicitly
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 1100L).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      i -> base.map(_ + rnd.nextFloat() * 0.01f)
    }.toDF("vec_id", "embedding")
    def rows(k: Int) =
      Ann.semanticDedup(corpus, "vec_id", "embedding", 4,
          threshold = 0.999, numCentroids = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val auto = rows(0)
    assert(auto == rows(Ann.autoGranularity(1100L)))
    assert(auto.exists(!_._3), "fixture should mark some non-survivors")
  }

  test("cosineDupPairs: hot-cluster salting is bit-identical to the unsalted join") {
    // skew fixture: ONE cluster holds everything (numCentroids = 1), so an
    // unsalted equi-join on cluster id puts all m² pairs on a single task;
    // maxBlock = 8 forces g = ⌈100/8⌉ = 13 sub-blocks
    val rnd = new scala.util.Random(11)
    val hot = (0L until 100L).map { i =>
      i -> Array.fill(8)(1f + rnd.nextFloat() * 0.01f)
    }.toDF("vec_id", "embedding")
    def run(maxBlock: Int) =
      Ann.cosineDupPairs(hot, "vec_id", "embedding", 8,
          threshold = 0.999, numCentroids = 1, maxBlock = maxBlock)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = run(8)
    val unsalted = run(1 << 30)
    assert(salted.nonEmpty, "fixture should produce near-dup pairs")
    assert(salted == unsalted,
      s"salting changed results: ${salted.size} vs ${unsalted.size} pairs")
    // every pair appears exactly once (replication did not duplicate)
    val keys = salted.toSeq.map(p => (p._1, p._2))
    assert(keys.distinct.size == keys.size)
  }

  test("buildIvfIndex(kmeansIters): trained centroids separate blobs the id<K seed mixes") {
    // 30 blob-A vectors (ids 0–29) then 30 blob-B (ids 30–59): the id<2
    // seed puts BOTH centroids inside blob A — k-means must pull one onto
    // blob B within a few Lloyd rounds
    val rnd = new scala.util.Random(5)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + rnd.nextFloat() * 0.05f)
    val blobA = Array(1f, 0f, 0f, 0f); val blobB = Array(0f, 1f, 0f, 0f)
    val corpus = (0 until 60).map { i =>
      (i.toLong, jitter(if (i < 30) blobA else blobB))
    }.toDF("vec_id", "embedding")
    val path = scratch("ivf-kmeans")
    Ann.buildIvfIndex(corpus, "vec_id", "embedding", 4,
      numCentroids = 2, path, kmeansIters = 5)
    // layout unchanged: cid= partition dirs
    val dirs = new java.io.File(Snapshots.open(spark, path).path("assignments"))
      .listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("cid=")) && dirs.length == 2, dirs.toSeq)
    // trained clusters align with the blobs: a clean 30/30 split
    val sizes = committed(path, "assignments")
      .groupBy("cid").count().collect().map(_.getLong(1)).sorted.toSeq
    assert(sizes == Seq(30L, 30L), s"cluster sizes $sizes")
    // nprobe=1 against the trained index achieves FULL recall vs brute
    // force (every true neighbor of a blob member is inside its blob)
    val queries = corpus.where(col("vec_id") % 7 === 0)
    val viaIndex = Ann.queryIvfIndex(spark, path, queries,
        "vec_id", "embedding", 4, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Ann.cosineTopK(queries, corpus, "vec_id", "embedding", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == brute,
      s"k-means index nprobe=1 recall ${
        (viaIndex intersect brute).size.toDouble / brute.size}")
  }

  test("pqEncode: 4-bit packing round-trips, encoding is a pure projection") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val enc = Ann.pqEncode(corpus, "vec_id", "embedding", 64, m = 8, k = 16)
    val rows = enc.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      val packed = r.getLong(2)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
      val unpacked = (0 until 8).map(j => ((packed >>> (4 * j)) & 0xf).toInt)
      assert(unpacked == codes, s"packed $packed != codes $codes")
    }
    // the whole encode is map-side: literals + array_min, no exchange
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"PQ encode should not shuffle:\n$p")
  }

  test("ivfPqTopK: exhaustive probe degrades to plain PQ; pruning executes") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = corpus.where(col("vec_id") < 20)
    val cb = Ann.pqCodebook(corpus, "vec_id", "embedding", 64, 8, 16)
    val enc = Ann.pqEncode(corpus, "vec_id", "embedding", 64, 8, 16, cb)
    val plain = Ann.pqTopK(enc, queries, "vec_id", "embedding", 64, cb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nprobe = numCentroids ⇒ every cell probed ⇒ identical to plain ADC
    val exhaustive = Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        64, numCentroids = 8, nprobe = 8, cb, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exhaustive == plain)
    // selective probe still returns k rows per query (pruned, not broken)
    val pruned = Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        64, numCentroids = 8, nprobe = 2, cb, topK = 3)
      .collect()
    assert(pruned.length == 20 * 3)
  }

  test("ivfPqResidualTopK: exact when every vector is a codeword; invariant") {
    import spark.implicits._
    // 16 vectors, k=16 ⇒ every vector IS its own residual codeword, so
    // ADC distances are EXACT ||q−v||² (up to the 1e-6 quantization):
    // the whole residual chain — cells, per-cell query tables, code
    // join, integer sums — must reproduce brute-force L2 top-3 exactly
    val rnd = new scala.util.Random(11)
    val centers = Array.tabulate(4) { j =>
      Array.tabulate(16)(d => if (d / 4 == j) 8f else 0f)
    }
    val corpus = (0 until 16).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 8)
    val got = Ann.ivfPqResidualTopK(corpus, queries, "vec_id", "embedding",
        16, numCentroids = 4, nprobe = 4, m = 4, k = 16, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("cv"))
    val d2 = q.crossJoin(c).where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (Ann.dot(col("qv"), col("qv"), 16)
          - lit(2.0) * Ann.dot(col("qv"), col("cv"), 16)
          + Ann.dot(col("cv"), col("cv"), 16)).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2").asc, col("nid").asc)
    val exact = d2.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == exact,
      s"codeword-exact ADC diverged from brute force:\n got=$got\n exp=$exact")
    // deterministic under repartitioning (bigger corpus, coarse codes)
    val big = (0 until 120).map { i =>
      val cc = centers(i % 4)
      (i.toLong, cc.map(x => x + rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val a = Ann.ivfPqResidualTopK(big, big.where(col("vec_id") < 12),
        "vec_id", "embedding", 16, 4, 1, 4, 16, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Ann.ivfPqResidualTopK(big.repartition(7),
        big.where(col("vec_id") < 12), "vec_id", "embedding", 16, 4, 1, 4, 16, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.size == 12 * 3)
  }

  test("pqTopK: trained codebooks beat seeds; shortlist retains exact top-k") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = corpus.where(col("vec_id") < 20)
    // exact L2 top-3 (the metric PQ approximates)
    val d2 = {
      val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("cv"))
      q.crossJoin(c).where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (Ann.dot(col("qv"), col("qv"), 64)
            - lit(2.0) * Ann.dot(col("qv"), col("cv"), 64)
            + Ann.dot(col("cv"), col("cv"), 64)).as("d2"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2").asc, col("nid").asc)
    val exact = d2.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // PQ is a CANDIDATE stage (like int8): the gate is how much of the
    // exact top-3 a 20-deep ADC shortlist retains for the re-ranker,
    // m=16 (4-dim subspaces — the finer split this 64-dim corpus needs)
    def recallOf(cb: Seq[(Int, Int, Array[Float], Double)]): Double = {
      val enc = Ann.pqEncode(corpus, "vec_id", "embedding", 64, 16, 16, cb)
      val pq = Ann.pqTopK(enc, queries, "vec_id", "embedding", 64, cb,
          topK = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (pq intersect exact).size.toDouble / exact.size
    }
    val seedCb = Ann.pqCodebook(corpus, "vec_id", "embedding", 64, 16, 16)
    val trainedCb = Ann.pqTrainCodebooks(corpus, "vec_id", "embedding", 64,
      m = 16, k = 16, iters = 4)
    val (seedRecall, trainedRecall) = (recallOf(seedCb), recallOf(trainedCb))
    assert(trainedRecall >= seedRecall,
      s"training hurt recall: $trainedRecall < $seedRecall")
    assert(trainedRecall >= 0.7, s"trained PQ shortlist recall = $trainedRecall")
    // deterministic under repartitioning
    val enc = Ann.pqEncode(corpus, "vec_id", "embedding", 64, 16, 16, trainedCb)
    val a = Ann.pqTopK(enc, queries, "vec_id", "embedding", 64, trainedCb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Ann.pqTopK(enc.repartition(7), queries, "vec_id", "embedding",
        64, trainedCb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("secondMoment: hand-checked cells, triangle only, partition-invariant") {
    val df = Seq(
      (0L, Array(1f, 2f, 3f)),
      (1L, Array(0.5f, -1f, 0f))
    ).toDF("vec_id", "embedding")
    val cells = Ann.secondMoment(df, "embedding", 3)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // q0 = (1000, 2000, 3000), q1 = (500, -1000, 0)
    assert(cells.size == 6, "upper triangle of a 3×3 has 6 cells")
    assert(cells((0, 0)) == (2L, 1000L * 1000 + 500L * 500))
    assert(cells((0, 1)) == (2L, 1000L * 2000 + 500L * -1000))
    assert(cells((1, 2)) == (2L, 2000L * 3000 + 0L))
    assert(cells((2, 2)) == (2L, 3000L * 3000 + 0L))
    val rep = Ann.secondMoment(df.repartition(5), "embedding", 3)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(rep == cells, "integer cells must be partition-invariant")
  }

  test("ivfTopKFiltered: only same-label neighbors rank; no post-filter starvation") {
    // 16 vectors on two axes, labels alternating; centroids = ids < 2
    val rows = (0L until 16L).map { i =>
      val axis = if (i % 2 == 0) Array(1f, 0.01f * i, 0f, 0f)
      else Array(0f, 1f, 0.01f * i, 0f)
      (i, (i % 4).toInt, axis)
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val out = Ann.ivfTopKFiltered(df, "vec_id", "embedding", "label",
      4, k = 2, numCentroids = 2, nprobe = 2).collect()
    val label = rows.map(r => r._1 -> r._2).toMap
    assert(out.nonEmpty)
    assert(out.forall(r => label(r.getLong(0)) == label(r.getLong(1))),
      "every ranked neighbor must satisfy the label predicate")
    // label groups have 4 members → with nprobe=2 over 2 cells every
    // query sees its whole label group and fills k=2
    val perQuery = out.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 2), s"starved queries: $perQuery")
  }

  test("centroidDrift: symmetric two-blob corpus drifts √0.5 each side") {
    val df = Seq(
      (0L, 0, Array(1f, 0f)), (1L, 0, Array(1f, 0f)),
      (2L, 1, Array(0f, 1f)), (3L, 1, Array(0f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val out = Ann.centroidDrift(df, "label", "embedding", 2)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // global mean (0.5, 0.5); each label mean is 1 axis → d² = 0.25+0.25
    assert(out(0) == (2L, 0.707107) && out(1) == (2L, 0.707107))
    val rep = Ann.centroidDrift(df.repartition(3), "label", "embedding", 2)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rep == out)
  }

  test("pcaTopComponent recovers the dominant direction; pcaProject centers") {
    // 40 vectors along (1,1,0)/√2 with small orthogonal jitter, offset mean
    val r = new scala.util.Random(7)
    val base = Array(1.0, 1.0, 0.0).map(_ / math.sqrt(2))
    val rows = (0L until 40L).map { i =>
      val t = r.nextGaussian() * 5
      val j = r.nextGaussian() * 0.05
      (i, Array((base(0) * t + j + 2).toFloat, (base(1) * t - j + 2).toFloat,
        (r.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pc = Ann.pcaTopComponent(df, "embedding", 3, iters = 60)
    val cosToBase = math.abs(pc.zip(base).map { case (a, b) => a * b }.sum)
    assert(cosToBase > 0.99, s"pc1 misaligned: |cos| = $cosToBase")
    val proj = Ann.pcaProject(df, "vec_id", "embedding", 3, iters = 60)
    assert(proj.count() == 40)
    // centered projection: mean ≈ 0 even though the corpus mean is offset
    val meanProj = proj.agg(org.apache.spark.sql.functions.avg("pc1"))
      .head().getDouble(0)
    assert(math.abs(meanProj) < 0.1, s"projection not centered: $meanProj")
  }

  test("kcenterSelect: greedy farthest-point chain on a hand-checked fixture") {
    import spark.implicits._
    // 2D points padded to dim 4; greedy from id 0: 1 (d²=100), 3 (16), 2 (1)
    val pts = Seq(
      (0L, Array(0f, 0f, 0f, 0f)), (1L, Array(10f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(6f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val sel = Ann.kcenterSelect(pts, "vec_id", "embedding", dim = 4,
        k = 4, scale = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sel == Seq((1L, 0L, 0L), (2L, 1L, 100L), (3L, 3L, 16L),
      (4L, 2L, 1L)))
  }

  test("srpDupPairs: band blocking is LOSSLESS vs the quadratic filter") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val blocked = Ann.srpDupPairs(e, "vec_id", "embedding", dim = 64,
        bits = 32, bands = 8, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = Ann.srpSignature(e, "vec_id", "embedding", dim = 64)
    val a = sigs.select(col("vec_id").as("vec_a"), col("sig").as("sa"))
    val quadratic = a.crossJoin(
        sigs.select(col("vec_id").as("vec_b"), col("sig").as("sb")))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        expr("bit_count(sa ^ sb)").cast("long").as("h"))
      .where(col("h") <= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == quadratic)
    assert(blocked.nonEmpty, "no pairs at hamming<=7 — fixture too sparse")
  }

  test("srpSignature: identical vectors share signatures; maxHamming bound enforced") {
    import spark.implicits._
    val twin = Seq((1L, Array.fill(64)(0.25f)), (2L, Array.fill(64)(0.25f)))
      .toDF("vec_id", "embedding")
    val sigs = Ann.srpSignature(twin, "vec_id", "embedding", 64)
      .collect().map(_.getLong(1)).toSeq
    assert(sigs(0) == sigs(1))
    intercept[IllegalArgumentException] {
      Ann.srpDupPairs(twin, "vec_id", "embedding", 64,
        bits = 32, bands = 4, maxHamming = 5)
    }
  }

  test("kcenterSelect: partition-invariant, k=1 is the seed alone") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      Ann.kcenterSelect(df, "vec_id", "embedding", dim = 64, k = 3)
        .collect().map(_.toString).toSeq
    assert(run(e) == run(e.repartition(7)))
    val one = Ann.kcenterSelect(e, "vec_id", "embedding", dim = 64, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(one.toSeq == Seq((1L,
      e.agg(org.apache.spark.sql.functions.min("vec_id")).head().getLong(0),
      0L)))
  }

  test("ivfAppend: build-then-append ≡ one-shot build; old cell files untouched") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val inc = scratch("ivf-inc"); val full = scratch("ivf-full")
    val old = e.where(col("vec_id") % 3 =!= 0)
    Ann.buildIvfIndex(old, "vec_id", "embedding", 64, 16, inc)
    val before = Snapshots.open(spark, inc)
    def files(dir: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(f => f.getPath -> ((f.lastModified(), f.length()))).toMap
    }
    val filesBefore = before.dirs.keys.toSeq.map(t => files(before.path(t))).reduce(_ ++ _)
    val n = Ann.ivfAppend(spark, inc,
      e.where(col("vec_id") % 3 === 0), "vec_id", "embedding", 64)
    assert(n == e.where(col("vec_id") % 3 === 0).count())
    // append commits a delta beside the base: the committed version still
    // points at the base's cell files, and no file of the previous
    // version is rewritten or deleted
    val after = Snapshots.open(spark, inc)
    assert(after.id == before.id + 1)
    assert(after.dirs -- before.dirs.keys == after.dirs.filter(_._1.startsWith("append_")))
    assert(before.dirs.forall { case (t, d) => after.dirs(t) == d })
    assert(filesBefore.nonEmpty)
    filesBefore.foreach { case (p, m) =>
      val f = new java.io.File(p)
      assert(f.exists() && (f.lastModified(), f.length()) == m, s"append disturbed $p")
    }
    // content identity: membership depends only on the FROZEN centroids,
    // so a one-shot assignment of ALL vectors against them must agree
    // cell-for-cell with the appended index
    val cents = committed(inc, "centroids")
      .select(col("cid").as("vec_id"), col("cvec").as("embedding"))
    val oneShot = Ann.assignClusters(e, cents, "vec_id", "embedding", 64)
      .select(col("__vid"), col("__cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incCells = Ann.readIvfAssignments(spark, inc)
      // the live read types cid as INT; restore long
      .select(col("vec_id"), col("cid").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incCells.size == oneShot.size, "appended index lost vectors")
    oneShot.foreach { case (v, c) =>
      assert(incCells(v) == c, s"vec $v cell diverged after append")
    }
  }

  test("ivfDeltaAppend/compact: replay-idempotent, crash-window-correct, compaction-invariant") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = scratch("ivf-delta")
    Ann.buildIvfIndex(e.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", 64, 16, idx)
    // two micro-batches of the remaining third, by parity of vec_id/3
    val rest = e.where(col("vec_id") % 3 === 0)
    val b0 = rest.where((col("vec_id") / 3).cast("long") % 2 === 0)
    val b1 = rest.where((col("vec_id") / 3).cast("long") % 2 === 1)
    Ann.ivfDeltaAppend(spark, idx, b0, "vec_id", "embedding", 64, 0L)
    Ann.ivfDeltaAppend(spark, idx, b1, "vec_id", "embedding", 64, 1L)
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted
    def state() = cells(Ann.readIvfAssignments(spark, idx))
    val afterIngest = state()
    assert(afterIngest.size == e.count(), "live read must see base + deltas, once each")
    // REPLAY batch 1 (foreachBatch is at-least-once) → state unchanged
    Ann.ivfDeltaAppend(spark, idx, b1, "vec_id", "embedding", 64, 1L)
    assert(state() == afterIngest, "delta replay must be idempotent")
    // one-shot assignment against the frozen centroids is the truth
    val cents = committed(idx, "centroids")
      .select(col("cid").as("vec_id"), col("cvec").as("embedding"))
    val oneShot = Ann.assignClusters(e, cents, "vec_id", "embedding", 64)
      .select(col("__vid"), col("__cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toSeq.sorted
    assert(afterIngest == oneShot, "delta ingest diverged from one-shot")
    // crash window: a reader pinned before the compaction keeps reading
    // the deltas it resolved, and the compaction folds them in ONE commit
    val pinned = Ann.readIvfAssignments(spark, idx)
    val (nBase, folded) = Ann.ivfCompactDeltas(spark, idx)
    assert(folded == 2 && nBase == e.count())
    val compacted = Snapshots.open(spark, idx)
    assert(compacted.watermark.contains(1L))
    assert(compacted.dirs.keySet == Set("centroids", "assignments"))
    assert(cells(pinned) == afterIngest, "a pinned reader survives the compaction")
    assert(state() == afterIngest, "compaction must be read-invisible")
    // a replay of a folded batch is a no-op: the watermark rides the record
    assert(Ann.ivfDeltaAppend(spark, idx, b1, "vec_id", "embedding", 64, 1L) == 0L)
    assert(Snapshots.currentId(spark, idx).contains(compacted.id))
    assert(state() == afterIngest, "a folded batch's replay must not double-count")
    // compacted base carries every vector in pruned cid= partitions
    assert(committed(idx, "assignments").where(col("cid").isNotNull).count() == e.count())
    // idempotent re-compaction: no deltas → no commit
    val (n2, f2) = Ann.ivfCompactDeltas(spark, idx)
    assert(f2 == 0 && n2 == e.count())
    assert(Snapshots.currentId(spark, idx).contains(compacted.id))
  }

  test("a partially-committed delta (no _SUCCESS) is invisible and never folded") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = scratch("ivf-partial")
    Ann.buildIvfIndex(e.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", 64, 16, idx)
    val baseCount = Ann.readIvfAssignments(spark, idx).count()
    val batch = e.where(col("vec_id") % 3 === 0)
    // the crash window: the delta's writing job died mid-commit — part
    // files exist, _SUCCESS does not, and no record names the delta
    val txn = Snapshots.begin(spark, idx)
    Ann.stageDelta(txn, batch, "vec_id", "embedding", 64, Some(0L))
    val marker = new java.io.File(txn.dir("batch_0"), "_SUCCESS")
    assert(marker.exists()); marker.delete()
    assert(Ann.readIvfAssignments(spark, idx).count() == baseCount,
      "a partial delta must be invisible to reads")
    // compaction must NOT fold it nor advance the watermark past it —
    // that would permanently hide the batch's complete replay
    val (_, folded) = Ann.ivfCompactDeltas(spark, idx)
    assert(folded == 0, "partial delta must not be folded")
    assert(Snapshots.open(spark, idx).watermark.isEmpty,
      "watermark must not advance past an un-replayed batch")
    // the stream replays the batch → committed → folds
    Ann.ivfDeltaAppend(spark, idx, batch, "vec_id", "embedding", 64, 0L)
    val (n, folded2) = Ann.ivfCompactDeltas(spark, idx)
    assert(folded2 == 1 && n == e.count())
    assert(Ann.readIvfAssignments(spark, idx).count() == e.count())
    assert(Snapshots.open(spark, idx).watermark.contains(0L))
  }

  test("streamed vectors are queryable and counted before any compaction") {
    import org.apache.spark.sql.functions.{col, sum}
    val rnd = new scala.util.Random(11)
    val e = (0L until 300L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
      .toDF("vec_id", "embedding")
    val idx = scratch("ivf-live")
    Ann.buildIvfIndex(e.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", 8, 4, idx)
    val streamed = e.where(col("vec_id") % 3 === 0)
    Ann.ivfDeltaAppend(spark, idx, streamed, "vec_id", "embedding", 8, 0L)
    // n_vecs counts every live vector: base + the un-compacted delta
    val nVecs = Ann.ivfStaleness(spark, idx, 8).agg(sum(col("n_vecs")))
      .head().getLong(0)
    assert(nVecs == 300L, s"staleness counted $nVecs of 300 vectors")
    // a copy of streamed vector 0 under a fresh id finds vector 0 at
    // cosine 1 (exhaustive probe)
    val probe = streamed.where(col("vec_id") === 0L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val hits = Ann.queryIvfIndex(spark, idx, probe, "vec_id", "embedding", 8,
        k = 1, nprobe = 4)
      .collect().map(_.getLong(1)).toSeq
    assert(hits == Seq(0L), s"the streamed vector must be found: $hits")
  }

  test("srpAutoBits: bucket population pinned, unclamped past the old one-long ceiling") {
    assert(Ann.srpAutoBits(0L, 8) == 8)          // cells=0  -> width 1
    assert(Ann.srpAutoBits(512L, 8) == 8)        // cells=1  -> width 1
    assert(Ann.srpAutoBits(1024L, 8) == 8)       // cells=2  -> width 1
    assert(Ann.srpAutoBits(1025L, 8) == 16)      // cells=3  -> width 2
    assert(Ann.srpAutoBits(512L * 128, 8) == 56) // cells=128 -> width 7
    assert(Ann.srpAutoBits(100L, 8, targetBucket = 1) == 56) // cells=100 -> width 7
    // past the round-7 clamp (⌊63/8⌋ = 7): the dial keeps growing, so
    // bucket population stays pinned instead of scaling with n
    assert(Ann.srpAutoBits(512L * 256, 8) == 64)  // cells=256 -> width 8
    assert(Ann.srpAutoBits(200000L, 8) == 72)     // sf10's ask: width 9
    // the dial keeps following cells all the way up: ⌈Long.Max/512⌉ ≈
    // 2^54 → width 54 (the old clamp would have stopped at 7)
    assert(Ann.srpAutoWidth(Long.MaxValue, 8) == 54)
    // only clamp left: 63 bits per BLOCK — binds when cells > 2^62
    assert(Ann.srpAutoWidth(Long.MaxValue, 8, targetBucket = 1) == 63)
    assert(Ann.srpAutoBits(Long.MaxValue, 4) == 4 * 54)
    intercept[IllegalArgumentException](Ann.srpAutoBits(10L, 0))
    intercept[IllegalArgumentException](Ann.srpAutoBits(10L, 8, 0))
  }

  test("srpSignatureBlocks: concatenated blocks == srpSignature's one long") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val one = Ann.srpSignature(e, "vec_id", "embedding", 64, bits = 48)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blocks = Ann.srpSignatureBlocks(e, "vec_id", "embedding", 64,
        bands = 8, width = 6)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(one.keySet == blocks.keySet)
    blocks.foreach { case (id, bs) =>
      val packed = bs.zipWithIndex.map { case (blk, b) => blk << (b * 6) }.sum
      assert(packed == one(id), s"vec $id: blocks must be exact bit-ranges")
    }
  }

  test("srpDupPairs: widths past ⌊63/bands⌋ work and stay lossless (the lifted ceiling)") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // 8 bands × width 10 = 80 bits — impossible under the one-long
    // packing (max was 56); the array-of-blocks transport carries it
    val blocked = Ann.srpDupPairs(e, "vec_id", "embedding", dim = 64,
        bits = 80, bands = 8, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = Ann.srpSignatureBlocks(e, "vec_id", "embedding", 64,
      bands = 8, width = 10)
    val quadratic = sigs.select(col("vec_id").as("vec_a"), col("sig").as("sa"))
      .crossJoin(sigs.select(col("vec_id").as("vec_b"), col("sig").as("sb")))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        expr("aggregate(zip_with(sa, sb, (x, y) -> cast(bit_count(x ^ y)" +
          " as bigint)), cast(0 as bigint), (acc, v) -> acc + v)").as("h"))
      .where(col("h") <= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == quadratic,
      "band blocking must stay lossless at widths the one long could not hold")
  }

  test("srpDupPairs/srpCandidatesTopK: bits<=0 self-turns the dial == the fixed twin") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.count()
    // small targetBucket so the dial picks a width > 1 even on sf0.001
    val expected = Ann.srpAutoBits(n, bands = 8, targetBucket = 8)
    assert(expected > 8, s"fixture too small to exercise the dial: $expected")
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    assert(set(Ann.srpDupPairs(e, "vec_id", "embedding", 64,
        bits = 0, bands = 8, maxHamming = 7, targetBucket = 8)) ==
      set(Ann.srpDupPairs(e, "vec_id", "embedding", 64,
        bits = expected, bands = 8, maxHamming = 7)))
    assert(set(Ann.srpCandidatesTopK(e, "vec_id", "embedding", 64,
        bits = 0, bands = 8, k = 10, targetBucket = 8)) ==
      set(Ann.srpCandidatesTopK(e, "vec_id", "embedding", 64,
        bits = expected, bands = 8, k = 10)))
  }

  test("assignClusters: >literalMaxK spillway (broadcast join) == literal path, nulls included") {
    import spark.implicits._
    val withNull = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f)),
      (9L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val cents = withNull.where(col("vec_id") < 2)
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    val lit = byId(Ann.assignClusters(withNull, cents, "vec_id", "embedding", 4))
    val joined = byId(Ann.assignClusters(withNull, cents, "vec_id", "embedding", 4,
      literalMaxK = 1))
    assert(lit.keySet == joined.keySet)
    lit.foreach { case (id, row) => assert(joined(id) == row, s"vec $id diverged") }
    assert(joined(9L)._3.isEmpty, "null vector must get a null cid on the spillway too")
    // all-null centroid set: both paths yield the empty frame
    val nullCents = Seq((7L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    assert(Ann.assignClusters(withNull, nullCents, "vec_id", "embedding", 4,
      literalMaxK = 0).count() == 0)
  }

  test("assignClusters spillway: duplicate ids keep one output row per input row") {
    import spark.implicits._
    // the literal path is a pure projection (row-preserving); the
    // spillway's argmin window once partitioned by id alone, silently
    // collapsing duplicate-id rows — this is the regression pin
    val dups = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (5L, Array(0.9f, 0.1f, 0f, 0f)),
      (5L, Array(0.1f, 0.9f, 0f, 0f)), // same id, different vector
      (5L, Array(0.9f, 0.1f, 0f, 0f))  // exact duplicate row
    ).toDF("vec_id", "embedding")
    val cents = dups.where(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.get(3)))).sortBy(_.toString)
    val lit = rows(Ann.assignClusters(dups, cents, "vec_id", "embedding", 4))
    val joined = rows(Ann.assignClusters(dups, cents, "vec_id", "embedding", 4,
      literalMaxK = 1))
    assert(lit.length == 5, "literal path is row-preserving")
    assert(joined.length == 5, "spillway must not collapse duplicate-id rows")
    assert(lit.sameElements(joined), "paths must agree per (id, cid) multiset")
  }
}
