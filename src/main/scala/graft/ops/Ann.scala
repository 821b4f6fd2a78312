package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, IVF (inverted-file)
  * partitioned search as the scale path, and threshold-based near-duplicate
  * pairs for embedding-level dedup.
  *
  * Numeric determinism: dot products and norms are unrolled to a fixed
  * left-associated sum of `dim` double-precision terms (a codegen'd
  * expression tree, no UDF). The identical term order is replayed by the
  * DuckDB oracle, so scores hash-match bit-for-bit across engines.
  *
  * Scale shape: brute force broadcasts the smaller side and is O(N·M·d) —
  * correct as a re-ranker or for ≤10^6×10^3 candidate sets; IVF first
  * assigns every vector to its nearest centroid (broadcast join against K
  * centroids), then searches only within the probed cluster — the classic
  * recall/cost trade, entirely as equi-joins that scale out.
  */
object Ann {

  /** Left-associated Σ a[i]·b[i] over `dim` components, in doubles —
    * a native Catalyst expression ([[graft.functions.FloatVecDot]]): tight
    * primitive loop, ~100× the throughput of an unrolled column tree when
    * the stage is outside whole-stage codegen. `dim` is kept in the
    * signature for documentation/validation; the loop adapts to the data. */
  def dot(a: Column, b: Column, dim: Int): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** L2 norm with the same fixed summation order. */
  def norm(a: Column, dim: Int): Column = sqrt(dot(a, a, dim))

  /** Vectors + their precomputed norms (computed once, reused per pair). */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame =
    df.select(col(idCol).as("__vid"), col(vecCol).as("__vec"),
      norm(col(vecCol), dim).as("__nrm"))

  /** (vec_id, neighbor_id, cosine) pairs → top-k per vec_id with the
    * row_number tie order (cosine DESC, neighbor ASC), via the bounded-
    * heap aggregate ([[graft.functions.TopKByScore]]). Map-side partial
    * heaps mean the one exchange moves ≤ k·keys·tasks pre-combined
    * entries instead of the full candidate grid, and nothing sorts — the
    * window+rank spelling shuffles and sorts every scored pair, which is
    * the part that would not survive a 100× corpus. */
  private def topKPerKey(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .groupBy("vec_id")
      .agg(graft.functions.TopKByScore.topK(
        col("cosine"), col("neighbor_id"), k).as("__top"))
      .select(col("vec_id"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("vec_id"), col("__e.id").as("neighbor_id"),
        col("__e.score").as("cosine"),
        (col("__i") + 1).cast("int").as("rank"))

  /** Exact cosine top-k neighbors for every vector in `queries` against
    * `corpus` (self-pairs excluded). Ties broken by neighbor id — fully
    * deterministic output. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int): DataFrame = {
    // spread the PROBE side before the corpus fan-out: probes are
    // byte-tiny (a filter of a single-file scan plans as ONE partition)
    // but each probe row fans out |corpus| dot products — the
    // per-row-compute-dwarfs-bytes rule ([[assignClusters]]), so a
    // probe-count shuffle of raw vectors buys cluster-wide parallelism
    val q = withNorm(queries.repartition(
      queries.sparkSession.sessionState.conf.numShufflePartitions,
      col(idCol)), idCol, vecCol, dim)
    val c = withNorm(corpus, idCol, vecCol, dim)
    // project the vectors away BEFORE the top-k aggregation: its exchange
    // moves 3 scalar columns, not two 64-float arrays per pair
    val pairs = q.select(col("__vid").as("vec_id"), col("__vec").as("__qv"),
        col("__nrm").as("__qn"))
      .crossJoin(broadcast(c.select(col("__vid").as("neighbor_id"),
        col("__vec").as("__cv"), col("__nrm").as("__cn"))))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__cv"), dim) / (col("__qn") * col("__cn")))
          .as("cosine"))
    topKPerKey(pairs, k)
  }

  /** Int8-quantized cosine top-k: vectors are packed to one byte per
    * component (symmetric linear quantization, per-vector scale) and
    * scored with an EXACT integer dot product rescaled by the two
    * quantization scales — the memory-bandwidth lever for planet-scale
    * ANN (float32 corpus → ¼ the bytes moved per candidate; the
    * broadcast side shrinks 4× too). Returns the same (vec_id,
    * neighbor_id, cosine, rank) shape as [[cosineTopK]]; cosine here is
    * approximate (quantization error ≲1%), so treat it as a CANDIDATE
    * stage and re-rank the top-k' with full precision when exact order
    * matters — [[graft.functions.VectorFunctions.int8Cosine]]. */
  /** Hard-negative mining for contrastive training (the in-batch-negative
    * upgrade): for each query vector, the top-k most-similar corpus
    * vectors with a DIFFERENT label — maximally confusing negatives, the
    * pairs a contrastive loss learns most from. Same broadcast + native
    * dot + bounded-heap shape as [[cosineTopK]], one extra label column
    * through the plan and one pair predicate; at IVF scale run it over
    * probed clusters instead of the broadcast corpus. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, dim: Int, k: Int): DataFrame = {
    def prep(df: DataFrame) =
      df.select(col(idCol).as("__vid"), col(vecCol).as("__vec"),
        col(labelCol).as("__lbl"), norm(col(vecCol), dim).as("__nrm"))
    val q = prep(queries)
    val c = prep(corpus)
    val pairs = q.select(col("__vid").as("vec_id"), col("__vec").as("__qv"),
        col("__lbl").as("__ql"), col("__nrm").as("__qn"))
      .crossJoin(broadcast(c.select(col("__vid").as("neighbor_id"),
        col("__vec").as("__cv"), col("__lbl").as("__cl"),
        col("__nrm").as("__cn"))))
      .where(col("vec_id") =!= col("neighbor_id") &&
        col("__ql") =!= col("__cl"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__cv"), dim) / (col("__qn") * col("__cn")))
          .as("cosine"))
    topKPerKey(pairs, k)
  }

  def cosineTopKInt8(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    def packed(df: DataFrame): DataFrame =
      withNorm(df, idCol, vecCol, dim)
        .withColumn("__sc", int8Scale(col("__vec")))
        .select(col("__vid"), int8Pack(col("__vec"), col("__sc")).as("__codes"),
          col("__sc"), col("__nrm"))
    // spread the probe side — same rationale as [[cosineTopK]]
    val q = packed(queries.repartition(
      queries.sparkSession.sessionState.conf.numShufflePartitions,
      col(idCol)))
    val c = packed(corpus)
    val pairs = q.select(col("__vid").as("vec_id"), col("__codes").as("__qc"),
        col("__sc").as("__qs"), col("__nrm").as("__qn"))
      .crossJoin(broadcast(c.select(col("__vid").as("neighbor_id"),
        col("__codes").as("__cc"), col("__sc").as("__cs"), col("__nrm").as("__cn"))))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        int8Cosine(col("__qc"), col("__cc"), col("__qs"), col("__cs"),
          col("__qn"), col("__cn")).as("cosine"))
    topKPerKey(pairs, k)
  }

  /** Assign each vector to its nearest centroid by cosine (ties → lowest
    * centroid id) — as a pure PROJECTION against the K centroids baked
    * into a [[graft.functions.NearestCentroidIdx]] plan literal.
    *
    * Why not the composable crossJoin(broadcast) + argmax: that spelling
    * EXPANDS every vector to K rows each carrying the full dim-float
    * payload, and the argmax — `row_number` window or array-carrying
    * aggregate — degenerates to sorting K·N wide rows (neither an array
    * `first` buffer nor a struct-keyed `max_by` buffer is
    * hash-aggregable). Measured at the 100× probe: K=256 assignment over
    * 200k vectors cost 45.7 s vs K=16's 5.8 s — turning the granularity
    * DIAL up made assignment slower, inverting the algorithm's intent.
    * Centroids are K·dim floats — the PQ-codebook bounded class — so the
    * one collect here is O(K·dim) plan-literal data, and assignment
    * becomes a projection: no join, no expansion; K costs FLOPs only.
    * At 100 TB this is the difference between an embarrassingly parallel
    * scan and a K·N-row exchange.
    *
    * The one exchange kept is the [[srpSignature]] spread: K×dim mul-adds
    * per row dwarf the ~4·dim input bytes, so a byte-sized plan (a
    * single-file corpus scans as ONE partition; measured: K=256 over
    * 200k vectors evaluated serially, ~6 s per downstream action) must
    * not decide the parallelism — a hash repartition on the id moves
    * only raw vectors and decouples compute width from file count.
    *
    * Scoring and tie-breaks replay the join spelling bit-for-bit (same
    * FloatVecDot summation order, sim = dot/(‖v‖·‖c‖), lowest cid on
    * exact ties) — the DuckDB oracles that replay assignment in SQL
    * stay hash-identical. Null centroid vectors are dropped (a null sim
    * never won the window either); an empty centroid set yields the
    * empty frame the crossJoin produced. One DELIBERATE divergence: a
    * null INPUT vector now gets a null `__cid` (the expression is
    * null-intolerant), so such rows fall out of every cid-keyed
    * layout/join — the old window spelling arbitrarily assigned them to
    * the LOWEST cid (all-NaN sims tie-broken by cid), which put
    * unsearchable vectors in a real cell. An un-embeddable row does not
    * belong in the index; gate corpora carry no null vectors, so the
    * oracles see no difference (AnnSpec pins the null behavior). */
  def assignClusters(df: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, dim: Int,
      literalMaxK: Int = AssignLiteralMaxK): DataFrame = {
    val spread = df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
    val v = withNorm(spread, idCol, vecCol, dim)
    // the literal path collects K·dim floats into the plan — gate on K
    // FIRST and refuse to bake a centroid set the plan-literal path
    // cannot carry: beyond `literalMaxK`, a K×dim matrix literal means
    // hundreds of MB of expression object, task-serialized with every
    // stage, plus a K-element CreateArray that janino cannot compile —
    // the broadcast join below ships the same floats ONCE per executor
    // instead. limit(max+1).count, not count: `centroids` is often an
    // UNMATERIALIZED corpus derivation (buildIvfIndex seeds with
    // df.where(id < k)), and a bare count would scan the full corpus
    // for a decision that only needs "more than max or not" — the limit
    // stops the scan at the threshold
    if (centroids.limit(literalMaxK + 1).count() > literalMaxK)
      return assignClustersJoin(v, centroids, idCol, vecCol, dim)
    val crows = centroids.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).collect().filter(_.get(1) != null)
    if (crows.isEmpty) {
      v.select(col("__vid"), col("__vec"), col("__nrm"),
        lit(null).cast(centroids.schema(idCol).dataType).as("__cid"))
        .where(lit(false))
    } else {
      val mat = crows.map(_.getSeq[Float](1).toArray)
      val cids = crows.map(r => lit(r.get(0)))
      val idx = graft.functions.VectorFunctions
        .nearestCentroidIdx(col("__vec"), mat)
      // the explicit null guard matters: element_at's generated code
      // reads the index's VALUE slot without honoring its null flag
      // (observed: element_at(array(...), null_idx + 1) returned a real
      // element), which would sort an un-embeddable null-vector row
      // into a real cell instead of excluding it
      v.select(col("__vid"), col("__vec"), col("__nrm"),
        when(idx.isNull, lit(null))
          .otherwise(element_at(array(cids: _*), idx + lit(1))).as("__cid"))
    }
  }

  /** Ceiling for the plan-literal assignment path: K ≤ 64k × dim 128
    * floats ≈ 32 MB of literal — comfortably inside driver memory, task
    * serialization, and the codegen limits the fused expression was
    * built under. Above it, [[assignClustersJoin]] takes over. */
  val AssignLiteralMaxK = 65536

  /** The >64k-centroid assignment spillway: broadcast-join + window
    * argmin instead of a plan-literal matrix. Same scoring spelling
    * bit-for-bit (same [[dot]] summation order, sim = dot/(‖v‖·‖c‖),
    * lowest cid on exact ties), same null semantics (null centroid
    * vectors dropped; null INPUT vectors get a null `__cid` — they are
    * split out before the join so desc-nulls-last ordering can never
    * sort them into a real cell). Cost: a K·N-row window exchange — the
    * price of a centroid set too large to bake into the plan; at that
    * scale K·dim floats broadcast once per executor is the only sane
    * transport. Differential spec asserts literal ≡ join output. */
  private def assignClustersJoin(v: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, dim: Int): DataFrame = {
    val cidType = centroids.schema(idCol).dataType
    val c = centroids.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
      .where(col("__cv").isNotNull)
      .withColumn("__cn", sqrt(dot(col("__cv"), col("__cv"), dim)))
    if (c.isEmpty) // mirror the literal path: no usable centroid → empty
      return v.select(col("__vid"), col("__vec"), col("__nrm"),
        lit(null).cast(cidType).as("__cid")).where(lit(false))
    // per-ROW surrogate, not __vid: the literal path is a pure
    // projection (one output row per input row even when ids repeat),
    // and a window partitioned by id alone would collapse duplicate-id
    // rows to one — silently dropping rows only on the spillway path.
    // monotonically_increasing_id is only a within-query distinct key
    // here (never emitted), so its partition-dependence is harmless.
    val nonNull = v.where(col("__vec").isNotNull)
      .withColumn("__row", monotonically_increasing_id())
    val w = Window.partitionBy(col("__row"))
      .orderBy(col("__sim").desc, col("__cid").asc)
    val assigned = nonNull.crossJoin(broadcast(c))
      .withColumn("__sim",
        dot(col("__vec"), col("__cv"), dim) / (col("__nrm") * col("__cn")))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__vid"), col("__vec"), col("__nrm"), col("__cid"))
    val nulls = v.where(col("__vec").isNull)
      .select(col("__vid"), col("__vec"), col("__nrm"),
        lit(null).cast(cidType).as("__cid"))
    assigned.unionByName(nulls)
  }

  /** IVF approximate top-k: centroids are the vectors whose id is below
    * `numCentroids` (deterministic seeding — a production pipeline would
    * plug k-means centroids in, the query shape is identical). Every vector
    * searches only its own cluster (nprobe=1): one broadcast assignment
    * join + one equi-join on cluster id. Neighbors outside the probed
    * cluster are missed — that is the IVF recall trade, documented not
    * hidden. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, numCentroids: Int): DataFrame = {
    val centroids = df.where(col(idCol) < numCentroids)
    val assigned = assignClusters(df, centroids, idCol, vecCol, dim)
    val l = assigned.select(col("__vid").as("vec_id"), col("__vec").as("__qv"),
      col("__nrm").as("__qn"), col("__cid"))
    val r = assigned.select(col("__vid").as("neighbor_id"), col("__vec").as("__cv"),
      col("__nrm").as("__cn"), col("__cid"))
    val pairs = l.join(r, Seq("__cid"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__cv"), dim) / (col("__qn") * col("__cn")))
          .as("cosine")) // skinny rows into the top-k exchange (see cosineTopK)
    topKPerKey(pairs, k)
  }

  /** Multi-probe IVF top-k: vectors live in their single nearest-centroid
    * cluster (the index layout), but each QUERY probes its `nprobe`
    * closest clusters — the standard IVF recall dial (nprobe=1 degrades
    * to [[ivfTopK]]'s shape, nprobe=numCentroids to brute force). Probe
    * assignment itself is the bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]) — no window over the vector ×
    * centroid grid. Each candidate pair still materializes at most once:
    * a neighbor's home cluster is unique, so (query, neighbor) matches
    * only where that home appears among the query's probes. */
  def ivfTopKProbed(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, numCentroids: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCentroids)
    val centroids = df.where(col(idCol) < numCentroids)
    val v = withNorm(df, idCol, vecCol, dim)
    val c = withNorm(centroids, idCol, vecCol, dim)
      .select(col("__vid").as("__cid"), col("__vec").as("__cv"), col("__nrm").as("__cn"))
    val probesRaw = v.crossJoin(broadcast(c))
      .withColumn("__sim",
        dot(col("__vec"), col("__cv"), dim) / (col("__nrm") * col("__cn")))
      .groupBy("__vid")
      .agg(graft.functions.TopKByScore.topK(col("__sim"), col("__cid"), nprobe)
        .as("__top"))
      .select(col("__vid"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("__vid"), col("__e.id").as("__cid"),
        (col("__p") + 1).as("__probe"))
    val l = probesRaw.join(v, Seq("__vid"))
      .select(col("__vid").as("vec_id"), col("__vec").as("__qv"),
        col("__nrm").as("__qn"), col("__cid"))
    val r = probesRaw.where(col("__probe") === 1).join(v, Seq("__vid"))
      .select(col("__vid").as("neighbor_id"), col("__vec").as("__cv"),
        col("__nrm").as("__cn"), col("__cid"))
    val pairs = l.join(r, Seq("__cid"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__cv"), dim) / (col("__qn") * col("__cn")))
          .as("cosine"))
    topKPerKey(pairs, k)
  }

  /** FILTERED vector search — [[ivfTopKProbed]] with a metadata
    * constraint: each query ranks only corpus vectors whose `labelCol`
    * matches its own (the "same-tenant / same-language / same-licence"
    * predicate every production vector store bolts onto ANN). The filter
    * rides the cluster-pair join as one extra equality — applied BEFORE
    * scoring, so filtered-out candidates cost nothing, and top-k is over
    * the filtered set (no post-filter starvation: k survivors per query
    * whenever the probed cells contain them).
    *
    * Same 100 TB shape as the unfiltered probe: broadcast centroids,
    * cluster-blocked candidate join, bounded-heap top-k. For highly
    * selective filters prefer partitioning the persisted index by the
    * label (see [[buildIvfIndex]]'s layout) so pruning happens at the
    * scan. */
  def ivfTopKFiltered(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, dim: Int, k: Int, numCentroids: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCentroids)
    val centroids = df.where(col(idCol) < numCentroids)
    val v = df.select(col(idCol).as("__vid"), col(vecCol).as("__vec"),
      norm(col(vecCol), dim).as("__nrm"), col(labelCol).as("__lbl"))
    val c = withNorm(centroids, idCol, vecCol, dim)
      .select(col("__vid").as("__cid"), col("__vec").as("__cv"),
        col("__nrm").as("__cn"))
    val probesRaw = v.crossJoin(broadcast(c))
      .withColumn("__sim",
        dot(col("__vec"), col("__cv"), dim) / (col("__nrm") * col("__cn")))
      .groupBy("__vid")
      .agg(graft.functions.TopKByScore.topK(col("__sim"), col("__cid"), nprobe)
        .as("__top"))
      .select(col("__vid"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("__vid"), col("__e.id").as("__cid"),
        (col("__p") + 1).as("__probe"))
    val l = probesRaw.join(v, Seq("__vid"))
      .select(col("__vid").as("vec_id"), col("__vec").as("__qv"),
        col("__nrm").as("__qn"), col("__lbl"), col("__cid"))
    val r = probesRaw.where(col("__probe") === 1).join(v, Seq("__vid"))
      .select(col("__vid").as("neighbor_id"), col("__vec").as("__cv"),
        col("__nrm").as("__cn"), col("__lbl").as("__nlbl"), col("__cid"))
    val pairs = l.join(r, Seq("__cid"))
      .where(col("vec_id") =!= col("neighbor_id") &&
        col("__lbl") === col("__nlbl"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__cv"), dim) / (col("__qn") * col("__cn")))
          .as("cosine"))
    topKPerKey(pairs, k)
  }

  /** K-means centroid training (Lloyd's algorithm), the production
    * replacement for the deterministic id<K IVF seeding: init from the
    * first K vectors, then `iters` rounds of assign (plan-literal cosine
    * argmax projection, [[assignClusters]]) + recompute (element-wise
    * mean via posexplode — a (cid,
    * position) aggregation that scales out; no vectors on the driver).
    * Empty clusters keep their previous centroid. Returns (cid, vec) with
    * `vec` float — drop-in wherever centroids are consumed
    * ([[assignClusters]], [[buildIvfIndex]]). Means are float-rounded
    * each round, so centroids stay compact and transfer-cheap.
    *
    * Lineage is TRUNCATED every round (`localCheckpoint`, the CC/PageRank
    * discipline): each round's plan references the previous centroids
    * frame TWICE (the assignment and the empty-cluster coalesce), so an
    * un-truncated loop doubles the logical plan per iteration — 2^iters
    * nodes by round 10, which OOMs the driver on plan STRINGIFICATION
    * alone before any data moves. Checkpointed, every round replans from
    * a K-row leaf. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0)
    var centroids = df.where(col(idCol) < k)
      .select(col(idCol).cast("long").as("__cid"),
        col(vecCol).as("__cvec"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val assigned = assignClusters(df,
        centroids.select(col("__cid").as(idCol), col("__cvec").as(vecCol)),
        idCol, vecCol, dim)
      val means = assigned
        .select(col("__cid"), posexplode(col("__vec")).as(Seq("__pos", "__x")))
        .groupBy(col("__cid"), col("__pos"))
        .agg(avg(col("__x")).as("__m"))
        .groupBy(col("__cid"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("__pos"), col("__m"))))).as("__bypos"))
        .select(col("__cid"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => element_at(col("__bypos"), i).cast("float")).as("__mvec"))
      centroids = graft.core.Ckpt.roll( // eager K-row materialize + free prior
        centroids.join(means, Seq("__cid"), "left_outer")
          .select(col("__cid"),
            coalesce(col("__mvec"), col("__cvec")).as("__cvec")), centroids)
    }
    centroids.select(col("__cid").as("cid"), col("__cvec").as("vec"))
  }

  /** Greedy k-center (farthest-point-first) coreset selection: pick the
    * `k` embeddings that 2-approximate the best k-center cover — the
    * diversity-sampling primitive for training-data curation (maximally
    * spread exemplars, the opposite of the near-dup removal the cascade
    * does). Seed = minimum id; each round selects the point FARTHEST from
    * the chosen set (max over points of min over centers), ties to the
    * smaller id.
    *
    * Distances are EXACT integers: components are quantized to
    * `round(x·scale)` longs and squared-L2 summed in int64 (dim·(2·|x|max·
    * scale)² must fit — 64-dim unit-ish vectors at 10^6 use ~2^45), so
    * argmax comparisons can never tie-break on engine float noise and
    * DuckDB replays the selection bit-for-bit.
    *
    * Each of the k−1 rounds is ONE distributed min-dist scan + a 1-row
    * driver fetch of the winner (k rows total on the driver — same
    * bounded-collect contract as [[kmeansCentroids]]); the scan is a
    * narrow projection with a `least()` over ≤k broadcast literal
    * vectors, so at 100 TB the cost is k linear passes, no shuffle at
    * all. Returns (sel_order, vec_id, sqdist) where sqdist is the
    * quantized squared distance to the previously-chosen set (0 for the
    * seed). */
  def kcenterSelect(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, scale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val q = df.select(col(idCol).cast("long").as("__vid"),
      transform(col(vecCol),
        x => round(x.cast("double") * scale).cast("long")).as("__qv"))
    def sqdistTo(center: Seq[Long]): Column =
      aggregate(
        zip_with(col("__qv"), typedLit(center),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val seedRows = q.orderBy(col("__vid")).limit(1).collect()
    require(seedRows.nonEmpty,
      s"kcenterSelect: input frame is empty — cannot select k=$k centers")
    val seed = seedRows(0)
    var chosen = Vector((seed.getLong(0), seed.getSeq[Long](1), 0L))
    var exhausted = false
    for (_ <- 1 until k if !exhausted) {
      val ds = chosen.map { case (_, v, _) => sqdistTo(v) }
      val minDist = if (ds.size == 1) ds.head else least(ds: _*)
      val nextRows = q
        .where(not(col("__vid").isInCollection(chosen.map(_._1))))
        .select(col("__vid"), col("__qv"), minDist.as("__d"))
        .orderBy(col("__d").desc, col("__vid").asc)
        .limit(1).collect()
      // fewer than k distinct ids: stop early and return what was chosen
      // (every remaining point is already a center) rather than throwing
      // ArrayIndexOutOfBounds mid-loop
      if (nextRows.isEmpty) exhausted = true
      else {
        val next = nextRows(0)
        chosen :+= ((next.getLong(0), next.getSeq[Long](1), next.getLong(2)))
      }
    }
    chosen.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1L, id, d) }
      .toDF("sel_order", "vec_id", "sqdist")
  }

  /** Deterministic ±1 hyperplane weight for SRP bit `j`, component `i`:
    * parity of the first md5 byte of `"i_j"` — engine-independent public
    * derivation, so an oracle can rebuild the identical hyperplanes. */
  def srpWeight(i: Int, j: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_$j".getBytes("UTF-8"))
    if ((d(0) & 1) == 0) 1 else -1
  }

  /** Signed-random-projection (hyperplane) LSH signature over an
    * embedding column: bit `j` of the signature is the SIGN of the dot
    * product with a fixed ±1 hyperplane ([[srpWeight]]) — Charikar's
    * cosine sketch. Components are integer-quantized (`round(x·scale)`)
    * first, so each projection is an EXACT int64 sum and the sign can
    * never flip on engine float noise.
    *
    * This is the cosine twin of [[graft.ops.TextDedup.simhash]] (which
    * sketches token sets): O(dim·bits) codegen'd arithmetic per row, no
    * shuffle — at 100 TB the signature pass is a projection-only scan,
    * and all downstream near-dup work moves 8-byte signatures instead of
    * `dim`-float arrays. */
  def srpSignature(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bits: Int = 32, scale: Long = 1000000L): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1,63], got $bits")
    // signatures are bits×dim HOF arithmetic PER ROW — orders of
    // magnitude heavier than the bytes feeding it, so a byte-sized plan
    // (a single-file corpus scans as one partition) serializes the real
    // work. Row-local computation is partition-invariant; spread it
    // across the session's shuffle width before the per-bit folds.
    val spread = df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
    val qv = transform(col(vecCol),
      x => round(x.cast("double") * scale).cast("long"))
    val sig = (0 until bits).map { j =>
      val h: Seq[Long] = (0 until dim).map(i => srpWeight(i, j).toLong)
      val proj = aggregate(
        zip_with(qv, typedLit(h), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    spread.select(col(idCol).as("vec_id"), sig.as("sig"))
  }

  /** [[srpSignature]] without the one-long ceiling: the signature as an
    * `array<bigint>` of `bands` per-band BLOCKS, each `width ≤ 63` bits
    * — block `b`, bit `t` is the sign of hyperplane `j = b·width + t`
    * ([[srpWeight]]), i.e. exactly bits [b·width, (b+1)·width) of the
    * conceptual full signature. When bands·width ≤ 63 the concatenated
    * blocks equal [[srpSignature]]'s one long bit-for-bit (spec-pinned),
    * so the lift changes the TRANSPORT, never the sketch. Hamming
    * distance = Σ bit_count(a[b] ^ b[b]); band key = one array element.
    * Same cost shape as the one-long spelling: O(dim · bands · width)
    * codegen'd arithmetic per row, no shuffle — downstream near-dup
    * work now moves 8·bands bytes per vector instead of 8. */
  def srpSignatureBlocks(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bands: Int, width: Int,
      scale: Long = 1000000L): DataFrame = {
    require(bands >= 1, s"bands must be positive, got $bands")
    require(width >= 1 && width <= 63, s"width must be in [1,63], got $width")
    // same partition spread as srpSignature: the per-row fold is the
    // real work, a byte-sized plan must not serialize it
    val spread = df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
    val qv = transform(col(vecCol),
      x => round(x.cast("double") * scale).cast("long"))
    val blocks = (0 until bands).map { b =>
      (0 until width).map { t =>
        val j = b * width + t
        val h: Seq[Long] = (0 until dim).map(i => srpWeight(i, j).toLong)
        val proj = aggregate(
          zip_with(qv, typedLit(h), (a, x) => a * x),
          lit(0L), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << t)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    spread.select(col(idCol).as("vec_id"), array(blocks: _*).as("sig"))
  }

  /** Shared banded-candidate scaffolding for the two SRP ops: block
    * signatures re-packed into the MINIMUM number of 63-bit longs
    * (⌊63/width⌋ bands per long), the per-band (band, key) explode, and
    * the explicit-width repartition. Returns (banded frame, packed
    * column count k).
    *
    * Why pack instead of carrying the block ARRAY through the band
    * join: the join's output is the candidate-pair volume
    * (~n·targetBucket rows), and every array column costs an
    * UnsafeArrayData materialization per OUTPUT pair — measured 10×
    * on the whole op at sf1 (24 s vs 2.5 s) with two array columns,
    * and an aggregate/zip_with hamming (a CodegenFallback lambda HOF)
    * measured the same before it. Flat longs keep the join row narrow
    * and the hamming a straight xor + bit_count chain inside
    * whole-stage codegen. width ≤ 7 (n ≤ 512·2^7 per band) packs to
    * ONE long — the exact round-7 shape; sf10's width 9 packs to two;
    * k only reaches 8 at width 63 (n > 512·2^62). */
  private def srpBanded(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bands: Int, width: Int, scale: Long): (DataFrame, Int) = {
    val bpl = math.max(1, 63 / width) // bands per packed long
    val k = (bands + bpl - 1) / bpl
    graft.core.Trace.attr("srp_width", width)
    graft.core.Trace.attr("packed_longs", k)
    val blocks = srpSignatureBlocks(df, idCol, vecCol, dim, bands, width, scale)
    val packedCols = (0 until k).map { g =>
      val lo = g * bpl
      val hi = math.min(bands, lo + bpl)
      (lo until hi).map(b =>
        shiftleft(element_at(col("sig"), b + 1), (b - lo) * width))
        .reduce(_.bitwiseOR(_)).as(s"__s$g")
    }
    val sigs = blocks.select(col("vec_id") +: packedCols: _*)
    val mask = (1L << width) - 1
    val sigRefs = (0 until k).map(g => col(s"__s$g"))
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    val banded = sigs.select((col("vec_id") +: sigRefs) :+
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col(s"__s${b / bpl}"), (b % bpl) * width)
              .bitwiseAND(mask).as("key"))
        }: _*)).as("bk"): _*)
      .select((col("vec_id") +: sigRefs) :+ col("bk.band").as("band") :+
        col("bk.key").as("key"): _*)
      .repartition(par, col("band"), col("key"))
    (banded, k)
  }

  /** One join side of the banded self-join: (band, key, id, packed
    * signature longs renamed to `__s<side><g>`). */
  private def srpSide(banded: DataFrame, k: Int, side: String,
      idAs: String): DataFrame =
    banded.select(Seq(col("band"), col("key"), col("vec_id").as(idAs)) ++
      (0 until k).map(g => col(s"__s$g").as(s"__s$side$g")): _*)

  /** Hamming over the packed signature longs — Σ bit_count per long ==
    * the full-signature hamming (bands are disjoint bit-ranges and the
    * padding bits are zero on both sides). Straight-line codegen. */
  private def packedHamming(k: Int): Column =
    (0 until k).map(g =>
      bit_count(col(s"__sa$g").bitwiseXOR(col(s"__sb$g"))).cast("long"))
      .reduce(_ + _)

  /** The SRP blocking dial, turned by the engine — [[autoGranularity]]'s
    * twin for the signature family: the per-band block WIDTH that pins
    * expected bucket population at `targetBucket` as the corpus grows.
    * Buckets per band = 2^width, so width = the smallest w with
    * 2^w ≥ ⌈n / targetBucket⌉ ([[srpAutoWidth]]). Returned as total
    * bits = bands · width, the unit [[srpDupPairs]]/
    * [[srpCandidatesTopK]] take. Candidate volume per band is then
    * ≤ n · targetBucket — LINEAR in n, where any fixed bits went
    * quadratic (the sf10 probe measured exponent 1.48 on q213's fixed
    * 32-bit dial). Pure integer math — deterministic given n and
    * SQL-replayable: the oracle picks the same smallest-w.
    *
    * The round-7 one-long ceiling is LIFTED: signatures are stored as
    * an `array<bigint>` of per-band blocks ([[srpSignatureBlocks]] —
    * width ≤ 63 EACH, band key = one array element, hamming =
    * Σ bit_count per block), so the dial grants whatever width the
    * corpus asks for at any n. The pigeonhole losslessness argument is
    * unchanged: bands are still exact disjoint bit-blocks of the full
    * signature. The only clamp left is width ≤ 63 per BLOCK — 2^63
    * buckets per band, never binding (it would need n > 512 · 2^63).
    * At 100 TB the steady state is the INCREMENTAL index path
    * regardless (see [[graft.ops.TextDedup.incrementalDupPairs]]'s
    * shape); the one-shot op prices initial corpus builds. */
  def srpAutoBits(n: Long, bands: Int, targetBucket: Int = 512): Int =
    bands * srpAutoWidth(n, bands, targetBucket)

  /** The per-band block width behind [[srpAutoBits]]: the smallest w in
    * [1, 63] with 2^w ≥ ⌈n / targetBucket⌉. Pure integer math —
    * deterministic given n and SQL-replayable. */
  def srpAutoWidth(n: Long, bands: Int, targetBucket: Int = 512): Int = {
    require(bands >= 1 && bands <= 31, s"bands must be in [1,31], got $bands")
    require(targetBucket >= 1, s"targetBucket must be positive: $targetBucket")
    // division-first ceil: n + targetBucket - 1 could overflow near Long.Max
    val cells = n / targetBucket + (if (n % targetBucket > 0) 1L else 0L)
    (1 to 63).find(w => w == 63 || (1L << w) >= cells).getOrElse(63)
  }

  /** Embedding near-duplicate pairs by SRP signature hamming distance,
    * found WITHOUT a quadratic join: signatures split into `bands`
    * equal bit-blocks; pairs sharing any block meet in a band equi-join
    * (pigeonhole: hamming ≤ bands−1 ⟹ some block is untouched, so the
    * blocking is LOSSLESS for `maxHamming ≤ bands−1` — asserted).
    * Returns (vec_a < vec_b, hamming). The oracle replays the quadratic
    * filter; results are identical by the pigeonhole argument, which is
    * exactly the property that lets the same code run at 100 TB where
    * the quadratic spelling cannot.
    *
    * Sizing: candidate volume per band is Σ bucket², buckets = 2^(bits/
    * bands) — narrow bands (q213's 8×4 bits = 16 buckets) are fine at
    * corpus ≤ 10^5 but collide quadratically beyond; `bits <= 0` turns
    * the dial AUTOMATICALLY ([[srpAutoBits]]: bucket population pinned
    * at `targetBucket`, candidate volume linear in n — the production
    * default), a positive `bits` pins it for gate twins and recall
    * studies. The bits/bands pair is the recall-vs-candidates dial,
    * same as MinHash's (k, b). */
  def srpDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3,
      scale: Long = 1000000L, targetBucket: Int = 512): DataFrame = {
    // bits <= 0: dial self-turned — width follows the corpus count
    // ([[srpAutoBits]]), pinning bucket population like the IVF
    // autoGranularity does for cells (one count, bounded driver class)
    val nb = if (bits > 0) bits else srpAutoBits(df.count(), bands, targetBucket)
    require(nb % bands == 0, s"bits ($nb) must divide into bands ($bands)")
    require(maxHamming <= bands - 1,
      s"band blocking is only lossless for maxHamming <= bands-1 " +
        s"(got maxHamming=$maxHamming, bands=$bands)")
    val width = nb / bands
    // PIN the candidate explosion's parallelism (inside [[srpBanded]]):
    // the banded frame is BYTE-tiny (≤ a few longs per vector) but the
    // band self-join below fans out quadratically per bucket, so any
    // byte-based plan decision serializes the expensive part — a
    // single-file corpus scans as ONE partition, and AQE would happily
    // coalesce a tiny shuffle the same way (measured: 62 s single-task
    // vs 8 s wide at 200k vectors). An explicit numPartitions
    // repartition is exempt from AQE coalescing and both join sides
    // reuse the one exchange.
    val (banded, k) = srpBanded(df, idCol, vecCol, dim, bands, width, scale)
    srpSide(banded, k, "a", "vec_a")
      .join(srpSide(banded, k, "b", "vec_b"), Seq("band", "key"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        packedHamming(k).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SRP-LSH candidate SHORTLIST: the banded candidate set (pairs
    * sharing at least one signature block — [[srpDupPairs]]'s blocking
    * without its hamming threshold) re-ranked exactly and cut to the
    * global top-`k` by (hamming, vec_a, vec_b). This is the
    * retrieval-side shape of the same machinery: LSH proposes, exact
    * distance disposes — no threshold to tune, so it stays non-vacuous
    * on corpora with no true near-dups (where a thresholded pair set is
    * legitimately empty). Candidate volume scales with Σ bucket² per
    * band exactly as the [[srpDupPairs]] sizing note describes; the
    * top-k is a TakeOrdered (bounded heap per partition), never a full
    * sort. */
  def srpCandidatesTopK(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, bands: Int, k: Int,
      scale: Long = 1000000L, targetBucket: Int = 512): DataFrame = {
    // bits <= 0: self-turned dial, same convention as [[srpDupPairs]]
    val nb = if (bits > 0) bits else srpAutoBits(df.count(), bands, targetBucket)
    require(nb % bands == 0, s"bits ($nb) must divide into bands ($bands)")
    val width = nb / bands
    // same packed transport + explicit-width repartition as srpDupPairs:
    // the banded frame is byte-tiny, the self-join fan-out is the real work
    val (banded, kk) = srpBanded(df, idCol, vecCol, dim, bands, width, scale)
    // top-(k·bands) FIRST (TakeOrdered = per-partition bounded heaps, no
    // shuffle of the candidate volume), then dedup the ≤ k·bands rows: a
    // pair can appear once per shared band with the SAME hamming, so the
    // k·bands cut is guaranteed to contain the k distinct best. The
    // naive distinct()-then-top-k spelling shuffles EVERY candidate pair
    // (measured 24.6 s vs 4.4 s at 20k vectors) for rows the heap cut
    // would discard anyway.
    srpSide(banded, kk, "a", "vec_a")
      .join(srpSide(banded, kk, "b", "vec_b"), Seq("band", "key"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        packedHamming(kk).as("hamming"))
      .orderBy(col("hamming"), col("vec_a"), col("vec_b"))
      .limit(k * bands)
      .dropDuplicates("vec_a", "vec_b")
      .orderBy(col("hamming"), col("vec_a"), col("vec_b"))
      .limit(k)
  }

  /** Persist an IVF index: cluster assignments written as parquet
    * PARTITIONED BY cluster id (`cid=`), centroids + norms alongside.
    * Build once, query many — the index shape that makes repeated ANN
    * queries O(probed clusters) instead of O(corpus): a probe query's
    * broadcast join on `cid` triggers Spark's dynamic partition pruning,
    * so the scan reads ONLY the probed clusters' files. At 100 TB of
    * embeddings, nprobe/K of the data comes off storage, the rest is
    * never listed. `kmeansIters > 0` trains the centroids with
    * [[kmeansCentroids]] (Lloyd's) before assignment — better-balanced
    * clusters, hence better recall per probe, at the cost of `iters`
    * training passes at build time; `kmeansIters = 0` keeps the
    * deterministic id<K seed ([[ivfTopK]]). Layout is identical either
    * way, so queries don't care how the index was built.
    *
    * The index is one [[graft.core.Snapshots]] root: `centroids` and
    * `assignments` are its tables, and each appended batch is a delta
    * table beside them (`batch_<id>` from a stream, `append_<version>`
    * from [[ivfAppend]]) until [[ivfCompactDeltas]] folds it. Every
    * write stages and commits one version and keeps the last two, so a
    * reader pinned to the previous version keeps reading. A build over
    * an existing index replaces it in one commit and folds its deltas. */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      numCentroids: Int, path: String, kmeansIters: Int = 0): Unit = {
    val txn = graft.core.Snapshots.begin(df.sparkSession, path)
    stageIndex(txn, df, idCol, vecCol, dim, numCentroids, kmeansIters)
    commitIvf(txn)
  }

  private def stageIndex(txn: graft.core.Snapshots.Txn, df: DataFrame,
      idCol: String, vecCol: String, dim: Int, numCentroids: Int,
      kmeansIters: Int): Unit = {
    // numCentroids <= 0: dial self-turned — K follows the corpus
    // ([[autoGranularity]]), so a rebuild over grown data gets more cells
    val k = if (numCentroids > 0) numCentroids else autoGranularity(df.count())
    graft.core.Trace.attr("ivf_k", k)
    val centroids =
      if (kmeansIters > 0)
        kmeansCentroids(df, idCol, vecCol, dim, k, kmeansIters)
          .select(col("cid").as(idCol), col("vec").as(vecCol))
      else df.where(col(idCol) < k)
        .select(col(idCol), col(vecCol))
    txn.stage("centroids", withNorm(centroids, idCol, vecCol, dim)
      .select(col("__vid").as("cid"), col("__vec").as("cvec"),
        col("__nrm").as("cnrm"))
      .coalesce(1)) // K rows — one file, broadcast at query time
    assignClusters(df, centroids, idCol, vecCol, dim)
      .select(col("__vid").as("vec_id"), col("__vec").as("vec"),
        col("__nrm").as("nrm"), col("__cid").as("cid"))
      // cluster by cell before the partitioned write: without it every
      // shuffle task writes one file into every cid= dir it touches
      // (tasks × cells near-empty files — the writePartials lesson,
      // guide §6); [[clusterForWrite]] additionally lets AQE split a
      // hot cell across tasks by measured size (guide §2.2/§6).
      .transform(clusterForWrite)
      .write.partitionBy("cid").parquet(txn.dir("assignments"))
    foldDeltas(txn)
  }

  /** Route rows to write tasks for a `partitionBy("cid")` parquet write.
    * A bare `repartition(cid)` caps write parallelism at the populated
    * cell count and turns a hot cell into ONE straggler task writing one
    * oversized file (guide §2.2's skew flag on this site). The REBALANCE
    * hint keys the exchange on cid but lets AQE act on MEASURED partition
    * sizes (guide §6: "a REBALANCE hint before the write"): an oversized
    * cell splits into several tasks/files at the advisory partition size,
    * small cells coalesce into shared tasks while each still writes one
    * file per cid dir. At bench/steady-state sizes (cells dial-bounded to
    * ~512 rows) nothing splits and the layout is byte-identical to the
    * round-9 one-file-per-cell; a drifted hot cell at 100 TB splits
    * automatically. No salt column: AQE's split is deterministic given
    * the map output, and the file count stays ≤ ceil(cell bytes /
    * advisory size) per dir. */
  private[graft] def clusterForWrite(df: DataFrame): DataFrame =
    df.hint("rebalance", col("cid"))

  /** Incremental IVF maintenance: assign a batch of NEW vectors against
    * the index's PERSISTED centroids and commit them as a delta table —
    * the index absorbs the batch without retraining and without touching
    * any existing file. Because cell membership depends only on the
    * frozen centroids, build-then-append is CONTENT-IDENTICAL to a
    * one-shot build over the union — the invariant q270's oracle
    * hash-checks. Cost is one broadcast-K assignment pass over the
    * batch, O(batch), never O(index).
    *
    * Each call commits a new delta, so a retried call appends twice; a
    * feed that can replay uses [[ivfDeltaAppend]], whose batch ids make
    * the replay a no-op. Many appends skew cells as the data
    * distribution drifts from the trained centroids — watch
    * [[ivfStaleness]]; [[graft.jobs.Maintain.maintainIvf]] retrains past
    * a threshold. Returns the number of vectors appended. */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String, dim: Int): Long =
    appendDelta(spark, path, newVecs, idCol, vecCol, dim, None)

  /** EXACTLY-ONCE streaming ingestion into an IVF index: the batch is
    * assigned against the frozen centroids (same O(batch) broadcast pass
    * as [[ivfAppend]]) and committed as the delta table `batch_<id>`. A
    * replayed micro-batch (foreachBatch is at-least-once) that is still
    * a delta re-stages the same table, so the index state is unchanged;
    * one at or below the index's watermark — the highest batch a
    * compaction or retrain has folded — is a no-op. Returns rows
    * ingested (0 for a folded replay). */
  def ivfDeltaAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      batchId: Long): Long =
    appendDelta(spark, path, newVecs, idCol, vecCol, dim, Some(batchId))

  private def appendDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, newVecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, batch: Option[Long]): Long = {
    val txn = graft.core.Snapshots.begin(spark, path)
    if (batch.exists(b => txn.watermark.exists(_ >= b))) return 0L
    val n = stageDelta(txn, newVecs, idCol, vecCol, dim, batch)
    commitIvf(txn)
    n
  }

  /** Stage one delta of [[ivfAppend]]/[[ivfDeltaAppend]] into `txn`. */
  private[graft] def stageDelta(txn: graft.core.Snapshots.Txn,
      newVecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      batch: Option[Long]): Long = {
    val cents = indexSnapshot(txn).read(txn.spark, "centroids")
      .select(col("cid").as(idCol), col("cvec").as(vecCol))
    // checkpoint so count + write share ONE assignment pass (the
    // writeShards lesson: never let the manifest re-run the pipeline)
    val assigned = assignClusters(newVecs, cents, idCol, vecCol, dim)
      .select(col("__vid").as("vec_id"), col("__vec").as("vec"),
        col("__nrm").as("nrm"), col("__cid").as("cid"))
      .localCheckpoint()
    val n = assigned.count()
    txn.stage(batch.fold(s"append_${txn.id}")(b => s"batch_$b"), assigned)
    graft.core.Ckpt.free(assigned) // count + write done; blocks are dead
    n
  }

  /** Fold every delta into the base `cid=` layout in ONE commit: the new
    * `assignments` version is published, the folded delta tables are
    * dropped and the watermark advances past their batches in the same
    * record, so base and watermark can never disagree. A crash before
    * the commit leaves the previous version whole. No deltas → no
    * commit. Returns (rows in the base, deltas folded). */
  def ivfCompactDeltas(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Int) = {
    val txn = graft.core.Snapshots.begin(spark, path)
    val (n, folded) = stageCompaction(txn)
    if (folded > 0) commitIvf(txn)
    (n, folded)
  }

  /** Stage [[ivfCompactDeltas]]'s version into `txn`. */
  private[graft] def stageCompaction(txn: graft.core.Snapshots.Txn): (Long, Int) = {
    val spark = txn.spark
    val snap = indexSnapshot(txn)
    if (deltas(snap).isEmpty)
      return (snap.read(spark, "assignments").count(), 0)
    val folded = liveAssignments(spark, snap).localCheckpoint()
    val n = folded.count()
    // one compacted file per cell; hot cells split by AQE
    // ([[clusterForWrite]])
    clusterForWrite(folded)
      .write.partitionBy("cid").parquet(txn.dir("assignments"))
    graft.core.Ckpt.free(folded) // count + write done
    (n, foldDeltas(txn))
  }

  /** Retrain an index over its own live vectors — base ∪ deltas of one
    * pinned snapshot — in one commit: fresh centroids, a fresh layout,
    * every delta folded ([[graft.jobs.Maintain.maintainIvf]]). */
  private[graft] def ivfRetrain(spark: org.apache.spark.sql.SparkSession,
      path: String, dim: Int, numCentroids: Int, kmeansIters: Int): Unit = {
    val txn = graft.core.Snapshots.begin(spark, path)
    stageIndex(txn, liveAssignments(spark, indexSnapshot(txn))
        .select(col("vec_id"), col("vec")),
      "vec_id", "vec", dim, numCentroids, kmeansIters)
    commitIvf(txn)
  }

  private def indexSnapshot(txn: graft.core.Snapshots.Txn) =
    txn.parent.getOrElse(
      throw new IllegalStateException(s"no IVF index at ${txn.root}"))

  private def commitIvf(txn: graft.core.Snapshots.Txn): Unit = {
    txn.commit()
    graft.core.Snapshots.vacuum(txn.spark, txn.root, keepLast = 2)
  }

  /** The delta tables of an index snapshot. */
  private def deltas(snap: graft.core.Snapshots.Snapshot): Seq[String] =
    snap.dirs.keys.filter(t => t.startsWith("batch_") || t.startsWith("append_"))
      .toSeq.sorted

  /** Drop every delta of `txn`'s parent from the next version and
    * advance the watermark past the streamed batches among them.
    * Returns the number of deltas folded. */
  private def foldDeltas(txn: graft.core.Snapshots.Txn): Int =
    txn.parent.fold(0) { snap =>
      val ds = deltas(snap)
      ds.foreach { t =>
        txn.drop(t)
        if (t.startsWith("batch_")) txn.advance(t.stripPrefix("batch_").toLong)
      }
      ds.length
    }

  /** The live index of one pinned snapshot: base `cid=` assignments ∪
    * every delta. Base reads keep partition pruning; the un-pruned delta
    * scan is the standard merge-on-read trade (deltas are batch-sized
    * until the next compaction). */
  private def liveAssignments(spark: org.apache.spark.sql.SparkSession,
      snap: graft.core.Snapshots.Snapshot): DataFrame = {
    val cols = Seq(col("vec_id"), col("vec"), col("nrm"),
      col("cid").cast("int").as("cid"))
    ("assignments" +: deltas(snap))
      .map(t => snap.read(spark, t).select(cols: _*))
      .reduce(_ unionByName _)
  }

  /** Read the LIVE index at its current snapshot: base ∪ deltas. */
  def readIvfAssignments(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    liveAssignments(spark, graft.core.Snapshots.open(spark, path))

  /** Per-cell centroid STALENESS of a persisted IVF index: the L2
    * distance between each stored (frozen) centroid and the CURRENT
    * mean of its cell's members — the rebuild trigger [[ivfAppend]]
    * documents. Appends never move centroids, so as the data
    * distribution drifts the cell means walk away from the centroids
    * they were assigned under and recall-per-probe decays; this metric
    * measures exactly that gap. Same exact-arithmetic discipline as
    * [[centroidDrift]] (its corpus-balance sibling): components
    * quantize to 1e-3-unit longs, per-(cell, dim) sums are exact
    * integers, each mean difference is one closing double expression
    * `(Σq − c·n)/(n·1000)`, and the d² fold runs in dimension order
    * with seed 0.0 — bit-identical on any partitioning.
    *
    * Shape: one narrow posexplode aggregate over the assignments
    * (K×d cells after map-side combine), a K×d-row join against the
    * exploded centroids, one fold per cell. The output is K rows —
    * the driver-side policy read in [[graft.jobs.Maintain.maintainIvf]]
    * is the accepted O(K) bounded class. */
  def ivfStaleness(spark: org.apache.spark.sql.SparkSession, path: String,
      dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    val snap = graft.core.Snapshots.open(spark, path)
    val cells = liveAssignments(spark, snap)
      .select(col("cid").cast("long").as("cid"),
        posexplode(transform(col("vec"),
          x => round(x.cast("double") * 1000, 0).cast("long")))
          .as(Seq("__i", "__q")))
      .groupBy(col("cid"), col("__i"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"))
    val cents = snap.read(spark, "centroids")
      .select(col("cid").cast("long").as("cid"),
        posexplode(transform(col("cvec"),
          x => round(x.cast("double") * 1000, 0).cast("long")))
          .as(Seq("__i", "__c")))
    cells.join(cents, Seq("cid", "__i"))
      .select(col("cid"), col("__i"), col("__n"),
        ((col("__s") - col("__c") * col("__n")).cast("double") /
          col("__n").cast("double") / lit(1000.0)).as("__d"))
      .groupBy(col("cid"))
      .agg(max(col("__n")).as("n_vecs"),
        round(sqrt(aggregate(
          transform(sort_array(collect_list(struct(col("__i"), col("__d")))),
            e => e.getField("__d") * e.getField("__d")),
          lit(0.0), (a, x) => a + x)), 6).as("stale"))
  }

  /** Query a persisted IVF index: assign each query vector to its
    * `nprobe` nearest stored centroids (broadcast, K rows), then join
    * the probe list against the partitioned assignments — the join key
    * IS the partition column, so dynamic partition pruning limits the
    * scan to probed clusters. Self-pairs excluded; same output shape as
    * [[cosineTopK]]. */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, nprobe: Int): DataFrame = {
    val snap = graft.core.Snapshots.open(spark, path)
    val cents = snap.read(spark, "centroids")
    val q = withNorm(queries, idCol, vecCol, dim)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("__sim",
        dot(col("__vec"), col("cvec"), dim) / (col("__nrm") * col("cnrm")))
      .groupBy("__vid")
      .agg(graft.functions.TopKByScore.topK(col("__sim"), col("cid"), nprobe)
        .as("__top"))
      .select(col("__vid"), explode(col("__top.id")).as("cid"))
      .join(q, Seq("__vid"))
      .select(col("__vid").as("vec_id"), col("__vec").as("__qv"),
        col("__nrm").as("__qn"), col("cid"))
    val index = liveAssignments(spark, snap)
    // broadcast the (small) probe side: the assignments scan stays the
    // streamed side and its partition filter comes from the broadcast —
    // dynamic partition pruning reads only probed cid= directories
    val scored = index
      .select(col("vec_id").as("neighbor_id"), col("vec").as("__cv"),
        col("nrm").as("__cn"), col("cid"))
      .join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__cv"), dim) / (col("__qn") * col("__cn")))
          .as("cosine"))
    topKPerKey(scored, k)
  }

  /** The granularity DIAL, turned by the engine: the K that holds the
    * CELL POPULATION at `targetCell` as the corpus grows — K =
    * ⌈n / targetCell⌉, clamped to [1, 2^20]. Fixing the cell size (not
    * K) keeps in-cell candidate volume LINEAR in n: K cells ×
    * targetCell² pairs = n · targetCell. The 100× probe (BASELINE.md)
    * measured what a FIXED K does instead — per-cell population grows
    * with the corpus and candidate volume goes quadratic (q83's 16-cell
    * gate config: 13× wall at 10× data; re-dialed to K=256 by hand,
    * 4.1× faster end-to-end, 11.8× on the pair phase). SemDeDup itself
    * holds cluster size roughly constant (50k clusters at LAION scale) —
    * this is that rule as a formula. Deterministic given n, so DuckDB
    * oracles replay the choice with `ceil(count(*) / targetCell)`. */
  def autoGranularity(n: Long, targetCell: Int = 512): Int = {
    require(targetCell >= 1, s"targetCell must be positive: $targetCell")
    // division-first ceil: n + targetCell - 1 would overflow near Long.Max
    val cells = n / targetCell + (if (n % targetCell > 0) 1L else 0L)
    math.max(1L, math.min(1L << 20, cells)).toInt
  }

  /** Embedding-level near-duplicate pairs: cosine ≥ `threshold`, blocked
    * through the same IVF assignment so only same-cluster pairs are
    * scored (near-identical vectors share a nearest centroid).
    * `numCentroids <= 0` turns the dial automatically —
    * [[autoGranularity]] over one count of `df` (a count-star fast path
    * on bare scans; bounded driver class).
    *
    * Skew safety: a HOT cluster of m vectors yields m² candidate pairs,
    * and an unsalted equi-join on cluster id lands all of them on one
    * task. Clusters larger than `maxBlock` are therefore salted — the
    * left side takes a deterministic salt in [0, g) (g = ⌈m/maxBlock⌉,
    * from a broadcast of the K-row cluster-size frame), the right side
    * replicates to every salt — so each pair still materializes exactly
    * once, but a hot cluster's pairs spread across g tasks. Output is
    * bit-identical to the unsalted join (the differential spec asserts
    * it); total work is unchanged — salting fixes the DISTRIBUTION, and
    * the documented recall trade of blocking stays as it was. */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, numCentroids: Int, maxBlock: Int = 4096): DataFrame = {
    require(maxBlock >= 1, s"maxBlock must be positive, got $maxBlock")
    val k = if (numCentroids > 0) numCentroids else autoGranularity(df.count())
    graft.core.Trace.attr("ivf_k", k)
    val centroids = df.where(col(idCol) < k)
    val assigned = assignClusters(df, centroids, idCol, vecCol, dim)
    val gees = assigned.groupBy("__cid")
      .agg(ceil(count(lit(1)) / lit(maxBlock.toDouble)).cast("int").as("__g"))
    val l = assigned.join(broadcast(gees), Seq("__cid"))
      .select(col("__vid").as("vec_a"), col("__vec").as("__va"),
        col("__nrm").as("__na"), col("__cid"),
        pmod(hash(col("__vid")), col("__g")).as("__salt"))
    val r = assigned.join(broadcast(gees), Seq("__cid"))
      .select(col("__vid").as("vec_b"), col("__vec").as("__vb"),
        col("__nrm").as("__nb"), col("__cid"),
        explode(sequence(lit(0), col("__g") - 1)).as("__salt"))
    l.join(r, Seq("__cid", "__salt"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        dot(col("__va"), col("__vb"), dim) / (col("__na") * col("__nb")))
      .where(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): embedding-space near-duplicate PAIRS (IVF-blocked cosine
    * ≥ `threshold`, [[cosineDupPairs]]) → connected components → one
    * survivor per semantic group (lowest id). Returns every input id with
    * its `component` label and a `keep` flag; ids untouched by any dup
    * pair keep themselves. Same composition discipline as
    * [[TextDedup.dedupCascade]]: every stage is the already-verified
    * distributed primitive, no collect, O(log n) CC rounds.
    * `numCentroids <= 0` self-turns the blocking dial
    * ([[autoGranularity]]) — cell population pinned, candidate volume
    * linear in corpus size. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, numCentroids: Int, maxBlock: Int = 4096): DataFrame = {
    val pairs =
      cosineDupPairs(df, idCol, vecCol, dim, threshold, numCentroids, maxBlock)
    val comp = TextDedup.connectedComponentsStar(pairs, "vec_a", "vec_b")
      .withColumnRenamed("doc_id", idCol)
    df.select(col(idCol)).join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("keep", col(idCol) === col("component"))
  }

  // ------------------------------------------------- product quantization

  /** PQ codebook: subspace `j`'s centroids are the first `k` vectors'
    * j-th subvectors (deterministic seeding — the [[ivfTopK]] id<K
    * discipline, SQL-replayable; per-subspace [[kmeansCentroids]] is the
    * trained-quality swap). Returned driver-side: k·m rows of dim/m
    * floats — a few KB that become plan LITERALS, the same standing as
    * any constant in the query (this is the one collect, and it is
    * O(k·m·dim/m) = O(k·dim), corpus-independent). `|c|²` is folded
    * left-associated over doubles, mirroring [[dot]]'s exact order. */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, k: Int): Seq[(Int, Int, Array[Float], Double)] = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val sub = dim / m
    val rows = df.where(col(idCol) < k)
      .select(col(idCol).cast("int").as("cid"), col(vecCol))
      .collect()
    for { r <- rows.toSeq; j <- 0 until m } yield {
      val full = r.getSeq[Float](1).toArray
      val s = java.util.Arrays.copyOfRange(full, j * sub, (j + 1) * sub)
      var cc = 0.0
      var i = 0
      while (i < sub) { cc += s(i).toDouble * s(i).toDouble; i += 1 }
      (j, r.getInt(0), s, cc)
    }
  }

  /** Trained PQ codebooks: per-subspace Lloyd iterations under L2,
    * seeded from [[pqCodebook]]. All m subspace problems train in ONE
    * distributed job per round — subvector rows explode once (persisted),
    * assignment is a broadcast argmin, and the new centroids are
    * per-(subspace, code, component) means; only the k·m·(dim/m)
    * aggregated centroid components (a few KB, corpus-independent) come
    * back to the driver each round. Empty cells keep their previous
    * centroid. Trained codebooks raise ADC recall well above the
    * deterministic seeds — use the seeds when an engine-replayable query
    * matters (float means are partial-sum-order dependent), trained for
    * production recall. */
  def pqTrainCodebooks(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): Seq[(Int, Int, Array[Float], Double)] = {
    require(iters >= 0)
    val sub = dim / m
    var cb = pqCodebook(df, idCol, vecCol, dim, m, k)
    if (iters == 0) return cb
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).as("__vid"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            slice(col(vecCol), j * sub + 1, sub).as("sv"))): _*)).as("__e"))
      .select(col("__vid"), col("__e.j").as("j"), col("__e.sv").as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 1 to iters) {
        val cbDf = broadcast(cb.map { case (j, cid, cv, cc) =>
          (j, cid, cv.toSeq, cc)
        }.toDF("j", "cid", "cv", "cc"))
        val assigned = rows.join(cbDf, Seq("j"))
          .withColumn("__d2",
            dot(col("sv"), col("sv"), sub) - lit(2.0) * dot(col("sv"), col("cv"), sub)
              + col("cc"))
          .groupBy(col("__vid"), col("j"))
          .agg(min_by(col("cid"), struct(col("__d2"), col("cid"))).as("cid"),
            first(col("sv")).as("sv"))
        val means = assigned
          .select(col("j"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy(col("j"), col("cid"), col("pos"))
          .agg(avg(col("x")).as("mx"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case ((j, cid), rs) =>
            val v = new Array[Float](sub)
            rs.foreach(r => v(r.getInt(2)) = r.getDouble(3).toFloat)
            (j, cid) -> v
          }
        cb = cb.map { case (j, cid, oldV, _) =>
          val v = means.getOrElse((j, cid), oldV)
          var cc = 0.0
          var i = 0
          while (i < sub) { cc += v(i).toDouble * v(i).toDouble; i += 1 }
          (j, cid, v, cc)
        }
      }
      cb
    } finally rows.unpersist()
  }

  /** PQ encoding: `dim` float32s → `m` codes (one per subspace, each
    * < `k`) + the codes packed into ONE long — 32× compression at
    * dim=64/m=8/k=16. A PURE PROJECTION: the codebook rides in the plan
    * baked into ONE [[graft.functions.PqEncodeCodes]] expression (per
    * subspace: argmin over k exact (dist², cid) candidates, squared L2
    * via `dot(s,s) − 2·dot(s,c) + |c|²`, ties → lowest cid) — no
    * shuffle, no join, embarrassingly parallel over any corpus size.
    * The earlier composable spelling (per subspace `array_min` over k
    * literal structs each carrying a slice + two dots) inlined m·k
    * subexpressions, blew janino's 64 KB method limit, and silently ran
    * the CORPUS-side encode interpreted; the fused expression replays
    * its arithmetic bit-for-bit (oracles unchanged) inside whole-stage
    * codegen. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, k: Int = 16,
      codebook: Seq[(Int, Int, Array[Float], Double)] = Seq.empty): DataFrame = {
    require(k >= 1 && k <= 16, s"k must fit 4-bit packing, got $k")
    val cb =
      if (codebook.nonEmpty) codebook
      else pqCodebook(df, idCol, vecCol, dim, m, k)
    val sub = dim / m
    val enc = graft.functions.VectorFunctions
      .pqEncodeCodes(col(vecCol), cb, m, sub)
    df.select(col(idCol).as("vec_id"), enc.as("__enc"))
      .select(col("vec_id"), col("__enc.codes").as("codes"),
        col("__enc.packed").as("packed_code"))
  }

  /** ADC (asymmetric distance) top-k over a PQ-encoded corpus: per query,
    * a (subspace, centroid) → distance² table replaces all corpus float
    * reads — scoring touches ONLY the 8-byte codes. Table distances are
    * quantized to exact 1e-6 units (longs), so the per-(vector, query)
    * sum over subspaces is order-independent integer arithmetic —
    * partial aggregation can combine in any order, and the oracle
    * replays it exactly. One broadcast (queries × m·k lookup rows), one
    * (vid, qid) partial agg, bounded-heap top-k ([[graft.functions
    * .TopKByScore]]); self-pairs excluded. */
  /** The codebook as a BROADCAST m·k-row frame (j, code, __cv, __cc) —
    * the data-driven spelling of the distance-table build. The earlier
    * literal spelling exploded an array of m·k structs each carrying a
    * slice + two dots: >64 KB of generated code, janino bails, and the
    * whole generate stage ran interpreted. A join against k·m ROWS keeps
    * the generated code one dot-product wide no matter the codebook
    * size; the arithmetic columns are the same Catalyst ops in the same
    * order, so tables are bit-identical. (Contrast [[pqEncode]]: there
    * the expansion would be per CORPUS row — that side gets a fused
    * expression, not a join.) */
  private def codebookDf(spark: org.apache.spark.sql.SparkSession,
      codebook: Seq[(Int, Int, Array[Float], Double)]): DataFrame = {
    import spark.implicits._
    broadcast(codebook.map { case (j, cid, cv, cc) => (j, cid, cv.toSeq, cc) }
      .toDF("j", "code", "__cv", "__cc"))
  }

  /** (prefixCols..., j, qs) rows: each query-side vector exploded into
    * its m subvectors — the probe side of the ADC table join. */
  private def subvectors(df: DataFrame, prefixCols: Seq[String],
      vecCol: String, m: Int, sub: Int): DataFrame =
    df.select(prefixCols.map(col) :+
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            slice(col(vecCol), j * sub + 1, sub).as("qs"))): _*)).as("__e"): _*)
      .select(prefixCols.map(col) ++
        Seq(col("__e.j").as("j"), col("__e.qs").as("qs")): _*)

  /** Per-query ADC lookup table: (qid, subspace, code) → distance² in
    * exact 1e-6 long units. */
  private def adcTable(queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, codebook: Seq[(Int, Int, Array[Float], Double)]): DataFrame = {
    val m = codebook.map(_._1).max + 1
    val sub = dim / m
    val qsub = subvectors(
      queries.select(col(idCol).as("qid"), col(vecCol)),
      Seq("qid"), vecCol, m, sub)
    qsub.join(codebookDf(queries.sparkSession, codebook), Seq("j"))
      .select(col("qid"), col("j"), col("code"),
        round((dot(col("qs"), col("qs"), sub)
          - lit(2.0) * dot(col("qs"), col("__cv"), sub)
          + col("__cc")) * lit(1e6), 0).cast("long").as("dq"))
  }

  /** (qid, vec_id, codes) candidate rows → ADC-summed top-k result frame. */
  private def adcTopK(cands: DataFrame, dtab: DataFrame, topK: Int,
      joinQid: Boolean): DataFrame = {
    val exploded = cands.select(
      (if (joinQid) Seq(col("qid")) else Seq.empty) ++
        Seq(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code"))): _*)
    val joined =
      if (joinQid) exploded.join(broadcast(dtab), Seq("qid", "j", "code"))
      else exploded.join(broadcast(dtab), Seq("j", "code"))
    joined
      .where(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dq")).as("adist"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKByScore.topK(
        -col("adist").cast("double"), col("vec_id"), topK).as("__top"))
      .select(col("qid").as("vec_id"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("vec_id"), col("__e.id").as("neighbor_id"),
        (-col("__e.score")).cast("long").as("approx_dist_1e6"),
        (col("__i") + 1).cast("int").as("rank"))
  }

  def pqTopK(encoded: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int,
      codebook: Seq[(Int, Int, Array[Float], Double)], topK: Int): DataFrame =
    adcTopK(encoded.select(col("vec_id"), col("codes")),
      adcTable(queries, idCol, vecCol, dim, codebook), topK, joinQid = false)

  /** IVF-PQ (the billion-vector index architecture, Jégou et al. 2011,
    * "Product quantization for nearest neighbor search"): coarse IVF
    * cells prune the corpus, integer-exact ADC over PQ codes scores only
    * the probed cells. Corpus membership = nearest of the first
    * `numCentroids` vectors (cosine, ties → lowest cid — the [[ivfTopK]]
    * discipline); each query probes its `nprobe` nearest cells. Both the
    * bytes read and the distance computations scale with
    * nprobe/numCentroids of the corpus, and what IS read per candidate
    * is the 8-byte code word, not `dim` floats — the two levers
    * composed. Deterministic end to end; oracle-replayable. */
  def ivfPqTopK(df: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, numCentroids: Int, nprobe: Int,
      codebook: Seq[(Int, Int, Array[Float], Double)], topK: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCentroids)
    val m = codebook.map(_._1).max + 1
    val k = codebook.map(_._2).max + 1
    val centroids = df.where(col(idCol) < numCentroids)
    val cells = assignClusters(df, centroids, idCol, vecCol, dim)
      .select(col("__vid").as("vec_id"), col("__cid"))
    val enc = pqEncode(df, idCol, vecCol, dim, m, k, codebook)
      .join(cells, Seq("vec_id"))
    val v = withNorm(queries, idCol, vecCol, dim)
    val c = withNorm(centroids, idCol, vecCol, dim)
      .select(col("__vid").as("__cid"), col("__vec").as("__cv"),
        col("__nrm").as("__cn"))
    val probes = v.crossJoin(broadcast(c))
      .withColumn("__sim",
        dot(col("__vec"), col("__cv"), dim) / (col("__nrm") * col("__cn")))
      .groupBy("__vid")
      .agg(graft.functions.TopKByScore.topK(col("__sim"), col("__cid"), nprobe)
        .as("__top"))
      .select(col("__vid").as("qid"),
        explode(col("__top").getField("id")).as("__cid"))
    val cands = enc.join(broadcast(probes), Seq("__cid"))
      .select(col("qid"), col("vec_id"), col("codes"))
    adcTopK(cands, adcTable(queries, idCol, vecCol, dim, codebook), topK,
      joinQid = true)
  }

  /** Exact L2 re-ranking of a candidate shortlist — the second stage of
    * the standard serving stack (ADC proposes `shortlist` × deep,
    * exact re-rank keeps top-k): full-precision vectors are read ONLY
    * for the shortlist pairs (queries broadcast; the corpus-side lookup
    * is candidate-pruned), distances quantized to exact 1e-6 longs so
    * ordering and oracle replay are deterministic. */
  def rerankL2(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("vec_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    shortlist.select("vec_id", "neighbor_id")
      .join(broadcast(qv), Seq("vec_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round((dot(col("__qv"), col("__qv"), dim)
          - lit(2.0) * dot(col("__qv"), col("__cv"), dim)
          + dot(col("__cv"), col("__cv"), dim)) * lit(1e6), 0)
          .cast("long").as("d2"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKByScore.topK(
        -col("d2").cast("double"), col("neighbor_id"), k).as("__top"))
      .select(col("vec_id"), posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("vec_id"), col("__e.id").as("neighbor_id"),
        (-col("__e.score")).cast("long").as("dist_1e6"),
        (col("__i") + 1).cast("int").as("rank"))
  }

  /** RESIDUAL IVF-PQ — the full Jégou et al. design: PQ quantizes
    * `v − centroid(cell(v))` instead of the raw vector, so the 64 code
    * bits spend themselves on WITHIN-cell variation (the coarse
    * quantizer already removed the between-cell part — on clustered
    * data, most of the energy). Correspondingly the query side builds
    * ONE distance table PER PROBED CELL from the query's residual
    * against that cell. Everything else keeps [[ivfPqTopK]]'s shape:
    * broadcast probes, integer-exact 1e-6 ADC, bounded-heap top-k —
    * and the whole chain (float residual subtraction included) is
    * deterministic and oracle-replayable. */
  def ivfPqResidualTopK(df: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, numCentroids: Int, nprobe: Int,
      m: Int, k: Int, topK: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCentroids)
    val sub = dim / m
    val centroids = df.where(col(idCol) < numCentroids)
    val cvecs = centroids.select(col(idCol).as("__cid"),
      col(vecCol).as("__centv"))
    val resid = assignClusters(df, centroids, idCol, vecCol, dim)
      .join(broadcast(cvecs), Seq("__cid"))
      .select(col("__vid"), col("__cid"),
        zip_with(col("__vec"), col("__centv"), (a, b) => a - b).as("__res"))
    val cb = pqCodebook(resid, "__vid", "__res", dim, m, k)
    val enc = pqEncode(resid, "__vid", "__res", dim, m, k, cb)
      .join(resid.select(col("__vid").as("vec_id"), col("__cid")),
        Seq("vec_id"))
    val v = withNorm(queries, idCol, vecCol, dim)
    val c = withNorm(centroids, idCol, vecCol, dim)
      .select(col("__vid").as("__cid"), col("__vec").as("__cv"),
        col("__nrm").as("__cn"))
    val probes = v.crossJoin(broadcast(c))
      .withColumn("__sim",
        dot(col("__vec"), col("__cv"), dim) / (col("__nrm") * col("__cn")))
      .groupBy("__vid")
      .agg(graft.functions.TopKByScore.topK(col("__sim"), col("__cid"), nprobe)
        .as("__top"))
      .select(col("__vid").as("qid"),
        explode(col("__top").getField("id")).as("__cid"))
    // per-(query, probed cell) residual → per-cell ADC table
    val qres = probes
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("__qv")),
        Seq("qid"))
      .join(broadcast(cvecs), Seq("__cid"))
      .select(col("qid"), col("__cid"),
        zip_with(col("__qv"), col("__centv"), (a, b) => a - b).as("__qres"))
    // data-driven table build (see [[codebookDf]]): per-(query, cell)
    // residual subvectors join the m·k-row broadcast codebook
    val dtab = subvectors(qres, Seq("qid", "__cid"), "__qres", m, sub)
      .join(codebookDf(df.sparkSession, cb), Seq("j"))
      .select(col("qid"), col("__cid"), col("j"), col("code"),
        round((dot(col("qs"), col("qs"), sub)
          - lit(2.0) * dot(col("qs"), col("__cv"), sub)
          + col("__cc")) * lit(1e6), 0).cast("long").as("dq"))
    enc.join(broadcast(probes), Seq("__cid"))
      .select(col("qid"), col("__cid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(dtab), Seq("qid", "__cid", "j", "code"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dq")).as("adist"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKByScore.topK(
        -col("adist").cast("double"), col("vec_id"), topK).as("__top"))
      .select(col("qid").as("vec_id"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("vec_id"), col("__e.id").as("neighbor_id"),
        (-col("__e.score")).cast("long").as("approx_dist_1e6"),
        (col("__i") + 1).cast("int").as("rank"))
  }

  // ---------------------------------------------- second moment / PCA

  /** Fixed-point second-moment (Gram) matrix of an embedding column: one
    * row per upper-triangle cell (i ≤ j) with `sum_xy = Σ_rows q_i·q_j`
    * where `q = round(v·1000)` per component — the distributed
    * covariance/PCA building block (whitening, SemDeDup-style embedding
    * hygiene, drift monitoring all start here).
    *
    * Components are quantized to exact longs BEFORE multiplying, so the
    * sums are order-independent integers — bit-identical on any engine /
    * partitioning, replayable by a DuckDB unnest self-join. Quantization
    * error is ≤5e-4 per component (unit-norm embeddings), far below any
    * spectral consumer's tolerance.
    *
    * 100 TB shape: the d(d+1)/2 cell structs are generated MAP-SIDE from
    * each row's array (a triangular `transform`, no self-join, no
    * shuffle of the corpus) and hash-aggregate into d(d+1)/2 groups —
    * partial aggregation collapses every partition to ≤2080 rows (d=64)
    * before the one tiny shuffle. Contrast the oracle's spelling, which
    * self-joins the exploded corpus (d× row blowup twice) — correct, but
    * quadratic in shuffled bytes.
    */
  def secondMoment(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    val cells = expr(
      """flatten(transform(__q, (x, i) ->
        |  transform(slice(__q, i + 1, size(__q) - i), (y, k) ->
        |    struct(i AS i, i + k AS j, x * y AS xy))))""".stripMargin)
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(transform(col(vecCol),
        x => round(x.cast("double") * 1000, 0).cast("long")).as("__q"))
      .select(explode(cells).as("__c"))
      .groupBy(col("__c.i").as("i"), col("__c.j").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("__c.xy")).as("sum_xy"))
  }

  /** First moment in the same fixed-point units: per-component
    * `sum_x = Σ_rows round(v·1000)` — with [[secondMoment]] this yields
    * the exact sample covariance `S/n − μμᵀ` in 1e-6 units. */
  def firstMoment(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(posexplode(transform(col(vecCol),
        x => round(x.cast("double") * 1000, 0).cast("long")))
        .as(Seq("i", "q")))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_x"))
  }

  /** Per-group embedding-centroid drift: the L2 distance between each
    * group's mean vector and the corpus mean — the embedding-space
    * balance monitor (a label/source whose centroid drifts from the
    * corpus is over- or under-represented semantically; the vector-space
    * sibling of a PSI screen on scalar features).
    *
    * Exactness: components quantize to 1e-3-unit longs ([[secondMoment]]
    * discipline); per-(group, dim) sums and the global sums they roll up
    * to are exact integers, each mean difference is ONE double expression
    * `(s·N − S·n)/(n·N)/1000`, and the d² accumulation folds in dimension
    * order with seed 0.0 (the fixed-order float fold used corpus-wide) —
    * bit-identical on any engine/partitioning.
    *
    * Shape: one narrow posexplode aggregate (group×d cells), a d-row
    * rollup, a join on dimension id, one fold per group — nothing scales
    * with corpus size after the first aggregate. */
  def centroidDrift(df: DataFrame, groupCol: String, vecCol: String,
      dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    val cells = df
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(groupCol).as("__g"),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double") * 1000, 0).cast("long")))
          .as(Seq("__i", "__q")))
      .groupBy(col("__g"), col("__i"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"))
    val totals = cells.groupBy(col("__i"))
      .agg(sum(col("__s")).as("__ts"), sum(col("__n")).as("__tn"))
    val diffs = cells.join(totals, Seq("__i"))
      .select(col("__g"), col("__i"), col("__n"),
        ((col("__s") * col("__tn") - col("__ts") * col("__n")).cast("double") /
          (col("__n") * col("__tn")).cast("double") / lit(1000.0)).as("__d"))
    diffs.groupBy(col("__g").as(groupCol))
      .agg(max(col("__n")).as("n_vecs"),
        round(sqrt(aggregate(
          transform(sort_array(collect_list(struct(col("__i"), col("__d")))),
            e => e.getField("__d") * e.getField("__d")),
          lit(0.0), (a, x) => a + x)), 6).as("drift"))
  }

  /** Per-dimension embedding profile: n / sum / min / max per component
    * in exact 1e-3-unit longs — the observability table that catches
    * dead dimensions (min=max=0), clipped activations, and scale drift
    * before they poison similarity search. One narrow posexplode
    * aggregate; [[firstMoment]] plus extremes. */
  def embedProfile(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(posexplode(transform(col(vecCol),
        x => round(x.cast("double") * 1000, 0).cast("long")))
        .as(Seq("i", "q")))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
        min(col("q")).as("min_q"), max(col("q")).as("max_q"))
  }

  /** Principal component of the sample covariance via power iteration.
    * The distributed work is [[firstMoment]] + [[secondMoment]] (two
    * narrow aggregates); the collected state is O(d²) scalars — the d×d
    * covariance, never the corpus — on which the driver runs `iters`
    * multiply-and-normalize rounds (the same driver-size contract as
    * [[kmeansCentroids]]' K×d collect). Returns the unit eigenvector,
    * sign-pinned so its largest-|component| entry is positive. */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int,
      iters: Int = 50): Array[Double] = {
    require(iters >= 1 && iters <= 1000, "iters must be in [1, 1000]")
    val fm = firstMoment(df, vecCol, dim).collect()
    require(fm.nonEmpty, "pcaTopComponent: no vectors")
    val n = fm.head.getLong(1).toDouble
    val mean = new Array[Double](dim)
    fm.foreach(r => mean(r.getInt(0)) = r.getLong(2) / 1000.0 / n)
    val cov = Array.ofDim[Double](dim, dim)
    secondMoment(df, vecCol, dim).collect().foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val c = r.getLong(3) / 1e6 / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    var v = Array.tabulate(dim)(i => 1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => cov(i)(j) * v(j)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm > 0) v = w.map(_ / nrm)
    }
    val pin = v.indices.maxBy(i => math.abs(v(i)))
    if (v(pin) < 0) v.map(-_) else v
  }

  /** Projection of every vector onto the corpus principal component
    * (centered): id, pc1. The component ships to executors as a literal
    * array — no join, pure map-side scoring. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      iters: Int = 50): DataFrame = {
    val e1 = pcaTopComponent(df, vecCol, dim, iters)
    val mu = {
      val fm = firstMoment(df, vecCol, dim).collect()
      val n = fm.head.getLong(1).toDouble
      val m = new Array[Double](dim)
      fm.foreach(r => m(r.getInt(0)) = r.getLong(2) / 1000.0 / n)
      m
    }
    // FloatVecDot reads float arrays — ship the component as float32
    val comp = typedlit(e1.map(_.toFloat).toSeq)
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol), (dot(col(vecCol), comp, dim) -
        lit(mu.zip(e1).map { case (a, b) => a * b }.sum)).as("pc1"))
  }
}
