package graft.ops

import graft.core.Trace
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Iterative graph analytics over an edge list — PageRank in exact integer
  * arithmetic, plus degree statistics.
  *
  * The reference's entity graph (actors→repos via events,
  * `ProcessDaily.usql` merge inputs) is only ever consumed as flat
  * latest-wins tables; a warehouse user computing influence/centrality over
  * it needs an iterative operator the reference lacks. Spark-first shape:
  * each PageRank round is one equi-join (edges ⋈ state on src) plus one
  * groupBy over the contributions and the state's own rows — the canonical
  * distributed formulation. Edges are persisted once and reused every
  * round; `localCheckpoint` truncates the state lineage so round N's plan
  * does not replay rounds 1..N-1.
  *
  * == Why integer "nano-rank" units ==
  * Classic float PageRank sums per-node contributions in engine-internal,
  * partitioning-dependent order; double addition is not associative, so two
  * runs (or two engines) legitimately disagree in the last ulp and no exact
  * oracle comparison is possible. Here ranks are `Long`s in units of 1e-9:
  * each edge contributes `(dampNum * r) div (dampDen * outdeg)` with
  * integral `div`, and integer sums are order-independent — the result is
  * bit-identical on any engine, any partitioning, any round order. The
  * quantization error is ≤1e-9 per edge per round — far below anything a
  * ranking consumer can observe — and, unlike float PageRank, it is the
  * SAME error everywhere.
  *
  * == 100 TB shape ==
  * Edges shuffle-partition on `src` for the join; ranks are one row per
  * node (orders of magnitude smaller than edges) and shuffle to meet them.
  * O(nodes) state is broadcast only under a measured-count gate, and no
  * state collects to the driver. Every count an operator here acts on — a
  * broadcast gate, an empty frontier, a peel fixpoint — rides the
  * checkpoint of the frame it counts as an observed metric
  * ([[graft.core.Ckpt.rollObserved]]), so no round pays a job for a
  * driver-side number; PageRank itself needs none past the node count (a
  * fixed iteration count; rank mass conservation makes a convergence test
  * unnecessary for the bounded-iteration contract). A hot dst (celebrity
  * node) is a groupBy skew, absorbed by AQE skew handling or [[Skew]]
  * salting; partial aggregation (map-side combine) already collapses most
  * of it.
  */
object Graph {

  /** Max rows for which the O(nodes) state frames (ranks, labels,
    * frontier, degree table) are BROADCAST into each round's join instead
    * of shuffled (guide §3.1). 1M rows ≈ 16 MB of (node, value) data —
    * well under the driver/executor comfort zone — and the gate is a
    * MEASURED count of the materialized state, not an estimate, so at
    * 100 TB node counts the ops fall back to the shuffle shape
    * automatically. */
  private val BroadcastMaxRows = 1000000L

  /** The edge selection persisted exactly ONCE: when the caller already
    * persisted the input frame (to share it with a seed/source aggregate),
    * reuse that cache instead of double-caching the same bytes — the
    * round-9 double persist cost q184 at 32 cores. */
  private case class EdgeCache(df: DataFrame, owned: Boolean) {
    def release(): Unit = { if (owned) { df.unpersist(); () }; () }
  }
  private def cacheEdges(edges: DataFrame, cols: String*): EdgeCache = {
    val sel = edges.select(cols.map(col): _*)
    if (edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      EdgeCache(sel, owned = false)
    else EdgeCache(
      sel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      owned = true)
  }

  /** Quantized PageRank. `edges` must have `src`/`dst` columns (directed;
    * pass both directions for an undirected graph). A node that appears
    * only as a dst keeps its rank (base plus its in-neighbors'
    * contributions) but passes nothing on: its mass is not redistributed,
    * the same contract as [[personalizedPageRank]]. Returns (node, rank_nano) where
    * rank_nano is the PageRank in 1e-9 units; the undamped start is
    * 1e9 per node and the per-round base is `(1e9 * (dampDen - dampNum))
    * div dampDen` (e.g. 150,000,000 for damping 0.85).
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      dampNum: Int = 85, dampDen: Int = 100): DataFrame =
    rank(edges, None, iters, dampNum, dampDen, "pagerank/round")

  /** [[pageRank]] (`seeds` None: every node is a seed) and
    * [[personalizedPageRank]]. */
  private def rank(edges: DataFrame, seeds: Option[DataFrame], iters: Int,
      dampNum: Int, dampDen: Int, span: String): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < dampNum < dampDen")
    val scale = 1000000000L
    val base = scale * (dampDen - dampNum) / dampDen
    // persist the edge selection once (reusing a caller cache when there
    // is one — round 10: the round-9 double persist cost q184 at 32 cores);
    // everything else is ONE O(nodes) state frame (node, outdeg, is_seed,
    // r). Each edge counts 1 for its src and 0 for its dst, exploded in ONE
    // scan of the edge cache (a union of two scans measured one job more
    // on q87), so the key set is the node set and a dst-only node has
    // outdeg 0 and never joins as a src. The node count that gates the
    // broadcast rides the state's checkpoint.
    val e = cacheEdges(edges, "src", "dst")
    val deg = e.df.select(explode(array(struct(col("src").as("node"), lit(1L).as("o")),
        struct(col("dst").as("node"), lit(0L).as("o")))).as("x"))
      .groupBy(col("x.node").as("node")).agg(sum(col("x.o")).as("outdeg"))
    val seeded = seeds.fold(deg.withColumn("is_seed", lit(1))) { s =>
      deg.join(s.select(col("node")).distinct().withColumn("is_seed", lit(1)),
          Seq("node"), "left")
        .select(col("node"), col("outdeg"), coalesce(col("is_seed"), lit(0)).as("is_seed"))
    }
    val (init, obs) = graft.core.Ckpt.rollObserved(
      seeded.withColumn("r", col("is_seed").cast("long") * scale), Seq(count(lit(1))))
    var state = init
    val nNodes = obs.getLong(0)
    Trace.attr("n_nodes", nNodes)
    val small = nNodes <= BroadcastMaxRows
    def b(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    for (round <- 1 to iters) Trace.span(span) {
      // small graphs (measured node count under the broadcast gate): probe
      // the broadcast state map-side over the edge cache — no per-round
      // exchange or sort of the edge list (guide §3.1/§2.4). Integral
      // contributions are order-independent under summation; the state's
      // own rows carry c = 0, so ONE aggregate yields every node's new
      // rank — no left join against a separate node table. A zero rank
      // (outside PPR's seed horizon) contributes nothing, so it is not sent.
      val contrib = e.df.join(b(state.where(col("r") > 0)), col("src") === col("node"))
        .select(col("dst").as("node"), lit(0L).as("outdeg"), lit(0).as("is_seed"),
          expr(s"($dampNum * r) div ($dampDen * outdeg)").as("c"))
      val upd = contrib
        .unionByName(state.select(col("node"), col("outdeg"), col("is_seed"),
          lit(0L).as("c")))
        .groupBy(col("node"))
        .agg(max(col("outdeg")).as("outdeg"), max(col("is_seed")).as("is_seed"),
          sum(col("c")).as("s"))
        .select(col("node"), col("outdeg"), col("is_seed"),
          (col("is_seed").cast("long") * base + col("s")).as("r"))
      if (round == 1) Trace.attr("plan", upd.queryExecution.explainString(FormattedMode))
      // roll: checkpoint the new round, free the superseded one's blocks
      state = graft.core.Ckpt.roll(upd, state)
    }
    e.release()
    // personalized: nodes outside the seeds' damped horizon are dropped
    val out = state.select(col("node"), col("r").as("rank_nano"))
    if (seeds.isEmpty) out else out.where(col("rank_nano") > 0)
  }

  /** Multi-source BFS: minimum hop distance from any source node, up to
    * `maxHops`. Frontier iteration — each round expands only the nodes
    * discovered LAST round (one equi-join), drops already-settled nodes
    * with an anti-join against the distance table, and stops early on an
    * empty frontier (its size rides the frontier's checkpoint, so the stop
    * costs no job of its own). Unreached nodes are absent from the result.
    *
    * This is the third member of the iterative-graph family
    * ([[pageRank]]: fixed-point scores; `TextDedup.connectedComponents`:
    * label propagation; here: monotone frontier) — all the same 100 TB
    * shape: per-round equi-join + aggregate, lineage truncated, no
    * driver-side rows. */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 10): DataFrame = {
    require(maxHops >= 0 && maxHops <= 100, "maxHops must be in [0, 100]")
    val e = cacheEdges(edges, "src", "dst")
    // counts drive both the empty-frontier stop and the broadcast gate, and
    // each rides the checkpoint of the frame it counts: frontier and
    // settled set are O(reached nodes) and broadcast into the expand /
    // anti joins while they fit, so the edge list is never exchanged
    // (guide §3.1); past the gate the joins fall back to shuffles
    val count1 = Seq(count(lit(1)))
    val (init, obs) = graft.core.Ckpt.rollObserved(sources.select(col("node")).distinct()
      .select(col("node"), lit(0).as("dist")), count1)
    var dist = init
    var nDist = obs.getLong(0)
    var nFrontier = nDist
    var frontier = dist
    var hop = 0
    var done = nDist == 0
    while (!done && hop < maxHops) Trace.span("bfs/hop") {
      hop += 1
      Trace.attr("n_dist", nDist)
      def b(df: DataFrame, n: Long): DataFrame =
        if (n <= BroadcastMaxRows) broadcast(df) else df
      val nextPlan = e.df
        .join(b(frontier, nFrontier), col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(b(dist, nDist), Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("dist"))
      if (hop == 1) Trace.attr("plan", nextPlan.queryExecution.explainString(FormattedMode))
      val (next, nObs) = graft.core.Ckpt.rollObserved(nextPlan, count1)
      val n = nObs.getLong(0)
      done = n == 0
      if (!done) {
        // roll: old dist and old frontier (same object at hop 1 —
        // Ckpt.free is idempotent) are dead once the union materializes
        val nd = graft.core.Ckpt.roll(dist.unionByName(next), dist, frontier)
        dist = nd
        nDist += n
        nFrontier = n
        frontier = next
      } else graft.core.Ckpt.free(next)
    }
    if (frontier ne dist) graft.core.Ckpt.free(frontier)
    e.release()
    dist
  }

  /** Weighted single-source shortest paths, distributed Bellman-Ford:
    * after `iters` rounds, `dist` is the exact minimum-cost path using at
    * most `iters` edges (the bounded-horizon contract [[shortestPaths]]
    * makes for hop counts, generalized to non-negative integer weights —
    * e.g. "relationship distance" where a strong tie is cheap).
    *
    * Per round ONE relax step: edges⋈dist on src → candidate `dist + w`
    * per dst, unioned with the standing distances, min per node — a
    * single equi-join plus one aggregate, lineage truncated; monotone
    * (distances only decrease), so a fixed round count is deterministic
    * on any engine. Integer costs throughout — no float, oracle-exact.
    * Unreached nodes are absent. */
  def weightedShortestPaths(edges: DataFrame, sources: DataFrame,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val e = cacheEdges(edges, "src", "dst", "w")
    // the settled set is O(reached nodes): broadcast it into each relax
    // join while its measured count fits (guide §3.1), so the edge list
    // streams map-side from its cache; the count rides each round's
    // checkpoint of the distance table
    var dist: DataFrame = null
    var nDist = 0L
    def roll(next: DataFrame): Unit = {
      val (out, obs) = graft.core.Ckpt.rollObserved(next, Seq(count(lit(1))), dist)
      dist = out
      nDist = obs.getLong(0)
    }
    roll(sources.select(col("node")).distinct().select(col("node"), lit(0L).as("dist")))
    for (round <- 1 to iters) Trace.span("wsp/round") {
      Trace.attr("n_dist", nDist)
      val b = if (nDist <= BroadcastMaxRows) broadcast(dist) else dist
      val relax = e.df.join(b, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .unionByName(dist.select(col("node"), col("dist").as("cand")))
        .groupBy(col("node")).agg(min(col("cand")).as("dist"))
      if (round == 1) Trace.attr("plan", relax.queryExecution.explainString(FormattedMode))
      roll(relax)
    }
    e.release()
    dist
  }

  /** Triangle count over an undirected graph given CANONICAL edges
    * (src < dst, deduplicated): each triangle x<y<z is counted exactly
    * once by closing the two-hop path (x,y)+(y,z) with the edge (x,z).
    * Two equi-joins — both hash-partitionable, no nested loop.
    *
    * 100 TB note: wedge generation is Σ deg(y)² on the middle node — for
    * power-law graphs pre-orient edges by (degree, id) instead of raw id
    * so every wedge pivots on its LOWEST-degree vertex (the standard
    * compact-forward bound); canonical-id orientation is kept here
    * because the oracle replays it verbatim. */
  def triangleCount(pairs: DataFrame,
      src: String = "src", dst: String = "dst"): DataFrame = {
    val e1 = pairs.select(col(src).as("x"), col(dst).as("y"))
    val e2 = pairs.select(col(src).as("y"), col(dst).as("z"))
    val e3 = pairs.select(col(src).as("x"), col(dst).as("z"))
    e1.join(e2, "y").join(e3, Seq("x", "z"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core of an undirected graph: the maximal subgraph where every node
    * keeps degree ≥ k — the standard "dense community scaffold" extractor
    * (and a cheap preconditioner before quadratic per-cluster work).
    * Computed by iterative peeling: drop nodes with degree < k, recompute,
    * repeat to fixpoint — the result is unique regardless of peel order,
    * so the operator is deterministic.
    *
    * Distributed shape per round: one degree aggregate + two anti-joins
    * that delete edges touching peeled nodes; `localCheckpoint` truncates
    * lineage so round N doesn't replay rounds 1..N−1. The only driver
    * value per round is the surviving edge count, which rides the round's
    * checkpoint (a round that peels nothing leaves it unchanged) — no node
    * set ever collects. Rounds are bounded by the graph's degeneracy ordering
    * depth (typically ≪ 50 on real graphs; `maxIters` caps pathological
    * chains).
    *
    * Returns surviving nodes with their in-core degree.
    */
  def kCore(pairs: DataFrame, k: Int, maxIters: Int = 50,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(k >= 1, s"k must be ≥ 1, got $k")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("src"), col("dst"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // a peeled node has degree ≥ 1, so a round peeled nothing exactly when
    // its edge count did not drop — and that count rides the round's
    // checkpoint, so the fixpoint test costs no job of its own
    var edges: DataFrame = null
    var nEdges = -1L
    var done = false
    def roll(next: DataFrame): Unit = {
      val (out, obs) = graft.core.Ckpt.rollObserved(next, Seq(count(lit(1))), edges)
      edges = out
      done = obs.getLong(0) == nEdges
      nEdges = obs.getLong(0)
    }
    roll(pairs.select(col(src).as("src"), col(dst).as("dst")))
    var it = 0
    while (!done && it < maxIters) {
      val peel = degrees(edges).where(col("degree") < k).select(col("node"))
      roll(edges
        .join(peel.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
        .join(peel.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti"))
      it += 1
    }
    degrees(edges)
  }

  /** Personalized PageRank: random-walk-with-restart scores where the
    * teleport mass returns ONLY to the `sources` set — "importance as seen
    * from these seeds", the standard related-item / recommendation ranker
    * over an entity graph (vs [[pageRank]]'s global centrality).
    *
    * Same exact integer "nano-rank" arithmetic as [[pageRank]] (see the
    * object scaladoc): seeds start at 1e9, everyone else at 0; each round a
    * node keeps `(1e9·(dampDen−dampNum)) div dampDen` restart mass IF it is
    * a seed, plus the damped integral contributions of its in-neighbors.
    * Integer sums are order-independent, so the result is bit-identical on
    * any engine/partitioning and DuckDB can replay the unrolled rounds.
    *
    * 100 TB shape: identical to [[pageRank]] — per round one equi-join
    * (edges⋈state on src) + one groupBy(node); the seed set joins as a
    * DataFrame (broadcast when small — the common case for "related to
    * this item" queries), never collected. Nodes with rank 0 after
    * `iters` rounds (outside the seeds' damped horizon) are dropped.
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
      iters: Int = 3, dampNum: Int = 85, dampDen: Int = 100): DataFrame =
    rank(edges, Some(sources), iters, dampNum, dampDen, "ppr/round")

  /** Synchronous label propagation (community detection): every node starts
    * labeled with its own id; each round it adopts the most frequent label
    * among its neighbors (plus, by default, one vote for its own current
    * label — the self-vote damps the 2-cycle oscillation synchronous LPA
    * exhibits on bipartite structure), breaking count ties toward the
    * SMALLEST label. All state is exact integers and the tie-break is
    * total, so a fixed iteration count is bit-identical on any engine —
    * the same determinism contract as [[pageRank]].
    *
    * Distributed shape per round: edges⋈labels on src → ONE
    * `mode(label, deterministic = true)` aggregate per node (Spark 4's
    * deterministic mode returns the lowest value on frequency ties —
    * verified the exact LPA tie-break) — a single exchange per round
    * instead of the count-then-argmax two-shuffle spelling, lineage
    * truncated with `localCheckpoint`. Mode's typed buffer holds one
    * (label → count) map per node, bounded by the node's distinct
    * neighbor labels (its degree) — partial-merged map-side, so a
    * celebrity node's votes collapse before the shuffle; salt via
    * [[Skew]] if one node truly dominates.
    *
    * Returns (node, label) — nodes sharing a label after `iters` rounds
    * are one community.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
      includeSelf: Boolean = true): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val e = cacheEdges(edges, "src", "dst")
    // node set in ONE aggregate over ONE exploding scan of the edge cache
    // (rounds 8/9 paid three distinct passes), checkpointed as the label
    // init. Broadcast gate (guide §3.1): the label table is O(nodes) —
    // while its count, which rides that checkpoint, fits, broadcast it into
    // each round's join so the edge list streams map-side from its cache
    // and each round's only exchange is the O(nodes) partial-aggregated
    // mode shuffle
    val (init, obs) = graft.core.Ckpt.rollObserved(
      e.df.select(explode(array(col("src"), col("dst"))).as("node")).distinct()
        .select(col("node"), col("node").as("label")),
      Seq(count(lit(1))))
    var labels = init
    val nNodes = obs.getLong(0)
    Trace.attr("n_nodes", nNodes)
    val small = nNodes <= BroadcastMaxRows
    def b(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    for (round <- 1 to iters) Trace.span("lpa/round") {
      val neighborVotes = e.df
        .join(b(labels), col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      val votes =
        if (includeSelf) neighborVotes.unionByName(labels) else neighborVotes
      val upd = votes
        .groupBy(col("node"))
        .agg(mode(col("label"), deterministic = true).as("label"))
      if (round == 1) Trace.attr("plan", upd.queryExecution.explainString(FormattedMode))
      labels = graft.core.Ckpt.roll(upd, labels)
    }
    e.release()
    labels
  }

  /** HITS hubs & authorities over a DIRECTED edge list (Kleinberg):
    * authority(v) = Σ hub(in-neighbors), hub(u) = Σ authority(out-
    * neighbors), renormalized each half-round. On a bipartite
    * buyer→seller graph this separates "big buyers" (hubs) from "widely
    * bought-from sellers" (authorities) — the two sides PageRank's single
    * score conflates.
    *
    * Determinism: scores live in integer 1e-6 units; each half-round
    * renormalizes by the CURRENT MAX via integral division
    * (`s·1e6 div max`) instead of the classic float L2 norm — the max is
    * a 1-row aggregate crossJoined in (never collected), and integer
    * sums/divisions replay bit-for-bit on any engine/partitioning.
    * Headroom: per half-round raw scores are ≤ maxdeg·1e6 < 2⁶³ for any
    * realistic degree, then renormalize back to ≤1e6.
    *
    * 100 TB shape: per half-round one equi-join (edges⋈scores) + one
    * groupBy + one broadcast-able 1-row max — same partitioning story as
    * [[pageRank]]; lineage truncated per round. Returns (node, hub_1e6,
    * auth_1e6) for every node; pure sinks have hub 0, pure sources
    * auth 0. */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val scale = 1000000L
    val e = cacheEdges(edges, "src", "dst")
    // node set in ONE aggregate over ONE exploding scan of the edge cache,
    // checkpointed (it feeds the hub init and the final zero re-attach);
    // its count rides that checkpoint and gates broadcasting the O(live
    // nodes) score frames into each half-round's join so the edge list
    // streams map-side from its cache (guide §3.1)
    val (nodes, obs) = graft.core.Ckpt.rollObserved(
      e.df.select(explode(array(col("src"), col("dst"))).as("node")).distinct(),
      Seq(count(lit(1))))
    val nNodes = obs.getLong(0)
    Trace.attr("n_nodes", nNodes)
    val small = nNodes <= BroadcastMaxRows
    def b(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // SPARSE rounds (round 9): score frames carry only nodes with a
    // nonzero-sum in-/out-neighborhood; everyone else is an implicit 0.
    // Value-identical to the dense spelling — the dense renorm assigned
    // absent nodes `(0·scale) div max = 0`, and a 0 (or absent) score
    // contributes nothing to the next half-round's sums — but each
    // half-round drops the O(nodes) left-join + full-node exchange the
    // dense spelling paid four times per 2-round query (guide §2.4/§2.3:
    // shuffle the small live set, not the whole node set). The final
    // result re-attaches the zero rows from `nodes` once.
    def renorm(raw: DataFrame, c: String): DataFrame = {
      val mx = raw.agg(max(col(c)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          when(col("__mx").isNull || col("__mx") === 0, lit(0L))
            .otherwise(expr(s"($c * ${scale}L) div __mx"))
            .as(c))
    }
    // the init is a projection of the checkpointed node set, read once by
    // round 1 (freeing it in the roll is a no-op), so it needs no
    // checkpoint of its own
    var hub = nodes.select(col("node"), lit(scale).as("h"))
    var auth: DataFrame = null
    for (round <- 1 to iters) Trace.span("hits/round") {
      val aRaw = e.df.join(b(hub), col("src") === col("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
        .select(col("node"), col("a"))
      val aNorm = renorm(aRaw, "a")
      if (round == 1) Trace.attr("plan", aNorm.queryExecution.explainString(FormattedMode))
      auth = graft.core.Ckpt.roll(aNorm, auth)
      val hRaw = e.df.join(b(auth), col("dst") === col("node"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
        .select(col("node"), col("h"))
      hub = graft.core.Ckpt.roll(renorm(hRaw, "h"), hub)
    }
    val out = graft.core.Ckpt.roll(nodes
      .join(b(hub), Seq("node"), "left")
      .join(b(auth), Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub_1e6"),
        coalesce(col("a"), lit(0L)).as("auth_1e6")),
      hub, auth, nodes)
    e.release()
    out
  }

  /** Degree assortativity: the Pearson correlation of (deg(src), deg(dst))
    * across a SYMMETRIZED edge list — positive when hubs attach to hubs
    * (social-network-like), negative when hubs attach to leaves
    * (hub-and-spoke/bipartite-like). One degree aggregate, two joins to
    * decorate edge endpoints, one 6-term moment aggregate; all moments
    * are exact integers and the closed-form correlation is a fixed IEEE
    * expression — engine/partition bit-identical (round 6). Degenerate
    * (zero-variance) graphs report 0.0. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val decorated = edges
      .join(deg.select(col("src"), col("__d").as("__x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("__d").as("__y")),
        Seq("dst"))
    val m = decorated.agg(count(lit(1)).as("__m"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"))
    m.select((col("__m") / 2).cast("long").as("m_edges"),
      {
        // the closing n·Sxy − Sx·Sy products overflow int64 past ~1e9
        // symmetrized edges (hit at the 10x probe: sx² ~ 1.6e19);
        // decimal(38,0) keeps them EXACT (headroom to ~1e38, i.e. beyond
        // sf1000) and the single cast to double afterwards rounds the
        // same exact value DuckDB rounds from its HUGEINT arithmetic —
        // bit-identical at every sf
        val dec = (c: Column) => c.cast("decimal(38,0)")
        val num = (dec(col("__m")) * dec(col("__sxy")) -
          dec(col("__sx")) * dec(col("__sy"))).cast("double")
        val vx = (dec(col("__m")) * dec(col("__sxx")) -
          dec(col("__sx")) * dec(col("__sx"))).cast("double")
        val vy = (dec(col("__m")) * dec(col("__syy")) -
          dec(col("__sy")) * dec(col("__sy"))).cast("double")
        when(vx * vy === 0.0, lit(0.0))
          .otherwise(round(num / sqrt(vx * vy), 6)).as("assortativity")
      })
  }

  /** Newman modularity of a node→community assignment over a SYMMETRIZED
    * edge list (both directions present): Q = Σ_c [ e_c/m − (d_c/2m)² ]
    * — the standard "did the community detector find real structure"
    * score (Q≈0: random; Q≳0.3: strong communities). Pairs with
    * [[labelPropagation]] as its evaluation metric.
    *
    * Computed as exact integer numerators — intra-edge count, per-label
    * degree sums, Σd_c² — combined in one final float division
    * `Q = (intra·2m − Σd_c²) / (2m)²`, so the score is bit-identical on
    * any engine. Distributed shape: edges join labels twice (shuffle on
    * node keys), then two tiny aggregates crossJoin'd (1-row frames) —
    * no driver-side values, no window.
    *
    * `labels` must cover every node (e.g. the output of
    * [[labelPropagation]] on the same edges). Returns one row:
    * (n_communities, m_edges, modularity). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    // the label table is O(nodes): broadcast it into both decoration
    // joins while its measured count fits (guide §3.1 — one cheap count
    // job over what is usually an already-checkpointed LPA assignment),
    // so the edge list is never exchanged
    val lbl = labels.select(col("node"), col("label"))
    val small = lbl.count() <= BroadcastMaxRows
    def b(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val el = edges
      .join(b(lbl.select(col("node").as("src"), col("label").as("__ls"))),
        Seq("src"))
      .join(b(lbl.select(col("node").as("dst"), col("label").as("__ld"))),
        Seq("dst"))
      .select(col("__ls"), col("__ld"))
    // ONE pass over the decorated edges (rounds ≤9 persisted `el` and ran
    // two separate aggregates over the cache): per-src-label row count
    // d_c and intra count partial-aggregate map-side to K rows, then one
    // tiny fold closes 2m = Σd_c, intra = Σintra_c, Σd_c² — the exact
    // same integers as the two-pass spelling, so the one float division
    // is bit-identical
    val grp = el.groupBy(col("__ls"))
      .agg(count(lit(1)).as("__dc"),
        sum(when(col("__ls") === col("__ld"), 1L).otherwise(0L)).as("__ic"))
    val out = grp
      .agg(count(lit(1)).as("n_communities"),
        // coalesce: an EMPTY edge list folds to m2 = 0 (the old spelling's
        // count over zero rows), keeping m_edges 0 — intra/sq stay NULL
        // exactly as before, so modularity is NULL either way
        coalesce(sum(col("__dc")), lit(0L)).as("__m2"),
        sum(col("__ic")).as("__intra"),
        sum(col("__dc") * col("__dc")).as("__sq"))
      .select(col("n_communities"),
        (col("__m2") / 2).cast("long").as("m_edges"),
        round((col("__intra") * col("__m2") - col("__sq")).cast("double") /
          (col("__m2").cast("double") * col("__m2").cast("double")), 6)
          .as("modularity"))
    // materialize the 1-row result before the caller releases its edge
    // cache (q187 unpersists on return)
    out.localCheckpoint()
  }

  /** Local clustering coefficient per node over a canonical undirected
    * edge list (src < dst, deduplicated): coef(v) = 2·T(v) / (d(v)·(d(v)−1))
    * where T(v) is the number of triangles containing v — how tightly each
    * node's neighborhood is knit (1 = clique, 0 = star).
    *
    * Same ordered-wedge join as [[triangleCount]] — each triangle
    * (x<y<z) is produced exactly once, then credited to all three corners
    * via a 3-way explode; degrees come from one union+groupBy. All counts
    * are exact integers; the single float division per node is
    * IEEE-deterministic. Nodes with degree < 2 report 0.0.
    *
    * 100 TB shape: the wedge join shuffles edges twice on node keys (the
    * same plan as triangle counting at scale); no broadcast of anything
    * O(nodes), no driver state. A hot node's wedge set is quadratic in its
    * degree — cap or sample super-node neighborhoods upstream if the
    * degree distribution is pathological.
    */
  def localClustering(pairs: DataFrame,
      src: String = "src", dst: String = "dst"): DataFrame = {
    val deg = pairs.select(col(src).as("node"))
      .unionByName(pairs.select(col(dst).as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val e1 = pairs.select(col(src).as("x"), col(dst).as("y"))
    val e2 = pairs.select(col(src).as("y"), col(dst).as("z"))
    val e3 = pairs.select(col(src).as("x"), col(dst).as("z"))
    val tri = e1.join(e2, "y").join(e3, Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(col("node"), col("degree"), col("n_tri"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          round(col("n_tri") * 2 /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("coef"))
  }
}
