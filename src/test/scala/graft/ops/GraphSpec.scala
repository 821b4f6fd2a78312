package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // undirected path 1—2—3, symmetrized: outdeg 1:1, 2:2, 3:1
  private def pathEdges = Seq(
    (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)
  ).toDF("src", "dst")

  test("two hand-computed rounds on the 3-node path (damping 0.85)") {
    val out = Graph.pageRank(pathEdges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0 = 1e9 each. round 1: contrib(1→2)=850000000, (2→*)=425000000,
    // (3→2)=850000000 → r1 = (575000000, 1850000000, 575000000).
    // round 2: (1→2)=(85·575000000)//100=488750000,
    // (2→*)=(85·1850000000)//200=786250000, (3→2)=488750000
    // → r2 = (936250000, 1127500000, 936250000).
    assert(out == Map(1L -> 936250000L, 2L -> 1127500000L, 3L -> 936250000L))
  }

  test("center of a star outranks leaves; leaves tie exactly") {
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L),
      (1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)).toDF("src", "dst")
    val out = Graph.pageRank(star, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leaves = Seq(1L, 2L, 3L, 4L).map(out)
    assert(leaves.distinct.size == 1)
    assert(out(10L) > leaves.head)
  }

  test("bit-identical across partitionings (integer arithmetic)") {
    val edges = (1L to 40L).flatMap { i =>
      val j = i % 40 + 1
      Seq((i, j), (j, i))
    }.toDF("src", "dst")
    val a = Graph.pageRank(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRank(edges.repartition(7, col("dst")), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("triangleCount: counts each triangle once, ignores open wedges") {
    // K4 on {1,2,3,4} minus edge (3,4): triangles 123 and 124 only
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("src", "dst")
    assert(Graph.triangleCount(edges).head().getLong(0) == 2L)
    // a square (no chord) has zero triangles
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCount(square).head().getLong(0) == 0L)
  }

  test("shortestPaths: frontier BFS distances, hop cap, unreachable absent") {
    // directed path 1→2→3→4 plus an unreachable island 9→10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("src", "dst")
    val src = Seq(Tuple1(1L)).toDF("node")
    val full = Graph.shortestPaths(edges, src, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    val capped = Graph.shortestPaths(edges, src, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("shortestPaths: multi-source takes the minimum; cycles terminate") {
    // ring 1→2→3→1 with sources {1, 3}
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val src = Seq(Tuple1(1L), Tuple1(3L)).toDF("node")
    val got = Graph.shortestPaths(ring, src, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 3L -> 0, 2L -> 1))
  }

  test("localClustering: triangle-plus-pendant hand check") {
    // triangle 1-2-3 with pendant 4 hanging off 3 (canonical src < dst)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.localClustering(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L)._1 == 3L && got(3L)._2 == 1L)
    assert(math.abs(got(3L)._3 - 0.333333) < 1e-9) // 2·1/(3·2), rounded
    assert(got(4L) == ((1L, 0L, 0.0))) // degree-1 node: defined as 0
  }

  test("localClustering: clique is all-1.0, star center is 0.0") {
    val k4 = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b))
      .toDF("src", "dst")
    assert(Graph.localClustering(k4).collect()
      .forall(_.getDouble(3) == 1.0))
    val star = (2L to 5L).map(l => (1L, l)).toDF("src", "dst")
    val s = Graph.localClustering(star).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(s(1L) == 0.0, "hub of a star has no closed wedges")
  }

  test("kCore: peels a tail chain, keeps the clique; cascade works") {
    // K4 on {1,2,3,4} with a tail 4–5–6
    val e = ((for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    // k=2: node 6 peels (deg 1), THEN 5 peels (deg now 1) — the cascade
    val core2 = Graph.kCore(e, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=3: same core; k=4: nothing survives
    assert(Graph.kCore(e, k = 3).count() == 4)
    assert(Graph.kCore(e, k = 4).count() == 0)
  }

  test("rank mass is conserved up to quantization loss (ring graph)") {
    // on a 1-regular directed ring every node has outdeg 1 and indeg 1, so
    // (85·r)//100 loses <1 nano per edge per round: total mass stays within
    // rounds × nodes nanos of n·1e9
    val n = 20L
    val ring = (1L to n).map(i => (i, i % n + 1)).toDF("src", "dst")
    val total = Graph.pageRank(ring, iters = 3)
      .agg(sum("rank_nano")).head().getLong(0)
    assert(total <= n * 1000000000L && total > n * 1000000000L - 3 * n)
  }

  test("pageRank keeps a dst-only node's rank, as personalizedPageRank does, " +
      "with no extra job") {
    // 1⇄2 plus 2→3: node 3 is never a src. Round 1 from r0 = 1e9 each:
    // 1→2 gives 850000000, 2→1 and 2→3 give (85·1e9)//200 = 425000000
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 575000000L, 2L -> 1000000000L, 3L -> 575000000L))
    val ppr = Graph.personalizedPageRank(edges, Seq(1L, 2L, 3L).toDF("node"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr == out)
    // the node set rides the state's one scan of the edge cache: 10 jobs
    // for two rounds, with or without dst-only nodes
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    assert(jobsDuring(Graph.pageRank(sym, iters = 2).collect()) == 10)
    assert(jobsDuring(Graph.pageRank(edges, iters = 2).collect()) == 10)
  }

  test("warm calls pin their job counts: every count rides a checkpoint") {
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    def warm(body: => Unit): Int = { body; jobsDuring(body) }
    val got = Map(
      "pageRank" -> warm(Graph.pageRank(sym, iters = 2).collect()),
      "shortestPaths" -> warm(Graph.shortestPaths(sym, Seq(1L).toDF("node"),
        maxHops = 6).collect()),
      "labelPropagation" -> warm(Graph.labelPropagation(sym, iters = 2).collect()),
      "connectedComponentsStar" -> warm(TextDedup.connectedComponentsStar(pairs,
        "a", "b").collect()))
    assert(got == Map("pageRank" -> 10, "shortestPaths" -> 20,
      "labelPropagation" -> 10, "connectedComponentsStar" -> 16))
  }

  test("edge cases stop on the observed counts: disconnected BFS, emptied k-core, " +
      "empty CC-star") {
    // 1→2→3 plus an island 9→10: the frontier empties at hop 3 of 10
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("src", "dst")
    val (bfs, trace) = graft.core.Trace.collect(spark)(
      Graph.shortestPaths(edges, Seq(1L).toDF("node"), maxHops = 10)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    assert(bfs == Map(1L -> 0, 2L -> 1, 3L -> 2))
    assert(trace.spans.count(_.name == "bfs/hop") == 3)
    assert(Graph.shortestPaths(edges, Seq(7L).toDF("node").where($"node" > 7L))
      .count() == 0)
    // the path 1–2–3 has no 2-core: the first peel drops every edge
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graph.kCore(path, k = 2).count() == 0)
    assert(Graph.kCore(path.where($"src" > 5L), k = 1).count() == 0)
    // no pairs, and pairs that are all self-loops, give no components
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(TextDedup.connectedComponentsStar(none, "a", "b").count() == 0)
    assert(TextDedup.connectedComponentsStar(Seq((5L, 5L)).toDF("a", "b"), "a", "b")
      .count() == 0)
  }

  test("labelPropagation: triangle and pair collapse to min-label communities") {
    // triangle {1,2,3} plus disconnected pair {10,11}, symmetrized
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val out = Graph.labelPropagation(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 is all-ties → min neighbor-or-self label; fixpoint by round 2
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("labelPropagation: bit-identical across partitionings") {
    val edges = (1L to 30L).flatMap { i =>
      val j = i % 30 + 1
      Seq((i, j), (j, i))
    }.toDF("src", "dst")
    val a = Graph.labelPropagation(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.labelPropagation(edges.repartition(7, col("dst")), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("weightedShortestPaths: relax horizon, cheaper 2-hop beats direct edge") {
    val e = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val src = Seq(Tuple1(1L)).toDF("node")
    def run(k: Int) = Graph.weightedShortestPaths(e, src, iters = k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = run(1)
    assert(one == Map(1L -> 0L, 2L -> 10L, 3L -> 25L),
      "one round sees only direct edges")
    val two = run(2)
    assert(two(3L) == 20L, "two rounds relax the cheaper 2-hop path")
    assert(two(4L) == 26L && run(3)(4L) == 21L,
      "4 reached via direct 1→3 at round 2, via the cheap chain at round 3")
  }

  test("hits: bipartite hand check — hubs and authorities separate") {
    // buyers {1,2}, sellers {10,11}: 1→{10,11}, 2→10
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val out = Graph.hits(e, iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // round 1: a=(10:1e6, 11:5e5), h=(1:1e6, 2:666666)
    // round 2: a=(10:1e6, 11:600000), h=(1:1e6, 2:625000)
    assert(out(1L) == (1000000L, 0L))
    assert(out(2L) == (625000L, 0L))
    assert(out(10L) == (0L, 1000000L))
    assert(out(11L) == (0L, 600000L))
  }

  test("degreeAssortativity: star is −1, regular ring degenerates to 0") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val s = Graph.degreeAssortativity(star).head()
    assert(s.getLong(0) == 3 && s.getDouble(1) == -1.0)
    val ring = (1L to 6L).map(i => (i, i % 6 + 1))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    assert(Graph.degreeAssortativity(ring).head().getDouble(1) == 0.0,
      "all-equal degrees have zero variance → defined as 0")
  }

  test("modularity: two clean triangles score 0.5; one community scores 0") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val byComponent = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "label")
    val r = Graph.modularity(tri, byComponent).head()
    // m=6, 2m=12, intra=12, d_c=6 each → Q = (12·12 − 2·36)/144 = 0.5
    assert(r.getLong(0) == 2 && r.getLong(1) == 6 && r.getDouble(2) == 0.5)
    val oneCommunity = byComponent.select(col("node"), lit(1L).as("label"))
    assert(Graph.modularity(tri, oneCommunity).head().getDouble(2) == 0.0,
      "a single all-nodes community has zero modularity by identity")
  }

  test("personalizedPageRank: hand-computed rounds on the 3-node path") {
    val src = Seq(Tuple1(1L)).toDF("node")
    // r0 = (1e9, 0, 0); round 1: 1→2 contributes 850000000, seed keeps
    // 150000000, node 3 still 0 (dropped)
    val r1 = Graph.personalizedPageRank(pathEdges, src, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 150000000L, 2L -> 850000000L))
    // round 2: 1→2 gives (85·150000000)//100, 2 splits (85·850000000)//200
    // to 1 and 3; only the seed gets restart mass
    val r2 = Graph.personalizedPageRank(pathEdges, src, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 511250000L, 2L -> 127500000L, 3L -> 361250000L))
  }
}
