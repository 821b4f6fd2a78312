package graft.tools

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class ProfileSpec extends SparkSpec {

  test("q1's profile folds its jobs, and per-job tasks sum to the query's") {
    val out = scratch("profile")
    val Seq((r, plan)) = Profile.run(spark, "/root/testdata/sf0.001",
      Seq("q1_agg"), Some(out))
    val root = r.root
    assert(r.query == "q1_agg")
    assert(root.jobs.nonEmpty && root.stages > 0 && root.tasks > 0)
    assert(root.jobs.map(_.tasks).sum == root.tasks)
    assert(root.driverGapS >= 0 && root.driverGapS <= root.wallS)
    assert(r.trace.unattributed == 0)
    assert(r.json.startsWith("""{"query":"q1_agg","""))
    // the warm-up compiled q1's classes; the timed action reuses them
    assert(r.codegenCompiles == 0)
    assert(r.json.contains(""""codegen_compiles":0,"""))
    val file = Paths.get(out, "q1_agg.txt")
    assert(Files.isRegularFile(file) && Files.readString(file) == plan)
    assert(plan.contains("AdaptiveSparkPlan"))
    assert(Files.list(Paths.get(out)).count() == 1, "only the final plan is written")
  }

  test("q87 yields one span per PageRank round and q168 its ccstar rounds") {
    val Seq((pr, _), (er, _)) = Profile.run(spark, "/root/testdata/sf0.001",
      Seq("q87_pagerank", "q168_entity_resolution"), None)
    val root = pr.root
    val rounds = pr.trace.spans.filter(_.name == "pagerank/round")
    assert(rounds.size == 3 && rounds.forall(_.jobs.nonEmpty), pr.json)
    assert(rounds.head.attrs.toMap.get("plan").exists(_.toString.contains("== Physical Plan ==")))
    assert(rounds.tail.forall(!_.attrs.toMap.contains("plan")), "only round 1 explains its plan")
    assert(root.attrs.toMap.contains("n_nodes"))
    val children = pr.trace.spans.filter(_.parent == root.id)
    assert(root.jobs.size == root.selfJobs + children.map(_.jobs.size).sum)
    assert(root.jobs.map(_.tasks).sum == root.tasks)
    assert(pr.trace.unattributed == 0)
    assert(er.trace.spans.exists(_.name == "ccstar/round"), er.json)
    // the sorted-neighborhood gate: its measured row count and the shape
    val gate = er.root.attrs.toMap
    assert(gate.get("sn_shape").contains("serial"), er.json)
    assert(gate.get("sn_rows").exists { case n: Long => n > 0; case _ => false }, er.json)
  }

  test("query_iter's four queries stay within their warm-call job budgets at sf0.01") {
    // Profile's warm-call counts at 3 slots, with every gate and
    // convergence count riding a round checkpoint
    val budget = Map("q87_pagerank" -> 16, "q96_bfs" -> 24,
      "q168_entity_resolution" -> 16, "q183_label_prop" -> 16)
    val got = Profile.run(spark, "/root/testdata/sf0.01", budget.keys.toSeq.sorted, None)
      .map { case (r, _) => r.query -> r.root.jobs.size }.toMap
    assert(got.forall { case (q, n) => n <= budget(q) }, got)
  }
}
