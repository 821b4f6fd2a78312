package graft.tools

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class ProfileSpec extends SparkSpec {

  test("q1's profile folds its jobs, and per-job tasks sum to the query's") {
    val out = scratch("profile")
    val Seq((r, plan)) = Profile.run(spark, "/root/testdata/sf0.001",
      Seq("q1_agg"), Some(out))
    assert(r.query == "q1_agg")
    assert(r.jobs.nonEmpty && r.stages > 0 && r.tasks > 0)
    assert(r.jobs.map(_.tasks).sum == r.tasks)
    assert(r.driverGapS >= 0 && r.driverGapS <= r.wallS)
    assert(r.json.startsWith("""{"query":"q1_agg","""))
    // the warm-up compiled q1's classes; the timed action reuses them
    assert(r.codegenCompiles == 0)
    assert(r.json.contains(""""codegen_compiles":0,"""))
    val file = Paths.get(out, "q1_agg.txt")
    assert(Files.isRegularFile(file) && Files.readString(file) == plan)
    assert(plan.contains("AdaptiveSparkPlan"))
    assert(!sys.props.contains("graft.plantrace.dir"), "plan-trace dir leaked")
  }
}
