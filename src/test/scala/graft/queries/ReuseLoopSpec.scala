package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The q280 composite: SparkCruise detection → partials materialization →
  * automatic MV serving, closed into one loop. The query function itself
  * `require`s the two load-bearing plan facts (detection surfaced the
  * shared cube; the served plan reads partials and not the fact table),
  * so a green run here IS the plan assertion; the test adds the
  * result-invisibility half against the direct fact aggregate. */
class ReuseLoopSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rmTree(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).toSeq.flatten.foreach(rmTree)
    p.delete(): Unit
  }

  test("q280: detect → materialize → serve, result-identical to the fact aggregate") {
    import graft.plans.MvRewriteRule
    // a fresh base dir so the detect/serve path actually executes (a
    // marker from a previous run would short-circuit to the read)
    val base = new java.io.File(graft.core.FsOps.procCacheDir(spark, "q280", dir))
    rmTree(base)
    if (!spark.experimental.extraOptimizations.contains(MvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewriteRule
    try {
      val served = Lifecycle.q280ReuseLoop(spark, dir)
        .collect().map(_.toSeq).toSet
      val cents = round(col("o_totalprice") * 100).cast("long")
      val direct = spark.read.parquet(s"$dir/orders.parquet")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(cents).as("cents"),
          min(cents).as("min_cents"), max(cents).as("max_cents"))
        .collect().map(_.toSeq).toSet
      assert(served == direct, "the loop must be result-invisible")
      assert(served.nonEmpty)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == MvRewriteRule)
    }
  }

  test("q280 fails loudly when the serving half is absent") {
    // without the rule the natural query scans the fact table, and the
    // in-query plan require must throw — the gate cannot silently pass
    // on an unserved plan
    val base = new java.io.File(graft.core.FsOps.procCacheDir(spark, "q280", dir))
    rmTree(base)
    val e = intercept[IllegalArgumentException] {
      Lifecycle.q280ReuseLoop(spark, dir)
    }
    assert(e.getMessage.contains("partials"))
    rmTree(base) // leave no half-built state for the other test
  }
}
