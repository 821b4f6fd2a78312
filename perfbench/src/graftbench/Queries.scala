package graftbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}

/** The two query workloads over the seeded TPC-H-shaped tables:
  * `query_iter` (iterative graph and entity-resolution chains) and
  * `query_scan` (single-pass relational and TPC-H-shaped queries). */
object Queries {

  /** Iterative job chains: PageRank, BFS, entity resolution (CC-star)
    * and label propagation. */
  val iterative: Seq[String] = Seq("q87_pagerank", "q96_bfs", "q168_entity_resolution",
    "q183_label_prop")

  /** Passes over the workload's queries in one timed round. */
  val passesPerRound = 2

  /** Single-pass registry queries with a DuckDB oracle and no cache kept
    * across runs. */
  val scan: Seq[String] = Seq(
    "q1_agg", "q2_filter_pred", "q3_join_inner", "q4_join_anti", "q5_join_semi",
    "q6_join_fanout", "q7_window_latest", "q8_window_topk", "q9_window_running",
    "q10_window_lag", "q11_distinct", "q12_union", "q13_map_agg", "q14_explode",
    "q15_scalar_funcs", "q16_group_multikey", "q28_json_extract", "q33_rollup",
    "q34_pivot", "q36_stats", "q52_cube", "q53_set_ops", "q54_date_funcs",
    "q55_array_hof", "q56_argmax", "q57_url_funcs", "q66_map_funcs", "q75_full_outer",
    "q76_rank_family", "q78_value_funcs",
    "q254_pricing_summary", "q255_local_supplier_volume", "q256_market_share",
    "q257_product_profit", "q258_delay_priority", "q259_order_count_dist",
    "q260_top_supplier", "q261_part_supplier_counts")

  /** Run each query once untimed (its result goes to `out/<name>` for the
    * oracle, its digest becomes the reference; `--inject alter_query`
    * drops one row of the first query's result there, for the
    * benchmark's own tests), then whole timed rounds of
    * [[passesPerRound]] passes, each in a seeded order, until the run's
    * seconds are spent. */
  def run(ctx: Ctx, run: Run, names: Seq[String], dataDir: String, outDir: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")
    Files.createDirectories(Paths.get(outDir))

    val reference = names.map { q =>
      val df = registry(q)(spark, dataDir)
      val rows = df.collect().toSeq
      val kept = if (ctx.inject == "alter_query" && q == names.head) rows.drop(1) else rows
      val local = spark.createDataFrame(java.util.Arrays.asList(kept: _*), df.schema)
      local.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
      run.phase(s"reference:$q")
      q -> Util.digest(local)
    }.toMap
    val oracleJson = names.flatMap(q => oracles.get(q).map(sql => s"${Json.str(q)}:${Json.str(sql)}"))
    Files.write(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson.mkString("{", ",", "}").getBytes("UTF-8"))
    run.startTiming()

    // whole rounds of two passes, so that every run times the same queries
    // the same number of times
    val rng = new scala.util.Random(ctx.seed)
    var pass = 0
    while (run.more) (1 to passesPerRound).foreach { _ =>
      rng.shuffle(names).foreach { q =>
        var got: (Long, String) = null
        // in a traced run each query runs traced in one pass and untraced
        // in the other, for the overhead comparison
        val traced = (names.indexOf(q) + pass) % 2 == 0
        run.op(s"query:$q", traced) {
          val df: DataFrame = t.span("queries.build")(registry(q)(spark, dataDir))
          t.span("plans.plan")(df.queryExecution.executedPlan)
          got = t.span("queries.action")(Util.digest(df))
        }
        if (got != null)
          run.checks.check(s"repeat_digest:$q:pass$pass", got == reference(q),
            s"reference ${reference(q)}, repeat $got")
      }
      pass += 1
    }
    run.phase("timed")
  }
}
