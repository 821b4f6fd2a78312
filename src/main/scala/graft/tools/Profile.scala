package graft.tools

import graft.core.Trace
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Where a query's wall goes, for any registry query. Each query runs the
  * action Bench times (`fn(spark, sf).count()`) once untimed, then again
  * inside [[graft.core.Trace.collect]]: one JSON record with the Janino
  * compiles the timed action paid for (0 when the warm-up's generated
  * classes stayed cached), every job (call site, wall, tasks, span) and the
  * span tree, root first — each span's wall, jobs, stages, tasks, executor
  * run time, shuffle bytes, driver gap (wall minus the union of its jobs'
  * intervals: planning, driver loops, listing) and the attributes operators
  * set on it (iteration rounds with their first round's plan, broadcast-gate
  * counts, dial widths, zone-map files pruned); then the final plan.
  *
  * Usage: `graft.tools.Profile <sfDir> <q1,q2,…> [outDir]` — with outDir,
  * each final plan goes to `<outDir>/<query>.txt` instead of stdout.
  */
object Profile {

  final case class Record(query: String, codegenCompiles: Long, trace: Trace.Report) {
    def root: Trace.Span = trace.root
    def json: String =
      s"""{"query":"$query","codegen_compiles":$codegenCompiles,""" +
        s""""job_list":${root.jobs.map(_.json).mkString("[", ",", "]")},""" +
        s""""spans":${trace.spans.map(_.json).mkString("[", ",", "]")}}"""
  }

  /** Profile each query; returns its record and final plan, and writes the
    * plan to `<outDir>/<query>.txt` when `outDir` is set. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Option[String]): Seq[(Record, String)] = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      // what Dataset.count() executes, kept so its final plan can be shown;
      // the warm-up runs the same action, so the timed one finds its
      // generated classes (the collect's row deserializer included) cached
      def counted() = { val c = fn(spark, sfDir).groupBy().count(); c.collect(); c }
      counted()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (timed, trace) = Trace.collect(spark)(counted())
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val plan = timed.queryExecution.explainString(FormattedMode)
      outDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"), plan))
      (Record(name, compiles, trace), plan)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val outDir = args.lift(2)
    val spark = graft.core.Sessions.local()
    run(spark, sfDir, names.split(",").toSeq, outDir).foreach { case (r, plan) =>
      println(r.json)
      if (outDir.isEmpty) println(plan)
    }
    spark.stop()
  }
}
