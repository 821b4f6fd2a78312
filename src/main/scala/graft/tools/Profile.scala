package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Properties
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Where a query's wall goes, for any registry query. Each query runs the
  * action Bench times (`fn(spark, sf).count()`) once untimed, then again
  * under a Spark job group that one listener folds into a JSON record:
  * wall, jobs, stages, tasks, executor run time, shuffle bytes, the driver
  * gap (wall minus the union of job intervals — planning, driver loops,
  * listing), the Janino compiles the timed action paid for (0 when the
  * warm-up's generated classes stayed cached) and each job's call site and
  * wall; then the final plan.
  *
  * Usage: `graft.tools.Profile <sfDir> <q1,q2,…> [outDir]` — with outDir,
  * each plan goes to `<outDir>/<query>.txt` and `graft.plantrace.dir`
  * points there, so iterative operators add their round plans beside it.
  */
object Profile {

  final case class Job(id: Int, callSite: String, wallS: Double, tasks: Int)

  final case class Record(query: String, wallS: Double, jobs: Seq[Job],
      stages: Int, tasks: Int, runS: Double, shuffleRead: Long,
      shuffleWrite: Long, driverGapS: Double, codegenCompiles: Long) {
    def json: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val js = jobs.map(j => f"""{"id":${j.id},"call_site":${q(j.callSite)},""" +
        f""""wall_s":${j.wallS}%.3f,"tasks":${j.tasks}}""").mkString("[", ",", "]")
      f"""{"query":${q(query)},"wall_s":$wallS%.3f,"jobs":${jobs.size},""" +
        f""""stages":$stages,"tasks":$tasks,"executor_run_s":$runS%.3f,""" +
        f""""shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,""" +
        f""""driver_gap_s":$driverGapS%.3f,"codegen_compiles":$codegenCompiles,""" +
        f""""job_list":$js}"""
    }
  }

  /** Folds one job group. Query totals follow stages submitted under the
    * group; per-job task counts follow each job's own stage list — two
    * routes, so a job the fold missed shows as a mismatch. A job's call
    * site is its SQL action's (AQE submits stage jobs from its own
    * threads, whose stack names no graft code). */
  private final class Fold(group: String) extends SparkListener {
    val sqlSites = mutable.Map[String, String]()
    val jobs = mutable.LinkedHashMap[Int, (String, Long, Long)]()
    val stageJob = mutable.Map[Int, Int]()
    val stages = mutable.Set[Int]()
    val jobTasks = mutable.Map[Int, Int]().withDefaultValue(0)
    var tasks, runMs, read, write = 0L
    private def ours(p: Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
        synchronized { sqlSites(s.executionId.toString) = s.description }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (ours(e.properties)) {
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(sqlSites.get)
          .getOrElse(e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
        jobs(e.jobId) = (site, e.time, e.time)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (s, t0, _) => jobs(e.jobId) = (s, t0, e.time) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (ours(e.properties)) stages += e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach(j => jobTasks(j) += 1)
      if (stages.contains(e.stageId)) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          runMs += m.executorRunTime
          read += m.shuffleReadMetrics.totalBytesRead
          write += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  /** Profile each query; returns its record and final plan, and writes the
    * plan to `<outDir>/<query>.txt` when `outDir` is set. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Option[String]): Seq[(Record, String)] = {
    val sc = spark.sparkContext
    val priorTrace = sys.props.get("graft.plantrace.dir")
    outDir.foreach { d =>
      Files.createDirectories(Paths.get(d)); sys.props("graft.plantrace.dir") = d
    }
    try names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      // what Dataset.count() executes, kept so its final plan can be shown;
      // the warm-up runs the same action, so the timed one finds its
      // generated classes (the collect's row deserializer included) cached
      def counted() = { val c = fn(spark, sfDir).groupBy().count(); c.collect(); c }
      counted()
      val fold = new Fold(s"graft-profile-$name")
      sc.addSparkListener(fold)
      // no description: Spark would report it as every SQL call site
      sc.setJobGroup(s"graft-profile-$name", null)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
      val timed = try counted() finally sc.clearJobGroup()
      val (wallS, ms1) = ((System.nanoTime() - t0) / 1e9, System.currentTimeMillis())
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      GraftSqlShim.drainListeners(sc)
      sc.removeSparkListener(fold)
      val spans = fold.jobs.values.map { case (_, a, b) => (a max ms0, b min ms1) }
        .filter { case (a, b) => b > a }.toSeq.sorted
      val busyMs = spans.foldLeft((0L, ms0)) { case ((sum, end), (a, b)) =>
        (sum + math.max(0L, b - math.max(a, end)), math.max(end, b)) }._1
      val record = Record(name, wallS,
        fold.jobs.toSeq.map { case (id, (site, a, b)) =>
          Job(id, site, (b - a) / 1e3, fold.jobTasks(id)) },
        fold.stages.size, fold.tasks.toInt, fold.runMs / 1e3, fold.read,
        fold.write, math.max(0.0, wallS - busyMs / 1e3), compiles)
      val plan = timed.queryExecution.explainString(FormattedMode)
      outDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"), plan))
      (record, plan)
    } finally priorTrace match {
      case Some(d) => sys.props("graft.plantrace.dir") = d
      case None => sys.props.remove("graft.plantrace.dir"); ()
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
