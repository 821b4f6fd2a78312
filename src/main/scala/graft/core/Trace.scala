package graft.core

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one trace channel: named spans over driver code, the Spark jobs,
  * stages and tasks each span started, and the runtime decisions operators
  * record on them as attributes.
  *
  * [[collect]] opens a root span and installs one listener for the body's
  * duration. A span travels as a Spark local property, so the jobs that
  * AQE, broadcast and [[Par.all]] threads submit carry their caller's
  * span, and each job is folded into the innermost span open when it was
  * submitted. With no trace open on the calling thread, [[span]] only runs
  * its body and [[attr]] never computes its value: no property is set, no
  * listener added, no plan explained.
  */
object Trace {

  /** A finished job: its span, its SQL action's call site, wall and tasks. */
  final case class Job(id: Int, span: Long, callSite: String, startMs: Long,
      endMs: Long, tasks: Int) {
    def json: String = f"""{"id":$id,"span":$span,"call_site":${str(callSite)},""" +
      f""""wall_s":${(endMs - startMs) / 1e3}%.3f,"tasks":$tasks}"""
  }

  /** One span over its subtree: `jobs` are its own and its descendants',
    * `selfJobs` those submitted directly under it; the driver gap is the
    * wall no job of the subtree covered (planning, driver loops, listing). */
  final case class Span(id: Long, parent: Long, name: String, wallS: Double,
      jobs: Seq[Job], selfJobs: Int, stages: Int, tasks: Int, runS: Double,
      shuffleRead: Long, shuffleWrite: Long, driverGapS: Double,
      attrs: Seq[(String, Any)]) {
    def json: String = {
      val as = attrs.map { case (k, v) => str(k) + ":" + (v match {
        case n @ (_: Int | _: Long | _: Double) => n.toString
        case other => str(other.toString)
      }) }.mkString("{", ",", "}")
      f"""{"id":$id,"parent":$parent,"name":${str(name)},"wall_s":$wallS%.3f,""" +
        f""""jobs":${jobs.size},"self_jobs":$selfJobs,"stages":$stages,"tasks":$tasks,""" +
        f""""executor_run_s":$runS%.3f,"shuffle_read_bytes":$shuffleRead,""" +
        f""""shuffle_write_bytes":$shuffleWrite,"driver_gap_s":$driverGapS%.3f,"attrs":$as}"""
    }
  }

  /** A trace's spans, root first, and the count of jobs the listener saw
    * carrying no span of this trace. */
  final case class Report(spans: Seq[Span], unattributed: Int) {
    def root: Span = spans.head
  }

  /** Run `body` under a root span named `trace`; its result and the trace. */
  def collect[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val fold = new Fold(sc)
    GraftSqlShim.drainListeners(sc) // earlier jobs' events are not this trace's
    sc.addSparkListener(fold)
    try {
      val out = within(fold, "trace", -1L)(body)
      GraftSqlShim.drainListeners(sc)
      (out, fold.report())
    } finally {
      sc.removeSparkListener(fold)
      fold.nodes.foreach(n => open.remove(n.id.toString))
    }
  }

  /** Run `body` as a child of the calling thread's innermost span. */
  def span[T](name: String)(body: => T): T = current match {
    case Some(p) => within(p.fold, name, p.id)(body)
    case None => body
  }

  /** Set `key` on the calling thread's innermost span; `value` is computed
    * only when one is open. */
  def attr(key: String, value: => Any): Unit = current.foreach { n =>
    val v = value
    n.attrs.synchronized { n.attrs(key) = v }
  }

  private val Key = "graft.trace.span"
  private val ids = new AtomicLong
  /** Spans of the traces now collecting, by their property value. */
  private val open = new ConcurrentHashMap[String, Node]()

  private final class Node(val id: Long, val name: String, val parent: Long,
      val fold: Fold) {
    val startMs: Long = System.currentTimeMillis()
    @volatile var endMs: Long = startMs
    val attrs = mutable.LinkedHashMap.empty[String, Any]
  }

  /** The calling thread's innermost span, read from the one SparkContext
    * that every open trace's listener is on. */
  private def current: Option[Node] =
    if (open.isEmpty) None
    else open.values.asScala.headOption.flatMap(n =>
      Option(n.fold.sc.getLocalProperty(Key)).flatMap(k => Option(open.get(k))))

  private def within[T](fold: Fold, name: String, parent: Long)(body: => T): T = {
    val n = new Node(ids.incrementAndGet(), name, parent, fold)
    fold.synchronized { fold.nodes += n }
    open.put(n.id.toString, n)
    val prev = fold.sc.getLocalProperty(Key)
    fold.sc.setLocalProperty(Key, n.id.toString)
    try body finally { n.endMs = System.currentTimeMillis(); fold.sc.setLocalProperty(Key, prev) }
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** Span totals follow the stages submitted under the trace's spans;
    * per-job task counts follow each job's own stage list — two routes, so
    * a job the fold missed shows as a mismatch. A job's call site is its
    * SQL action's (AQE submits stage jobs from its own threads, whose
    * stacks name no graft code). */
  private final class Fold(val sc: SparkContext) extends SparkListener {
    val nodes = mutable.ArrayBuffer.empty[Node]
    private final class JobRec(val id: Int, val span: Long, val site: String,
        val start: Long, val stageIds: Seq[Int]) { var end: Long = start }
    private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    private val sqlSites = mutable.Map.empty[String, String]
    private val stageSpan = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageTasks = mutable.Map.empty[Int, Array[Long]] // tasks, run ms, read, write
    private var unattributed = 0

    private def ours(p: Properties): Option[Long] =
      Option(p).flatMap(p => Option(p.getProperty(Key))).flatMap(k => Option(open.get(k)))
        .filter(_.fold eq this).map(_.id)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { sqlSites(s.executionId.toString) = s.description }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      ours(e.properties) match {
        case Some(span) =>
          val site = Option(e.properties.getProperty("spark.sql.execution.id")).flatMap(sqlSites.get)
            .getOrElse(e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
          jobs(e.jobId) = new JobRec(e.jobId, span, site, e.time, e.stageIds)
          e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
        case None => unattributed += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      ours(e.properties).foreach(span => stageSpan(e.stageInfo.stageId) = span)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = stageTasks.getOrElseUpdate(e.stageId, new Array[Long](4))
      t(0) += 1
      Option(e.taskMetrics).foreach { m =>
        t(1) += m.executorRunTime
        t(2) += m.shuffleReadMetrics.totalBytesRead
        t(3) += m.shuffleWriteMetrics.bytesWritten
      }
    }

    def report(): Report = synchronized {
      val kids = nodes.toSeq.groupBy(_.parent)
      def subtree(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(k => subtree(k.id))
      def tasksOf(s: Int) = stageTasks.get(s).fold(0L)(_(0))
      val all = jobs.values.toSeq.map(j => Job(j.id, j.span, j.site, j.start, j.end,
        j.stageIds.filter(stageJob.get(_).contains(j.id)).map(tasksOf).sum.toInt))
      Report(nodes.toSeq.map { n =>
        val ids = subtree(n.id).toSet
        val js = all.filter(j => ids(j.span))
        val ts = stageSpan.collect { case (s, sp) if ids(sp) => stageTasks.getOrElse(s, new Array[Long](4)) }.toSeq
        def total(i: Int) = ts.map(_(i)).sum
        val busy = js.map(j => (j.startMs max n.startMs, j.endMs min n.endMs)).filter(i => i._2 > i._1).sorted
          .foldLeft((0L, n.startMs)) { case ((sum, end), (a, b)) =>
            (sum + math.max(0L, b - math.max(a, end)), math.max(end, b)) }._1
        val wall = n.endMs - n.startMs
        Span(n.id, n.parent, n.name, wall / 1e3, js, js.count(_.span == n.id), ts.size,
          total(0).toInt, total(1) / 1e3, total(2), total(3), math.max(0L, wall - busy) / 1e3,
          n.attrs.synchronized(n.attrs.toSeq))
      }, unattributed)
    }
  }
}
