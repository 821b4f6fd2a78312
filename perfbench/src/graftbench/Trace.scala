package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around the benchmark's calls into each graft module, and the
  * Spark jobs, stages and tasks those calls launched.
  *
  * A span sets the `graftbench.span` local property and the job
  * description on the calling thread before the call. Spark copies local
  * properties into threads created afterwards, so the jobs that
  * ProcessDaily submits from its own pool carry the span too. The
  * listener folds every job into the innermost open span; a job with no
  * span property is counted as unattributed.
  *
  * When tracing is off, [[span]] only runs its body: no listener is
  * installed and no property is set. */
final class Tracer(sc: SparkContext, val on: Boolean, cores: Int) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private val fold = new JobFold
  if (on) sc.addSparkListener(fold)

  /** Wall clock in epoch milliseconds with sub-millisecond digits, on the
    * same base as the listener's event times. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Spans are recorded only while active (a traced run leaves some
    * operations untraced, to measure its own overhead). */
  @volatile var active = false

  def span[T](name: String)(body: => T): T =
    if (!on || !active) body
    else {
      val s = Span(spans.length, name, current, nowMs)
      spans += s
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevDesc = sc.getLocalProperty(JobDescription)
      sc.setLocalProperty(SpanKey, s.id.toString)
      sc.setJobDescription(name)
      current = s.id
      try body
      finally {
        s.end = nowMs
        current = s.parent
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(JobDescription, prevDesc)
      }
    }

  /** Whether the last operation was traced; set by [[Run.op]]. */
  @volatile var lastOpTraced = false

  /** Attach a count measured outside Spark (files, bytes on disk) to the
    * most recent span with this name, during or right after a traced
    * operation. */
  def attr(name: String, key: String, value: Double): Unit =
    if (on && (active || lastOpTraced)) spans.reverseIterator.find(_.name == name).foreach(_.attrs(key) = value)

  /** Fold the listener's events into per-span totals. Waits until every
    * posted event has been delivered. */
  def summarize(): Seq[SpanStats] = {
    if (!on) return Seq.empty
    org.apache.spark.BenchShim.drainListeners(sc)
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] =
      id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSeq
    val allJobs = fold.allJobs
    val jobsBySpan = allJobs.groupBy(_.span)
    spans.toSeq.map { s =>
      val ids = subtree(s.id).toSet
      val jobs = ids.toSeq.flatMap(i => jobsBySpan.getOrElse(i, Nil))
      val selfJobs = jobsBySpan.getOrElse(s.id, Nil).size
      val stageIds = jobs.flatMap(_.stageIds).distinct
      val tasks = stageIds.flatMap(fold.tasksOf)
      val wall = s.end - s.start
      val busy = union(jobs.map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))
      val kids = children.getOrElse(s.id, Nil).toSeq
      val childCover = union(kids.map(k => (k.start, k.end)))
      val skew = stageIds.map(fold.tasksOf).filter(_.size >= 2).map { ts =>
        val times = ts.map(_.runMs.toDouble).sorted
        val med = times(times.size / 2)
        if (med <= 0) 1.0 else times.last / med
      }
      // jobs started inside the span's interval, whatever their property:
      // the attribution check compares this with the subtree's jobs
      val windowJobs = allJobs.count(j => j.start >= s.start && j.start <= s.end)
      SpanStats(s, wallS = wall / 1e3, selfS = (wall - childCover) / 1e3,
        jobs = jobs.size, selfJobs = selfJobs, windowJobs = windowJobs,
        stages = stageIds.size, tasks = tasks.size,
        taskS = tasks.map(_.runMs).sum / 1e3,
        driverGapS = math.max(0.0, wall - busy) / 1e3,
        coresBusy = if (wall <= 0) 0.0 else tasks.map(_.runMs).sum / (wall * cores),
        shuffleBytes = tasks.map(_.shuffleWrite).sum,
        spillBytes = tasks.map(_.spill).sum,
        bytesWritten = tasks.map(_.bytesWritten).sum,
        taskSkew = if (skew.isEmpty) 1.0 else skew.max,
        children = kids.map(_.id))
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  private val JobDescription = "spark.job.description"

  final case class Span(id: Int, name: String, parent: Int, start: Double) {
    var end: Double = start
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  final case class SpanStats(span: Span, wallS: Double, selfS: Double, jobs: Int,
      selfJobs: Int, windowJobs: Int, stages: Int, tasks: Int, taskS: Double,
      driverGapS: Double, coresBusy: Double, shuffleBytes: Long,
      spillBytes: Long, bytesWritten: Long, taskSkew: Double, children: Seq[Int]) {
    def toJson(runId: String): String = {
      val attrs = span.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"run":"$runId","id":${span.id},"parent":${span.parent},"name":${Json.str(span.name)},""" +
        s""""start_ms":${Json.num(span.start)},"end_ms":${Json.num(span.end)},""" +
        s""""wall_s":${Json.num(wallS)},"self_s":${Json.num(selfS)},"jobs":$jobs,""" +
        s""""self_jobs":$selfJobs,"window_jobs":$windowJobs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_s":${Json.num(taskS)},"driver_gap_s":${Json.num(driverGapS)},""" +
        s""""cores_busy":${Json.num(coresBusy)},"shuffle_bytes":$shuffleBytes,""" +
        s""""spill_bytes":$spillBytes,"bytes_written":$bytesWritten,""" +
        s""""task_skew":${Json.num(taskSkew)},"attrs":{$attrs}}"""
    }
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  final case class JobRec(id: Int, span: Int, start: Double, stageIds: Seq[Int]) {
    @volatile var end: Double = start
  }
  final case class TaskRec(runMs: Long, shuffleWrite: Long, spill: Long, bytesWritten: Long)

  private final class JobFold extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[TaskRec]]()

    def allJobs: Seq[JobRec] = {
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.toSeq
    }

    def tasksOf(stage: Int): Seq[TaskRec] = {
      import scala.jdk.CollectionConverters._
      Option(tasks.get(stage)).map(_.asScala.toSeq).getOrElse(Nil)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time.toDouble, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val rec = TaskRec(m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled + m.memoryBytesSpilled, m.outputMetrics.bytesWritten)
        tasks.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[TaskRec]()))
          .add(rec)
      }
    }
  }
}

/** Minimal JSON spelling for the benchmark's own records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
