package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What a workload needs: the session, the tracer, its store root and
  * the command-line settings. */
final case class Ctx(spark: SparkSession, tracer: Tracer, root: String, seed: Long,
    seconds: Double, cores: Int, inject: String)

/** One workload run's record: timed operations, failures, checks and the
  * layer values a workload measures outside the spans. */
final class Run(ctx: Ctx, launchJiffies: (Long, Long)) {
  import Run._

  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  val checks = new Util.Checks
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Layer values measured outside the spans, one sample per operation;
    * the run reports each one's median. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  /** Epoch ms at which set-up ended and timing began. */
  var setupEndMs = 0.0
  /** The steal share ([[Util.stealShare]]) from launch to the end of
    * set-up. */
  var setupSteal = 0.0

  /** End of set-up: record the time. */
  def startTiming(): Unit = {
    setupEndMs = ctx.tracer.nowMs
    setupSteal = Util.stealShare(launchJiffies)
    phase("setup")
  }

  def timedSoFar: Double = ops.map(_.wallS).sum

  /** Whether to start another round of operations: until the run's
    * seconds are spent. */
  def more: Boolean = timedSoFar < ctx.seconds

  private val t0 = System.nanoTime()
  /** Log a phase boundary with the seconds since the run began. */
  def phase(name: String): Unit =
    System.err.println(f"phase $name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")

  /** Run one timed operation, traced if `traced` (in a traced run). A
    * non-fatal error counts as a failed operation. Operations with the
    * same name do the same work. */
  def op(name: String, traced: Boolean = ctx.tracer.on)(body: => Unit): Boolean = {
    val on = ctx.tracer.on && traced
    ctx.tracer.active = on
    ctx.tracer.lastOpTraced = on
    val jiffies0 = Util.cpuJiffies
    val gc0 = Util.gcSeconds
    val cpu0 = Util.processCpuSeconds
    val t0 = System.nanoTime()
    val ok =
      try { ctx.tracer.span(name)(body); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          false
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val o = Op(name, on, ok, wall, Util.stealShare(jiffies0), Util.gcSeconds - gc0)
    ops += o
    System.err.println(f"op $name%s $wall%.3f s${if (on) " traced" else ""}%s " +
      f"cpu=${Util.processCpuSeconds - cpu0}%.3f " +
      f"steal=${o.steal}%.4f gc=${o.gcS}%.3f")
    ctx.tracer.active = false
    ok
  }

  /** A read-only operation. In a traced run it runs twice, once traced and
    * once not, in alternating order, so the run measures its own tracing
    * overhead on the same work; the first time a name runs, an untimed
    * run before them keeps either from being the first over fresh files. */
  def readOp(name: String)(body: => Unit): Unit =
    if (!ctx.tracer.on) op(name)(body)
    else {
      if (!ops.exists(_.name == name)) try body catch { case scala.util.control.NonFatal(_) => () }
      val tracedFirst = pairs % 2 == 0
      pairs += 1
      op(name, traced = tracedFirst)(body)
      op(name, traced = !tracedFirst)(body)
    }
  private var pairs = 0

  /** The median operation time, each kind of operation (its name) counted
    * once with its median time: a workload that runs a few kinds of
    * operation a few times each then reports one kind's time rather than
    * the edge between two kinds. */
  def opSP50: Double =
    Util.median(ops.groupBy(_.name).values.map(os => Util.median(os.map(_.unstolenS).toSeq)).toSeq)

  /** Traced over untraced wall time of the same work, minus 1: the median
    * over the operation names that ran both ways. */
  def traceOverhead: Double = {
    val ratios = ops.groupBy(_.name).values.flatMap { os =>
      val (tr, un) = os.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Util.median(tr.map(_.wallS).toSeq) / Util.median(un.map(_.wallS).toSeq))
    }.toSeq
    if (ratios.isEmpty) 0.0 else Util.median(ratios) - 1
  }
}

object Run {
  /** `steal` is the share of the CPU time the host wanted during the
    * operation that the hypervisor gave to other guests
    * ([[Util.stealShare]]). On a shared virtual host that share moves from
    * 0 to over 20 % within minutes, and wall times move with it; it is
    * measured during the operation itself, so removing it compares runs
    * made in quiet and busy spells. */
  final case class Op(name: String, traced: Boolean, ok: Boolean,
      wallS: Double, steal: Double, gcS: Double) {
    /** Wall time without the stolen share. */
    def unstolenS: Double = wallS * (1 - steal)
  }
}
