package graftbench

import graftbench.Tracer.SpanStats

/** The per-layer metrics of a traced run, folded from its spans. Each is
  * the median over the run's calls into that layer (a call is one span);
  * a layer the workload never calls reads 0. */
object Layers {

  val families: Seq[String] = Seq("snapshot", "array_child", "collection", "traffic", "snapshot_log")

  def report(run: Run, stats: Seq[SpanStats]): Seq[(String, Double)] = {
    def named(n: String*): Seq[SpanStats] = stats.filter(s => n.contains(s.span.name))
    def med(ss: Seq[SpanStats])(f: SpanStats => Double): Double = Util.median(ss.map(f))
    def attr(ss: Seq[SpanStats], key: String): Double = Util.median(ss.flatMap(_.span.attrs.get(key)))
    def sampled(name: String): Double = Util.median(run.samples.getOrElse(name, Nil).toSeq)

    val ingest = named("ingest.stage")
    // the timed write path: merge-on-read appends where the workload has
    // them, else the full rewrite
    val jobs = if (named("jobs.append").nonEmpty) named("jobs.append") else named("jobs.merge")
    val reads = named("ops.mor.read")
    val queries = stats.filter(_.span.name.startsWith("query:"))
    // top-level spans: the timed operations, plus the traced run's extra
    // full-rewrite calls; the operations hold layer spans
    val top = stats.filter(s => s.span.parent < 0)
    val ops = top.filter(_.children.nonEmpty)
    val queryWalls = run.ops.filter(_.name.startsWith("query:")).map(_.wallS).toSeq

    Seq(
      "ingest.stage_s" -> med(ingest)(_.wallS),
      "ingest.jobs" -> med(ingest)(_.jobs),
      "ingest.tasks" -> med(ingest)(_.tasks),
      "ingest.bytes_written" -> med(ingest)(_.bytesWritten.toDouble),
      "ingest.files_written" -> attr(ingest, "files_written"),
      "jobs.merge_s" -> med(named("jobs.merge"))(_.wallS),
      "jobs.append_s" -> med(named("jobs.append"))(_.wallS),
      "jobs.jobs" -> med(jobs)(_.jobs),
      "jobs.stages" -> med(jobs)(_.stages),
      "jobs.tasks" -> med(jobs)(_.tasks),
      "jobs.driver_gap_s" -> med(jobs)(_.driverGapS),
      "jobs.cores_busy" -> med(jobs)(_.coresBusy),
      "jobs.shuffle_bytes" -> med(jobs)(_.shuffleBytes.toDouble),
      "jobs.spill_bytes" -> med(jobs)(_.spillBytes.toDouble),
      "jobs.bytes_written" -> med(jobs)(_.bytesWritten.toDouble),
      "jobs.files_written" -> attr(jobs, "files_written")) ++
    families.flatMap { f =>
      val ss = named(s"entities.$f")
      Seq(s"entities.${f}_s" -> med(ss)(_.wallS), s"entities.${f}_jobs" -> med(ss)(_.jobs))
    } ++ Seq(
      "ops.mor.compact_s" -> med(named("ops.mor.compact"))(_.wallS),
      "ops.mor.bytes_rewritten" -> attr(named("ops.mor.compact"), "bytes_rewritten"),
      "ops.mor.read_s" -> med(reads)(_.wallS),
      "ops.mor.read_plan_s" -> med(named("ops.mor.plan"))(_.wallS),
      "ops.mor.files_per_read" -> attr(reads, "files"),
      "ops.incr.refresh_s" -> med(named("ops.incr.refresh"))(_.wallS),
      "ops.incr.rollup_s" -> med(named("ops.incr.rollup"))(_.wallS),
      "ops.incr.read_path_writes" ->
        named("ops.incr.rollup").flatMap(_.span.attrs.get("read_path_writes")).sum,
      "queries.build_s" -> med(named("queries.build"))(_.wallS),
      "queries.action_s" -> med(named("queries.action"))(_.wallS),
      "queries.jobs" -> med(queries)(_.jobs),
      "queries.stages" -> med(queries)(_.stages),
      "queries.tasks" -> med(queries)(_.tasks),
      "queries.driver_gap_s" -> med(queries)(_.driverGapS),
      "queries.cores_busy" -> med(queries)(_.coresBusy),
      "queries.shuffle_bytes" -> med(queries)(_.shuffleBytes.toDouble),
      "queries.spill_bytes" -> med(queries)(_.spillBytes.toDouble),
      "queries.task_skew" -> med(queries)(_.taskSkew),
      "queries.s_p90" -> Util.pct(queryWalls, 0.9),
      "plans.plan_s" -> med(named("plans.plan"))(_.wallS),
      "core.gc_s" -> Util.median(run.ops.map(_.gcS).toSeq),
      "etl.docs_per_s" -> sampled("etl.docs_per_s"),
      "etl.write_amp" -> sampled("etl.write_amp"),
      "etl.space_amp" -> sampled("etl.space_amp"),
      "trace.overhead_frac" -> run.traceOverhead,
      "trace.unattributed_frac" ->
        (if (ops.isEmpty) 0.0 else ops.map(_.selfS).sum / ops.map(_.wallS).sum),
      // jobs that started inside a traced operation without its span
      "trace.unattributed_jobs" -> top.map(s => math.max(0, s.windowJobs - s.jobs)).sum.toDouble)
  }
}
