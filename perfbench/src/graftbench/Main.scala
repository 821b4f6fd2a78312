package graftbench

import java.nio.file.{Files, Paths}

/** One benchmark run inside one JVM: set up, measure for `--seconds`,
  * check the outputs, and write the run record as JSON to `--result`.
  * `perfbench/run.py` builds this program, prepares the run directory,
  * launches it and prints the final metrics line.
  *
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root STORE_DIR --data TABLE_DIR --out OUT_DIR --result FILE
  *   [--cores N] [--spans FILE] [--inject drop_row|alter_query]
  * }}}
  */
object Main {

  val workloads: Seq[String] = Seq("etl_daily", "etl_mor_rw", "query_iter", "query_scan")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val cores = args.get("cores").map(_.toInt)
      .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors()))
    val trace = args.getOrElse("trace", "0") == "1"
    val launchJiffies = Util.cpuJiffies
    val spark = graft.core.Sessions.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis().toDouble
    val tracer = new Tracer(spark.sparkContext, trace, cores)
    val ctx = Ctx(spark, tracer, args("root"), args("seed").toLong,
      args("seconds").toDouble, cores, args.getOrElse("inject", ""))
    val run = new Run(ctx, launchJiffies)
    run.phase("session")
    val runId = s"$workload-${ctx.seed}-${ProcessHandle.current().pid()}"
    try {
      workload match {
        case "etl_daily" => Etl.daily(ctx, run)
        case "etl_mor_rw" => Etl.morRw(ctx, run)
        case "query_iter" => Queries.run(ctx, run, Queries.iterative, args("data"), args("out"))
        case "query_scan" => Queries.run(ctx, run, Queries.scan, args("data"), args("out"))
      }
      run.phase("checked")
      val stats = tracer.summarize()
      val layers = if (trace) Layers.report(run, stats) else Nil
      if (trace) {
        val lines = stats.map(_.toJson(runId))
        args.get("spans") match {
          case Some(f) => Files.write(Paths.get(f), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
          case None => lines.foreach(l => System.err.println(s"span $l"))
        }
      }
      // operation times without the share the hypervisor stole (see Run.Op)
      val walls = run.ops.map(_.unstolenS).toSeq
      val fields = Seq(
        "run_id" -> Json.str(runId),
        "jvm_start_ms" -> Json.num(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
        "session_ready_ms" -> Json.num(sessionReadyMs),
        "setup_end_ms" -> Json.num(run.setupEndMs),
        "setup_steal" -> Json.num(run.setupSteal),
        "steal_p50" -> Json.num(Util.median(run.ops.map(_.steal).toSeq)),
        "attempted" -> run.attempted.toString,
        "failed" -> run.failed.toString,
        "op_s_p50" -> Json.num(run.opSP50),
        "peak_rss_mb" -> Json.num(peakRssMb),
        "ops_per_min" -> Json.num(60.0 * run.attempted / walls.sum),
        "op_wall_s_p50" -> Json.num(Util.median(run.ops.map(_.wallS).toSeq)),
        "timed_s" -> Json.num(run.timedSoFar),
        "checks" -> run.checks.total.toString,
        "check_failures" -> run.checks.failed.map(Json.str).mkString("[", ",", "]"),
        "errors" -> run.errors.map(Json.str).mkString("[", ",", "]"),
        "layers" -> layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
      Files.write(Paths.get(args("result")),
        fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}\n").getBytes("UTF-8"))
    } catch {
      // Spark's non-daemon threads would keep a JVM alive after main threw
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }
    // the run directory, Spark's scratch space included, is removed by the
    // caller; skipping Spark's shutdown saves seconds per run
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** This process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}
