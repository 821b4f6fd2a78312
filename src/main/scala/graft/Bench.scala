package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

object Bench {

  /** Reserved floors-file key for the FS canary's own committed floor
    * (same quiet-window recording discipline as query floors). */
  val FsCanaryKey = "__fs_canary__"

  /** The compact FINAL stdout line. The driver keeps only a ~2000-char
    * stdout tail, and three rounds running (BENCH_r03/r04/r05) the line
    * overflowed it and the artifact parsed null — r05's overflow was the
    * full `reruns` map (52 floor re-runs on a slow host ≈ 1,800 chars).
    * This line is BOUNDED ≤ 1,500 chars at ANY rerun count by
    * construction: per-query detail is capped at the 10 slowest official
    * entries, reruns appear only as a COUNT plus the worst 3, and a hard
    * fallback drops the per-query maps entirely if query names are ever
    * pathological. The full artifact (every query, every sample, every
    * rerun) always lives in the `detail` file + stderr. BenchSpec asserts
    * the bound with 100 synthetic reruns. */
  def compactLine(total: Double, nQueries: Int,
      official: Seq[(String, Double)], reruns: Seq[(String, Double)],
      hostFactor: Double, detail: String, sfDir: String,
      codegenFallbacks: Long = 0L, robustFactor: Double = 0.0,
      fsFactor: Double = 0.0): String = {
    def entries(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    // the free-text interpolations must be bounded too, or a long
    // SPARK_GRAFT_BENCH_OUT / sf path re-opens the overflow this
    // function exists to close (tail-truncate: the end of a path is the
    // identifying part)
    def cap(s: String, n: Int): String =
      if (s.length <= n) s else "..." + s.substring(s.length - n)
    val det = cap(detail, 120)
    val sfd = cap(sfDir, 120)
    val top = official.sortBy(-_._2).take(10)
    val worst = reruns.sortBy(-_._2).take(3)
    val line =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":${entries(top)},"n_queries":$nQueries,"n_reruns":${reruns.size},"worst_reruns":${entries(worst)},"host_factor":${f"$hostFactor%.3f"},"fs_factor":${f"$fsFactor%.3f"},"robust_factor":${f"$robustFactor%.3f"},"codegen_fallbacks":$codegenFallbacks,"detail":"$det","sf":"$sfd"}"""
    if (line.length <= 1500) line
    else
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":${entries(top.take(3))},"n_queries":$nQueries,"n_reruns":${reruns.size},"detail":"$det","sf":"$sfd"}"""
  }

  /** Host speed factor from a canary measurement: median over canaries of
    * (measured median / committed floor), clamped to ≥ 1 so floors are
    * never LOWERED (a faster-than-floor-window host just uses the floors
    * as committed). Floors were recorded in a quiet window on the build
    * host; the round-5 driver host ran a uniform ~1.4× slower and the
    * uncalibrated 2× rule fired 52 re-runs ≈ 48 s of wasted wall. With
    * the floor scaled by this factor, a uniformly 1.5×-slow host sits at
    * ~1× of its effective floors and re-runs fire only on genuine
    * per-query stalls or regressions. */
  def hostFactor(canaryMedians: Seq[(String, Double)],
      floors: Map[String, Double]): Double = {
    val ratios = canaryMedians.flatMap { case (name, med) =>
      floors.get(name).filter(_ > 0).map(med / _)
    }.sorted
    if (ratios.isEmpty) 1.0
    else math.max(1.0, ratios(ratios.length / 2))
  }

  /** Full-sweep host calibration, computed AFTER the sweep: the median
    * over every floored query of (best sample / committed floor). The
    * 3-query canary [[hostFactor]] prices the floor-rerun threshold
    * cheaply BEFORE the sweep, but its precision bounds every
    * cross-round "faster/slower" claim — two same-day round-7 sweeps
    * normalized 28% apart on the canary alone. A median over the whole
    * registry's best-of-samples is robust to per-query stalls AND to
    * canary luck; BASELINE.md's round-over-round table divides by this.
    * NOT clamped to ≥1 (a descriptive statistic, not a rerun
    * threshold), and computed from RAW floors, not effective ones. */
  def robustFactor(samples: Seq[(String, Seq[Double])],
      floors: Map[String, Double]): Double = {
    val ratios = samples.flatMap { case (name, ts) =>
      // failed runs arrive as NEGATED wall (see timeOne) and are dropped
      // per-RUN — a query's valid samples still contribute even when one
      // of its runs threw (blacklisting the whole query thinned the
      // cross-round normalization median for no reason)
      val valid = ts.filter(_ > 0)
      floors.get(name).filter(_ > 0)
        .flatMap(fl => valid.minOption.map(_ / fl))
    }.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.length / 2)
  }

  /** Resource-class tags for floors: the 3-query compute canary misprices
    * FS-bound queries (round-8 bisect: q270/q274 at 2.2–2.5× floors on a
    * slow-DISK day were byte-identical to the prior round's binary — they
    * rebuild a fresh index under the JVM's temp dir per run and carry the
    * disk's host factor, not the CPU's). Queries tagged `"fs"` in
    * `scripts/bench_classes.json` gate floor re-runs against the
    * [[fsCanary]]-scaled floor instead of the compute-canary-scaled one.
    * Untagged queries default to `"compute"`. */
  def loadClasses(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      """"([^"]+)"\s*:\s*"(fs|compute)"""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local()
    graft.core.CodegenWatch.install()
    // one untimed pass of the flagship absorbs JVM/codegen/parquet-footer
    // warmup so per-query timings reflect steady state
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => () }
    // SPARK_GRAFT_ONLY=q19_minhash_lsh,q18_ngram_jaccard — iterate on a
    // subset without paying for the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // One untimed pass per query before its timed passes (disable with
    // SPARK_GRAFT_WARMUP=0). First execution conflates the query with
    // one-time janino/JIT compilation of its generated code — tens of
    // codegen units for the multi-stage similarity queries — and on the
    // shared build host that compile cost varies 10–50× with CPU
    // contention (measured: q18 first run 8–77 s, second run 3 s,
    // identical binary). The timed runs recompile nothing because
    // Sessions sizes Spark's generated-class cache above any query's
    // classes: at Spark's default 100 entries a query with more (q244 159,
    // q64 120 at sf0.01) evicted its own and recompiled them on every
    // timed run. Steady state is the metric.
    // MEDIAN-of-3 timed runs per query (SPARK_GRAFT_REPEAT overrides):
    // the host's virtio disk intermittently stalls for seconds (same
    // binary measured 25 s and 173 s across runs), and a median absorbs
    // one stalled run per query where a single sample cannot.
    val warmup = !sys.env.get("SPARK_GRAFT_WARMUP").contains("0")
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(3)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2) // odd n → middle; even → upper mid
    }
    // official walls are medians over |t|: a thrown run's wall still
    // counts toward the query's cost (pre-failure work was real), the
    // negation is only the per-run failure flag for robustFactor
    def medianWall(xs: Seq[Double]): Double = median(xs.map(math.abs))
    // a run that THROWS still reports its wall (the sweep keeps timing
    // whatever the query cost before failing) but arrives NEGATED, so
    // downstream consumers can drop the failed RUN (a 0.02 s analysis
    // error over a 2 s floor would inject a near-zero ratio into the
    // robust-factor median) while the same query's healthy samples
    // still count. medians over |t| preserve the old official wall.
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        name: String = ""): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case NonFatal(_) => false }
      val w = (System.nanoTime() - t0) / 1e9
      if (ok) w else -w
    }
    // Floors file: min sample of the last quiet-window sweep per query.
    val floorsPath = sys.env.getOrElse("SPARK_GRAFT_FLOORS", "scripts/bench_floors.json")
    val floors: Map[String, Double] = {
      val f = new java.io.File(floorsPath)
      if (!f.isFile) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    // HOST CALIBRATION: before the sweep, time a 3-query canary (warmup +
    // median-of-3 each) and scale every floor by the observed host factor.
    // See [[hostFactor]] for why. Canary queries are mid-cost (~0.4-0.6 s
    // floor) pure-compute shapes — big enough to measure, cheap enough
    // that calibration costs ~5 s.
    val canaryNames = sys.env.getOrElse("SPARK_GRAFT_CANARIES",
      "q6_join_fanout,q144_pmi,q175_training_batches").split(",").toSeq
    val hf: Double =
      if (floors.isEmpty) 1.0
      else {
        val meds = canaryNames.flatMap { n =>
          SparkEntry.queries.get(n).filter(_ => floors.contains(n)).map { fn =>
            timeOne(fn) // untimed warmup pass
            val med = medianWall((1 to 3).map(_ => timeOne(fn)))
            System.err.println(f"[bench] canary $n: $med%.3f (floor ${floors(n)}%.3f)")
            (n, med)
          }
        }
        hostFactor(meds, floors)
      }
    System.err.println(f"[bench] host factor: $hf%.3f")
    // FS CANARY: a compute canary prices disk-bound floors wrong in both
    // directions (round-8: q270/q274 2.2-2.5x floors on a slow-disk day,
    // bisect-proven not a regression). One write+list+read cycle in
    // the JVM's temp dir — the same filesystem the index-building queries
    // scratch on — priced against its own committed floor
    // ("__fs_canary__" in the floors file).
    def fsCanaryOnce(): Double = {
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_fscanary_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      val t0 = System.nanoTime()
      spark.range(0L, 20000L).selectExpr("id", "cast(id % 97 as string) s")
        .repartition(16).write.mode("overwrite").parquet(dir.toString)
      spark.read.parquet(dir.toString).count()
      val t = (System.nanoTime() - t0) / 1e9
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
      t
    }
    val fsFloor = floors.get(Bench.FsCanaryKey).filter(_ > 0)
    val fsf: Double = fsFloor match {
      case Some(fl) =>
        fsCanaryOnce() // warmup (committer/codegen first-use)
        val med = median((1 to 3).map(_ => fsCanaryOnce()))
        System.err.println(f"[bench] fs canary: $med%.3f (floor $fl%.3f)")
        math.max(1.0, med / fl)
      case None => hf // no committed fs floor: fall back to compute factor
    }
    System.err.println(f"[bench] fs factor: $fsf%.3f")
    val classesPath = sys.env.getOrElse("SPARK_GRAFT_CLASSES",
      "scripts/bench_classes.json")
    val classes = loadClasses(classesPath)
    def factorOf(name: String): Double =
      if (classes.getOrElse(name, "compute") == "fs") fsf else hf
    val effFloors = floors.map { case (k, v) => k -> v * factorOf(k) }
    val results = selected.map { case (name, fn) =>
      if (warmup) { try fn(spark, sfDir).count() catch { case NonFatal(_) => () } }
      val times = (1 to repeat).map(_ => timeOne(fn, name))
      System.err.println(s"[bench] $name runs: ${times.map(t => f"$t%.3f").mkString(", ")}")
      (name, medianWall(times), times)
    }
    // Contention self-defense: a shared-host stall can inflate all three
    // samples of one query (q183 measured 9.3 s in a round-4 sweep vs 3.7 s
    // solo minutes later). Against the HOST-CALIBRATED floors, any query
    // whose median exceeds 2x its effective floor gets ONE more run at the
    // end of the sweep (effectively solo — the host burst that hit it
    // mid-sweep has usually passed); both numbers are recorded so the
    // artifact distinguishes "host stall" (rerun back at floor) from
    // "real regression" (rerun still slow).
    val reruns = results.flatMap { case (name, med, _) =>
      effFloors.get(name).filter(fl => fl > 0 && med > 2 * fl).map { fl =>
        val t = timeOne(selected.find(_._1 == name).get._2, name)
        System.err.println(f"[bench] $name rerun (median $med%.3f > 2x eff-floor $fl%.3f): $t%.3f")
        (name, t)
      }
    }
    val rerunByName = reruns.toMap
    // official per-query number: the sweep median, unless a rerun proved
    // it a stall (rerun <= effective floor*1.5) in which case the rerun
    // stands; a FAILED rerun (negative) never stands in
    val official = results.map { case (name, med, _) =>
      val adj = rerunByName.get(name) match {
        case Some(t) if t > 0 && effFloors.get(name).exists(fl => t <= fl * 1.5) => t
        case _ => med
      }
      (name, adj)
    }
    val qs = official.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every individual sample too, so the artifact itself shows whether a
    // slow median was a stall (one outlier) or a real plan cost (all three)
    val runs = results.map { case (k, _, ts) =>
      "\"" + k + "\":[" + ts.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val rr = reruns.map { case (k, t) => "\"" + k + "\":" + t }
      .mkString("{", ",", "}")
    val total = official.map(_._2).sum
    // every query just ran ≥4 times; nonzero = some hot path silently
    // left compiled code ([[graft.core.CodegenWatch]])
    val cgf = graft.core.CodegenWatch.fallbacks()
    // full-sweep calibration: best sample (reruns included) vs raw floor;
    // failed runs are negative and dropped per-run inside robustFactor
    val allSamples = results.map { case (n, _, ts) =>
      n -> (ts ++ rerunByName.get(n)) }
    val rf = robustFactor(allSamples, floors)
    // the same statistic split by resource class (fs medians track the
    // disk, compute medians the CPU — BASELINE.md's normalization table)
    val (fsSamples, cpuSamples) = allSamples.partition { case (n, _) =>
      classes.getOrElse(n, "compute") == "fs" }
    val rfFs = robustFactor(fsSamples, floors)
    val rfCpu = robustFactor(cpuSamples, floors)
    System.err.println(
      f"[bench] robust factor (median best/floor): $rf%.3f (compute $rfCpu%.3f, fs $rfFs%.3f)")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"reruns":$rr,"host_factor":$hf,"fs_factor":$fsf,"robust_factor":$rf,"robust_factor_compute":$rfCpu,"robust_factor_fs":$rfFs,"codegen_fallbacks":$cgf,"sf":"$sfDir"}"""
    // FULL artifact to file + stderr; stdout gets ONLY the bounded compact
    // line (see [[compactLine]]).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case NonFatal(e) => System.err.println(s"[bench] file write failed: $e") }
    System.err.println(line)
    println(compactLine(total, official.size, official, reruns, hf, out,
      sfDir, cgf, rf, fsf))
    spark.stop()
  }
}
