package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's compact stdout line — the driver keeps only a
  * ~2000-char stdout tail, and BENCH_r03/r04/r05 all parsed null because
  * the line overflowed it (r05: 52 floor re-runs inlined as a full map).
  * These tests pin the ≤1,500-char bound at ANY rerun count, and the
  * host-factor calibration math. Pure functions — no SparkSession. */
class BenchSpec extends AnyFunSuite {

  private def officials(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q${i}%03d_some_query_with_a_long_name", i * 0.137))

  test("compactLine stays under 1500 chars with zero reruns") {
    val line = Bench.compactLine(173.8, 271, officials(271), Seq.empty,
      1.0, "bench_out.json", "/root/testdata/sf0.1")
    assert(line.length <= 1500, s"len=${line.length}")
    assert(line.contains("\"n_reruns\":0"))
  }

  test("compactLine stays under 1500 chars with 100 synthetic reruns") {
    // the round-5 failure mode, doubled: a slow host firing floor re-runs
    // on a large fraction of the registry must NOT grow the stdout line
    val reruns = (1 to 100).map(i =>
      (f"q${i}%03d_some_query_with_a_long_name", 1.0 + i * 0.01))
    val line = Bench.compactLine(246.9, 271, officials(271), reruns,
      1.41, "bench_out.json", "/root/testdata/sf0.1")
    assert(line.length <= 1500, s"len=${line.length}")
    assert(line.contains("\"n_reruns\":100"))
    // only the worst 3 reruns appear inline
    assert("q\\d+_some_query_with_a_long_name\":\\d".r
      .findAllMatchIn(line.substring(line.indexOf("worst_reruns"))).size == 3)
    // the full map lives behind the detail pointer
    assert(line.contains("\"detail\":\"bench_out.json\""))
  }

  test("compactLine is parseable JSON with total and n_queries") {
    val line = Bench.compactLine(12.5, 42, officials(42),
      Seq(("q001_x", 2.0)), 1.2, "out.json", "sfX")
    // shape checks a JSON parser relies on: balanced braces, quoted keys
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.contains("\"metric\":\"total\""))
    assert(line.contains("\"value\":12.500"))
    assert(line.contains("\"n_queries\":42"))
    assert(line.contains("\"host_factor\":1.200"))
  }

  test("compactLine bounds even pathological detail/sf paths") {
    // a 2000-char SPARK_GRAFT_BENCH_OUT path must not re-open the
    // stdout-tail overflow; the identifying TAIL of the path survives
    val longPath = "/very/deep/" + ("x" * 1990) + "/bench_out.json"
    val line = Bench.compactLine(9.9, 276, officials(276),
      (1 to 60).map(i => (f"q$i%03d_x", 1.0)), 1.5, longPath, longPath)
    assert(line.length <= 1500, s"len=${line.length}")
    assert(line.contains("bench_out.json"), "path tail must survive")
  }

  test("compactLine carries codegen_fallbacks and stays bounded") {
    val line = Bench.compactLine(12.5, 42, officials(42), Seq.empty,
      1.0, "out.json", "sfX", codegenFallbacks = 17L)
    assert(line.contains("\"codegen_fallbacks\":17"))
    assert(line.length <= 1500)
  }

  test("compactLine carries the full-sweep robust factor") {
    val line = Bench.compactLine(12.5, 42, officials(42), Seq.empty,
      1.2, "out.json", "sfX", robustFactor = 1.84)
    assert(line.contains("\"robust_factor\":1.840"))
    assert(line.length <= 1500)
  }

  test("robustFactor: median of best-sample/floor, stall-robust, unclamped") {
    val floors = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0, "nofloor" -> 0.0)
    // per-query samples; a's 90 s stall must not move the median (min
    // sample wins per query), nofloor/zero-floor/unknown queries skipped
    val samples = Seq(
      "a" -> Seq(1.5, 90.0, 1.6),      // best 1.5 -> ratio 1.5
      "b" -> Seq(4.0, 3.0, 3.2),       // best 3.0 -> ratio 1.5
      "c" -> Seq(7.2, -1.0),           // failed run (-1) skipped -> 1.8
      "nofloor" -> Seq(1.0),
      "unknown" -> Seq(1.0))
    assert(Bench.robustFactor(samples, floors) == 1.5)
    // UNCLAMPED: a faster-than-floor sweep reports < 1 (descriptive
    // statistic for cross-round normalization, not a rerun threshold)
    val fast = Seq("a" -> Seq(0.5), "b" -> Seq(1.0), "c" -> Seq(2.0))
    assert(Bench.robustFactor(fast, floors) == 0.5)
    // empty -> neutral 1.0
    assert(Bench.robustFactor(Seq.empty, floors) == 1.0)
  }

  test("compactLine carries the fs factor next to the host factor") {
    val line = Bench.compactLine(12.5, 42, officials(42), Seq.empty,
      1.2, "out.json", "sfX", robustFactor = 1.1, fsFactor = 2.37)
    assert(line.contains("\"fs_factor\":2.370"))
    assert(line.length <= 1500)
  }

  test("loadClasses reads fs/compute tags and ignores everything else") {
    val f = java.io.File.createTempFile("classes", ".json")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      """{"_comment": "why the tags exist", "q270_ivf_append": "fs",
        |"q6_join_fanout": "compute", "q999_bogus": "gpu"}""".stripMargin)
    val m = Bench.loadClasses(f.getAbsolutePath)
    assert(m("q270_ivf_append") == "fs")
    assert(m("q6_join_fanout") == "compute")
    assert(!m.contains("q999_bogus"), "unknown class values are dropped")
    assert(!m.contains("_comment"))
    assert(Bench.loadClasses("/nonexistent/classes.json").isEmpty)
    f.delete()
  }

  test("the committed classes file tags only registered queries, fs floors exist") {
    val classes = Bench.loadClasses("scripts/bench_classes.json")
    assert(classes.nonEmpty, "scripts/bench_classes.json must ship tags")
    val registry = SparkEntry.queries.keySet
    val unknown = classes.keySet.diff(registry)
    assert(unknown.isEmpty, s"tags for unregistered queries: $unknown")
    // the round-8 mispriced pair MUST be fs-tagged — the reason the
    // class split exists
    assert(classes.get("q270_ivf_append").contains("fs"))
    assert(classes.get("q274_stream_ivf_ingest").contains("fs"))
    // and every fs-tagged query needs a committed floor to gate against
    val floors = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("scripts/bench_floors.json")), "UTF-8")
      """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val unfloored = classes.keySet.filterNot(floors.contains)
    assert(unfloored.isEmpty, s"fs-tagged but no floor: $unfloored")
    assert(floors.get(Bench.FsCanaryKey).exists(_ > 0),
      "floors file must carry the __fs_canary__ floor")
  }

  test("CodegenWatch counts CodeGenerator errors and codegen-disabled warns") {
    graft.core.CodegenWatch.install()
    val before = graft.core.CodegenWatch.fallbacks()
    // the two real signal paths, driven through the same loggers Spark uses
    org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .error("synthetic janino failure")
    org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.execution.WholeStageCodegenExec")
      .warn("Whole-stage codegen disabled for plan (id=0)")
    assert(graft.core.CodegenWatch.fallbacks() == before + 2)
    // unrelated logger noise is not counted
    org.apache.logging.log4j.LogManager.getLogger("some.Other").error("x")
    assert(graft.core.CodegenWatch.fallbacks() == before + 2)
  }

  test("hostFactor is the clamped median of canary/floor ratios") {
    val floors = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0)
    // uniformly 1.5x-slow host
    assert(Bench.hostFactor(Seq(("a", 1.5), ("b", 3.0), ("c", 6.0)), floors) == 1.5)
    // median is robust to one stalled canary
    assert(Bench.hostFactor(Seq(("a", 1.5), ("b", 3.0), ("c", 40.0)), floors) == 1.5)
    // faster-than-floor host never LOWERS floors
    assert(Bench.hostFactor(Seq(("a", 0.5), ("b", 1.0), ("c", 2.0)), floors) == 1.0)
    // no usable canaries → neutral
    assert(Bench.hostFactor(Seq(("zz", 9.0)), floors) == 1.0)
    assert(Bench.hostFactor(Seq.empty, floors) == 1.0)
  }

  test("calibrated floors keep a uniformly slow host under 10 reruns") {
    // simulate: floors f, host 1.5x slow → medians = 1.5*f*noise;
    // with hf=1.5 the 2x rule fires only on noise > 2
    val floors = (1 to 271).map(i => (s"q$i", 0.1 + i * 0.003)).toMap
    val hf = 1.5
    // host noise up to 1.42x on top of the uniform 1.5x factor — the
    // round-5 driver profile (every rerun landed 1.5-1.9x raw floor)
    val medians = floors.map { case (k, f) =>
      (k, f * 1.5 * (1.0 + 0.42 * ((k.hashCode % 7).abs / 6.0)))
    }
    val fired = medians.count { case (k, m) => m > 2 * floors(k) * hf }
    assert(fired == 0, s"expected 0 reruns on a clean 1.5x host, got $fired")
    // the SAME medians against uncalibrated floors fire broadly — the
    // round-5 52-rerun failure mode this calibration removes
    val uncal = medians.count { case (k, m) => m > 2 * floors(k) }
    assert(uncal > 10, s"contrast case should fire broadly, got $uncal")
  }
}
