package graft.core

import graft.SparkSpec
import graft.plans.ZoneMapRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zone-map pruning on the one path the engine has: the footers of a
  * committed [[Snapshots]] version's own files, read back through
  * [[ZoneMapRule]] on the standard read path. The spec session runs the
  * rule itself; the unpruned reference is the same read with the rule
  * removed. Expected survivor sets come from a per-file min/max
  * aggregate over the data ([[Layout.fileRanges]]'s query). */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try body finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
  }

  /** `body` planned without the rule — the unpruned reference. */
  private def unpruned[T](body: => T): T = {
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules.filterNot(_ == ZoneMapRule)
    try body finally spark.experimental.extraOptimizations = rules
  }

  /** Table `t` of a fresh Snapshots root, laid out by `write` in the
    * staged version. Returns the committed version's directory. */
  private def committed(prefix: String)(write: String => Unit): String = {
    val txn = Snapshots.begin(spark, scratch(prefix))
    write(txn.dir("t"))
    txn.commit().path("t")
  }

  /** `body` with timestamps written as parquet type `t`: INT64
    * TIMESTAMP_MICROS carries footer stats, Spark's default INT96 none. */
  private def tsWritten[T](t: String)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, t)
    try body finally spark.conf.unset(key)
  }

  private def clustered(n: Int, files: Int)(dir: String): Unit =
    Layout.writeRangeClustered(
      spark.range(n.toLong).select(col("id"),
        (col("id") * 7 % 1000).as("v")),
      dir, files, col("id"))

  private def norm(f: String) = f.replaceFirst("^file:/+", "/")

  private def files(df: DataFrame): Set[String] = df.inputFiles.map(norm).toSet

  /** What the rule must keep for `bands` (column, lo, hi), from a per-file
    * min/max aggregate over the data: the files whose every band
    * intersects their [min, max]. An all-null or empty file matches none. */
  private def survivors(tbl: String, bands: (String, Any, Any)*): Set[String] =
    unpruned(spark.read.parquet(tbl)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"), bands.flatMap { case (c, _, _) =>
        Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max")) }: _*)
      .where(bands.map { case (c, lo, hi) =>
        col(s"${c}__max") >= lit(lo) && col(s"${c}__min") <= lit(hi) }.reduce(_ && _))
      .select("file").as[String].collect().map(norm).toSet)

  test("pruned read equals direct filter on a range-clustered table, and prunes") {
    val tbl = committed("zm_tbl")(clustered(10000, 10))
    def banded = spark.read.parquet(tbl).where(col("id").between(2000L, 2999L))
    val all = unpruned(banded.inputFiles.length)
    assert(all >= 8, s"expected ~10 files, got $all")
    withRule {
      val hit = files(banded)
      assert(hit.nonEmpty && hit.size < all / 2,
        s"clustered band should skip most files: ${hit.size}/$all")
      assert(hit == survivors(tbl, ("id", 2000L, 2999L)))
      val pruned = banded.select("id", "v").as[(Long, Long)].collect().toSet
      val direct = unpruned(banded.select("id", "v").as[(Long, Long)].collect().toSet)
      assert(pruned == direct && direct.size == 1000)
    }
  }

  test("straddling zones re-filter: correctness never depends on layout") {
    // adversarial layout: files keyed by v so id zones all overlap
    val tbl = committed("zm_rnd")(dir =>
      spark.range(5000).select(col("id"), (col("id") % 7).as("v"))
        .repartition(6, col("v"))
        .write.mode("overwrite").parquet(dir))
    val pruned = withRule(spark.read.parquet(tbl).where(col("id").between(100L, 199L))
      .select("id").as[Long].collect().toSet)
    assert(pruned == (100L to 199L).toSet,
      "unclustered layout must still return exact rows (zones just don't skip)")
  }

  test("empty survivor set returns an empty frame with the table schema") {
    val tbl = committed("zm_empty")(clustered(1000, 4))
    withRule {
      val out = spark.read.parquet(tbl).where(col("id").between(50000L, 60000L))
      assert(out.inputFiles.isEmpty)
      assert(out.columns.toSeq == Seq("id", "v") && out.count() == 0)
    }
  }

  test("all-null files are pruned for range predicates; mixed files survive") {
    val tbl = committed("zm_null") { dir =>
      spark.range(100).select(lit(null).cast("long").as("k"), col("id").as("payload"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      spark.range(100).select((col("id") + 1000L).as("k"), col("id").as("payload"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    withRule {
      val banded = spark.read.parquet(tbl).where(col("k").between(1000L, 1010L))
      assert(banded.inputFiles.length == 1, s"all-null file must be skipped: ${banded.inputFiles.toSeq}")
      assert(files(banded) == survivors(tbl, ("k", 1000L, 1010L)))
      assert(banded.count() == 11)
    }
  }

  test("timestamps prune in native ordering") {
    val tbl = committed("zm_ts") { dir =>
      Seq("2024-01-01", "2024-02-01").foreach { d => tsWritten("TIMESTAMP_MICROS")(
        spark.range(100).select(col("id"), lit(d).cast("timestamp").as("ts"))
          .coalesce(1).write.mode("append").parquet(dir))
      }
    }
    val (lo, hi) = (java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
      java.sql.Timestamp.valueOf("2024-02-15 00:00:00"))
    withRule {
      val feb = spark.read.parquet(tbl).where(col("ts").between(lo, hi))
      assert(feb.inputFiles.length == 1, s"only the February file should survive: ${feb.inputFiles.toSeq}")
      assert(files(feb) == survivors(tbl, ("ts", lo, hi)))
      assert(feb.count() == 100)
    }
  }

  test("an INT96 timestamp column has no zone: never pruned, right rows") {
    val tbl = committed("zm_int96") { dir =>
      Seq("2024-01-01", "2024-02-01").foreach { d => tsWritten("INT96")(
        spark.range(100).select(col("id"), lit(d).cast("timestamp").as("ts"))
          .coalesce(1).write.mode("append").parquet(dir))
      }
    }
    val (lo, hi) = (java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
      java.sql.Timestamp.valueOf("2024-02-15 00:00:00"))
    withRule {
      val feb = spark.read.parquet(tbl).where(col("ts").between(lo, hi))
      assert(feb.inputFiles.length == 2, s"INT96 must not prune: ${feb.inputFiles.toSeq}")
      assert(feb.count() == 100)
    }
  }

  test("q263 layout: a 3-month band on date-clustered orders skips most files") {
    val tbl = committed("zm_orders")(dir =>
      Layout.writeRangeClustered(Tables.table(spark, "/root/testdata/sf0.001", "orders"),
        dir, 16, col("o_orderdate")))
    val (lo, hi) = (java.sql.Timestamp.valueOf("1997-03-01 00:00:00"),
      java.sql.Timestamp.valueOf("1997-05-31 00:00:00"))
    def banded = spark.read.parquet(tbl).where(col("o_orderdate").between(lo, hi))
    val all = unpruned(banded.inputFiles.length)
    withRule {
      val hit = files(banded)
      // ~3 months of an ~80-month corpus over 16 range-files → ≤3 survivors
      assert(hit.nonEmpty && hit.size <= 3 && all >= 12,
        s"date band should touch ≤3 of $all files, got ${hit.size}")
      assert(hit == survivors(tbl, ("o_orderdate", lo, hi)))
    }
  }

  test("z-order + conjunctive zones: either dimension prunes, together multiplicatively") {
    // 64x64 grid, 16 files: z-order clusters BOTH x and y per file
    // y is integral: a double column has no zone
    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"), expr("id div 64").as("y"))
    val tbl = committed("zm_z")(
      Layout.writeZOrdered(grid, _, 16, col("x"), col("y"), bitsPerDim = 6))
    val xBand = col("x").between(0L, 15L); val yBand = col("y").between(0L, 15L)
    def scan(t: String, c: org.apache.spark.sql.Column) = spark.read.parquet(t).where(c)
    val all = unpruned(scan(tbl, xBand).inputFiles.length)
    withRule {
      val xOnly = files(scan(tbl, xBand))
      val yOnly = files(scan(tbl, yBand))
      val both = files(scan(tbl, xBand && yBand))
      assert(xOnly.size < all && yOnly.size < all,
        s"z-order must let EITHER dimension prune: x=${xOnly.size} y=${yOnly.size} of $all")
      assert(both.size < xOnly.size && both.size < yOnly.size,
        s"conjunction must prune beyond either band: ${both.size} vs ${xOnly.size}/${yOnly.size}")
      assert(both == survivors(tbl, ("x", 0L, 15L), ("y", 0L, 15L)))
      assert(scan(tbl, xBand && yBand).count() == unpruned(scan(tbl, xBand && yBand).count()))
    }
    // contrast: single-column range clustering cannot prune on y
    val tblR = committed("zm_r")(Layout.writeRangeClustered(grid, _, 16, col("x")))
    val allR = unpruned(scan(tblR, yBand).inputFiles.length)
    assert(withRule(scan(tblR, yBand).inputFiles.length) == allR,
      s"x-clustered layout should straddle every y band of $allR files")
  }

  test("deleted files drop out via the live-listing intersection") {
    val tbl = committed("zm_del")(clustered(2000, 4))
    val victim = new java.io.File(norm(unpruned(spark.read.parquet(tbl).inputFiles).min))
    val rows = spark.read.parquet(victim.getPath).count()
    assert(victim.delete(), s"test setup: could not delete $victim")
    withRule {
      val banded = spark.read.parquet(tbl).where(col("id").between(0L, 5000L))
      assert(banded.inputFiles.length == 3,
        "stale zone-map entries for deleted files must not reach the scan")
      assert(banded.count() == 2000 - rows)
    }
  }

  test("partitioned table: zone map prunes correctly inside key= subdirs") {
    val tbl = committed("zm_part")(dir =>
      spark.range(1000L)
        .select(col("id"), (col("id") % 4).as("k"), (col("id") * 3 % 500).as("v"))
        .repartition(col("k"))
        .write.partitionBy("k").mode("overwrite").parquet(dir))
    withRule {
      val got = spark.read.parquet(tbl).where(col("id").between(100L, 199L))
      assert(files(got) == survivors(tbl, ("id", 100L, 199L)))
      assert(got.count() == 100L,
        "pruned read on a partitioned table must return the real rows")
      // partition column survives (basePath) and is correct
      assert(got.select("k").distinct().count() == 4L)
      assert(got.where(col("k") =!= col("id") % 4).count() == 0L)
    }
  }

  test("ZoneMapRule: the STANDARD read path prunes automatically, result-identically") {
    // one file is written with no footer stats: its zones are unknown,
    // and a file with an unknown zone always survives — even this one,
    // whose rows all lie outside the band
    val tbl = committed("zm_auto") { dir =>
      clustered(10000, 10)(dir)
      Seq((99998L, -1L), (99999L, -2L)).toDF("id", "v").coalesce(1)
        .write.option("parquet.column.statistics.enabled", "false")
        .mode("append").parquet(dir)
    }
    def banded = Snapshots.open(spark, tbl.substring(0, tbl.indexOf("/t/v=")))
      .read(spark, "t").where(col("id") >= 2000L && col("id") <= 2999L)
    val all = unpruned(banded.inputFiles.length)
    val unknown = spark.read.parquet(tbl).where(col("v") < 0L)
      .select(input_file_name()).as[String].collect().map(norm).toSet
    withRule {
      assert(banded.inputFiles.length < all,
        s"rule must shrink the scan: ${banded.inputFiles.length}/$all")
      val expected = survivors(tbl, ("id", 2000L, 2999L))
      assert(unknown.size == 1 && (unknown & expected).isEmpty)
      assert(files(banded) == expected ++ unknown,
        "a file with no footer stats must survive pruning unconditionally")
      val got = banded.select("id", "v").as[(Long, Long)].collect().toSet
      assert(got == unpruned(banded.select("id", "v").as[(Long, Long)].collect().toSet))
      assert(got.size == 1000)
    }
  }

  test("ZoneMapRule records files pruned and total on the trace (q279's read shape)") {
    val tbl = committed("zm_trace")(clustered(10000, 10))
    // the plain read q279 runs: a committed version, a closed range band
    def banded = spark.read.parquet(tbl)
      .where(col("id") >= 2000L && col("id") <= 2999L)
    val all = unpruned(banded.inputFiles.length)
    withRule {
      val (n, trace) = Trace.collect(spark)(Trace.span("q279")(banded.count()))
      val attrs = trace.spans.find(_.name == "q279").get.attrs.toMap
      assert(n == 1000)
      assert(attrs.get("files_total").contains(all))
      assert(attrs.get("files_pruned").contains(all - banded.inputFiles.length))
      assert(attrs("files_pruned").asInstanceOf[Int] > 0)
      assert(!attrs.contains("zonemap_skipped"))
    }
  }

  test("an unreadable footer leaves the plan unpruned and records zonemap_skipped") {
    val tbl = committed("zm_trunc") { dir =>
      clustered(4000, 4)(dir)
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).maxBy(_.getName)
      val bytes = java.nio.file.Files.readAllBytes(part.toPath)
      java.nio.file.Files.write(part.toPath, bytes.take(bytes.length / 2))
      new java.io.File(part.getParent, s".${part.getName}.crc").delete()
    }
    def banded = spark.read.schema("id long, v long").parquet(tbl)
      .where(col("id").between(1000L, 1999L))
    withRule {
      // with no trace open nothing is recorded, and the plan still builds
      assert(banded.inputFiles.length == 4)
      // a failed read is not cached: the next planning pass retries
      val (n, trace) = Trace.collect(spark)(Trace.span("q")(banded.inputFiles.length))
      assert(n == 4, "an unreadable footer must leave the scan unpruned")
      val attrs = trace.spans.find(_.name == "q").get.attrs.toMap
      assert(attrs.get("zonemap_skipped").exists(_.toString.contains("Exception")), attrs)
      assert(!attrs.contains("files_pruned"))
    }
  }

  test("a version staged by a plain txn.stage prunes, with no stats step") {
    val root = scratch("zm_stage")
    val txn = Snapshots.begin(spark, root)
    txn.stage("t", spark.range(4000L).repartitionByRange(4, col("id"))
      .sortWithinPartitions(col("id")).toDF())
    txn.commit()
    withRule {
      val banded = Snapshots.open(spark, root).read(spark, "t").where(col("id") < 500L)
      assert(banded.inputFiles.length == 1, s"${banded.inputFiles.length} of 4 files")
      assert(banded.count() == 500)
    }
  }

  test("planning a banded read of a fresh version submits no Spark job") {
    val tbl = committed("zm_jobs")(clustered(4000, 4))
    val root = tbl.substring(0, tbl.indexOf("/t/v="))
    withRule {
      var scanned = -1
      val jobs = jobsDuring {
        scanned = Snapshots.open(spark, root).read(spark, "t")
          .where(col("id").between(0L, 499L)).inputFiles.length
      }
      assert(scanned == 1, s"$scanned of 4 files")
      assert(jobs == 0, s"planning ran $jobs Spark jobs")
    }
  }

  test("ZoneMapRule is inert without a _zonemap synopsis or prunable conjunct") {
    withRule {
      // no footer stats: every zone is unknown
      val bare = committed("zm_inert")(dir => spark.range(2000L)
        .select(col("id"), (col("id") * 7 % 1000).as("v"))
        .repartitionByRange(4, col("id")).write
        .option("parquet.column.statistics.enabled", "false").parquet(dir))
      val noStats = spark.read.parquet(bare).where(col("id") <= 100L)
      assert(noStats.inputFiles.length == 4, "no stats -> untouched scan")
      assert(noStats.count() == 101)
      val tbl = committed("zm_inert_map")(clustered(2000, 4))
      // a filter the extractor must ignore: function of the column
      val fn = spark.read.parquet(tbl).where(abs(col("id")) <= lit(100L))
      assert(fn.inputFiles.length == 4, "non-bare conjunct must not prune")
      assert(fn.count() == 101)
      // a directory not named like a version is never probed
      val plain = scratch("zm_plain") + "/t"
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(tbl), new java.io.File(plain))
      val onPlain = spark.read.parquet(plain).where(col("id") <= 100L)
      assert(onPlain.inputFiles.length == 4, "only version roots are probed")
      assert(spark.read.parquet(tbl).where(col("id") <= 100L).inputFiles.length < 4)
    }
  }

  test("ZoneMapRule: mixed-case mapped columns prune (case-insensitive stat lookup)") {
    val tbl = committed("zm_case")(
      Layout.writeRangeClustered(
        spark.range(8000L).select(col("id").as("OrderKey"), (col("id") % 7).as("V")),
        _, 8, col("OrderKey")))
    withRule {
      // the footers carry OrderKey; a case-SENSITIVE lookup of a
      // lowercased band name would silently disable pruning
      val banded = spark.read.parquet(tbl)
        .where(col("OrderKey") >= 1000L && col("OrderKey") <= 1999L)
      assert(banded.inputFiles.length < 8,
        s"mixed-case column must prune: ${banded.inputFiles.length}/8")
      assert(banded.count() == 1000)
    }
  }

  test("ZoneMapRule: under caseSensitive=true a case-twin column never reads " +
      "the other's zones") {
    spark.conf.set("spark.sql.caseSensitive", "true")
    try withRule {
      // two DISTINCT columns differing only in case; k is anti-correlated
      // with K — pruning k on K's zones would silently lose rows
      val tbl = committed("zm_cs")(
        Layout.writeRangeClustered(
          spark.range(4000L).select(col("id").as("K"), (lit(3999L) - col("id")).as("k")),
          _, 4, col("K")))
      val onTwin = spark.read.parquet(tbl)
        .where(col("k") >= 3900L) // the OTHER column
      assert(files(onTwin) == survivors(tbl, ("k", 3900L, Long.MaxValue)),
        "a filter on the case-twin column prunes on its own zones, not K's")
      assert(files(onTwin) != survivors(tbl, ("K", 3900L, Long.MaxValue)))
      assert(onTwin.count() == 100)
      // the mapped column itself still prunes under case-sensitive
      val onK = spark.read.parquet(tbl).where(col("K") >= 3900L)
      assert(onK.inputFiles.length < 4, "exact-case match must still prune")
      assert(onK.count() == 100)
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("ZoneMapRule: IN lists prune — both In and the InSet conversion") {
    val tbl = committed("zm_in")(clustered(10000, 10))
    withRule {
      val all = unpruned(spark.read.parquet(tbl).inputFiles.length)
      // 3 values (stays an In): all inside one ~1000-row zone
      val small = spark.read.parquet(tbl)
        .where(col("id").isin(2100L, 2200L, 2300L))
      assert(small.inputFiles.length < all,
        s"In must prune: ${small.inputFiles.length}/$all")
      assert(small.count() == 3)
      // 12 values (> inSetConversionThreshold 10 → InSet), two zones
      val vals = (0 until 12).map(i => 2000L + i * 80) // 2000..2880
      val big = spark.read.parquet(tbl).where(col("id").isin(vals: _*))
      assert(big.inputFiles.length < all,
        s"InSet must prune: ${big.inputFiles.length}/$all")
      assert(big.count() == 12)
      // a value set straddling zones keeps every intersecting file: the
      // result must equal the unpruned truth
      val truth = unpruned(big.select("id").as[Long].collect().toSet)
      assert(big.select("id").as[Long].collect().toSet == truth)
    }
  }

  test("ZoneMapRule: LIKE prefix, BETWEEN and OR-of-bands prune; poisoned OR never does") {
    // 8 files clustered on a zero-padded string key: s000000..s009999
    val tbl = committed("zm_like")(
      Layout.writeRangeClustered(
        spark.range(10000L).select(col("id"), format_string("s%06d", col("id")).as("sk")),
        _, 8, col("sk")))
    withRule {
      val all = unpruned(spark.read.parquet(tbl).inputFiles.length)
      // pure prefix (LikeSimplification → StartsWith): one ~1250-row zone
      val pre = spark.read.parquet(tbl).where(col("sk").like("s0023%"))
      assert(pre.inputFiles.length < all,
        s"prefix must prune: ${pre.inputFiles.length}/$all")
      assert(pre.count() == 100) // s002300..s002399
      // prefix+suffix ('p%s' → StartsWith AND EndsWith): the StartsWith
      // conjunct still prunes; the retained Filter applies the suffix
      val ps = spark.read.parquet(tbl).where(col("sk").like("s0023%7"))
      assert(ps.inputFiles.length < all)
      assert(ps.count() == 10) // s0023_7
      // multi-wildcard pattern (stays a raw Like): the LEADING literal
      // run prunes, the Filter rechecks the rest
      val multi = spark.read.parquet(tbl).where(col("sk").like("s0023%4%"))
      assert(multi.inputFiles.length < all)
      assert(multi.count() == 19) // last two digits contain a '4'
      // a %-leading pattern must NOT prune (no leading literal)
      val noPre = spark.read.parquet(tbl).where(col("sk").like("%0023"))
      assert(noPre.inputFiles.length == all)
      assert(noPre.count() == 1)
      // BETWEEN folds to two range conjuncts at analysis — prunes as-is
      val btw = spark.read.parquet(tbl).where(col("id").between(2000L, 2999L))
      assert(btw.inputFiles.length < all)
      assert(btw.count() == 1000)
      // OR of two bands on one column: union of intervals, both ends' zones
      val orq = spark.read.parquet(tbl)
        .where(col("id") < 500L || col("id") >= 9500L)
      assert(orq.inputFiles.length < all,
        s"OR-of-bands must prune: ${orq.inputFiles.length}/$all")
      assert(orq.count() == 1000)
      // OR across two DIFFERENT mapped columns is still sound
      val orx = spark.read.parquet(tbl)
        .where(col("id") < 500L || col("sk") >= "s009500")
      assert(orx.inputFiles.length < all)
      assert(orx.count() == 1000)
      // a poisoned OR (one non-band disjunct) must not prune — the
      // unextractable side could match rows in any file
      val poisoned = spark.read.parquet(tbl)
        .where(col("id") < 500L || length(col("sk")) === 99)
      assert(poisoned.inputFiles.length == all, "poisoned OR must not prune")
      assert(poisoned.count() == 500)
      // result-identity: pruned OR equals the unpruned truth
      val truth = unpruned(orq.select("id").as[Long].collect().toSet)
      assert(orq.select("id").as[Long].collect().toSet == truth)
    }
  }

  test("ZoneMapRule: order-preserving casts prune; non-monotone shapes never do") {
    // 4 month-files of timestamps; the footers carry TIMESTAMP(MICROS) stats
    val tbl = committed("zm_cast") { dir =>
      Seq("2024-01", "2024-02", "2024-03", "2024-04").zipWithIndex.foreach { case (m, i) =>
        tsWritten("TIMESTAMP_MICROS")(spark.range(100).select(col("id") + i * 100,
            lit(s"$m-15 12:00:00").cast("timestamp").as("ts"))
          .coalesce(1).write.mode("append").parquet(dir))
      }
    }
    withRule {
      // timestamp→date is monotone: the band casts the zone's timestamp
      // stats through the SAME cast and prunes to the one March file
      val mar = spark.read.parquet(tbl)
        .where(col("ts").cast("date") === lit("2024-03-15").cast("date"))
      assert(mar.inputFiles.length == 1,
        s"ts→date cast must prune to 1 file: ${mar.inputFiles.length}/4")
      assert(mar.count() == 100)
      // a function of the column must stay unprunable
      val fn = spark.read.parquet(tbl)
        .where(date_format(col("ts"), "yyyy-MM") === "2024-03")
      assert(fn.inputFiles.length == 4, "non-cast shapes must not prune")
      assert(fn.count() == 100)
    }
  }

  test("ZoneMapRule: a multi-root read is never rewritten") {
    val tblA = committed("zm_ma")(clustered(4000, 4))
    // B's ids live in a disjoint range, so A's band matches none of them
    val tblB = committed("zm_mb")(dir => Layout.writeRangeClustered(
      spark.range(4000L).select((col("id") + 100000L).as("id"), (col("id") % 7).as("v")),
      dir, 4, col("id")))
    withRule {
      val band = spark.read.parquet(tblA, tblB)
        .where(col("id") >= 1000L && col("id") <= 1999L)
      assert(band.inputFiles.length == 8, "a multi-root scan keeps every file")
      assert(band.count() == 1000)
    }
  }
}
