package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(n: Int, files: Int, path: String): Unit =
    Layout.writeRangeClustered(
      spark.range(n.toLong).select(col("id"),
        (col("id") * 7 % 1000).as("v")),
      path, files, col("id"))

  test("pruned read equals direct filter on a range-clustered table, and prunes") {
    val tbl = scratch("zm_tbl"); val zm = scratch("zm_map")
    clustered(10000, 10, tbl)
    ZoneMap.build(spark, tbl, Seq("id", "v"), zm)
    val all = ZoneMap.listDataFiles(spark, tbl)
    assert(all.size >= 8, s"expected ~10 files, got ${all.size}")
    val hit = ZoneMap.prunedFiles(spark, tbl, zm, "id", 2000L, 2999L)
    assert(hit.nonEmpty && hit.size < all.size / 2,
      s"clustered band should skip most files: ${hit.size}/${all.size}")
    val pruned = ZoneMap.readPruned(spark, tbl, zm, "id", 2000L, 2999L)
      .select("id", "v").as[(Long, Long)].collect().toSet
    val direct = spark.read.parquet(tbl)
      .where(col("id").between(2000L, 2999L))
      .select("id", "v").as[(Long, Long)].collect().toSet
    assert(pruned == direct && direct.size == 1000)
  }

  test("straddling zones re-filter: correctness never depends on layout") {
    val tbl = scratch("zm_rnd"); val zm = scratch("zm_rnd_map")
    // adversarial layout: files keyed by v so id zones all overlap
    spark.range(5000).select(col("id"), (col("id") % 7).as("v"))
      .repartition(6, col("v"))
      .write.mode("overwrite").parquet(tbl)
    ZoneMap.build(spark, tbl, Seq("id"), zm)
    val pruned = ZoneMap.readPruned(spark, tbl, zm, "id", 100L, 199L)
      .select("id").as[Long].collect().toSet
    assert(pruned == (100L to 199L).toSet,
      "unclustered layout must still return exact rows (zones just don't skip)")
  }

  test("empty survivor set returns an empty frame with the table schema") {
    val tbl = scratch("zm_empty"); val zm = scratch("zm_empty_map")
    clustered(1000, 4, tbl)
    ZoneMap.build(spark, tbl, Seq("id"), zm)
    val out = ZoneMap.readPruned(spark, tbl, zm, "id", 50000L, 60000L)
    assert(out.columns.toSeq == Seq("id", "v") && out.count() == 0)
    assert(ZoneMap.prunedFiles(spark, tbl, zm, "id", 50000L, 60000L).isEmpty)
  }

  test("all-null files are pruned for range predicates; mixed files survive") {
    val tbl = scratch("zm_null"); val zm = scratch("zm_null_map")
    val nulls = spark.range(100).select(lit(null).cast("long").as("k"),
      col("id").as("payload"))
    val vals = spark.range(100).select((col("id") + 1000L).as("k"),
      col("id").as("payload"))
    nulls.coalesce(1).write.mode("overwrite").parquet(tbl)
    vals.coalesce(1).write.mode("append").parquet(tbl)
    ZoneMap.build(spark, tbl, Seq("k"), zm)
    val hit = ZoneMap.prunedFiles(spark, tbl, zm, "k", 1000L, 1010L)
    assert(hit.size == 1, s"all-null file must be skipped: $hit")
    assert(ZoneMap.readPruned(spark, tbl, zm, "k", 1000L, 1010L).count() == 11)
  }

  test("refresh stats only new files; timestamps prune in native ordering") {
    val tbl = scratch("zm_ref"); val zm = scratch("zm_ref_map")
    val day1 = spark.range(100).select(col("id"),
      lit("2024-01-01").cast("timestamp").as("ts"))
    val day2 = spark.range(100).select(col("id"),
      lit("2024-02-01").cast("timestamp").as("ts"))
    day1.coalesce(1).write.mode("overwrite").parquet(tbl)
    ZoneMap.build(spark, tbl, Seq("ts"), zm)
    day2.coalesce(1).write.mode("append").parquet(tbl)
    assert(ZoneMap.refresh(spark, tbl, Seq("ts"), zm) == 1)
    assert(ZoneMap.refresh(spark, tbl, Seq("ts"), zm) == 0, "idempotent")
    val feb = ZoneMap.prunedFiles(spark, tbl, zm, "ts",
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
      java.sql.Timestamp.valueOf("2024-02-15 00:00:00"))
    assert(feb.size == 1, s"only the February file should survive: $feb")
    assert(ZoneMap.readPruned(spark, tbl, zm, "ts",
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
      java.sql.Timestamp.valueOf("2024-02-15 00:00:00")).count() == 100)
  }

  test("q263 layout: a 3-month band on date-clustered orders skips most files") {
    val tbl = scratch("zm_orders"); val zm = scratch("zm_orders_map")
    Layout.writeRangeClustered(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
      tbl, 16, col("o_orderdate"))
    ZoneMap.build(spark, tbl, Seq("o_orderdate"), zm)
    val all = ZoneMap.listDataFiles(spark, tbl)
    val hit = ZoneMap.prunedFiles(spark, tbl, zm, "o_orderdate",
      java.sql.Timestamp.valueOf("1997-03-01 00:00:00"),
      java.sql.Timestamp.valueOf("1997-05-31 00:00:00"))
    // ~3 months of an ~80-month corpus over 16 range-files → ≤3 survivors
    assert(hit.nonEmpty && hit.size <= 3 && all.size >= 12,
      s"date band should touch ≤3 of ${all.size} files, got ${hit.size}")
  }

  test("z-order + conjunctive zones: either dimension prunes, together multiplicatively") {
    val tbl = scratch("zm_z"); val zm = scratch("zm_z_map")
    // 64x64 grid, 16 files: z-order clusters BOTH x and y per file
    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).as("y"))
    Layout.writeZOrdered(grid, tbl, 16, col("x"), col("y"), bitsPerDim = 6)
    ZoneMap.build(spark, tbl, Seq("x", "y"), zm)
    val all = ZoneMap.listDataFiles(spark, tbl).size
    val xOnly = ZoneMap.prunedFilesMulti(spark, tbl, zm,
      Seq(("x", 0L, 15L))).size
    val yOnly = ZoneMap.prunedFilesMulti(spark, tbl, zm,
      Seq(("y", 0L, 15L))).size
    val both = ZoneMap.prunedFilesMulti(spark, tbl, zm,
      Seq(("x", 0L, 15L), ("y", 0L, 15L))).size
    assert(xOnly < all && yOnly < all,
      s"z-order must let EITHER dimension prune: x=$xOnly y=$yOnly of $all")
    assert(both < xOnly && both < yOnly,
      s"conjunction must prune beyond either band: $both vs $xOnly/$yOnly")
    // contrast: single-column range clustering cannot prune on y
    val tblR = scratch("zm_r"); val zmR = scratch("zm_r_map")
    Layout.writeRangeClustered(grid, tblR, 16, col("x"))
    ZoneMap.build(spark, tblR, Seq("x", "y"), zmR)
    val yOnRange = ZoneMap.prunedFilesMulti(spark, tblR, zmR,
      Seq(("y", 0L, 15L))).size
    val allR = ZoneMap.listDataFiles(spark, tblR).size
    assert(yOnRange == allR,
      s"x-clustered layout should straddle every y band: $yOnRange/$allR")
  }

  test("deleted files drop out via the live-listing intersection") {
    val tbl = scratch("zm_del"); val zm = scratch("zm_del_map")
    clustered(2000, 4, tbl)
    ZoneMap.build(spark, tbl, Seq("id"), zm)
    val before = ZoneMap.prunedFiles(spark, tbl, zm, "id", 0L, 5000L)
    val victim = new java.io.File(new java.net.URI("file://" + before.head
      .replaceFirst("^file:/+", "/")))
    assert(victim.delete(), s"test setup: could not delete $victim")
    val after = ZoneMap.prunedFiles(spark, tbl, zm, "id", 0L, 5000L)
    assert(after.size == before.size - 1,
      "stale zone-map entries for deleted files must not reach the scan")
  }

  test("partitioned table: zone map prunes correctly inside key= subdirs") {
    // listDataFiles must walk partition subdirectories — a top-level-only
    // listing made prunedFiles drop every mapped file and readPruned
    // silently returned ZERO rows on partitioned layouts
    val tbl = scratch("zm_part"); val zm = scratch("zm_part_map")
    spark.range(1000L)
      .select(col("id"), (col("id") % 4).as("k"),
        (col("id") * 3 % 500).as("v"))
      .repartition(col("k"))
      .write.partitionBy("k").mode("overwrite").parquet(tbl)
    ZoneMap.build(spark, tbl, Seq("id"), zm)
    val live = ZoneMap.listDataFiles(spark, tbl)
    assert(live.nonEmpty, "recursive listing must see partitioned files")
    val got = ZoneMap.readPruned(spark, tbl, zm, "id", 100L, 199L)
    assert(got.count() == 100L,
      "pruned read on a partitioned table must return the real rows")
    // partition column survives (basePath) and is correct
    assert(got.select("k").distinct().count() == 4L)
    assert(got.where(col("k") =!= col("id") % 4).count() == 0L)
  }

  test("ZoneMapRule: the STANDARD read path prunes automatically, result-identically") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_auto")
    clustered(10000, 10, tbl)
    ZoneMap.build(spark, tbl, Seq("id"), ZoneMap.defaultZonePath(tbl))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      val all = ZoneMap.listDataFiles(spark, tbl).size
      // the PLAIN read path — no readPruned anywhere
      def banded = spark.read.parquet(tbl)
        .where(col("id") >= 2000L && col("id") <= 2999L)
      assert(banded.inputFiles.length < all,
        s"rule must shrink the scan: ${banded.inputFiles.length}/$all")
      // plan-assert against the explicit-pruning truth
      def norm(f: String) = f.replaceFirst("^file:/+", "/")
      val expected = ZoneMap.prunedFiles(spark, tbl,
        ZoneMap.defaultZonePath(tbl), "id", 2000L, 2999L).map(norm).toSet
      assert(banded.inputFiles.map(norm).toSet == expected)
      // result identical to the unpruned plan
      spark.conf.set("spark.graft.zonemap.enabled", "false")
      val direct = banded.select("id", "v").as[(Long, Long)].collect().toSet
      assert(banded.inputFiles.length == all, "kill switch must disable pruning")
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      assert(banded.select("id", "v").as[(Long, Long)].collect().toSet == direct)
      assert(direct.size == 1000)
      // empty survivor band: empty result, schema intact, no scan error
      val none = spark.read.parquet(tbl).where(col("id") > 999999L)
      assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
      // freshness safety: a file landing AFTER the map was built is
      // UNMAPPED and must always be scanned — rows cannot vanish
      Seq((2500L, -1L)).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(tbl)
      ZoneMapRule.invalidateCache() // the append changed the listing
      val withNew = banded.select("id", "v").as[(Long, Long)].collect().toSet
      assert(withNew.contains((2500L, -1L)),
        "an unmapped fresh file must survive pruning unconditionally")
      assert(withNew.size == 1001)
    } finally {
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule records files pruned and total on the trace (q279's read shape)") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_trace")
    clustered(10000, 10, tbl)
    ZoneMap.build(spark, tbl, Seq("id"), ZoneMap.defaultZonePath(tbl))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      val all = ZoneMap.listDataFiles(spark, tbl).size
      // the plain read q279 runs: in-table synopsis, a closed range band
      def banded = spark.read.parquet(tbl)
        .where(col("id") >= 2000L && col("id") <= 2999L)
      val (n, trace) = Trace.collect(spark)(Trace.span("q279")(banded.count()))
      val attrs = trace.spans.find(_.name == "q279").get.attrs.toMap
      assert(n == 1000)
      assert(attrs.get("files_total").contains(all))
      assert(attrs.get("files_pruned").contains(all - banded.inputFiles.length))
      assert(attrs("files_pruned").asInstanceOf[Int] > 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("a build AFTER a negative-cached read is seen: build() itself invalidates") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_latebuild")
    clustered(8000, 8, tbl)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      def banded = spark.read.parquet(tbl)
        .where(col("id") >= 1000L && col("id") <= 1999L)
      // query FIRST: the rule negative-caches "no synopsis" for this root
      assert(banded.inputFiles.length == 8)
      // the build must invalidate that cache itself (it sat outside the
      // brace-less def body once — this is the regression pin)
      ZoneMap.build(spark, tbl, Seq("id"), ZoneMap.defaultZonePath(tbl))
      assert(banded.inputFiles.length < 8,
        "a synopsis built after a negative-cached read must start pruning")
      assert(banded.count() == 1000)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule is inert without a _zonemap synopsis or prunable conjunct") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_inert")
    clustered(2000, 4, tbl)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      val noMap = spark.read.parquet(tbl).where(col("id") <= 100L)
      assert(noMap.inputFiles.length == 4, "no synopsis -> untouched scan")
      ZoneMap.build(spark, tbl, Seq("id"), ZoneMap.defaultZonePath(tbl))
      // a filter the extractor must ignore: function of the column
      val fn = spark.read.parquet(tbl).where(abs(col("id")) <= lit(100L))
      assert(fn.inputFiles.length == 4, "non-bare conjunct must not prune")
      assert(fn.count() == 101)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule: mixed-case mapped columns prune (case-insensitive stat lookup)") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_case")
    Layout.writeRangeClustered(
      spark.range(8000L).select(col("id").as("OrderKey"),
        (col("id") % 7).as("V")),
      tbl, 8, col("OrderKey"))
    ZoneMap.build(spark, tbl, Seq("OrderKey"), ZoneMap.defaultZonePath(tbl))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      // the synopsis carries OrderKey__min/__max; a case-SENSITIVE
      // fieldIndex on the lowercased band name threw per planning pass
      // and silently disabled pruning — this is the regression pin
      val banded = spark.read.parquet(tbl)
        .where(col("OrderKey") >= 1000L && col("OrderKey") <= 1999L)
      assert(banded.inputFiles.length < 8,
        s"mixed-case column must prune: ${banded.inputFiles.length}/8")
      assert(banded.count() == 1000)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule: under caseSensitive=true a case-twin column never reads " +
      "the other's zones") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_cs")
    spark.conf.set("spark.sql.caseSensitive", "true")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      // two DISTINCT columns differing only in case; zones exist for K
      // but k is anti-correlated with it — pruning k on K's stats would
      // silently lose rows
      Layout.writeRangeClustered(
        spark.range(4000L).select(col("id").as("K"),
          (lit(3999L) - col("id")).as("k")),
        tbl, 4, col("K"))
      ZoneMap.build(spark, tbl, Seq("K"), ZoneMap.defaultZonePath(tbl))
      val onTwin = spark.read.parquet(tbl)
        .where(col("k") >= 3900L) // the OTHER column
      assert(onTwin.inputFiles.length == 4,
        "a filter on the case-twin column must not prune from K's zones")
      assert(onTwin.count() == 100)
      // the mapped column itself still prunes under case-sensitive
      val onK = spark.read.parquet(tbl).where(col("K") >= 3900L)
      assert(onK.inputFiles.length < 4, "exact-case match must still prune")
      assert(onK.count() == 100)
    } finally {
      spark.conf.set("spark.sql.caseSensitive", "false")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule: IN lists prune — both In and the InSet conversion") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_in")
    clustered(10000, 10, tbl)
    ZoneMap.build(spark, tbl, Seq("id"), ZoneMap.defaultZonePath(tbl))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      val all = ZoneMap.listDataFiles(spark, tbl).size
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
      spark.conf.set("spark.graft.zonemap.enabled", "false")
      val truth = big.select("id").as[Long].collect().toSet
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      assert(big.select("id").as[Long].collect().toSet == truth)
    } finally {
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule: LIKE prefix, BETWEEN and OR-of-bands prune; poisoned OR never does") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_like")
    // 8 files clustered on a zero-padded string key: s000000..s009999
    Layout.writeRangeClustered(
      spark.range(10000L).select(col("id"),
        format_string("s%06d", col("id")).as("sk")),
      tbl, 8, col("sk"))
    ZoneMap.build(spark, tbl, Seq("sk", "id"), ZoneMap.defaultZonePath(tbl))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      val all = ZoneMap.listDataFiles(spark, tbl).size
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
      spark.conf.set("spark.graft.zonemap.enabled", "false")
      val truth = orq.select("id").as[Long].collect().toSet
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      assert(orq.select("id").as[Long].collect().toSet == truth)
    } finally {
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule: order-preserving casts prune; non-monotone shapes never do") {
    import graft.plans.ZoneMapRule
    val tbl = scratch("zm_cast")
    // 4 month-files of timestamps; the zone map stores TIMESTAMP stats
    val months = Seq("2024-01", "2024-02", "2024-03", "2024-04")
    months.zipWithIndex.foreach { case (m, i) =>
      spark.range(100).select(col("id") + i * 100,
          lit(s"$m-15 12:00:00").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(tbl)
    }
    ZoneMap.build(spark, tbl, Seq("ts"), ZoneMap.defaultZonePath(tbl))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
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
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }

  test("ZoneMapRule: multi-root scans prune via per-root synopsis union") {
    import graft.plans.ZoneMapRule
    val tblA = scratch("zm_ma"); val tblB = scratch("zm_mb")
    clustered(4000, 4, tblA)
    // B's ids live in a disjoint range so A's band never matches them
    Layout.writeRangeClustered(
      spark.range(4000L).select((col("id") + 100000L).as("id"),
        (col("id") % 7).as("v")),
      tblB, 4, col("id"))
    ZoneMap.build(spark, tblA, Seq("id"), ZoneMap.defaultZonePath(tblA))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try {
      // only A has a synopsis: A's non-matching files prune, EVERY B
      // file survives (unmapped-root freshness safety)
      val band = spark.read.parquet(tblA, tblB)
        .where(col("id") >= 1000L && col("id") <= 1999L)
      val files = band.inputFiles
      assert(files.count(_.contains("zm_mb")) == 4,
        "files under a synopsis-less root must all survive")
      assert(files.count(_.contains("zm_ma")) < 4,
        s"mapped root must prune: ${files.count(_.contains("zm_ma"))}/4")
      assert(band.count() == 1000)
      // both roots mapped: the union prunes B's files on A's band too
      ZoneMap.build(spark, tblB, Seq("id"), ZoneMap.defaultZonePath(tblB))
      val both = spark.read.parquet(tblA, tblB)
        .where(col("id") >= 1000L && col("id") <= 1999L)
      assert(both.inputFiles.count(_.contains("zm_mb")) == 0,
        "a disjoint mapped root must prune to zero files")
      assert(both.count() == 1000)
      // result identity vs the unpruned plan on a straddling band
      val wide = spark.read.parquet(tblA, tblB)
        .where(col("id") >= 3500L && col("id") <= 100500L)
      spark.conf.set("spark.graft.zonemap.enabled", "false")
      val truth = wide.select("id").as[Long].collect().toSet
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      assert(wide.select("id").as[Long].collect().toSet == truth)
    } finally {
      spark.conf.set("spark.graft.zonemap.enabled", "true")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
    }
  }
}
