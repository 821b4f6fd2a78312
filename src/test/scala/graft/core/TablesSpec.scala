package graft.core

import graft.SparkSpec
import graft.entities.Fixtures
import graft.ingest.Staging
import graft.jobs.ProcessDaily
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._

/** SQL-first access: the curated warehouse and the test corpus register
  * as views, and multi-table SQL (the reference users' surface) runs
  * against them with engine functions available. */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def sfTables: Seq[String] =
    new java.io.File(sf).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  /** `Tables.table` against Spark's own inference: same schema, same rows. */
  private def assertSameAsInferred(dir: String, name: String): Unit = {
    val got = Tables.table(spark, dir, name)
    val want = Tables.normalizeEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    assert(got.schema == want.schema, name)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want), name)
  }

  test("table: footer schema and rows equal spark.read.parquet for every sf0.001 table") {
    assert(sfTables.size == 10 && sfTables.contains("events"))
    sfTables.foreach(assertSameAsInferred(sf, _))
    assert(Tables.table(spark, sf, "events").schema("ts").dataType == LongType)
  }

  test("table: a two-file directory reads like spark.read.parquet") {
    val dir = scratch("two-file")
    spark.range(0, 40).selectExpr("id", "cast(id as string) s",
        "cast(id * 1.5 as decimal(12, 2)) d", "timestamp_seconds(id) t",
        "array(id, id + 1) a", "named_struct('k', id, 'v', cast(id as string)) st")
      .repartition(2).write.parquet(s"$dir/t.parquet")
    val files = new java.io.File(s"$dir/t.parquet").list().filter(_.endsWith(".parquet"))
    assert(files.length == 2)
    assertSameAsInferred(dir, "t")
  }

  test("table starts no Spark job; schema inference does") {
    assert(jobsDuring(sfTables.foreach(t => Tables.table(spark, sf, t).schema)) == 0)
    assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet").schema) > 0,
      "the listener must see the inference job, or the 0 above proves nothing")
  }

  test("parquet records schema_inferred on the span only when Spark infers") {
    val path = s"$sf/orders.parquet"
    def attrs(body: => Unit) = Trace.collect(spark)(Trace.span("read")(body))._2
      .spans.find(_.name == "read").get.attrs.toMap
    assert(!attrs(Tables.parquet(spark, path)).contains("schema_inferred"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(attrs(Tables.parquet(spark, path)).get("schema_inferred").contains(path))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("store edges read through Tables.parquet, never a bare spark.read.parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    // file -> why it may run Spark's schema inference
    val allowed = Map(
      "graft/core/Tables.scala" ->
        "Tables.parquet itself: Spark infers when no footer is readable",
      "graft/Bench.scala" ->
        "the fs canary's write+read cycle is priced against a committed floor")
    val bare = """\.read\.parquet\(""".r
    val sources = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    val offenders = sources.map(p => root.relativize(p).toString)
      .filter(f => !allowed.contains(f) && bare.findFirstIn(Files.readString(root.resolve(f))).nonEmpty)
    assert(offenders.isEmpty, s"read engine-managed stores with Tables.parquet: $offenders")
    assert(allowed.keys.forall(f => bare.findFirstIn(Files.readString(root.resolve(f))).nonEmpty),
      "an allow-list entry that no longer reads bare parquet must go")
  }

  test("registerCurated exposes the warehouse to spark.sql joins") {
    val dir = scratch("graft-views")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    ProcessDaily.stageAndProcess(spark, s"$dir/raw/v1", s"$dir/staging",
      s"$dir/curated", Fixtures.day1)
    var tables = Seq.empty[String]
    assert(jobsDuring { tables = Tables.registerCurated(spark, s"$dir/curated") } == 0,
      "registration reads each table's schema from its footer")
    assert(jobsDuring(spark.read.parquet(s"$dir/curated/commit").schema) > 0,
      "the listener must see the inference job, or the 0 above proves nothing")
    assert(tables.contains("commit") && tables.contains("repo"))
    assert(tables.size == 33)
    val joined = spark.sql(
      """SELECT c.etl_source_id, f.filename
        |FROM commit c JOIN commit_file f ON f.etl_source_id = c.etl_source_id
        |ORDER BY f.element_index""".stripMargin)
    assert(joined.count() >= 2)
  }

  test("saveBucketed: co-bucketed join plans with zero shuffle exchanges (S7 fidelity)") {
    import spark.implicits._
    val left = (0L until 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (0L until 1000L by 3).map(i => (i, s"r$i")).toDF("k", "rv")
    Tables.saveBucketed(left, "bkt_left", buckets = 8, keys = Seq("k"),
      sortKeys = Seq("k"))
    Tables.saveBucketed(right, "bkt_right", buckets = 8, keys = Seq("k"),
      sortKeys = Seq("k"))
    try {
      // forbid broadcast so the test can't pass vacuously
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        assert(joined.count() === 334)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"co-bucketed join must not shuffle:\n$plan")
        // differential: same rows as the unbucketed join
        val want = left.join(right, "k").count()
        assert(joined.count() === want)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("schema evolution: mergeSchema unifies widened snapshots, old rows null-filled") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // day 1: the crawler emits (urn, sha); day 2 adds a column (message) —
    // the reference handles this by editing DDL + full rebuild; a data
    // lake handles it by reading with schema merge: the union schema, old
    // rows null for the new column, no rewrite of day-1 files
    val dir = scratch("schema-evo")
    Seq(("urn:c:1", "v1")).toDF("urn", "sha")
      .write.parquet(s"$dir/d=2024-01-01")
    Seq(("urn:c:2", "v2", "fix build")).toDF("urn", "sha", "message")
      .write.parquet(s"$dir/d=2024-01-02")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("urn", "sha", "message", "d"))
    val rows = merged.select("urn", "message").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows("urn:c:1").isEmpty)            // old row: null-filled
    assert(rows("urn:c:2").contains("fix build"))
    // and the projection still prunes: scanning only day-1 columns works
    assert(merged.where(col("d") === "2024-01-01").count() == 1)
  }

  test("registerTestTables + engine SQL functions work end to end") {
    graft.plans.GraftExtensions.register(spark)
    val tables = Tables.registerTestTables(spark, "/root/testdata/sf0.001")
    assert(tables.contains("documents") && tables.contains("lineitem"))
    val n = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT doc_id, explode(ngram_shingle_hashes(split(text, ' '), 3)) h
        |  FROM documents LIMIT 100)""".stripMargin).head().getLong(0)
    assert(n == 100)
  }

  test("readEvolved surfaces columns added by later writes, nulls for old files") {
    import spark.implicits._
    val dir = s"${scratch("evolve")}/t"
    // v1 files: (id, name); v2 adds score
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 9.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val df = Tables.readEvolved(spark, dir)
    assert(df.columns.sorted.toSeq == Seq("id", "name", "score"))
    val byId = df.collect().map(r => r.getAs[Long]("id") ->
      (if (r.isNullAt(r.fieldIndex("score"))) None
       else Some(r.getAs[Double]("score")))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(9.5)))
    // plain read may bind to a single footer's schema — readEvolved is
    // the contract for evolved tables, not the default scan
  }
}
