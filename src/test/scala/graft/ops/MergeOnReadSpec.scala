package graft.ops

import graft.SparkSpec
import graft.core.Tables
import graft.entities.{Fixtures, Pipelines, Specs}
import graft.ingest.Staging
import graft.jobs.ProcessDaily
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read ≡ full-rewrite equivalence: the O(delta)-per-day path
  * must be row-identical to the faithful TRUNCATE+INSERT executor at
  * every point, before and after compaction. */
class MergeOnReadSpec extends SparkSpec {

  private val order = Pipelines.mergeOrder

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def freshFor(staging: String, date: String): DataFrame =
    Pipelines.freshSnapshot(
      Staging.readStaging(spark, staging, date), Specs.commit)

  /** A two-day merge-on-read store over the standard fixture, returning
    * (staging dir, store dir). `commit` is compacted after day 1, so it
    * has a base and a day-2 delta; `repo_collaborators` (a collection,
    * never compacted) has two delta days; `user` (day-1 rows only) is
    * compacted after day 2, so its delta dir holds only `_SUCCESS`. */
  private def twoDayStore(prefix: String): (String, String) = {
    val dir = scratch(prefix)
    val (staging, mor) = (s"$dir/staging", s"$dir/mor")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    def compact(table: String) =
      MergeOnRead.compact(spark, mor, table, Seq("etl_source_id"), order)
    for (d <- Seq(Fixtures.day1, Fixtures.day2)) {
      Staging.stageDay(spark, s"$dir/raw/v1", staging, d)
      ProcessDaily.runMor(spark, staging, mor, d.toString)
      if (d == Fixtures.day1) compact("commit")
    }
    compact("user")
    (staging, mor)
  }

  private def dataFiles(dir: String): Seq[String] = {
    val root = new Path(dir)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName)
      .filter(_.endsWith(".parquet")).toSeq
  }

  test("morView starts no Spark job: every layer's schema comes from its footer") {
    val (_, mor) = twoDayStore("graft-mor-jobs")
    for (layer <- Seq("commit/base", "commit/delta", "repo_collaborators/delta", "user/base"))
      assert(dataFiles(s"$mor/$layer").nonEmpty, layer)
    assert(dataFiles(s"$mor/user/delta").isEmpty)
    val jobs = Seq("commit", "repo_collaborators", "user")
      .map(t => t -> jobsDuring(ProcessDaily.morView(spark, mor, t).schema)).toMap
    assert(jobs.values.forall(_ == 0), s"jobs per morView: $jobs")
    assert(jobsDuring(spark.read.parquet(s"$mor/commit/base").schema) > 0,
      "the listener must see the inference job, or the 0 above proves nothing")
    assert(ProcessDaily.morView(spark, mor, "user").count() > 0)
  }

  test("footer-read layers and staging carry the schema Spark infers, partition columns included") {
    val (staging, mor) = twoDayStore("graft-mor-schema")
    for (layer <- Seq("commit/base", "commit/delta", "repo_collaborators/delta")) {
      val p = s"$mor/$layer"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    assert(Tables.parquet(spark, s"$mor/commit/delta").columns.contains("ingest_date"),
      "the delta's partition column comes from its paths")
    assert(Tables.parquet(spark, staging).schema == spark.read.parquet(staging).schema)
    val inferred = spark.read.parquet(staging)
      .withColumn("ingest_date", col("ingest_date").cast("string"))
      .withColumn("entity_name", col("entity_name").cast("string"))
      .where(col("ingest_date") === "2017-03-02")
    val got = Staging.readStaging(spark, staging, "2017-03-02")
    assert(got.schema == inferred.schema)
    assert(rows(got) == rows(inferred) && rows(got).nonEmpty)
  }

  test("crash between compaction's two renames: morView re-adopts the stranded base") {
    val (_, mor) = twoDayStore("graft-mor-crash")
    MergeOnRead.compact(spark, mor, "commit", Seq("etl_source_id"), order)
    val want = rows(ProcessDaily.morView(spark, mor, "commit"))
    val base = new Path(s"$mor/commit/base")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(base, new Path(s"$mor/commit/.base_old_${System.nanoTime()}")))
    assert(!fs.exists(base))
    assert(rows(ProcessDaily.morView(spark, mor, "commit")) == want && want.nonEmpty)
    assert(fs.exists(base), "the read re-adopts the stranded base in place")
  }

  test("merge-on-read view ≡ full-rewrite snapshot across two days, compaction invariant") {
    val dir = scratch("graft-mor")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    for (d <- Seq(Fixtures.day1, Fixtures.day2))
      Staging.stageDay(spark, s"$dir/raw/v1", s"$dir/staging", d)

    val f1 = freshFor(s"$dir/staging", "2017-03-01")
    val f2 = freshFor(s"$dir/staging", "2017-03-02")

    // full-rewrite executor (the reference-faithful path)
    val day1 = Staging.readStaging(spark, s"$dir/staging", "2017-03-01")
    val day2 = Staging.readStaging(spark, s"$dir/staging", "2017-03-02")
    Pipelines.runSnapshot(spark, day1, s"$dir/curated", Specs.commit)
    val fullDay1 = rows(spark.read.parquet(s"$dir/curated/commit"))
    Pipelines.runSnapshot(spark, day2, s"$dir/curated", Specs.commit)
    val fullDay2 = rows(spark.read.parquet(s"$dir/curated/commit"))

    // merge-on-read path: append deltas only
    MergeOnRead.appendDelta(f1, s"$dir/mor", "commit")
    val morDay1 = rows(MergeOnRead.readSnapshot(spark, s"$dir/mor", "commit",
      Seq("etl_source_id"), order))
    assert(morDay1 == fullDay1)

    MergeOnRead.appendDelta(f2, s"$dir/mor", "commit")
    val morDay2 = rows(MergeOnRead.readSnapshot(spark, s"$dir/mor", "commit",
      Seq("etl_source_id"), order))
    assert(morDay2 == fullDay2)
    assert(MergeOnRead.pendingDeltaDays(spark, s"$dir/mor", "commit")
      == Seq("2017-03-01", "2017-03-02"))

    // compaction folds deltas into base without changing the view
    MergeOnRead.compact(spark, s"$dir/mor", "commit", Seq("etl_source_id"), order)
    assert(MergeOnRead.pendingDeltaDays(spark, s"$dir/mor", "commit").isEmpty)
    val afterCompact = rows(MergeOnRead.readSnapshot(spark, s"$dir/mor", "commit",
      Seq("etl_source_id"), order))
    assert(afterCompact == fullDay2)
  }

  test("readSnapshotAsOf time-travels to each day; horizon guard raises") {
    val dir = scratch("graft-mor-asof")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    for (d <- Seq(Fixtures.day1, Fixtures.day2))
      Staging.stageDay(spark, s"$dir/raw/v1", s"$dir/staging", d)
    // full-rewrite states per day = the time-travel oracle
    val day1 = Staging.readStaging(spark, s"$dir/staging", "2017-03-01")
    val day2 = Staging.readStaging(spark, s"$dir/staging", "2017-03-02")
    Pipelines.runSnapshot(spark, day1, s"$dir/curated", Specs.commit)
    val stateDay1 = rows(spark.read.parquet(s"$dir/curated/commit"))
    Pipelines.runSnapshot(spark, day2, s"$dir/curated", Specs.commit)
    val stateDay2 = rows(spark.read.parquet(s"$dir/curated/commit"))

    MergeOnRead.appendDelta(freshFor(s"$dir/staging", "2017-03-01"),
      s"$dir/mor", "commit")
    MergeOnRead.appendDelta(freshFor(s"$dir/staging", "2017-03-02"),
      s"$dir/mor", "commit")
    val asOf1 = rows(MergeOnRead.readSnapshotAsOf(spark, s"$dir/mor",
      "commit", Seq("etl_source_id"), order, asOfDay = "2017-03-01"))
    val asOf2 = rows(MergeOnRead.readSnapshotAsOf(spark, s"$dir/mor",
      "commit", Seq("etl_source_id"), order, asOfDay = "2017-03-02"))
    assert(asOf1 == stateDay1,
      "as-of day1 must reproduce the day1 full-rewrite state")
    assert(asOf2 == stateDay2)
    // current view ≡ latest as-of
    assert(asOf2 == rows(MergeOnRead.readSnapshot(spark, s"$dir/mor",
      "commit", Seq("etl_source_id"), order)))
    // horizon guard: travel before the declared compaction watermark
    intercept[IllegalArgumentException] {
      MergeOnRead.readSnapshotAsOf(spark, s"$dir/mor", "commit",
        Seq("etl_source_id"), order, asOfDay = "2017-03-01",
        compactedThrough = Some("2017-03-02"))
    }
  }

  test("re-appending the same day replaces its delta partition (idempotent)") {
    val dir = scratch("graft-mor-idem")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    Staging.stageDay(spark, s"$dir/raw/v1", s"$dir/staging", Fixtures.day1)
    val f1 = freshFor(s"$dir/staging", "2017-03-01")
    MergeOnRead.appendDelta(f1, s"$dir/mor", "commit")
    val once = rows(MergeOnRead.readSnapshot(spark, s"$dir/mor", "commit",
      Seq("etl_source_id"), order))
    MergeOnRead.appendDelta(f1, s"$dir/mor", "commit")
    val twice = rows(MergeOnRead.readSnapshot(spark, s"$dir/mor", "commit",
      Seq("etl_source_id"), order))
    assert(once == twice)
    assert(spark.read.parquet(s"$dir/mor/commit/delta").count() == f1.count())
  }

  test("vacuum reaps stranded staging/old dirs, never live base or young dirs") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = scratch("graft-mor-vac")
    val df = Seq((1L, "2024-01-01", "a")).toDF("id", "effective", "v")
    MergeOnRead.appendDelta(
      df.withColumn("etl_ingest_date", lit("2024-01-01")), dir, "t")
    MergeOnRead.compact(spark, dir, "t", Seq("id"), Seq(col("effective")))
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // two stranded artifacts (one old, one fresh) + the live base
    val stale = new Path(s"$dir/t/.base_staging_123")
    val fresh = new Path(s"$dir/t/.base_old_456")
    fs.mkdirs(stale); fs.mkdirs(fresh)
    fs.setTimes(stale, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    val deleted = MergeOnRead.vacuum(spark, dir, "t")
    assert(deleted.size == 1 && deleted.head.endsWith(".base_staging_123"))
    assert(fs.exists(fresh) && !fs.exists(stale))
    // live table still reads
    assert(MergeOnRead.readSnapshot(spark, dir, "t", Seq("id"),
      Seq(col("effective"))).count() == 1)
    // age 0 retention reaps the fresh one too
    assert(MergeOnRead.vacuum(spark, dir, "t", olderThanMs = -1000).size == 1)
  }

  test("job-level runMor ≡ classic ProcessDaily across every merge kind") {
    val dir = scratch("graft-mor-job")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    for (d <- Seq(Fixtures.day1, Fixtures.day2)) {
      Staging.stageDay(spark, s"$dir/raw/v1", s"$dir/staging", d)
      ProcessDaily.run(spark, s"$dir/staging", s"$dir/curated", d.toString)
      ProcessDaily.runMor(spark, s"$dir/staging", s"$dir/mor", d.toString)
    }
    for (table <- Seq("commit", "commit_file", "issue_label", "repo_clones",
        "repo_referrers", "event", "user",
        "repo", "repo_log", "repo_collaborators")) {
      val classic = spark.read.parquet(s"$dir/curated/$table")
      val mor = ProcessDaily.morView(spark, s"$dir/mor", table)
        .select(classic.columns.map(col): _*)
      assert(rows(mor) == rows(classic), s"table $table diverged")
    }
  }
}
