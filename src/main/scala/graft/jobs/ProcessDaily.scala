package graft.jobs

import graft.core.Par
import graft.entities.{Pipelines, Specs}
import graft.ingest.Staging
import graft.ops.MergeOnRead
import org.apache.spark.sql.SparkSession

/** The daily merge job — `ProcessDaily(@Year,@Month,@Day)`
  * (/root/reference/USQL/ProcessDaily.usql:7-3593) as one function.
  *
  * The reference runs its 30+ entity pipelines serially inside one script;
  * they are mutually independent (SURVEY.md §3.E2), so here they submit as
  * concurrent Spark jobs — the scheduler interleaves their stages across the
  * cluster, hiding the long tail of small entities behind the big ones.
  */
object ProcessDaily {

  /** Run every entity pipeline for one ingest day. Returns table names. */
  def run(spark: SparkSession, stagingDir: String, curatedDir: String,
      ingestDate: String, parallelism: Int = 4): Seq[String] = {
    val day = Staging.readStaging(spark, stagingDir, ingestDate)
    day.cache() // one day of staging feeds 20+ pipelines; scan once
    try runOn(spark, day, curatedDir, parallelism)
    finally { day.unpersist(); () }
  }

  /** Run every entity pipeline over an arbitrary staged frame (one day for
    * the daily merge; the whole history for [[Bootstrap]]). */
  def runOn(spark: SparkSession, day: org.apache.spark.sql.DataFrame,
      curatedDir: String, parallelism: Int = 4): Seq[String] =
    Par.all(parallelism)(
      Specs.snapshots.map(s =>
        () => { Pipelines.runSnapshot(spark, day, curatedDir, s); s.table }) ++
      Specs.arrayChildren.map(s =>
        () => { Pipelines.runArrayChild(spark, day, curatedDir, s); s.table }) ++
      Specs.collections.map(s =>
        () => { Pipelines.runCollection(spark, day, curatedDir, s); s.table }) ++
      Specs.traffic.map(s =>
        () => { Pipelines.runTraffic(spark, day, curatedDir, s); s.table }) ++
      Seq(() => {
        Pipelines.runSnapshotLog(spark, day, curatedDir, Specs.repo)
        Specs.repo.snapshot.table
      }))

  /** The daily merge in merge-on-read mode: EVERY entity appends its day
    * as an O(delta) delta partition instead of rewriting the table;
    * [[morView]] resolves the identical table at read time, and
    * `MergeOnRead.compact` amortizes the full rewrite across runs.
    * Latest-wins entities (snapshots, array children, traffic, Repo —
    * whose RepoLog is a second view over the SAME deltas at version
    * grain) resolve per key; collections resolve latest-day-wins per
    * origin (wholesale replacement + carry-forward). CommitParent's
    * faithful append-only quirk (duplicates accumulating run over run,
    * ProcessDaily.usql:409) is NOT reproduced — the MOR view gives the
    * corrected latest-wins semantics for it. */
  def runMor(spark: SparkSession, stagingDir: String, morDir: String,
      ingestDate: String, parallelism: Int = 4): Seq[String] = {
    val day = Staging.readStaging(spark, stagingDir, ingestDate)
    day.cache()
    try Par.all(parallelism)(
      (Specs.snapshots :+ Specs.repo.snapshot).map(s => () => {
        MergeOnRead.appendDelta(Pipelines.freshSnapshot(day, s), morDir, s.table)
        s.table }) ++
      Specs.arrayChildren.map(s => () => {
        MergeOnRead.appendDelta(Pipelines.freshArrayChild(day, s), morDir, s.table)
        s.table }) ++
      Specs.traffic.map(s => () => {
        MergeOnRead.appendDelta(Pipelines.freshTraffic(day, s), morDir, s.table)
        s.table }) ++
      Specs.collections.map(s => () => {
        MergeOnRead.appendDelta(Pipelines.freshCollection(day, s), morDir, s.table)
        s.table }))
    finally { day.unpersist(); () }
  }

  /** The merge-on-read view for any table maintained by [[runMor]] —
    * row-identical to the full-rewrite executor's parquet table (modulo
    * the documented CommitParent quirk and the collection views' extra
    * `etl_ingest_date` provenance column). */
  def morView(spark: SparkSession, morDir: String, table: String): org.apache.spark.sql.DataFrame = {
    (Specs.snapshots :+ Specs.repo.snapshot).find(_.table == table).map(_ =>
      MergeOnRead.readSnapshot(spark, morDir, table,
        Seq("etl_source_id"), Pipelines.mergeOrder))
      .orElse(if (table == Specs.repo.logTable)
        // RepoLog: the same repo deltas resolved at (key, version) grain
        Some(MergeOnRead.readSnapshot(spark, morDir, Specs.repo.snapshot.table,
          Seq("etl_source_id", Specs.repo.versionField), Pipelines.mergeOrder))
      else None)
      .orElse(Specs.arrayChildren.find(_.table == table).map(_ =>
        MergeOnRead.readSnapshot(spark, morDir, table,
          Seq("etl_source_id", "element_index"), Pipelines.mergeOrder)))
      .orElse(Specs.traffic.find(_.table == table).map(s =>
        MergeOnRead.readSnapshot(spark, morDir, table,
          s.dedupKeys, Pipelines.trafficOrder(s))))
      .orElse(Specs.collections.find(_.table == table).map(s =>
        MergeOnRead.readCollectionSnapshot(spark, morDir, table, s.originCol)))
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not a merge-on-read entity"))
  }

  /** Stage + merge: the two reference procedures chained for one date. */
  def stageAndProcess(spark: SparkSession, rawRoot: String, stagingDir: String,
      curatedDir: String, date: java.time.LocalDate): Seq[String] = {
    Staging.stageDay(spark, rawRoot, stagingDir, date)
    run(spark, stagingDir, curatedDir, date.toString)
  }
}
