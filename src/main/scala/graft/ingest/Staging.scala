package graft.ingest

import graft.json.Docs._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The staging layer: raw crawled JSON → the generic staging table — the
  * `StageData` procedure re-expressed (/root/reference/USQL/StageData.usql:5-38).
  *
  * Reference semantics reproduced:
  *  - date-templated file-set scan `v1/{yyyy}/{MM}/{dd}/{name}.json`, one
  *    document per line (StageData.usql:21);
  *  - `silent: true` — malformed documents are skipped, not failed
  *    (StageData.usql:22); [[stage]] drops rows whose metadata won't parse;
  *  - metadata promotion `_metadata.{type,fetchedAt,processedAt,deletedAt,
  *    links.self.href}` → typed columns (StageData.usql:29-34);
  *  - idempotent daily partition replace (DROP/ADD PARTITION,
  *    StageData.usql:24-28) → Spark dynamic partition overwrite.
  *
  * Physical layout for 100 TB: staging parquet partitioned by
  * `(ingest_date, entity_name)` — both filters of every downstream merge scan
  * (ProcessDaily.usql:33-35) become partition-pruned directory listings
  * instead of data reads. The reference's 20-bucket `HASH(EntityName, Urn)`
  * clustering (CreateGitHubDataTable.usql:23-26) is deliberately not
  * replicated: Catalyst shuffles on demand and AQE sizes the exchange at
  * runtime, which beats a fixed bucket count chosen for 2017 data volumes.
  */
object Staging {

  val stagingCols: Seq[String] = Seq(
    "entity_name", "ingest_date", "fetched_at", "processed_at", "deleted_at",
    "urn", "data")

  /** File-set scan for one ingest day (StageData.usql:17-22). `file_name`
    * is the path-bound virtual column (the reference's `{FileName}`
    * template binding), derived from `input_file_name()` — metadata-only,
    * no extra read. */
  def readRawDay(spark: SparkSession, rawRoot: String, date: java.time.LocalDate): DataFrame = {
    val path = f"$rawRoot/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d/*.json"
    spark.read.textFile(path).toDF("data")
      .withColumn("file_name",
        regexp_extract(input_file_name(), "([^/]+)\\.json$", 1))
  }

  /** Promote the `_metadata` envelope to typed columns; silent-skip rows
    * whose envelope is absent/malformed (StageData.usql:22,29-34).
    * Parse-once: one pruned `from_json` of the envelope per row instead
    * of five independent `get_json_object` parses (same try_cast typing —
    * see Pipelines.project). */
  def stage(raw: DataFrame, ingestDate: String): DataFrame = {
    val metaSchema = graft.json.PathSchema.forPaths(Seq(
      "_metadata.type", "_metadata.fetchedAt", "_metadata.processedAt",
      "_metadata.deletedAt", "_metadata.links.self.href"))
    val m = from_json(col("data"), metaSchema).getField("_metadata")
    raw
      .select(
        m.getField("type").as("entity_name"),
        lit(ingestDate).as("ingest_date"),
        m.getField("fetchedAt").try_cast("timestamp").as("fetched_at"),
        m.getField("processedAt").try_cast("timestamp").as("processed_at"),
        m.getField("deletedAt").try_cast("timestamp").as("deleted_at"),
        m.getField("links").getField("self").getField("href").as("urn"),
        col("data")
      )
      .where(col("entity_name").isNotNull && col("urn").isNotNull)
  }

  /** Idempotent daily partition replace (StageData.usql:24-28): dynamic
    * partition overwrite touches only the partitions present in `df`. */
  def writeStaging(df: DataFrame, stagingDir: String): Unit =
    df.write
      .partitionBy("ingest_date", "entity_name")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(stagingDir)

  /** Partition-pruned staging scan (ProcessDaily.usql:33-35 and 29 more):
    * both predicates are partition columns — no data files outside
    * `(date, entity)` are opened. */
  def readStaging(spark: SparkSession, stagingDir: String, ingestDate: String,
      entityFilter: DataFrame => DataFrame = identity): DataFrame =
    entityFilter(
      graft.core.Tables.parquet(spark, stagingDir)
        // partition-column type inference would surface yyyy-MM-dd as DATE;
        // the staging contract is the reference's string partition key
        // (CreateGitHubDataTable.usql:25)
        .withColumn("ingest_date", col("ingest_date").cast("string"))
        .withColumn("entity_name", col("entity_name").cast("string"))
        .where(col("ingest_date") === ingestDate))

  /** Convenience: exact entity match (P2). */
  def readEntity(spark: SparkSession, stagingDir: String, ingestDate: String,
      entity: String): DataFrame =
    readStaging(spark, stagingDir, ingestDate,
      _.where(col("entity_name") === entity))

  /** One full staging run: read raw day → promote → replace partition
    * (the `StageData(@Year,@Month,@Day)` procedure, StageData.usql:5-38). */
  def stageDay(spark: SparkSession, rawRoot: String, stagingDir: String,
      date: java.time.LocalDate): Unit = {
    val ingestDate = date.toString // yyyy-MM-dd
    writeStaging(stage(readRawDay(spark, rawRoot, date), ingestDate), stagingDir)
  }
}
