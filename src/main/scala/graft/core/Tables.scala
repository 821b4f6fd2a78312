package graft.core

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}

/** Table access for the driver-generated test corpus (TESTDATA.md) and for
  * engine-managed curated tables.
  *
  * At 100 TB each logical table is a directory of parquet (or Delta) files,
  * partitioned on its natural partition column; [[parquet]] gives
  * FileSourceScanExec with partition pruning + predicate pushdown for
  * free. Nothing here collects to the driver.
  */
object Tables {
  /** The parquet data at `path`, with the schema read from the parquet
    * footer on the driver ([[org.apache.spark.sql.GraftSqlShim.parquetSchema]])
    * — the one Spark would infer, without the Spark job its inference runs
    * per call. Partition columns (`ingest_date=…` dirs) are still inferred
    * from the paths. With no data file, or with `mergeSchema` on, Spark
    * infers as usual, with its own errors, and the current [[Trace]] span
    * records `schema_inferred` (the path). Every engine-managed store and
    * the test corpus read through here; `TablesSpec` fails on a bare
    * parquet read anywhere else in main code. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftSqlShim.parquetSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        Trace.attr("schema_inferred", path)
        spark.read.parquet(path)
    }

  /** Load one test table, e.g. table(spark, "/root/testdata/sf0.01", "lineitem"). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeEventTs(parquet(spark, s"$sfDir/$name.parquet"))

  /** Engine contract for the events stream: `ts` is an epoch-NANOS long.
    *
    * The corpus has shipped `ts` both as parquet TIMESTAMP(NANOS) — which
    * Spark reads as a long under `nanosAsLong` (it has no nanos type) —
    * and as TIMESTAMP(MICROS), which reads as TIMESTAMP_NTZ. Normalizing
    * at the read edge keeps every downstream `ts div 1000` / window /
    * as-of plan (and its DuckDB oracle, which reads the same file as a
    * native timestamp and replays via `epoch_us`/`epoch_ns`) identical
    * across corpus drops. µs→ns is exact integer arithmetic; sessions pin
    * UTC, so the NTZ→instant cast moves no wall-clock. A projection only —
    * pushdown and pruning on the other columns are unaffected. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (!df.columns.contains("ts")) df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
      case _: org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")) * 1000L)
      case t => throw new IllegalArgumentException(
        s"events.ts must be long or timestamp, got $t")
    }

  /** S7 physical-layout fidelity: the reference's CTAS
    * `DISTRIBUTE HASH(keys) INTO n` + clustered index
    * (CreateAndInitializeCommit.usql:49-90 — 200 buckets for Commit/Org/
    * Team, 60 for the Event family, 20 default) maps to Spark bucketing:
    * `bucketBy(n, keys) [+ sortBy]` into the session catalog. Two tables
    * bucketed identically on their join key then join with NO shuffle on
    * either side (and sorted buckets skip the sort in a sort-merge join)
    * — at 100 TB this is the difference between an O(table) exchange per
    * daily merge and none. */
  def saveBucketed(df: DataFrame, tableName: String, buckets: Int,
      keys: Seq[String], sortKeys: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    val ws = if (sortKeys.nonEmpty) w.sortBy(sortKeys.head, sortKeys.tail: _*)
    else w
    ws.saveAsTable(tableName)
  }

  /** Schema-evolution read: a long-lived curated table accumulates files
    * written under successive schema versions (a column added mid-year);
    * `mergeSchema` unions the parquet footers so old files surface the
    * new columns as nulls — the read-side half of additive evolution.
    * Footer merging touches metadata only (one footer per file, not
    * row data), so cost scales with file count; at very large file
    * counts pin a summary schema instead. Renames/retypes are NOT
    * evolution — they need a rewrite ([[graft.core.Layout.compact]]). */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Register every curated table under `curatedDir` as a temp view, so
    * the warehouse is queryable as plain SQL — the surface the
    * reference's U-SQL users actually write:
    *
    * {{{
    *   Tables.registerCurated(spark, curatedDir)
    *   spark.sql("SELECT r.name, count(*) FROM commit c JOIN repo r ...")
    * }}}
    *
    * Views are lazy plans over the parquet directories (partition pruning
    * and pushdown intact); re-registering after a daily run picks up the
    * overwritten tables. Returns the registered names. */
  def registerCurated(spark: SparkSession, curatedDir: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(curatedDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val tables = fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
    tables.foreach { t =>
      parquet(spark, s"$curatedDir/$t").createOrReplaceTempView(t)
    }
    tables
  }

  /** Register the driver test corpus as temp views (documents, lineitem,
    * …) for SQL-first exploration. */
  def registerTestTables(spark: SparkSession, sfDir: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(sfDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val tables = fs.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    tables.foreach { t =>
      table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    tables
  }
}
