package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils
import scala.jdk.CollectionConverters._

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 made the Column↔Expression converters
  * (`classic.ExpressionUtils`) `private[sql]`; this shim, compiled into
  * the `org.apache.spark.sql` package, is the established pattern
  * third-party expression libraries use to reach them.
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function on an ALREADY-RUNNING session (the
    * `spark.sql.extensions` config only applies at session build time). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * frame NOW instead of waiting for driver GC + ContextCleaner.
    *
    * `Dataset.localCheckpoint()` persists the materialized RDD at
    * MEMORY_AND_DISK and wraps it in a `LogicalRDD` leaf; nothing
    * unpins those blocks until the RDD object is garbage-collected —
    * which on a roomy driver heap can be never. Iterative operators
    * that checkpoint every round (PageRank, BFS, connected components,
    * BPE) therefore accumulate one dead round-state per iteration, and
    * a long-lived session (the 280-query bench) accumulates one per
    * QUERY — measured as monotonic per-run slowdowns once the heap
    * fills (sf1 sweep: q244 32→53→125 s across three runs of the same
    * binary). Calling this on the SUPERSEDED frame caps live
    * checkpoint storage at one round's state.
    *
    * Only frames whose content is never read again may be freed: the
    * checkpoint truncated lineage, so a freed block cannot be
    * recomputed — a later action on the frame would fail.
    *
    * Deliberately frees ONLY a bare checkpoint (the plan's ROOT is the
    * LogicalRDD, which is exactly what `localCheckpoint()` returns) —
    * walking to arbitrary leaves would let a derived frame silently
    * free checkpoints it merely references and other frames still need
    * (e.g. a projection over the BPE merge table, whose leaves are the
    * per-round winner checkpoints). A non-checkpoint plan is a no-op. */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Block until Spark's listener bus (package-private) has delivered every
    * event posted so far — a listener's fold is complete after this. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The schema Spark's parquet reader infers for `path` while schema merging is
    * off, read on the driver from the one footer Spark's inference reads:
    * the path itself, or for a directory its first data file in path order
    * ([[dataFiles]]). The conversion is Spark's own: the
    * Spark-written schema key first, else the Parquet types under the
    * session's flags, so `nanosAsLong` holds. Spark's inference runs a job
    * to read that footer; this runs none and keeps nothing, so the schema
    * is always the file's current one. None when schema merging is on or
    * the path holds no data file — the caller leaves inference (and its
    * errors) to Spark. */
  def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    if (conf.isParquetSchemaMergingEnabled) return None
    dataFiles(path, hadoop).minByOption(_.getPath.toString).map { file =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, hadoop),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
    }
  }

  /** The rows of the parquet data under `path`, summed from the footers:
    * no Spark job, no data page read. */
  def parquetRows(spark: SparkSession, path: String): Long =
    parquetFooters(spark, path).map(_._2.getBlocks.asScala.map(_.getRowCount).sum).sum

  /** The footers, row-group statistics included, of the data files under
    * `path` ([[dataFiles]]), read on the driver: no Spark job. */
  def parquetFooters(spark: SparkSession, path: String)
      : Iterator[(FileStatus, ParquetMetadata)] = {
    val hadoop = spark.sessionState.newHadoopConf()
    dataFiles(path, hadoop).map(file => file -> ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoop), ParquetMetadataConverter.NO_FILTER))
  }

  /** Whether Spark's parquet reader returns the dates and timestamps of the
    * file with `footer` as stored: false when the file's writer or the
    * session's read mode asks for the hybrid-calendar rebase. */
  def datetimesAsStored(spark: SparkSession, footer: ParquetMetadata): Boolean =
    DataSourceUtils.datetimeRebaseSpec(footer.getFileMetaData.getKeyValueMetaData.get,
      spark.sessionState.conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString)
      .mode == LegacyBehaviorPolicy.CORRECTED

  /** The data files under `path` (none when it does not exist): hidden
    * names are skipped as Spark's file index skips them, and summary files
    * are not data — Spark writes none. Plain listStatus, one directory at
    * a time, as Spark's file index lists: FileSystem.listFiles builds a
    * LocatedFileStatus per file, which copies its permissions, and the
    * local filesystem reads those by forking `ls` once per file. */
  def dataFiles(path: String, hadoop: org.apache.hadoop.conf.Configuration)
      : Iterator[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hadoop)
    def leaves(dir: Path): Iterator[FileStatus] = fs.listStatus(dir).iterator
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Iterator(s))
    if (!fs.exists(root)) Iterator.empty
    else {
      val st = fs.getFileStatus(root)
      (if (st.isDirectory) leaves(root) else Iterator(st))
        .filterNot(s => Set("_metadata", "_common_metadata").contains(s.getPath.getName))
    }
  }
}
