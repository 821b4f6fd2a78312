package graft.core

import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

/** External zone maps: a PERSISTED per-file min/max synopsis table,
  * consulted at planning time to shrink the file list BEFORE a scan is
  * even constructed. The companion to [[Layout]]'s writer-side levers
  * (range clustering / z-order arrange the rows so zones are narrow;
  * this table is what makes that arrangement consultable without
  * touching the data).
  *
  * Parquet footers already carry min/max, and Spark skips row groups
  * with them — but footer skipping still OPENS every file (one ranged
  * read per footer). At 100 TB a table is millions of files, so
  * planning a selective scan costs millions of small reads before the
  * first row. The external zone map inverts that: ONE scan of a
  * synopsis table whose size is O(files), not O(bytes), yields the
  * surviving file list, and the real scan is constructed over only
  * those files (same idea as Delta/Iceberg keeping stats in the
  * transaction log rather than in footers). The reference gets the
  * equivalent from its clustered-index B-tree ranges
  * (`CreateAndInitializeCommit.usql:55`).
  *
  * One contract: a synopsis is written once, inside a version a
  * [[Snapshots.Txn]] stages, and never changes after that — [[build]]
  * takes the transaction, so it cannot write anywhere else. The version
  * commits the data and its stats together, and readers only ever see
  * both. Pruning itself is [[graft.plans.ZoneMapRule]]'s, on the
  * standard read path of the committed version. Correctness does not
  * depend on layout: a file whose zone straddles the predicate is
  * scanned and re-filtered; clustering only decides how much gets
  * skipped.
  *
  * Scale shape: [[build]] is one distributed pass (group by
  * `input_file_name`, map-side-combined to one row per file per task).
  */
object ZoneMap {

  /** The synopsis of the version directory `versionDir`: inside it,
    * under an underscore-prefixed dir so the data scan never lists it —
    * the stats-in-log convention (_delta_log) on plain parquet. The leaf
    * itself is not hidden, so a read of it is not one of the paths Spark
    * warns it ignores. */
  def zonePath(versionDir: String): String = s"$versionDir/_zonemap/files"

  /** One pass over `table`'s staged version in `txn`: per-file (n_rows,
    * and per requested column min / max / null count), written into the
    * same version. Min and max keep the column's own type, so pruning
    * predicates compare in the table's native ordering (dates as dates,
    * longs as longs). */
  def build(txn: Snapshots.Txn, table: String, cols: Seq[String]): Unit = {
    val dir = txn.dir(table)
    val stats = cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
    }
    Tables.parquet(txn.spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), stats: _*)
      .write.mode("overwrite").parquet(zonePath(dir))
  }

  /** The columns the synopsis of `versionDir` maps, from its `<c>__min`
    * columns (read from one footer, no Spark job); empty without one. */
  def mappedColumns(spark: SparkSession, versionDir: String): Seq[String] =
    GraftSqlShim.parquetSchema(spark, zonePath(versionDir)).toSeq
      .flatMap(_.fieldNames.filter(_.endsWith("__min")).map(_.stripSuffix("__min")))
}
