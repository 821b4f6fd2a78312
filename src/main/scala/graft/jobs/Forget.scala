package graft.jobs

import graft.core.Tables
import graft.entities.Pipelines
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten erasure over curated tables — the deletion half
  * of the governance story ([[graft.ops.Governance]] masks; this
  * removes). The reference has no erasure surface at all (its curated
  * tables only ever grow, `ProcessDaily.usql` merges); a warehouse
  * holding user-keyed data needs subject deletion as a first-class,
  * auditable job.
  *
  * Mechanics: anti-join the table against the subject-key set and
  * rewrite atomically via the same rename-swap
  * ([[Pipelines.overwriteCurated]]) the TRUNCATE+INSERT path uses — a
  * failure mid-job leaves the prior table intact. The subject set is
  * broadcast (requests are human-scale); the table is scanned once per
  * erasure. Returns a per-table audit row (rows before / erased /
  * after) — the record a compliance log keeps.
  *
  * Scope: operates on materialized curated tables. Merge-on-read delta
  * partitions must be compacted first ([[graft.ops.MergeOnRead]]
  * compaction) so no tombstoned subject survives in an unmerged delta.
  */
object Forget {

  /** Erase every row of `table` whose `keyCol` appears in `subjects`.
    * Idempotent: a second run erases 0 rows.
    *
    * The subject frame's `keyCol` column is used when present (a
    * request frame often carries extra columns like a request id —
    * blindly taking the FIRST column would anti-join on the wrong
    * values and report n_erased=0 while every subject row survived, the
    * worst possible failure for a compliance job); a frame without a
    * `keyCol` column must have exactly one column, which is taken as
    * the key set.
    *
    * Audit counts come from the parquet footers of the table before and
    * after the rewrite, with no Spark job: ONE table pass total — at
    * warehouse scale a `count()` would be a full re-scan of the table
    * being erased. */
  def eraseSubjects(spark: SparkSession, curatedDir: String, table: String,
      keyCol: String, subjects: DataFrame): DataFrame = {
    val keySrc =
      if (subjects.columns.contains(keyCol)) col(keyCol)
      else {
        require(subjects.columns.length == 1,
          s"subject frame has no '$keyCol' column and ${subjects.columns.length} " +
            s"columns (${subjects.columns.mkString(", ")}) — ambiguous key set")
        col(subjects.columns.head)
      }
    val keys = subjects.select(keySrc.as(keyCol)).distinct()
    val path = Pipelines.tablePath(curatedDir, table)
    val before = GraftSqlShim.parquetRows(spark, path)
    val kept = Tables.parquet(spark, path).join(broadcast(keys), Seq(keyCol), "left_anti")
    Pipelines.overwriteCurated(kept, curatedDir, table)
    val after = GraftSqlShim.parquetRows(spark, path)
    import spark.implicits._
    Seq((table, before, before - after, after))
      .toDF("table", "n_before", "n_erased", "n_after")
  }

  /** Erase one subject set across many (table, keyCol) pairs; one audit
    * row per table, in the given order. */
  def eraseAcross(spark: SparkSession, curatedDir: String,
      tables: Seq[(String, String)], subjects: DataFrame): DataFrame = {
    require(tables.nonEmpty, "need at least one (table, keyCol)")
    tables.map { case (t, k) =>
      eraseSubjects(spark, curatedDir, t, k, subjects)
    }.reduce(_ unionByName _)
  }
}
