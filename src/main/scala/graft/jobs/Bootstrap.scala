package graft.jobs

import graft.entities.{Pipelines, Specs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Curated-layer bootstrap — the `CreateAndInitialize*.usql` scripts' role
  * (31 scripts, e.g. CreateAndInitializeCommit.usql:49-90): build every
  * curated table from the FULL staging history in one pass, instead of
  * replaying days.
  *
  * Semantics are identical to folding ProcessDaily over all days in order
  * for every LATEST-WINS table: the merge is latest-effective-timestamp-
  * wins per key, which is associative and order-insensitive over the same
  * row multiset (proven by PropertiesSpec permutation invariance) — so
  * one global dedup over all history ≡ day-by-day incremental merges, at
  * a fraction of the IO (each table is written once, not once per day).
  *
  * ONE deliberate divergence: `truncate=false` specs (the CommitParent
  * append quirk, `ProcessDaily.usql:409`) ACCUMULATE appended duplicates
  * under day-by-day replay — that accumulation is a property of the
  * replay history, not of the data, so the one-pass bootstrap produces
  * the DEDUPED table (what a fresh CreateAndInitialize run would build
  * from history, which is exactly this job's role). BootstrapSpec's
  * replay-equivalence assertions cover the latest-wins tables.
  */
object Bootstrap {

  /** Build all curated tables from every staged day. Partition pruning is
    * deliberately NOT applied — this is the full-history scan. */
  def run(spark: SparkSession, stagingDir: String, curatedDir: String,
      parallelism: Int = 4): Seq[String] = {
    val all = graft.core.Tables.parquet(spark, stagingDir)
      .withColumn("ingest_date", col("ingest_date").cast("string"))
      .withColumn("entity_name", col("entity_name").cast("string"))
    all.cache()
    try ProcessDaily.runOn(spark, all, curatedDir, parallelism)
    finally { all.unpersist(); () }
  }
}
