package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-shard export: the last mile of a curation pipeline — the
  * curated corpus laid out as N self-contained shards a training job
  * streams independently (the webdataset/tfrecord layout discipline, in
  * parquet), plus a MANIFEST the consumer validates against before
  * trusting the shards.
  *
  * Shard assignment is `hash(id|salt) mod numShards` — a pure projection
  * (no global sort, no single-task rank; shard sizes concentrate tightly
  * around n/N by the usual balls-in-bins bound), reproducible on any
  * partitioning, and re-derivable by any engine from the same md5
  * arithmetic. The salt rotates the layout between export epochs without
  * touching the data.
  *
  * At 100 TB: assignment is scan-speed; the write is one shuffle to
  * co-locate each shard (`repartition(shard)`) so every shard directory
  * is ONE file a trainer can open without stitching; the manifest is a
  * per-shard aggregate (N rows total) carrying order-independent
  * signatures ([[Quality.tableChecksum]] discipline) — a reader that
  * re-aggregates its shard and mismatches the manifest refuses to train.
  */
object Export {

  /** Deterministic shard id in [0, numShards): md5-derived, salt-rotated. */
  def shardAssign(df: DataFrame, idCol: String, numShards: Int,
      salt: String = ""): DataFrame = {
    require(numShards >= 1, s"numShards must be positive, got $numShards")
    df.withColumn("shard_id",
      pmod(TextDedup.hash60(
        concat(col(idCol).cast("string"), lit(s"|$salt"))),
        lit(numShards.toLong)))
  }

  /** Per-shard manifest over an assigned frame: doc count, token total
    * (whitespace tokens of `textCol` — the budget number trainers plan
    * with), and order-independent XOR + modular-sum signatures over the
    * (id, text-md5) content hash. One tiny aggregate row per shard. */
  def shardManifest(assigned: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val h = TextDedup.hash60(
      concat(col(idCol).cast("string"), lit("|"), md5(col(textCol))))
    assigned.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " "))).as("n_tokens"),
        bit_xor(h).as("xor_sig"),
        sum(pmod(h, lit(1048573L))).as("sum_sig"))
  }

  /** Assign, co-locate, and write `numShards` shard files under
    * `path/shard_id=K/`, ONE file per shard; returns the manifest of
    * what was written (compute it BEFORE training reads the shards).
    *
    * The manifest is aggregated from the FILES JUST WRITTEN, not from the
    * input plan: re-running the upstream pipeline for the manifest would
    * double the cost (scoring/dedup/budgeting execute twice) and — worse —
    * describe a recomputation rather than the bytes on disk, so any
    * upstream nondeterminism would let manifest and shards silently
    * disagree. Reading back is one cheap scan of the freshly-written
    * parquet and is by construction the ground truth a trainer validates
    * against. */
  def writeShards(df: DataFrame, idCol: String, textCol: String,
      numShards: Int, path: String, salt: String = ""): DataFrame = {
    val assigned = shardAssign(df, idCol, numShards, salt)
    assigned.repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
    val written = graft.core.Tables.parquet(assigned.sparkSession, path)
      // partition-dir inference reads shard_id=K as INT; restore the
      // assigned LONG so the manifest schema matches shardManifest(assigned)
      .withColumn("shard_id", col("shard_id").cast("long"))
    shardManifest(written, idCol, textCol)
  }
}
