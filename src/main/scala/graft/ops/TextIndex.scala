package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted text index over a document corpus — exact keyword search
  * without scanning the text column at query time.
  *
  * Layout: one posting row per (token, doc_id), written PARTITIONED BY a
  * hash bucket of the token (`bkt = hash60(token) mod numBuckets`). A
  * term lookup filters on `bkt = <literal>` + `token = <literal>`: the
  * partition filter prunes statically (only 1/numBuckets of the index is
  * even listed), and the token equality rides the parquet dictionary/
  * min-max stats inside the bucket. Multi-term AND queries intersect
  * posting lists with equi-joins on doc_id — each list is already tiny
  * compared to the corpus, so the join cost tracks result size, not
  * corpus size. At 100 TB of text the index is written once per
  * ingest batch and appended (same bucketing forever — the hash is the
  * engine's md5-derived [[TextDedup.hash60]], stable across versions).
  */
object TextIndex {

  /** Tokenize, dedupe per document, bucket, and write the posting table.
    * Distinct (token, doc_id): postings record membership, not term
    * frequency — [[TextAnalysis.tfidf]] covers scoring. */
  def build(df: DataFrame, idCol: String, textCol: String, path: String,
      numBuckets: Int = 64): Unit = {
    require(numBuckets >= 1)
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(
          filter(split(col(textCol), " "), t => t =!= ""))).as("token"))
      .distinct()
      .withColumn("bkt", pmod(TextDedup.hash60(col("token")), lit(numBuckets.toLong)))
      .repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(path)
  }

  /** Posting list of one term (a `bkt=` partition-pruned scan). The
    * bucket key of the LITERAL term is computed on the driver
    * ([[TextDedup.hash60Local]], bit-identical to the write-side column
    * hash) — no Spark job per term, just one pruned scan. */
  def lookup(spark: SparkSession, path: String, term: String,
      numBuckets: Int = 64): DataFrame = {
    val bkt = Math.floorMod(TextDedup.hash60Local(term), numBuckets.toLong)
    graft.core.Tables.parquet(spark, path)
      .where(col("bkt") === bkt && col("token") === term)
      .select(col("doc_id"))
  }

  /** Documents containing ALL `terms` (conjunctive search): intersect the
    * per-term posting lists, smallest-first so intermediate results only
    * shrink. */
  def search(spark: SparkSession, path: String, terms: Seq[String],
      numBuckets: Int = 64): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    terms.map(t => lookup(spark, path, t, numBuckets))
      .reduce((a, b) => a.join(b, Seq("doc_id")))
      .distinct()
  }

  /** Documents containing ANY of `terms` (disjunctive search): union of
    * pruned posting scans, deduped. */
  def searchAny(spark: SparkSession, path: String, terms: Seq[String],
      numBuckets: Int = 64): DataFrame = {
    require(terms.nonEmpty, "searchAny needs at least one term")
    terms.map(t => lookup(spark, path, t, numBuckets))
      .reduce(_ unionByName _)
      .distinct()
  }

  // ---------------------------------------------------------------- phrase

  /** Positional posting table: one row per (token, doc_id, pos) — the
    * layout phrase queries need. ~tf× larger than [[build]]'s membership
    * postings; same bucket partitioning, so term lookups prune the same
    * way. */
  def buildPositional(df: DataFrame, idCol: String, textCol: String,
      path: String, numBuckets: Int = 64): Unit = {
    require(numBuckets >= 1)
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(filter(split(col(textCol), " "), t => t =!= ""))
          .as(Seq("pos", "token")))
      .withColumn("bkt", pmod(TextDedup.hash60(col("token")), lit(numBuckets.toLong)))
      .repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(path)
  }

  /** Documents containing `terms` as a CONSECUTIVE phrase: per-term
    * pruned positional lookups, then position-arithmetic equi-joins —
    * term i must sit at `pos(first) + i`. The join key is (doc_id,
    * expected position), so each step is a hash join that only ever
    * shrinks the candidate set; no text rescan, no window. */
  def searchPhrase(spark: SparkSession, path: String, terms: Seq[String],
      numBuckets: Int = 64): DataFrame = {
    require(terms.nonEmpty, "searchPhrase needs at least one term")
    def positions(term: String): DataFrame = {
      val bkt = Math.floorMod(TextDedup.hash60Local(term), numBuckets.toLong)
      graft.core.Tables.parquet(spark, path)
        .where(col("bkt") === bkt && col("token") === term)
        .select(col("doc_id"), col("pos"))
    }
    val first = positions(terms.head).select(col("doc_id"), col("pos").as("p0"))
    terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(
        positions(t).select(col("doc_id"), (col("pos") - i).as("p0")),
        Seq("doc_id", "p0"))
    }.select(col("doc_id")).distinct()
  }
}
