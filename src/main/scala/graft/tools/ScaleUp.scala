package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus upscaler for load / scaling probes: writes an
  * N-fold copy of a testdata directory with REFERENTIAL INTEGRITY and
  * WORKLOAD STRUCTURE preserved, so per-query runtimes at the scaled
  * corpus measure the ENGINE's scaling exponent, not an artifact of the
  * scaling itself.
  *
  * Design rules (each exists because the naive copy breaks a family):
  *  - Fact/entity keys are shifted per copy (`key + c·(max+1)`) in
  *    lock-step across tables — lineitem⋈orders⋈customer⋈nation joins
  *    keep exactly their per-copy selectivity; nation/region dims stay
  *    fixed (as they would at any real scale).
  *  - `documents.text` gets every TOKEN suffixed with the copy index
  *    (copy 0 untouched): shingle/minhash/simhash spaces of different
  *    copies are disjoint, so exact/near-dup RATES are scale-invariant.
  *    Naively duplicating text would hand every doc N−1 exact dups and
  *    O(N²) candidate pairs — a fabricated superlinearity no real 10×
  *    corpus has.
  *  - `embeddings.embedding` components get a small deterministic
  *    per-copy perturbation (md5-derived, ±1%): identical vectors across
  *    copies would pile N copies into the same IVF/LSH cells and
  *    quadratically inflate semantic-dedup groups; perturbed copies
  *    spread like genuinely new vectors.
  *  - `events` shift both event_id and user_id (users reference the
  *    shifted customer copies); timestamps are untouched so windowed /
  *    sessionized densities per time bucket scale by N, which is what a
  *    busier firehose looks like.
  *
  * Usage: `ScaleUp.main(srcDir, dstDir, factor)` — e.g. sf0.1 × 10 →
  * an sf1-equivalent under /tmp. One narrow projection + union per
  * table; no shuffle, scan-speed. Never writes into the read-only
  * testdata root.
  */
object ScaleUp {

  private def copies(df: DataFrame, n: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(c => f(df, c)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val n = factorS.toInt
    require(n >= 1, s"factor must be >= 1, got $n")
    // optional 4th arg: comma-list of tables to emit (default: all).
    // Deep-scale probes of a single operator family (e.g. the sf100
    // documents/embeddings spot-probe) should not pay for a 600M-row
    // single-task lineitem write they never read.
    val only = args.lift(3).map(_.split(",").toSet)
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    only.foreach { o =>
      val bad = o -- known
      require(bad.isEmpty,
        s"unknown table(s) ${bad.mkString(",")} — a typo here would " +
          s"silently emit nothing; known: ${known.toSeq.sorted.mkString(",")}")
    }
    val spark = graft.core.Sessions.local()
    run(spark, src, dst, n, only)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, n: Int,
      only: Option[Set[String]] = None): Unit = {
    def want(t: String) = only.forall(_.contains(t))
    def rd(t: String) = graft.core.Tables.parquet(spark, s"$src/$t.parquet")
    // the corpus contract (TESTDATA.md) is ONE parquet FILE per table,
    // not a Spark table directory: the streaming queries list the sf dir
    // with pathGlobFilter=<t>.parquet, which matches leaf FILES — a
    // directory layout silently gives file-stream sources zero inputs
    // (q161 hung on exactly this). Write single-task, then promote the
    // lone part file to <dst>/<t>.parquet.
    def wr(df: DataFrame, t: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"$dst/._scaleup_$t")
      val target = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(tmp, "part-*.parquet"))
      require(part != null && part.length == 1,
        s"expected exactly one part file under $tmp")
      fs.delete(target, false)
      require(fs.rename(part(0).getPath, target), s"rename to $target failed")
      fs.delete(tmp, true)
    }

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head.getLong(0) + 1L

    // fixed dims: the 25-nation/5-region star head does not grow with sf
    if (want("region")) wr(rd("region"), "region")
    if (want("nation")) wr(rd("nation"), "nation")

    // key strides are computed lazily: a subset run (`only`) must not
    // scan tables it never writes
    lazy val cStride = stride(rd("customer"), "c_custkey")
    lazy val sStride = stride(rd("supplier"), "s_suppkey")
    lazy val pStride = stride(rd("part"), "p_partkey")
    lazy val oStride = stride(rd("orders"), "o_orderkey")
    if (want("customer")) wr(copies(rd("customer"), n)((d, c) =>
      d.withColumn("c_custkey", col("c_custkey") + c * cStride)), "customer")

    if (want("supplier")) wr(copies(rd("supplier"), n)((d, c) =>
      d.withColumn("s_suppkey", col("s_suppkey") + c * sStride)), "supplier")

    if (want("part")) wr(copies(rd("part"), n)((d, c) =>
      d.withColumn("p_partkey", col("p_partkey") + c * pStride)), "part")

    if (want("orders")) wr(copies(rd("orders"), n)((d, c) => d
      .withColumn("o_orderkey", col("o_orderkey") + c * oStride)
      .withColumn("o_custkey", col("o_custkey") + c * cStride)), "orders")

    if (want("lineitem")) wr(copies(rd("lineitem"), n)((d, c) => d
      .withColumn("l_orderkey", col("l_orderkey") + c * oStride)
      .withColumn("l_partkey", col("l_partkey") + c * pStride)
      .withColumn("l_suppkey", col("l_suppkey") + c * sStride)), "lineitem")

    if (want("events")) {
      val ev = rd("events"); val eStride = stride(ev, "event_id")
      wr(copies(ev, n)((d, c) => d
        .withColumn("event_id", col("event_id") + c * eStride)
        .withColumn("user_id", col("user_id") + c * cStride)), "events")
    }

    if (want("documents")) {
      val docs = rd("documents"); val dStride = stride(docs, "doc_id")
    wr(copies(docs, n)((d0, c) =>
      if (c == 0) d0
      else d0
        .withColumn("doc_id", col("doc_id") + c * dStride)
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(c.toString))), " "))), "documents")
    }

    if (want("embeddings")) {
    val emb = rd("embeddings"); val vStride = stride(emb, "vec_id")
    wr(copies(emb, n)((d, c) =>
      if (c == 0) d
      else d
        .withColumn("vec_id", col("vec_id") + c * vStride)
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            // Per-(copy, component) deterministic SIGN pattern (md5 parity)
            // plus a small per-(vector, component, copy) magnitude nudge.
            // The round-8 nudge alone (±1%) spread IVF cells but left the
            // SIGN of every component intact — in sign-random-projection
            // space all N copies of a base vector hashed to the same
            // buckets and were genuine near-dups of each other, so the SRP
            // dedup family's OUTPUT grew ~C(N,2)·base quadratically in the
            // copy factor (measured: 90,920 pairs at ×10 → 9.9M at ×100;
            // the ×1000 probe's ~1G survivor pairs filled the scratch
            // disk) — exactly the fabricated superlinearity the rules
            // above exist to prevent, the embedding analogue of the
            // token-suffix rule for text. Flipping signs by a per-copy
            // pattern is norm-preserving, keeps each copy's WITHIN-copy
            // dup structure (one shared pattern per copy), and makes
            // cross-copy sign signatures uncorrelated — copies spread
            // like genuinely new vectors in both IVF and LSH space.
            ((x.cast("double") +
              (pmod(conv(substring(md5(concat_ws("_",
                col("vec_id"), i, lit(c))), 1, 8), 16, 10).cast("long"),
                lit(2001L)) - 1000L)
                .cast("double") / 100000.0) *
              when(pmod(conv(substring(md5(concat_ws("~",
                lit(c), i)), 1, 8), 16, 10).cast("long"), lit(2L)) === 0L,
                1.0).otherwise(-1.0))
              .cast("float")))), "embeddings")
    }
  }
}
