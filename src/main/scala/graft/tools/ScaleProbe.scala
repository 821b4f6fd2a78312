package graft.tools

import org.apache.spark.sql.functions._

/** Decade scaling probe for the round-9 families: the text-analysis
  * projections that round 9 moved off interpreted/allocating spellings
  * (q22 langId via TokenSetCount, q24 bpeTokenCount via the
  * class-transition scan, q40's budget composite), the UNCLAMPED SRP
  * auto-dial pair (q277/q278) at the third decade, and the curation job
  * end-to-end ([[graft.jobs.CurateExport]] with langId computed in-line,
  * the ETL-grain shape). Produces the BASELINE.md probe rows.
  *
  * Usage: `graft.tools.ScaleProbe <dir> [warmDir]` — prints one JSON
  * line per measurement (all samples + median). Method matches the
  * round-7/8 tiers: per-op codegen warmup at the small corpus, then
  * `SPARK_GRAFT_REPEAT` timed runs (default 1 — at sf10/sf100 runtimes
  * the op dominates sampling noise; use 3 at sf1). Filter with
  * `SPARK_GRAFT_PROBES` (comma list of label prefixes). Point Spark's
  * `SPARK_LOCAL_DIRS` at a disk directory for sf10+ tiers: the session's
  * tmpfs scratch is wrong there (the sf100 SRP probe shuffles ~4.6G
  * candidate pairs and filled /dev/shm until the OOM killer took the JVM).
  */
object ScaleProbe {

  private val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_PROBES").map(_.split(",").toSet)
  private val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1)

  private def want(label: String): Boolean =
    only.forall(_.exists(label.startsWith))

  private def time(label: String)(warm: => Unit)(f: => Long): Unit =
    if (want(label)) {
      warm
      val samples = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val med = samples.map(_._1).sorted.apply(samples.size / 2)
      val ss = samples.map(s => f"${s._1}%.2f").mkString("[", ",", "]")
      println(f"""{"probe":"$label","sec":$med%.2f,"samples":$ss,"rows":${samples.last._2}}""")
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf10")
    val warmDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.core.Sessions.local()

    // the registry's text + SRP entries, measured as the driver runs them
    for (q <- Seq("q22_lang_id", "q24_token_count", "q40_token_budget",
        "q277_srp_auto_dedup", "q278_srp_auto_topk")) {
      val fn = graft.SparkEntry.queries(q)
      time(q)(fn(spark, warmDir).count()) { fn(spark, dir).count() }
    }

    // SRP dial evidence at this corpus: picked width, packed-long count,
    // per-(band,key) bucket population, and banded candidate volume
    // Σ C(m,2) — the numbers that say the dial pinned the buckets.
    if (want("srp_dial")) {
      import graft.ops.Ann
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = e.count()
      val bands = 8
      val width = Ann.srpAutoWidth(n, bands)
      val bpl = math.max(1, 63 / width)
      val k = (bands + bpl - 1) / bpl
      val buckets = Ann.srpSignatureBlocks(e, "vec_id", "embedding", 64,
          bands, width)
        .select(posexplode(col("sig")).as(Seq("band", "key")))
        .groupBy("band", "key").count()
      val s = buckets.agg(
        count(lit(1)).as("nbuckets"), avg("count").as("meanpop"),
        max("count").as("maxpop"),
        sum(col("count") * (col("count") - 1) / 2).as("candidates"))
        .collect()(0)
      println(s"""{"probe":"srp_dial","n":$n,"width":$width,"packed_longs":$k,""" +
        s""""buckets":${s.getLong(0)},"mean_pop":${f"${s.getDouble(1)}%.1f"},""" +
        s""""max_pop":${s.getLong(2)},"candidate_pairs":${s.getAs[Any](3)}}""")
    }

    // exactPercentiles decade probe (round 10): the round-9 rewrite
    // replaced the `percentile` builtin (single aggregation buffer,
    // one-task merge+sort of the distinct set — the module's documented
    // ~10^8 ceiling) with the distributed range-partitioned exact path;
    // these rows show the replacement scales linearly through the decades
    // the builtin could not. Synthetic ALL-DISTINCT input (the builtin's
    // worst case) from spark.range — corpus-independent.
    if (want("exact_pct")) {
      for (n <- Seq(10000000L, 100000000L, 300000000L)) {
        val df = spark.range(0L, n)
          .select(((col("id") * 2654435761L) % 1000000007L).as("v"))
        time(s"exact_pct_${n / 1000000}m") {
          graft.ops.Profile.exactPercentiles(
            spark.range(0L, 100000L).select(col("id").as("v")),
            col("v"), Array(0.5)).count(); ()
        } {
          // noop sink (guide §1.4): count() would let the optimizer prune
          // the percentile computation itself
          graft.ops.Profile.exactPercentiles(df, col("v"),
            Array(0.25, 0.5, 0.75, 0.99))
            .write.format("noop").mode("overwrite").save()
          1L
        }
      }
      // the replaced builtin, same inputs: single aggregation buffer, one
      // task merges+sorts the whole value multiset — the documented
      // ceiling this family replaced. Gate with exact_pct_builtin (it is
      // minutes-slow past 10^8).
      if (want("exact_pct_builtin"))
        for (n <- Seq(10000000L, 100000000L)) {
          val df = spark.range(0L, n)
            .select(((col("id") * 2654435761L) % 1000000007L).as("v"))
          time(s"exact_pct_builtin_${n / 1000000}m") {
            spark.range(0L, 100000L).select(col("id").as("v"))
              .agg(expr("percentile(v, array(0.5))")).count(); ()
          } {
            df.agg(expr("percentile(v, array(0.25, 0.5, 0.75, 0.99))"))
              .write.format("noop").mode("overwrite").save()
            1L
          }
        }
    }

    // curation job end-to-end at the ETL grain: quality gate + dedup
    // cascade + per-language token budget + shard export, with langId
    // computed IN the job (the round-9 TokenSetCount path) — one
    // timed run, fresh scratch.
    if (want("curate_export")) {
      import graft.ops.TextAnalysis
      val out = graft.core.FsOps.procCacheDir("probe_curate", dir)
      def docs = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("lang", TextAnalysis.langId(col("text")))
      time("curate_export") {
        graft.jobs.CurateExport.run(
          spark.read.parquet(s"$warmDir/documents.parquet")
            .withColumn("lang", TextAnalysis.langId(col("text"))),
          "doc_id", "text", "lang", out + "_warm").count()
      } {
        org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(out), true)
        graft.jobs.CurateExport.run(docs, "doc_id", "text", "lang", out)
          .count()
      }
    }
    spark.stop()
  }
}
