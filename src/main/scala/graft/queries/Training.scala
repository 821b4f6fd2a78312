package graft.queries

import graft.core.Tables.table
import graft.ops.{Ann, TextAnalysis, TextDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operator surface over the driver corpus's
  * `documents` and `embeddings` tables: deduplication (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash), similarity search (exact cosine top-k,
  * IVF), and text analysis (language ID, quality, token counts,
  * fingerprints).
  *
  * Every query has a full DuckDB oracle: all hashing is md5-derived
  * (engine-independent) and all floating-point reductions are unrolled to
  * a fixed left-associated term order, so both engines produce
  * bit-identical values — the oracles replay the exact algorithm, not an
  * approximation of it.
  */
object Training {

  private val Dim = 64

  private def docs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  /** Exact content-hash dedup groups. */
  def q17DedupExact(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedup(docs(spark, dir), "doc_id", "text")

  /** Exact word-3-gram Jaccard near-dup pairs (inverted-index join, no
    * cross join) at threshold 0.8. */
  def q18NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.jaccardPairs(docs(spark, dir), "doc_id", "text", 3, 0.8)
      .withColumn("jaccard", round(col("jaccard"), 6))

  /** MinHash(16)+LSH(4×4) candidates verified by exact Jaccard ≥ 0.8. */
  def q19MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashDedupPairs(docs(spark, dir), "doc_id", "text")
      .withColumn("jaccard", round(col("jaccard"), 6))

  /** 32-bit weighted SimHash fingerprint per document. */
  def q20Simhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(docs(spark, dir), "doc_id", "text")
      .select(col("__id").as("doc_id"), col("simhash"))

  /** Exact cosine top-5 neighbors for query vectors vec_id < 1000 (the
    * re-ranker shape: bounded query set × full corpus, corpus broadcast). */
  def q21CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.cosineTopK(e.where(col("vec_id") < 1000), e, "vec_id", "embedding", Dim, 5)
      .withColumn("cosine", round(col("cosine"), 6))
  }

  /** Int8-quantized cosine top-5 (same query shape as q21): codes are one
    * byte per component, the dot product is exact integer arithmetic, and
    * the cosine is rescaled by the two per-vector quantization scales.
    * The oracle replays the quantization bit-for-bit (`round_even` ≡ the
    * engine's pinned `Math.rint`), so this is hash-gated like the exact
    * path — the ¼-memory candidate stage, not a weaker check. */
  def q62AnnInt8(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.cosineTopKInt8(e.where(col("vec_id") < 1000), e, "vec_id", "embedding",
      Dim, 5)
      .withColumn("cosine", round(col("cosine"), 6))
  }

  /** Language-ID heuristic (stopword profiles) with confidence. */
  def q22LangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang"),
      TextAnalysis.langScore(col("text")).as("lang_score"))

  /** Quality-scoring projection: length/punct/stopword features and the
    * composite score. */
  def q23Quality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

  /** Token budgeting: whitespace and BPE-ish subword-proxy counts. */
  def q24TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** Bottom-8 sketch fingerprint over word 3-grams. */
  def q25Fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(docs(spark, dir), "doc_id", "text")
      .select(col("__id").as("doc_id"), col("fingerprint"))

  /** IVF approximate top-3 (16 deterministic centroids, nprobe=1). */
  def q26AnnIvf(spark: SparkSession, dir: String): DataFrame =
    Ann.ivfTopK(embs(spark, dir), "vec_id", "embedding", Dim, 3, 16)
      .withColumn("cosine", round(col("cosine"), 6))

  /** Incremental IVF maintenance ([[Ann.ivfAppend]]): the index is
    * BUILT from the `vec_id % 3 ≠ 0` two-thirds (frozen seed centroids
    * `vec_id < 16` within it), then the remaining third is APPENDED —
    * one broadcast-assignment pass over the batch, committed as a delta
    * beside the untouched cell files. Because membership depends only on
    * the frozen centroids, build-then-append must be content-identical
    * to a one-shot assignment of ALL vectors against those centroids,
    * which is exactly what the oracle replays (intra-cell top-3 over the
    * live index). The scratch root is emptied per call
    * ([[graft.core.FsOps.scratchRoot]]): each append commits a new
    * delta, so replaying into a kept dir would duplicate (batch ids,
    * [[Ann.ivfDeltaAppend]], are the production guard). */
  def q270IvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.FsOps.scratchRoot(spark, "q270", dir)
    val e = embs(spark, dir)
    Ann.buildIvfIndex(e.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", Dim, 16, base)
    Ann.ivfAppend(spark, base,
      e.where(col("vec_id") % 3 === 0), "vec_id", "embedding", Dim)
    val idx = Ann.readIvfAssignments(spark, base)
    // verification workload = top-3 for a FIXED probe set (vec_id <
    // 500), not all-pairs-within-cell: probe x cell-members is LINEAR
    // in corpus where the all-pairs spelling is cell-quadratic (at the
    // 100x probe's 200k vectors / 16 cells, ~2.5G vector-pair rows)
    val a = idx.where(col("vec_id") < 500)
      .select(col("cid"), col("vec_id"), col("vec"), col("nrm"))
    val b = idx.select(col("cid"), col("vec_id").as("neighbor_id"),
      col("vec").as("bvec"), col("nrm").as("bnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("__cos").desc, col("neighbor_id"))
    a.join(b, Seq("cid"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .withColumn("__cos",
        Ann.dot(col("vec"), col("bvec"), Dim) / (col("nrm") * col("bnrm")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("neighbor_id"),
        round(col("__cos"), 6).as("cosine"), col("rank"))
  }

  /** Streaming IVF ingestion lifecycle ([[Ann.ivfDeltaAppend]] →
    * [[Ann.ivfCompactDeltas]] → [[Ann.readIvfAssignments]]): the index
    * is built from the `vec_id % 3 ≠ 0` two-thirds, the remaining third
    * arrives as TWO micro-batch deltas (`batch_0/1` tables — the
    * exactly-once contract behind
    * [[graft.streaming.Streams.ivfIngestSink]]), batch 1 is REPLAYED
    * (at-least-once delivery), and the deltas are compacted into the
    * pruned `cid=` base before the intra-cell top-3. The oracle is
    * q270's verbatim — a one-shot assignment of ALL vectors against the
    * frozen build-subset seeds — so hash-green proves, in one gate:
    * replay idempotence, delta∪base read correctness, and compaction
    * invariance. Cost model: each delta is O(batch) broadcast
    * assignment, the compaction one index rewrite amortized over
    * however many triggers accumulated — the firehose-fed 100 TB
    * embedding index's steady state. */
  def q274StreamIvfIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.FsOps.scratchRoot(spark, "q274", dir)
    val e = embs(spark, dir)
    Ann.buildIvfIndex(e.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", Dim, 16, base)
    val rest = e.where(col("vec_id") % 3 === 0)
    val b0 = rest.where((col("vec_id") / 3).cast("long") % 2 === 0)
    val b1 = rest.where((col("vec_id") / 3).cast("long") % 2 === 1)
    Ann.ivfDeltaAppend(spark, base, b0, "vec_id", "embedding", Dim, 0L)
    Ann.ivfDeltaAppend(spark, base, b1, "vec_id", "embedding", Dim, 1L)
    Ann.ivfDeltaAppend(spark, base, b1, "vec_id", "embedding", Dim, 1L) // replay
    Ann.ivfCompactDeltas(spark, base)
    val idx = Ann.readIvfAssignments(spark, base)
    // verification workload = top-3 for a FIXED probe set (vec_id <
    // 500), not all-pairs-within-cell: probe x cell-members is LINEAR
    // in corpus where the all-pairs spelling is cell-quadratic (at the
    // 100x probe's 200k vectors / 16 cells, ~2.5G vector-pair rows)
    val a = idx.where(col("vec_id") < 500)
      .select(col("cid"), col("vec_id"), col("vec"), col("nrm"))
    val b = idx.select(col("cid"), col("vec_id").as("neighbor_id"),
      col("vec").as("bvec"), col("nrm").as("bnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("__cos").desc, col("neighbor_id"))
    a.join(b, Seq("cid"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .withColumn("__cos",
        Ann.dot(col("vec"), col("bvec"), Dim) / (col("nrm") * col("bnrm")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("neighbor_id"),
        round(col("__cos"), 6).as("cosine"), col("rank"))
  }

  /** Multimodal plumbing: opaque binary payload metadata (byte length,
    * content digest, magic byte) — the schema/partitioning contract decode
    * UDFs plug into (see graft.ops.Multimodal). */
  def q27BinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val bin = col("text").cast("binary")
    docs(spark, dir).select(
      col("doc_id"),
      length(bin).as("n_bytes"),
      md5(bin).as("content_md5"),
      ascii(substring(col("text"), 1, 1)).as("magic_byte"))
  }

  /** LLM sequence packing: concatenate-and-chunk coordinates per doc
    * (8 deterministic shards, 2048-token sequences, whitespace tokens). */
  def q29SeqPacking(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packSequences(
      docs(spark, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      "doc_id", col("n_tokens"), seqLen = 2048, numShards = 8)
      .select(col("doc_id"), col("shard"), col("cum_before"),
        col("pack_id"), col("offset"))

  /** Embedding-level near-dup pairs: cosine ≥ 0.4 within IVF clusters
    * (same 16 deterministic centroids as q26 — the blocking that makes
    * this near-linear at scale; cross-cluster pairs are the documented
    * recall trade). */
  def q30EmbedDups(spark: SparkSession, dir: String): DataFrame =
    Ann.cosineDupPairs(embs(spark, dir), "vec_id", "embedding", Dim,
      threshold = 0.4, numCentroids = 16)
      .withColumn("cosine", round(col("cosine"), 6))

  /** Reproducible stratified sampling: downsample over-represented
    * languages by deterministic hash-mod membership (en 30%, others
    * 100%) — the hash-bucket holdout trick, engine-independent. */
  def q31SampleStratified(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(docs(spark, dir), "doc_id", "lang",
      Map("en" -> 0.3), defaultFraction = 1.0)
      .select(col("doc_id"), col("lang"), col("source"))

  /** Per-source quality quota: the 10 best documents per source by
    * (quality desc, n_chars desc, doc_id) — the canonical data-mixing
    * cap, planned as WindowGroupLimit. */
  def q32QuotaPerSource(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.quotaPerGroup(
      docs(spark, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text"))),
      Seq("source"),
      Seq(col("quality").desc, col("n_chars").desc, col("doc_id").asc),
      quota = 10)
      .select(col("doc_id"), col("source"), col("quality"))

  /** Benchmark-contamination scan: fraction of each corpus doc's 3-gram
    * shingles leaking from the eval slice (doc_id < 20 as the
    * deterministic stand-in eval set); eval shingles broadcast. */
  def q38Contamination(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextAnalysis.contamination(
      d.where(col("doc_id") >= 20), d.where(col("doc_id") < 20),
      "doc_id", "text")
      .select(col("__id").as("doc_id"), col("n_shingles"),
        col("n_contaminated"), col("contamination"))
  }

  /** Within-document repetition: duplicate word-bigram fraction (the
    * Gopher-style quality rule). */
  def q39Repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.repetitionRatio(col("text"), 2).as("repetition"))

  /** Token-budget dataset mixing: fill each source quality-first until
    * 600 tokens, keeping the boundary-crossing doc (the budget is sized to actually prune at sf0.01). */
  def q40TokenBudget(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.tokenBudgetPerGroup(
      docs(spark, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
      Seq("source"),
      Seq(col("quality").desc, col("doc_id").asc),
      col("n_tokens"), budget = 600)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"))

  /** Duplicate groups: connected components (large-star/small-star,
    * O(log n) rounds) over the MinHash+LSH pair graph (q19's pairs),
    * labeling every doc with its component's min id — the survivor/drop
    * list a dedup cascade actually emits. */
  def q42DedupGroups(spark: SparkSession, dir: String): DataFrame =
    TextDedup.connectedComponentsStar(
      TextDedup.minhashDedupPairs(docs(spark, dir), "doc_id", "text"),
      "doc_a", "doc_b")
      .withColumn("keep", col("doc_id") === col("component"))

  /** The full dedup cascade a curation pipeline runs as ONE operator:
    * exact content-hash dedup → MinHash+LSH near-dup pairs among the
    * surviving representatives → connected components over exact∪near
    * edges → per-doc (component, keep). Every stage is the verified
    * primitive (q17/q19/q42) composed without a collect. */
  def q50DedupCascade(spark: SparkSession, dir: String): DataFrame =
    TextDedup.dedupCascade(docs(spark, dir), "doc_id", "text")

  /** The curation pipeline END TO END: quality gate (heuristic score ≥
    * 2/3) → full dedup cascade on the survivors (exact → LSH →
    * connected components, representatives only) → per-language token
    * budget fill (best quality first). This is the composite a training
    * run actually executes before tokenization; every stage is an
    * already-oracle-verified operator, and the composition itself is
    * hash-gated against one recursive-CTE replay — so stage WIRING
    * errors (filtering after dedup instead of before, budget over the
    * wrong grouping) are caught, not just stage internals. */
  def q64Curation(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
    val kept = scored.where(col("quality") >= 0.5)
    val survivors = kept.join(
      TextDedup.dedupCascade(kept, "doc_id", "text")
        .where(col("keep")).select("doc_id"),
      Seq("doc_id"))
    graft.ops.Sampling.tokenBudgetPerGroup(
      survivors.withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
      Seq("lang"), Seq(col("quality").desc, col("doc_id").asc),
      col("n_tokens"), budget = 400)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
  }

  /** C4-style text normalization: deterministic "dirt" (control chars,
    * curly quotes, em-dash, zero-width space, NBSP, doubled spaces) is
    * prepended/appended to each doc, then [[TextAnalysis.cleanText]]
    * strips/folds/collapses and caps at 300 clean chars. Both engines
    * build the identical dirty string; the oracle replays the SAME
    * pattern chain (generated from [[TextAnalysis.cleanPatterns]], Java
    * `\\uXXXX` classes converted to RE2 `\\x{...}`). */
  def q65TextClean(spark: SparkSession, dir: String): DataFrame = {
    // \u0001 control, curly quotes, doubled spaces, em-dash; the tail adds
    // a zero-width space + NBSP on every third doc (escapes, not literal
    // invisibles, so the fixture is readable)
    val dirty = concat(
      lit("\u0001\u2018hi\u2019  \u2014  "),
      col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("\u200b\u00a0tail"))
        .otherwise(lit(" ")))
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.cleanText(dirty, maxChars = 300).as("cleaned"))
      .withColumn("n_clean", length(col("cleaned")))
  }

  /** Unigram language-model scoring — the perplexity quality filter: doc
    * log-probability Σ tf·ln(cnt/N) under the corpus's own unigram model,
    * and perplexity exp(−logp/len). The per-doc reduction folds a
    * token-sorted array left-associatively (`aggregate` HOF over
    * `sort_array`), so the float sum is order-pinned and the oracle
    * (DuckDB `list_reduce` over `array_agg(… ORDER BY token)`) reproduces
    * it bit-for-bit — no rounding slack needed before the final render.
    * Scale shape: two token-level aggregations + one broadcast 1-row
    * total; the model "training" IS the frequency count. */
  def q70LmScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(col("doc_id"),
      explode(filter(split(col("text"), " "), t => t =!= "")).as("token"))
    val freq = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).cast("double").as("nn"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val terms = tf.join(freq, "token").crossJoin(broadcast(total))
      .select(col("doc_id"), col("token"), col("tf"),
        (col("tf") * log(col("cnt").cast("double") / col("nn"))).as("v"))
    val s = aggregate(transform(col("arr"), e => e.getField("v")),
      lit(0.0), (a, x) => a + x)
    terms.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("token"), col("v")))).as("arr"),
        sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(s, 6).as("log_prob"),
        round(exp(negate(s) / col("n_tokens")), 4).as("ppl"))
  }

  /** Reproducible train/val/test + 5-fold assignment (hash thresholds on
    * doc_id — stable under reruns, repartitioning, and re-crawls). */
  def q71Split(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.assignSplits(docs(spark, dir), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), kFolds = 5)
      .select(col("doc_id"), col("lang"), col("split"), col("fold"))

  /** Asymmetric containment near-dup: |A∩B| / |A| ≥ 0.8 over hashed word
    * 3-gram shingles — catches a document quoted INSIDE a longer one,
    * which symmetric Jaccard (q18) scores near zero. Directed pairs. */
  def q79Containment(spark: SparkSession, dir: String): DataFrame =
    TextDedup.containmentPairs(docs(spark, dir), "doc_id", "text", 3, 0.8)
      .withColumn("containment", round(col("containment"), 6))

  /** Inverted-index conjunctive search: build the bucket-partitioned
    * posting table, then answer "docs containing BOTH terms" from the
    * index alone (two partition-pruned term lookups + one doc_id
    * intersection — the text column is never rescanned). The oracle
    * answers the same question by brute-force token-list scan. */
  def q77IndexSearch(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.core.FsOps.scratchRoot(spark, "q77", dir)
    graft.ops.TextIndex.build(docs(spark, dir), "doc_id", "text", idx,
      numBuckets = 16)
    graft.ops.TextIndex.search(spark, idx, Seq("join", "hash"),
      numBuckets = 16)
  }

  /** Multi-probe IVF: nprobe=2 over the same 16 deterministic centroids
    * as q26 — the recall dial between single-probe IVF and brute force. */
  def q41AnnNprobe(spark: SparkSession, dir: String): DataFrame =
    Ann.ivfTopKProbed(embs(spark, dir), "vec_id", "embedding", Dim,
      k = 3, numCentroids = 16, nprobe = 2)
      .withColumn("cosine", round(col("cosine"), 6))

  // --------------------------------------------------------------------
  // DuckDB oracles. Shared SQL fragments are generated so the constants
  // and term order match the Spark expressions exactly.
  // --------------------------------------------------------------------

  /** Word-3-gram shingle CTEs (string form, used by q25). */
  private val shingleCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct([ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2]
      |                       for g in generate_series(1, len(ws)-2)]) shs
      |      FROM w)""".stripMargin

  /** 60-bit-hashed shingle CTEs (used by q18/q19 — the Spark side joins
    * and intersects hashes, not strings; see TextDedup.hashedShingleRows).
    * Parameterized by the source relation (q50 runs them over the
    * exact-dedup representatives instead of all documents). */
  private def hashedShingleCtesOver(src: String) =
    s"""w AS (SELECT doc_id, string_split(text, ' ') ws FROM $src),
       |s AS (SELECT doc_id,
       |        list_transform(
       |          list_distinct([ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2]
       |                         for g in generate_series(1, len(ws)-2)]),
       |          g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) shs
       |      FROM w)""".stripMargin
  private val hashedShingleCtes = hashedShingleCtesOver("documents")

  private val jacExpr =
    """len(list_intersect(x.shs, y.shs))::DOUBLE /
      |(len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))""".stripMargin

  /** `hash60` in DuckDB. */
  private def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  private val P = TextDedup.MinhashPrime

  /** Shared MinHash(16)+LSH(4×4)+verify CTE chain (q19, q42, q50): ends
    * at `j(doc_a, doc_b, jac)`; parameterized by the source relation. */
  private def minhashCtesOver(src: String): String = {
    val perms = TextDedup.permutations(16)
    val mins = perms.zipWithIndex
      .map { case ((a, b), i) => s"min(($a * x + $b) % $P) m$i" }
      .mkString(", ")
    val bandEq = (0 until 4).map { bi =>
      (0 until 4).map(r => s"a.m${bi * 4 + r} = b.m${bi * 4 + r}").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""${hashedShingleCtesOver(src)},
       |e AS (SELECT doc_id, unnest(shs) sh FROM s),
       |hx AS (SELECT doc_id, sh % $P x FROM e),
       |sig AS (SELECT doc_id, $mins FROM hx GROUP BY doc_id),
       |cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b FROM sig a JOIN sig b
       |         ON a.doc_id < b.doc_id AND ($bandEq)),
       |j AS (SELECT doc_a, doc_b, $jacExpr jac
       |      FROM cand JOIN s x ON x.doc_id = doc_a JOIN s y ON y.doc_id = doc_b)""".stripMargin
  }
  private lazy val minhashCtes: String = minhashCtesOver("documents")

  /** [[minhashCtesOver]] with candidates restricted to corpus × increment
    * (doc_id % 10 (!)= 0) — the q172 incremental-dedup replay. */
  private lazy val minhashIncCtes: String = {
    val perms = TextDedup.permutations(16)
    val mins = perms.zipWithIndex
      .map { case ((a, b), i) => s"min(($a * x + $b) % $P) m$i" }
      .mkString(", ")
    val bandEq = (0 until 4).map { bi =>
      (0 until 4).map(r => s"a.m${bi * 4 + r} = b.m${bi * 4 + r}").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""${hashedShingleCtesOver("documents")},
       |e AS (SELECT doc_id, unnest(shs) sh FROM s),
       |hx AS (SELECT doc_id, sh % $P x FROM e),
       |sig AS (SELECT doc_id, $mins FROM hx GROUP BY doc_id),
       |cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b
       |         FROM sig a JOIN sig b
       |         ON a.doc_id % 10 != 0 AND b.doc_id % 10 = 0 AND ($bandEq)),
       |j AS (SELECT doc_a, doc_b, $jacExpr jac
       |      FROM cand JOIN s x ON x.doc_id = doc_a JOIN s y ON y.doc_id = doc_b)""".stripMargin
  }

  /** q173/q174 PQ replay: per-subspace dot products in the native
    * expression's exact left-associated order; codes by (dist, cid)
    * argmin; ADC sums over 1e-6-quantized BIGINTs. Base chain ends at
    * `qd` (the per-query distance table). */
  private lazy val pqBaseCtes: String = {
    val m = 8; val sub = 8
    def dotSub(a: String, b: String, j: Int): String =
      (1 to sub).map(i =>
        s"$a.embedding[${j * sub + i}]::DOUBLE * $b.embedding[${j * sub + i}]::DOUBLE")
        .mkString(" + ")
    val branches = (0 until m).map { j =>
      s"""SELECT v.vec_id, $j AS j, c.cid,
         |  ((${dotSub("v", "v", j)}) - 2*(${dotSub("v", "c", j)})
         |    + (${dotSub("c", "c", j)})) AS dist
         |FROM embeddings v CROSS JOIN cb c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""cb AS (SELECT vec_id cid, embedding FROM embeddings WHERE vec_id < 16),
       |ad AS ($branches),
       |codes AS (SELECT vec_id, j, cid AS code FROM (
       |  SELECT vec_id, j, cid,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) rn
       |  FROM ad) WHERE rn = 1),
       |qd AS (SELECT vec_id qid, j, cid,
       |         CAST(round(dist * 1e6) AS BIGINT) dq
       |       FROM ad WHERE vec_id < 40)""".stripMargin
  }

  private lazy val pqCtes: String =
    s"""$pqBaseCtes,
       |sc AS (SELECT q.qid, e.vec_id vid, sum(q.dq)::BIGINT adist
       |       FROM codes e JOIN qd q
       |         ON q.j = e.j AND q.cid = e.code AND q.qid != e.vec_id
       |       GROUP BY 1, 2),
       |r AS (SELECT qid, vid, adist,
       |        row_number() OVER (PARTITION BY qid ORDER BY adist, vid) rn
       |      FROM sc)""".stripMargin

  /** q174 IVF-PQ replay: [[pqBaseCtes]] + cosine cell assignment (q83's
    * asg discipline: sim DESC, cid ASC) + nprobe=4 probes + ADC restricted
    * to probed cells. */
  private lazy val ivfPqCtes: String =
    s"""$pqBaseCtes,
       |$normCte,
       |c16 AS (SELECT vec_id cid, embedding, nrm FROM n WHERE vec_id < 16),
       |asg AS (SELECT vec_id, cid FROM (
       |  SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
       |  FROM n v CROSS JOIN c16 c) WHERE rn = 1),
       |probes AS (SELECT vec_id qid, cid FROM (
       |  SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
       |  FROM n v CROSS JOIN c16 c WHERE v.vec_id < 40) WHERE rn <= 4),
       |sc AS (SELECT q.qid, e.vec_id vid, sum(q.dq)::BIGINT adist
       |       FROM codes e
       |         JOIN asg av ON av.vec_id = e.vec_id
       |         JOIN qd q
       |           ON q.j = e.j AND q.cid = e.code AND q.qid != e.vec_id
       |         JOIN probes p ON p.qid = q.qid AND p.cid = av.cid
       |       GROUP BY 1, 2),
       |r AS (SELECT qid, vid, adist,
       |        row_number() OVER (PARTITION BY qid ORDER BY adist, vid) rn
       |      FROM sc)""".stripMargin

  /** q181 residual IVF-PQ replay: PQ over `v − centroid(cell(v))` with
    * per-probed-cell query residual tables; float residual subtraction
    * mirrors the engine's zip_with exactly (FLOAT in both engines). */
  private lazy val ivfPqResCtes: String = {
    val m = 8; val sub = 8
    def dotR(a: String, b: String, j: Int): String =
      (1 to sub).map(i =>
        s"$a.remb[${j * sub + i}]::DOUBLE * $b.remb[${j * sub + i}]::DOUBLE")
        .mkString(" + ")
    val radBranches = (0 until m).map { j =>
      s"""SELECT v.vec_id, $j AS j, b.ccode,
         |  ((${dotR("v", "v", j)}) - 2*(${dotR("v", "b", j)})
         |    + (${dotR("b", "b", j)})) AS dist
         |FROM rd v CROSS JOIN rcb b""".stripMargin
    }.mkString("\nUNION ALL\n")
    val qdBranches = (0 until m).map { j =>
      s"""SELECT v.qid, v.cid, $j AS j, b.ccode,
         |  CAST(round(((${dotR("v", "v", j)}) - 2*(${dotR("v", "b", j)})
         |    + (${dotR("b", "b", j)})) * 1e6) AS BIGINT) AS dq
         |FROM qrd v CROSS JOIN rcb b""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$normCte,
       |c16 AS (SELECT vec_id cid, embedding, nrm FROM n WHERE vec_id < 16),
       |asgf AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
       |  FROM n v CROSS JOIN c16 c) WHERE rn = 1),
       |rd AS MATERIALIZED (SELECT e.vec_id, a.cid,
       |    [e.embedding[i] - c.embedding[i] for i in generate_series(1, 64)] remb
       |  FROM embeddings e JOIN asgf a ON a.vec_id = e.vec_id
       |    JOIN c16 c ON c.cid = a.cid),
       |rcb AS MATERIALIZED (SELECT vec_id ccode, remb FROM rd WHERE vec_id < 16),
       |rad AS ($radBranches),
       |rcodes AS MATERIALIZED (SELECT vec_id, j, ccode AS code FROM (
       |  SELECT vec_id, j, ccode,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, ccode) rn
       |  FROM rad) WHERE rn = 1),
       |probes AS MATERIALIZED (SELECT vec_id qid, cid FROM (
       |  SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
       |  FROM n v CROSS JOIN c16 c WHERE v.vec_id < 40) WHERE rn <= 4),
       |qrd AS MATERIALIZED (SELECT p.qid, p.cid,
       |    [q.embedding[i] - c.embedding[i] for i in generate_series(1, 64)] remb
       |  FROM probes p JOIN embeddings q ON q.vec_id = p.qid
       |    JOIN c16 c ON c.cid = p.cid),
       |qd AS ($qdBranches),
       |sc AS MATERIALIZED (SELECT q.qid, e.vec_id vid, sum(q.dq)::BIGINT adist
       |      FROM rcodes e
       |        JOIN asgf av ON av.vec_id = e.vec_id
       |        JOIN qd q ON q.cid = av.cid AND q.j = e.j
       |          AND q.ccode = e.code AND q.qid != e.vec_id
       |      GROUP BY 1, 2),
       |r AS (SELECT qid, vid, adist,
       |        row_number() OVER (PARTITION BY qid ORDER BY adist, vid) rn
       |      FROM sc)""".stripMargin
  }

  /** Fixed left-associated Σ a[i]·b[i] (1-based DuckDB lists). */
  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"$a.embedding[$i]::DOUBLE * $b.embedding[$i]::DOUBLE")
      .mkString(" + ")

  private val normCte =
    s"n AS (SELECT vec_id, embedding, sqrt(${dotSql("e", "e")}) nrm FROM embeddings e)"

  private def stopIn(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")

  /** English stopword IN-list literal, shared with other modules' oracles
    * (q219 replays the q23 quality chain). */
  lazy val stopwordIn: String = stopIn(TextAnalysis.stopwords.head._2)

  /** Hard-negative mining: top-3 most-similar OTHER-label vectors per
    * query — the contrastive-training negative sampler.
    * [[Ann.hardNegatives]]. */
  def q157HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.hardNegatives(e.where(col("vec_id") < 100), e, "vec_id",
        "embedding", "label", Dim, 3)
      .withColumn("cosine", round(col("cosine"), 6))
  }

  /** Greedy k-center diversity coreset (farthest-point-first, k=4) over
    * the embedding corpus — the "maximally spread exemplars" selector a
    * curation pipeline uses for eval-set seeding and coverage sampling.
    * Distances are integer-quantized squared L2 ([[Ann.kcenterSelect]]),
    * so the oracle's four unrolled selection rounds replay the argmax
    * chain exactly. */
  def q211Kcenter(spark: SparkSession, dir: String): DataFrame =
    Ann.kcenterSelect(embs(spark, dir), "vec_id", "embedding", Dim, k = 4)

  /** Embedding near-dup pairs by signed-random-projection (cosine) LSH:
    * 32-bit exact-integer hyperplane signatures, 8×4-bit band blocking,
    * hamming ≤ 7 (≈ cosine ≳ cos 39° — the related-pair band)
    * ([[Ann.srpDupPairs]]). The oracle replays the QUADRATIC hamming
    * filter over the same signatures — identical output by the pigeonhole
    * losslessness the op asserts. */
  def q213SrpLsh(spark: SparkSession, dir: String): DataFrame =
    Ann.srpDupPairs(embs(spark, dir), "vec_id", "embedding", Dim,
      bits = 32, bands = 8, maxHamming = 7)

  /** [[q213SrpLsh]]'s SCALE configuration as a retrieval shortlist:
    * 48-bit signatures in 8×6-bit bands — 64 buckets per band instead of
    * q213's 16, cutting per-band candidate volume ~16× (the bits/bands
    * dial from [[Ann.srpDupPairs]]'s sizing note; 56×8 is the 10^8+
    * step). The banded candidates are re-ranked EXACTLY and cut to the
    * global top-20 by (hamming, pair id) — LSH proposes, exact distance
    * disposes — so the gate is non-vacuous even on a corpus whose
    * thresholded near-dup set is legitimately empty (sf0.01's max
    * cosine is 0.51). The oracle replays the same block-share candidate
    * predicate + exact re-rank quadratically. */
  def q275SrpLshWide(spark: SparkSession, dir: String): DataFrame =
    Ann.srpCandidatesTopK(embs(spark, dir), "vec_id", "embedding", Dim,
      bits = 48, bands = 8, k = 20)

  /** [[q213SrpLsh]] with the dial SELF-TURNED (`bits = 0` →
    * [[Ann.srpAutoBits]]): the per-band block width follows the corpus
    * count, pinning expected bucket population at 512 so in-bucket
    * candidate volume stays LINEAR in n — q276's autoGranularity
    * pattern applied to the signature family. This is the production
    * default; q213 keeps its fixed 32-bit dial only as the comparison
    * twin. The oracle replays the same smallest-width integer chain
    * from count(*) and the quadratic hamming filter over the
    * identically-dialed signatures (lossless by pigeonhole:
    * maxHamming = bands − 1). */
  def q277SrpAutoDedup(spark: SparkSession, dir: String): DataFrame =
    Ann.srpDupPairs(embs(spark, dir), "vec_id", "embedding", Dim,
      bits = 0, bands = 8, maxHamming = 7)

  /** [[q275SrpLshWide]]'s retrieval shortlist with the self-turned dial
    * — same auto width as [[q277SrpAutoDedup]], banded candidates
    * re-ranked exactly and cut to the global top-20. */
  def q278SrpAutoTopk(spark: SparkSession, dir: String): DataFrame =
    Ann.srpCandidatesTopK(embs(spark, dir), "vec_id", "embedding", Dim,
      bits = 0, bands = 8, k = 20)

  /** The LIFTED dial exercised past the round-7 one-long ceiling:
    * `targetBucket = 2` makes [[Ann.srpAutoWidth]] ask for width 8 at
    * the sf0.01 corpus (⌈500/2⌉ = 250 cells → 2^8) — more than the
    * old ⌊63/8⌋ = 7 clamp could grant — so the signature spans 64 bits
    * across TWO packed longs ([[Ann.srpSignatureBlocks]]' array-of-
    * blocks transport). Shaped as the top-20 SHORTLIST (not the
    * thresholded pair set, which is legitimately EMPTY at this width on
    * a corpus whose max cosine is 0.51 — a 0-row gate proves nothing),
    * so the gate stays non-vacuous. The oracle replays the same dial
    * chain and the block-list signatures quadratically; green here
    * means the driver gate itself exercises the unclamped machinery,
    * not just AnnSpec. */
  def q282SrpUnclamped(spark: SparkSession, dir: String): DataFrame =
    Ann.srpCandidatesTopK(embs(spark, dir), "vec_id", "embedding", Dim,
      bits = 0, bands = 8, k = 20, targetBucket = 2)

  /** Incremental corpus dedup — the daily-ingest shape: docs ending in 0
    * play the "new day" increment, the rest the indexed corpus. The
    * corpus's MinHash signatures are PERSISTED once
    * ([[TextDedup.buildMinhashIndex]]); the increment's band keys
    * broadcast against one index scan (corpus never reshuffles), exact
    * Jaccard verifies ([[TextDedup.incrementalDupPairs]]). */
  def q172IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val corpus = d.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val inc = d.where(pmod(col("doc_id"), lit(10)) === 0)
    val path = graft.core.FsOps.scratchRoot(spark, "q172", dir)
    TextDedup.buildMinhashIndex(corpus, "doc_id", "text", path)
    TextDedup.incrementalDupPairs(spark, path, corpus, inc, "doc_id", "text")
      .withColumn("jaccard", round(col("jaccard"), 6))
  }

  /** PQ-compressed ANN: 64 float32s → 8 four-bit codes in ONE long (32×
    * compression) via deterministic per-subspace codebooks
    * ([[Ann.pqEncode]] — a pure projection, no shuffle), then ADC top-3
    * per query from the codes alone ([[Ann.pqTopK]] — integer-exact
    * distance-table lookups). The billion-vector search memory shape. */
  def q173PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val cb = Ann.pqCodebook(e, "vec_id", "embedding", Dim, m = 8, k = 16)
    val enc = Ann.pqEncode(e, "vec_id", "embedding", Dim, m = 8, k = 16)
    Ann.pqTopK(enc, e.where(col("vec_id") < 40), "vec_id", "embedding",
      Dim, cb, topK = 3)
  }

  /** IVF-PQ composed: coarse cells prune (nprobe=4 of 16), integer-exact
    * ADC over packed PQ codes scores only the probed cells
    * ([[Ann.ivfPqTopK]]) — the two billion-scale levers in one plan. */
  def q174IvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val cb = Ann.pqCodebook(e, "vec_id", "embedding", Dim, m = 8, k = 16)
    Ann.ivfPqTopK(e, e.where(col("vec_id") < 40), "vec_id", "embedding",
      Dim, numCentroids = 16, nprobe = 4, cb, topK = 3)
  }

  /** Training-batch assembly, composed end to end: quality gate (q23's
    * score ≥ 0.5) → exact-dedup survivors (q17's min-id keepers) →
    * power-of-2 length bands and longest-first 16-doc batches with exact
    * pad-waste (q164's batching) — the "make batches out of a raw
    * corpus" pipeline as ONE declarative plan, oracle-gated as a unit
    * (the composition, not just the stages, is what the hash checks). */
  def q175TrainingBatches(spark: SparkSession, dir: String): DataFrame = {
    val kept = docs(spark, dir)
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .where(col("quality") >= 0.5)
    val keepers = TextDedup.exactDedup(kept, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val survivors = kept.join(keepers, Seq("doc_id"))
      .select(col("doc_id"), size(split(col("text"), " ")).as("toks"))
    graft.ops.Packing.lengthBuckets(survivors, "doc_id", col("toks"),
        batchSize = 16)
      .select(col("doc_id"), col("band"), col("batch_idx"),
        col("batch_max"), col("pad_waste"))
  }

  /** Dataset card: the per-source corpus report every released training
    * set ships with — docs, whitespace tokens, exact-dup rate (1 −
    * distinct md5 / docs), language spread, mean quality — plus the
    * corpus-total ROLLUP row. Mean quality stays engine-exact because
    * q23's score is k/3 (k ∈ 0..3): summing round(quality·3) longs and
    * dividing ONCE is order-independent where avg(double) is not. */
  def q176DatasetCard(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("q3",
        round(TextAnalysis.qualityScore(col("text")) * 3, 0).cast("long"))
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        countDistinct(col("lang")).as("n_langs"),
        round(sum(col("q3")).cast("double") / (lit(3.0) * count(lit(1))), 6)
          .as("mean_quality"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_distinct"), col("n_langs"),
        col("mean_quality"))

  /** Retrieval evaluation over the q26 IVF index: per-query Recall@3,
    * MRR, NDCG@3 against same-label ground truth
    * ([[graft.ops.Ranking.rankingMetrics]]) — the numbers that tell you
    * whether nprobe/numCentroids are tuned right, computed for every
    * query at once. */
  def q177RetrievalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val results = Ann.ivfTopK(e, "vec_id", "embedding", Dim, 3, 16)
    val lbl = e.select(col("vec_id"), col("label"))
    val rel = lbl.join(
        lbl.select(col("vec_id").as("neighbor_id"), col("label")), "label")
      .where(col("vec_id") =!= col("neighbor_id"))
      .select("vec_id", "neighbor_id")
    graft.ops.Ranking.rankingMetrics(results, rel,
      "vec_id", "neighbor_id", "rank", k = 3)
  }

  /** Residual IVF-PQ ([[Ann.ivfPqResidualTopK]]): codes quantize
    * `v − centroid(cell(v))`, query tables rebuild per probed cell —
    * the full Jégou design, byte-for-byte oracle-replayed. */
  def q181IvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.ivfPqResidualTopK(e, e.where(col("vec_id") < 40), "vec_id",
      "embedding", Dim, numCentroids = 16, nprobe = 4, m = 8, k = 16,
      topK = 3)
  }

  /** Two-stage ANN serving: IVF-PQ ADC proposes a 20-deep shortlist
    * (codes only), exact L2 re-ranks to top-3 ([[Ann.rerankL2]] — full
    * vectors touched ONLY for shortlist pairs). The practitioner-default
    * stack, hash-gated end to end. */
  def q182IvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val cb = Ann.pqCodebook(e, "vec_id", "embedding", Dim, m = 8, k = 16)
    val queries = e.where(col("vec_id") < 40)
    val shortlist = Ann.ivfPqTopK(e, queries, "vec_id", "embedding", Dim,
      numCentroids = 16, nprobe = 4, cb, topK = 20)
    Ann.rerankL2(shortlist, e, queries, "vec_id", "embedding", Dim, k = 3)
  }

  /** Fixed-point second-moment (Gram) matrix of the embedding corpus —
    * the distributed covariance/PCA building block ([[Ann.secondMoment]]):
    * d(d+1)/2 upper-triangle cells, generated map-side and reduced by one
    * tiny 2080-group aggregate. Components quantize to exact 1e-3-unit
    * longs first, so the sums replay bit-for-bit in DuckDB (which spells
    * the same semantics as an exploded self-join). */
  def q185EmbedCov(spark: SparkSession, dir: String): DataFrame =
    Ann.secondMoment(embs(spark, dir), "embedding", Dim)

  /** Top-3 related documents per document by exact 3-gram Jaccard with a
    * 0.3 candidate floor — the lexical "more like this" surface
    * ([[TextDedup.relatedDocsTopK]]): prefix-filtered pair join at the
    * floor, then a bounded-heap top-k, no window sort. */
  def q186RelatedDocs(spark: SparkSession, dir: String): DataFrame =
    TextDedup.relatedDocsTopK(docs(spark, dir), "doc_id", "text",
      n = 3, floor = 0.3, k = 3)

  /** Embedding-centroid drift per label vs the corpus mean — the
    * vector-space balance monitor ([[Ann.centroidDrift]]): which label's
    * semantic center sits farthest from the corpus center. */
  def q192CentroidDrift(spark: SparkSession, dir: String): DataFrame =
    Ann.centroidDrift(embs(spark, dir), "label", "embedding", Dim)

  /** Gopher-style rule gate with per-rule audit columns
    * ([[TextAnalysis.gopherRules]]) — the published pre-training
    * heuristic family as a projection-only pass. */
  def q206GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(docs(spark, dir), "doc_id", "text",
      minWords = 20, maxWords = 100000)

  /** Per-dimension embedding profile — dead-dimension / clipping / scale
    * observability in exact 1e-3 units ([[Ann.embedProfile]]). */
  def q205EmbedProfile(spark: SparkSession, dir: String): DataFrame =
    Ann.embedProfile(embs(spark, dir), "embedding", Dim)

  /** Filtered vector search: multi-probe IVF (nprobe=2, q41's shape)
    * constrained to same-label candidates — the metadata-predicate ANN
    * every production vector store needs ([[Ann.ivfTopKFiltered]]). */
  def q203FilteredAnn(spark: SparkSession, dir: String): DataFrame =
    Ann.ivfTopKFiltered(embs(spark, dir), "vec_id", "embedding", "label",
      Dim, k = 3, numCentroids = 16, nprobe = 2)
      .withColumn("cosine", round(col("cosine"), 6))

  /** Quality-aware dedup survivors: near-dup components (q42's
    * MinHash+CC chain) re-resolved so each group keeps its HIGHEST
    * [[TextAnalysis.qualityScore]] member, not the min id — the
    * cleanest-crawl-wins policy ([[TextDedup.survivorsByScore]]). */
  def q202BestSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val groups = TextDedup.connectedComponentsStar(
      TextDedup.minhashDedupPairs(d, "doc_id", "text"), "doc_a", "doc_b")
    val scored = d.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    TextDedup.survivorsByScore(groups, scored, "doc_id", "quality")
  }

  /** Contrastive (anchor, positive/negative) pair construction over the
    * corpus: exact-dup positives + hash-derangement negatives
    * ([[graft.ops.Sampling.contrastivePairs]]) — the reranker /
    * embedding-model training feedstock. */
  def q201TrainingPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.contrastivePairs(docs(spark, dir), "doc_id", "text")

  /** Held-out 5-gram novelty per test-split document — the memorization
    * screen composing q71's hash split with window hashing
    * ([[TextAnalysis.ngramNovelty]]). */
  def q193NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(docs(spark, dir), "doc_id", "text")

  /** LSH parameter evaluation: precision/recall of the MinHash(16)/4-band
    * candidate stage against exact 3-gram Jaccard ≥ 0.8 ground truth —
    * "are these band parameters right for this corpus"
    * ([[TextDedup.lshEvalMetrics]]). */
  def q190LshEval(spark: SparkSession, dir: String): DataFrame =
    TextDedup.lshEvalMetrics(docs(spark, dir), "doc_id", "text")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q185_embed_cov" -> q185EmbedCov,
    "q186_related_docs" -> q186RelatedDocs,
    "q190_lsh_eval" -> q190LshEval,
    "q192_centroid_drift" -> q192CentroidDrift,
    "q193_ngram_novelty" -> q193NgramNovelty,
    "q201_training_pairs" -> q201TrainingPairs,
    "q202_best_survivors" -> q202BestSurvivors,
    "q203_filtered_ann" -> q203FilteredAnn,
    "q205_embed_profile" -> q205EmbedProfile,
    "q206_gopher_rules" -> q206GopherRules,
    "q157_hard_negatives" -> q157HardNegatives,
    "q172_incremental_dedup" -> q172IncrementalDedup,
    "q173_pq_ann" -> q173PqAnn,
    "q174_ivfpq_ann" -> q174IvfPqAnn,
    "q181_ivfpq_residual" -> q181IvfPqResidual,
    "q182_ivfpq_rerank" -> q182IvfPqRerank,
    "q175_training_batches" -> q175TrainingBatches,
    "q176_dataset_card" -> q176DatasetCard,
    "q177_retrieval_metrics" -> q177RetrievalMetrics,
    "q17_dedup_exact" -> q17DedupExact,
    "q18_ngram_jaccard" -> q18NgramJaccard,
    "q19_minhash_lsh" -> q19MinhashLsh,
    "q20_simhash" -> q20Simhash,
    "q211_kcenter" -> q211Kcenter,
    "q213_srp_lsh" -> q213SrpLsh,
    "q275_srp_lsh_wide" -> q275SrpLshWide,
    "q277_srp_auto_dedup" -> q277SrpAutoDedup,
    "q278_srp_auto_topk" -> q278SrpAutoTopk,
    "q282_srp_unclamped" -> q282SrpUnclamped,
    "q21_cosine_topk" -> q21CosineTopk,
    "q22_lang_id" -> q22LangId,
    "q23_quality" -> q23Quality,
    "q24_token_count" -> q24TokenCount,
    "q25_fingerprint" -> q25Fingerprint,
    "q26_ann_ivf" -> q26AnnIvf,
    "q270_ivf_append" -> q270IvfAppend,
    "q274_stream_ivf_ingest" -> q274StreamIvfIngest,
    "q27_binary_meta" -> q27BinaryMeta,
    "q29_seq_packing" -> q29SeqPacking,
    "q30_embed_dups" -> q30EmbedDups,
    "q31_sample_stratified" -> q31SampleStratified,
    "q32_quota_per_source" -> q32QuotaPerSource,
    "q38_contamination" -> q38Contamination,
    "q39_repetition" -> q39Repetition,
    "q40_token_budget" -> q40TokenBudget,
    "q41_ann_nprobe" -> q41AnnNprobe,
    "q42_dedup_groups" -> q42DedupGroups,
    "q50_dedup_cascade" -> q50DedupCascade,
    "q62_ann_int8" -> q62AnnInt8,
    "q64_curation" -> q64Curation,
    "q65_text_clean" -> q65TextClean,
    "q70_lm_score" -> q70LmScore,
    "q71_split" -> q71Split,
    "q77_index_search" -> q77IndexSearch,
    "q79_containment" -> q79Containment
  )

  /** Java-regex character classes → RE2 (DuckDB): `\\uXXXX` becomes
    * `\\x{XXXX}`. Everything else in [[TextAnalysis.cleanPatterns]] is
    * written in the common subset of both dialects. */
  private def re2(pat: String): String =
    pat.replaceAll("\\\\u([0-9a-fA-F]{4})", "\\\\x{$1}")

  /** Unrolled Σ(a[i]−b[i])² over quantized-long lists (1-based DuckDB). */
  private def sqSql(a: String, b: String): String =
    (1 to Dim).map(i => s"($a.qv[$i] - $b.qv[$i]) * ($a.qv[$i] - $b.qv[$i])")
      .mkString(" + ")

  /** Four unrolled greedy k-center rounds: m{r} carries every unchosen
    * point's min-dist to the chosen set, c{r+1} takes its argmax (ties
    * to the smaller id) — integer distances, so the chain is exact. */
  private lazy val kcenterOracle: String = {
    val rounds = (1 to 3).map { r =>
      s"""m$r AS (SELECT m.vec_id, m.qv,
         |  ${if (r == 1) s"(${sqSql("m", "c1")})"
            else s"least(m.d, (${sqSql("m", s"c$r")}))"} AS d
         |  FROM ${if (r == 1) "q" else s"m${r - 1}"} m CROSS JOIN c$r c$r
         |  WHERE m.vec_id <> c$r.vec_id),
         |c${r + 1} AS (SELECT vec_id, qv, d FROM m$r
         |  ORDER BY d DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id,
       |    [CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)
       |     for i in generate_series(1, $Dim)] qv
       |  FROM embeddings),
       |c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
       |$rounds
       |SELECT CAST(1 AS BIGINT) sel_order, vec_id, CAST(0 AS BIGINT) sqdist
       |  FROM c1
       |UNION ALL SELECT 2, vec_id, d FROM c2
       |UNION ALL SELECT 3, vec_id, d FROM c3
       |UNION ALL SELECT 4, vec_id, d FROM c4""".stripMargin
  }

  /** The op's ±1 hyperplanes as a DuckDB list-of-lists literal (row j =
    * bit j, column i = component i — [[Ann.srpWeight]] is public md5
    * parity, rebuilt here in the same JVM so the literal IS the op's
    * matrix). */
  private def srpOracle(bits: Int): String = {
    val h = (0 until bits).map { j =>
      (0 until Dim).map(i => Ann.srpWeight(i, j)).mkString("[", ",", "]")
    }.mkString("[", ",\n    ", "]")
    s"""WITH h AS (SELECT $h AS H),
       |q AS (SELECT vec_id,
       |    [CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)
       |     for i in generate_series(1, $Dim)] qv
       |  FROM embeddings),
       |s AS (SELECT vec_id,
       |    list_sum(list_transform(generate_series(1, $bits), j ->
       |      CASE WHEN list_sum([H[j][i] * qv[i]
       |                          for i in generate_series(1, $Dim)]) >= 0
       |      THEN 1::BIGINT << (j - 1) ELSE 0::BIGINT END)) sig
       |  FROM q CROSS JOIN h)
       |SELECT a.vec_id vec_a, b.vec_id vec_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) hamming
       |FROM s a JOIN s b ON a.vec_id < b.vec_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 7""".stripMargin
  }

  /** [[srpOracle]]'s shortlist twin: block-share candidate predicate
    * (any of the `bands` fixed-width signature blocks equal) + exact
    * hamming re-rank, global top-k with total-order tiebreak. */
  private def srpShortlistOracle(bits: Int, bands: Int, k: Int): String = {
    val width = bits / bands
    val mask = (1L << width) - 1
    val blockEq = (0 until bands)
      .map(b => s"((a.sig >> ${b * width}) & $mask) = ((b.sig >> ${b * width}) & $mask)")
      .mkString("(", "\n       |   OR ", ")")
    val h = (0 until bits).map { j =>
      (0 until Dim).map(i => Ann.srpWeight(i, j)).mkString("[", ",", "]")
    }.mkString("[", ",\n    ", "]")
    s"""WITH h AS (SELECT $h AS H),
       |q AS (SELECT vec_id,
       |    [CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)
       |     for i in generate_series(1, $Dim)] qv
       |  FROM embeddings),
       |s AS (SELECT vec_id,
       |    list_sum(list_transform(generate_series(1, $bits), j ->
       |      CASE WHEN list_sum([H[j][i] * qv[i]
       |                          for i in generate_series(1, $Dim)]) >= 0
       |      THEN 1::BIGINT << (j - 1) ELSE 0::BIGINT END)) sig
       |  FROM q CROSS JOIN h)
       |SELECT a.vec_id vec_a, b.vec_id vec_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) hamming
       |FROM s a JOIN s b ON a.vec_id < b.vec_id
       |WHERE $blockEq
       |ORDER BY hamming, vec_a, vec_b LIMIT $k""".stripMargin
  }

  /** The dial replayed in SQL — [[Ann.srpAutoWidth]]'s exact integer
    * chain: cells = ⌈n/targetBucket⌉ (n = count(*)), width = the
    * smallest w in [1, 63] with 2^w ≥ cells (w = 63 accepts
    * unconditionally, exactly like the Scala `w == 63 ||` arm — 1<<63
    * would overflow signed). Emitted as a `dial` CTE exposing `width`. */
  private def srpDialCte(targetBucket: Int): String =
    s"""nn AS (SELECT count(*) n FROM embeddings),
       |dial AS (SELECT CASE WHEN w > $OracleMaxWidth THEN CAST(error(
       |      'corpus needs SRP width ' || w || ' > the oracle literal''s ' ||
       |      '$OracleMaxWidth - regenerate with a larger OracleMaxWidth')
       |    AS INT) ELSE w END AS width
       |  FROM (SELECT COALESCE(
       |    (SELECT MIN(w) FROM generate_series(1, 63) t(w), nn
       |      WHERE w = 63 OR
       |        (1::BIGINT << w) >= (n + ${targetBucket - 1}) // $targetBucket),
       |    63) AS w FROM nn))""".stripMargin

  /** The widest per-band block the auto oracles' hyperplane literal
    * covers: 12 bits serves any corpus up to targetBucket · 2^12
    * vectors — ≈2M at the default 512, 8192 at q282's stress dial of 2,
    * both far past every oracle scale factor. The dial CTE raises a
    * DuckDB error() if a corpus ever asks for more, so an overrun fails
    * LOUDLY instead of silently zeroing out-of-literal signature bits.
    * (The ENGINE has no such cap: [[Ann.srpSignatureBlocks]] derives
    * hyperplanes on the fly up to width 63.) */
  private val OracleMaxWidth = 12

  /** Signature CTEs for the AUTO-dialed SRP oracles, mirroring the
    * array-of-blocks transport ([[Ann.srpSignatureBlocks]]): `sig` is a
    * LIST of `bands` per-band blocks, block b bit t = sign of
    * hyperplane j = (b−1)·width + t. The hyperplane literal carries
    * bands · [[OracleMaxWidth]] rows; the fold reads only the first
    * dial-chosen width of each band. */
  private def srpAutoSigCtes(bands: Int, targetBucket: Int = 512): String = {
    val maxBits = bands * OracleMaxWidth
    val h = (0 until maxBits).map { j =>
      (0 until Dim).map(i => Ann.srpWeight(i, j)).mkString("[", ",", "]")
    }.mkString("[", ",\n    ", "]")
    s"""h AS (SELECT $h AS H),
       |${srpDialCte(targetBucket)},
       |q AS (SELECT vec_id,
       |    [CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)
       |     for i in generate_series(1, $Dim)] qv
       |  FROM embeddings),
       |s AS (SELECT vec_id,
       |    [list_sum(list_transform(generate_series(1, d.width), t ->
       |      CASE WHEN list_sum([H[(b - 1) * d.width + t][i] * qv[i]
       |                          for i in generate_series(1, $Dim)]) >= 0
       |      THEN 1::BIGINT << (t - 1) ELSE 0::BIGINT END))
       |     for b in generate_series(1, $bands)] sig
       |  FROM q CROSS JOIN h CROSS JOIN dial d)""".stripMargin
  }

  /** Per-band hamming sum over the block lists — Σ bit_count per block,
    * equal to the full-signature hamming (blocks are disjoint). Outer
    * cast: DuckDB list_sum(BIGINT) yields HUGEINT, which the driver's
    * type-sensitive hash rejects against Spark's int64. */
  private def blockHammingSql(bands: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(1, $bands), bb ->
       |    CAST(bit_count(xor(a.sig[bb], b.sig[bb])) AS BIGINT))) AS BIGINT)""".stripMargin

  /** [[srpOracle]]'s auto-dial twin: same quadratic hamming filter,
    * signatures built at the dial-chosen width as block lists. */
  private def srpAutoOracle(bands: Int, maxHamming: Int,
      targetBucket: Int = 512): String =
    s"""WITH ${srpAutoSigCtes(bands, targetBucket)}
       |SELECT a.vec_id vec_a, b.vec_id vec_b,
       |  ${blockHammingSql(bands)} hamming
       |FROM s a JOIN s b ON a.vec_id < b.vec_id
       |WHERE ${blockHammingSql(bands)} <= $maxHamming""".stripMargin

  /** [[srpShortlistOracle]]'s auto-dial twin: the block-share predicate
    * is a plain per-element equality over the block lists — no width
    * arithmetic at all. */
  private def srpAutoShortlistOracle(bands: Int, k: Int,
      targetBucket: Int = 512): String = {
    val blockEq = (1 to bands)
      .map(bi => s"a.sig[$bi] = b.sig[$bi]")
      .mkString("(", " OR ", ")")
    s"""WITH ${srpAutoSigCtes(bands, targetBucket)}
       |SELECT a.vec_id vec_a, b.vec_id vec_b,
       |  ${blockHammingSql(bands)} hamming
       |FROM s a JOIN s b ON a.vec_id < b.vec_id
       |WHERE $blockEq
       |ORDER BY hamming, vec_a, vec_b LIMIT $k""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q211_kcenter" -> kcenterOracle,
    "q213_srp_lsh" -> srpOracle(32),
    "q275_srp_lsh_wide" -> srpShortlistOracle(48, 8, 20),
    "q277_srp_auto_dedup" -> srpAutoOracle(8, 7),
    "q278_srp_auto_topk" -> srpAutoShortlistOracle(8, 20),
    "q282_srp_unclamped" -> srpAutoShortlistOracle(8, 20, targetBucket = 2),
    // DCG folds rel/log2(rank+1) in rank order: DuckDB list_reduce seeds
    // with the first TERM — IEEE 0.0 + t1 = t1, so the fold sequences
    // identically to the engine's zero-seeded ordered fold
    "q177_retrieval_metrics" ->
      s"""WITH $normCte,
         |c AS (SELECT vec_id cid, embedding, nrm FROM n WHERE vec_id < 16),
         |asg AS (SELECT vec_id, embedding, nrm, cid FROM (
         |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
         |  FROM n v CROSS JOIN c) WHERE rn = 1),
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |res AS (SELECT vec_id, neighbor_id, rnk FROM (
         |  SELECT vec_id, neighbor_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) rnk
         |  FROM p) WHERE rnk <= 3),
         |el AS (SELECT vec_id, label FROM embeddings),
         |rel AS (SELECT a.vec_id, b.vec_id neighbor_id FROM el a
         |        JOIN el b ON a.label = b.label AND a.vec_id != b.vec_id),
         |nr AS (SELECT vec_id, count(*) n_relevant FROM rel GROUP BY 1),
         |j AS (SELECT r.vec_id, r.rnk,
         |        CASE WHEN rel.neighbor_id IS NULL THEN 0 ELSE 1 END relv
         |      FROM res r LEFT JOIN rel
         |        ON rel.vec_id = r.vec_id AND rel.neighbor_id = r.neighbor_id),
         |pq AS (SELECT vec_id, count(*) n_retrieved, sum(relv)::BIGINT hits,
         |        min(CASE WHEN relv = 1 THEN rnk END) first_rel,
         |        list_reduce(list(relv::DOUBLE / log2(rnk::DOUBLE + 1.0)
         |          ORDER BY rnk), (a, x) -> a + x) dcg
         |      FROM j GROUP BY 1),
         |f AS (SELECT pq.*, coalesce(nr.n_relevant, 0) n_relevant,
         |        least(coalesce(nr.n_relevant, 0), 3) m
         |      FROM pq LEFT JOIN nr ON nr.vec_id = pq.vec_id)
         |SELECT vec_id, n_relevant, n_retrieved, hits,
         |  round(CASE WHEN m > 0 THEN hits::DOUBLE / m ELSE 0.0 END, 6)
         |    AS recall_at_k,
         |  round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
         |  round(CASE WHEN m > 0 THEN dcg / list_reduce(
         |      list_transform(generate_series(1, m),
         |        i -> 1.0 / log2(i::DOUBLE + 1.0)), (a, x) -> a + x)
         |    ELSE 0.0 END, 6) AS ndcg_at_k
         |FROM f""".stripMargin,
    "q176_dataset_card" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH f AS (SELECT doc_id, text, source, lang,
         |    string_split(text, ' ') ws FROM documents),
         |m AS (SELECT *, round(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE
         |    / length(text), 6) punct_ratio,
         |  round(len(list_filter(ws, t -> t IN $en))::DOUBLE / len(ws), 6) stopword_ratio,
         |  length(text) n_chars, len(ws)::BIGINT toks FROM f),
         |g AS (SELECT *, CAST(round(
         |    round(((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN stopword_ratio > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6)
         |    * 3) AS BIGINT) q3 FROM m)
         |SELECT coalesce(source, 'TOTAL') AS source, count(*) AS n_docs,
         |  sum(toks)::BIGINT AS n_tokens,
         |  count(DISTINCT md5(text)) AS n_distinct,
         |  count(DISTINCT lang) AS n_langs,
         |  round(sum(q3)::DOUBLE / (3.0 * count(*)), 6) AS mean_quality
         |FROM g GROUP BY ROLLUP(source)""".stripMargin
    },
    "q175_training_batches" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH f AS (SELECT doc_id, text, string_split(text, ' ') ws FROM documents),
         |m AS (SELECT doc_id, text, ws,
         |  round(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE / length(text), 6) punct_ratio,
         |  round(len(list_filter(ws, t -> t IN $en))::DOUBLE / len(ws), 6) stopword_ratio,
         |  length(text) n_chars FROM f),
         |kept AS (SELECT doc_id, text, ws FROM m
         |  WHERE round(((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN stopword_ratio > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) >= 0.5),
         |keepers AS (SELECT min(doc_id) doc_id FROM kept GROUP BY md5(text)),
         |t AS (SELECT k.doc_id, len(kept.ws)::BIGINT AS toks
         |      FROM keepers k JOIN kept ON kept.doc_id = k.doc_id),
         |b AS (SELECT doc_id, toks,
         |        (len(bin(greatest(toks, 1))) - 1)::INT AS band FROM t),
         |r AS (SELECT *, row_number() OVER (PARTITION BY band
         |        ORDER BY toks DESC, doc_id) rn FROM b)
         |SELECT doc_id, band, ((rn - 1) // 16)::BIGINT AS batch_idx,
         |  max(toks) OVER (PARTITION BY band, (rn - 1) // 16)::BIGINT
         |    AS batch_max,
         |  (max(toks) OVER (PARTITION BY band, (rn - 1) // 16)
         |    - toks)::BIGINT AS pad_waste
         |FROM r""".stripMargin
    },
    "q182_ivfpq_rerank" ->
      s"""WITH $ivfPqCtes,
         |sl AS (SELECT qid, vid FROM r WHERE rn <= 20),
         |rr AS (SELECT sl.qid, sl.vid,
         |    CAST(round(((${dotSql("q", "q")}) - 2*(${dotSql("q", "v")})
         |      + (${dotSql("v", "v")})) * 1e6) AS BIGINT) d
         |  FROM sl JOIN embeddings q ON q.vec_id = sl.qid
         |    JOIN embeddings v ON v.vec_id = sl.vid),
         |r2 AS (SELECT qid, vid, d,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vid) rn
         |      FROM rr)
         |SELECT qid AS vec_id, vid AS neighbor_id, d AS dist_1e6,
         |  rn::INT AS rank
         |FROM r2 WHERE rn <= 3""".stripMargin,
    "q181_ivfpq_residual" ->
      s"""WITH $ivfPqResCtes
         |SELECT qid AS vec_id, vid AS neighbor_id, adist AS approx_dist_1e6,
         |  rn::INT AS rank
         |FROM r WHERE rn <= 3""".stripMargin,
    "q174_ivfpq_ann" ->
      s"""WITH $ivfPqCtes
         |SELECT qid AS vec_id, vid AS neighbor_id, adist AS approx_dist_1e6,
         |  rn::INT AS rank
         |FROM r WHERE rn <= 3""".stripMargin,
    "q173_pq_ann" ->
      s"""WITH $pqCtes
         |SELECT qid AS vec_id, vid AS neighbor_id, adist AS approx_dist_1e6,
         |  rn::INT AS rank
         |FROM r WHERE rn <= 3""".stripMargin,
    // the engine generates triangle cells map-side from each row's array
    // (no self-join); this exploded self-join is the clarity spelling
    "q185_embed_cov" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q,
        |    CAST(i - 1 AS INTEGER) AS i
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings) t)
        |SELECT a.i AS i, b.i AS j, count(*) AS n, CAST(sum(a.q * b.q) AS BIGINT) AS sum_xy
        |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin,
    "q206_gopher_rules" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') ws
         |           FROM documents),
         |m AS (SELECT doc_id, len(ws) AS n_words,
         |  round((length(text) - (len(ws) - 1))::DOUBLE / len(ws), 6)
         |    AS mean_word_len,
         |  round(len(list_filter(ws, t -> regexp_matches(t, '[a-z]')))::DOUBLE
         |    / len(ws), 6) AS alpha_frac,
         |  len(list_distinct(list_filter(ws, t -> t IN $en)))
         |    AS n_stop_distinct
         |  FROM w)
         |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_word_len,
         |  alpha_frac, CAST(n_stop_distinct AS INTEGER) AS n_stop_distinct,
         |  n_words BETWEEN 20 AND 100000 AS rule_word_count,
         |  mean_word_len BETWEEN 3.0 AND 10.0 AS rule_word_len,
         |  alpha_frac >= 0.8 AS rule_alpha,
         |  n_stop_distinct >= 2 AS rule_stopwords,
         |  (n_words BETWEEN 20 AND 100000) AND
         |  (mean_word_len BETWEEN 3.0 AND 10.0) AND
         |  (alpha_frac >= 0.8) AND (n_stop_distinct >= 2) AS passes
         |FROM m""".stripMargin
    },
    "q205_embed_profile" ->
      """WITH e AS (
        |  SELECT CAST(i - 1 AS INTEGER) AS i,
        |    CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM (SELECT unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings) t)
        |SELECT i, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q,
        |  min(q) AS min_q, max(q) AS max_q
        |FROM e GROUP BY i""".stripMargin,
    // q41's probe chain with the label equality riding the pair join
    "q203_filtered_ann" ->
      s"""WITH $normCte,
         |lb AS (SELECT vec_id, label FROM embeddings),
         |c AS (SELECT vec_id cid, embedding, nrm FROM n WHERE vec_id < 16),
         |asg AS (SELECT vec_id, embedding, nrm, cid, rn probe FROM (
         |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
         |  FROM n v CROSS JOIN c) WHERE rn <= 2),
         |home AS (SELECT vec_id, embedding, nrm, cid FROM asg WHERE probe = 1),
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM asg a JOIN home b ON a.cid = b.cid AND a.vec_id <> b.vec_id
         |      JOIN lb la ON la.vec_id = a.vec_id
         |      JOIN lb lc ON lc.vec_id = b.vec_id AND la.label = lc.label)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM p) WHERE "rank" <= 3""".stripMargin,
    // q42's closure chain + q23's quality chain; per-component argmax
    // via (quality DESC, doc_id) row_number
    "q202_best_survivors" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.8),
         |und AS (SELECT doc_a u, doc_b v FROM p
         |        UNION SELECT doc_b, doc_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, min(v) AS component
         |         FROM reach GROUP BY u),
         |f AS (SELECT doc_id, text, string_split(text, ' ') ws
         |      FROM documents),
         |mq AS (SELECT doc_id,
         |  round(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE
         |    / length(text), 6) punct_ratio,
         |  round(len(list_filter(ws, t -> t IN $en))::DOUBLE / len(ws), 6)
         |    stopword_ratio,
         |  length(text) n_chars FROM f),
         |q AS (SELECT doc_id,
         |  round(((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN stopword_ratio > 0 THEN 1.0 ELSE 0.0 END))
         |    / 3.0, 6) AS quality
         |  FROM mq),
         |rk AS (SELECT c.component, c.doc_id, q.quality,
         |         row_number() OVER (PARTITION BY c.component
         |           ORDER BY q.quality DESC, c.doc_id) rn,
         |         count(*) OVER (PARTITION BY c.component) n
         |       FROM comp c JOIN q ON c.doc_id = q.doc_id)
         |SELECT component, doc_id AS keep_id, quality AS keep_score,
         |  n AS n_docs
         |FROM rk WHERE rn = 1""".stripMargin
    },
    // positives: within-group pairs over md5(text); negatives: successor
    // pairing inside 64 hash buckets ordered by an independent salt
    "q201_training_pairs" ->
      s"""WITH b AS (SELECT doc_id AS id, md5(text) AS ch,
         |    ${h60("doc_id || ':np'")} AS h
         |  FROM documents),
         |pos AS (SELECT a.id AS doc_a, c.id AS doc_b, 1 AS label
         |        FROM b a JOIN b c ON a.ch = c.ch AND a.id < c.id),
         |r AS (SELECT id, ch,
         |        lead(id) OVER w AS nid, lead(ch) OVER w AS nch
         |      FROM b WINDOW w AS (PARTITION BY h % 64 ORDER BY h, id)),
         |neg AS (SELECT id AS doc_a, nid AS doc_b, 0 AS label FROM r
         |        WHERE nid IS NOT NULL AND ch != nch)
         |SELECT * FROM pos UNION ALL SELECT * FROM neg""".stripMargin,
    // q71's split hash + window-grain md5 hashes; counts are integers and
    // the single rate division mirrors the engine
    "q193_ngram_novelty" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws,
         |    CASE WHEN ${h60("doc_id || ':sp0'")} % 1000000 < 800000
         |         THEN 'train' ELSE 'test' END AS sp
         |  FROM documents),
         |g AS (SELECT doc_id, sp, unnest(
         |    [${h60("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]")}
         |     for i in generate_series(1, len(ws) - 4)]) AS h
         |  FROM w WHERE len(ws) >= 5),
         |tr AS (SELECT DISTINCT h FROM g WHERE sp = 'train')
         |SELECT g.doc_id, count(*) AS n_windows,
         |  CAST(sum(CASE WHEN tr.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  round(sum(CASE WHEN tr.h IS NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 6) AS novelty
         |FROM g LEFT JOIN tr ON g.h = tr.h
         |WHERE g.sp = 'test' GROUP BY g.doc_id""".stripMargin,
    // exact integer cell/rollup sums; each mean diff is one double
    // expression and d² folds in dimension order with seed 0.0
    "q192_centroid_drift" ->
      """WITH e AS (
        |  SELECT label,
        |    CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q,
        |    CAST(i - 1 AS INTEGER) AS i
        |  FROM (SELECT label, unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings) t),
        |g AS (SELECT label, i, count(*) AS n, sum(q) AS s
        |      FROM e GROUP BY 1, 2),
        |tt AS (SELECT i, sum(s) AS ts, sum(n) AS tn FROM g GROUP BY 1),
        |d AS (SELECT g.label, g.i, g.n,
        |        CAST(g.s * tt.tn - tt.ts * g.n AS DOUBLE)
        |          / CAST(g.n * tt.tn AS DOUBLE) / 1000.0 AS df
        |      FROM g JOIN tt ON g.i = tt.i)
        |SELECT label, max(n) AS n_vecs,
        |  round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list(df * df ORDER BY i)), (a, x) -> a + x)), 6) AS drift
        |FROM d GROUP BY label""".stripMargin,
    // candidates = raw band collisions (cand CTE); truth = exact N² pairs
    "q190_lsh_eval" ->
      s"""WITH $minhashCtes,
         |ex AS (SELECT x.doc_id doc_a, y.doc_id doc_b
         |       FROM s x JOIN s y ON x.doc_id < y.doc_id
         |       WHERE len(x.shs) > 0 AND len(y.shs) > 0
         |         AND $jacExpr >= 0.8),
         |tpq AS (SELECT count(*) AS tp FROM cand c
         |        JOIN ex e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b),
         |nc AS (SELECT count(*) AS n FROM cand),
         |nt AS (SELECT count(*) AS n FROM ex)
         |SELECT nt.n AS n_true, nc.n AS n_candidates, tpq.tp,
         |  CASE WHEN nc.n = 0 THEN 0.0
         |       ELSE round(tpq.tp::DOUBLE / nc.n, 6) END AS precision,
         |  CASE WHEN nt.n = 0 THEN 0.0
         |       ELSE round(tpq.tp::DOUBLE / nt.n, 6) END AS recall
         |FROM nt CROSS JOIN nc CROSS JOIN tpq""".stripMargin,
    // symmetrized ≥-floor pairs → per-doc rank by (jac DESC, neighbor ASC)
    // — the same tie order TopKByScore pins
    "q186_related_docs" ->
      s"""WITH $hashedShingleCtes,
         |p AS (SELECT x.doc_id doc_a, y.doc_id doc_b, $jacExpr jac
         |      FROM s x JOIN s y ON x.doc_id < y.doc_id
         |      WHERE len(x.shs) > 0 AND len(y.shs) > 0),
         |f AS (SELECT doc_a, doc_b, jac FROM p WHERE jac >= 0.3),
         |sym AS (SELECT doc_a AS doc_id, doc_b AS neighbor_id, jac FROM f
         |        UNION ALL
         |        SELECT doc_b AS doc_id, doc_a AS neighbor_id, jac FROM f),
         |r AS (SELECT doc_id, neighbor_id, jac, row_number() OVER (
         |        PARTITION BY doc_id ORDER BY jac DESC, neighbor_id) AS rn
         |      FROM sym)
         |SELECT doc_id, neighbor_id, round(jac, 6) AS jaccard, rn::INT AS rank
         |FROM r WHERE rn <= 3""".stripMargin,
    "q17_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q18_ngram_jaccard" ->
      s"""WITH $hashedShingleCtes,
         |p AS (SELECT x.doc_id doc_a, y.doc_id doc_b, $jacExpr jac
         |      FROM s x JOIN s y ON x.doc_id < y.doc_id
         |      WHERE len(x.shs) > 0 AND len(y.shs) > 0)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM p WHERE jac >= 0.8""".stripMargin,
    // same signature/band/verify chain as q19, with candidates
    // restricted to (corpus a = doc_id%10!=0) x (increment b = %10=0)
    "q172_incremental_dedup" ->
      s"""WITH $minhashIncCtes
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8""".stripMargin,
    "q19_minhash_lsh" ->
      s"""WITH $minhashCtes
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8""".stripMargin,
    "q42_dedup_groups" ->
      // undirected transitive closure over the verified pair graph, then
      // min reachable id per node = the component label (closure includes
      // self via the base term)
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.8),
         |und AS (SELECT doc_a u, doc_b v FROM p
         |        UNION SELECT doc_b, doc_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u)
         |SELECT u AS doc_id, min(v) AS component,
         |  (u = min(v)) AS keep
         |FROM reach GROUP BY u""".stripMargin,
    "q50_dedup_cascade" ->
      // replay the cascade: exact groups → edges to the content-min,
      // minhash chain over representatives only, transitive closure over
      // exact∪near edges, label = min reachable id, untouched docs keep
      s"""WITH RECURSIVE
         |k AS (SELECT md5(text) h, min(doc_id) keep
         |      FROM documents GROUP BY md5(text)),
         |exact_edges AS (SELECT d.doc_id doc_a, k.keep doc_b
         |                FROM documents d JOIN k ON md5(d.text) = k.h
         |                WHERE d.doc_id <> k.keep),
         |repdocs AS (SELECT d.* FROM documents d JOIN k ON d.doc_id = k.keep),
         |${minhashCtesOver("repdocs")},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.8
         |      UNION ALL SELECT doc_a, doc_b FROM exact_edges),
         |und AS (SELECT doc_a u, doc_b v FROM p
         |        UNION SELECT doc_b, doc_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u doc_id, min(v) component FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |  coalesce(c.component, d.doc_id) AS component,
         |  (d.doc_id = coalesce(c.component, d.doc_id)) AS keep
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id""".stripMargin,
    "q20_simhash" -> {
      val sums = (0 until 32)
        .map(b => s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN cnt ELSE -cnt END) s$b")
        .mkString(", ")
      val fp = (0 until 32)
        .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
         |tc AS (SELECT doc_id, tok, count(*) cnt FROM t WHERE tok <> '' GROUP BY doc_id, tok),
         |th AS (SELECT doc_id, cnt, ${h60("tok")} h FROM tc),
         |bs AS (SELECT doc_id, $sums FROM th GROUP BY doc_id)
         |SELECT doc_id, ($fp)::BIGINT AS simhash FROM bs""".stripMargin
    },
    "q62_ann_int8" -> {
      // per-vector scale + int8 codes exactly as Int8Pack: maxAbs/127 in
      // doubles, round-half-even, clamp to [-127, 127]
      val codeCte =
        s"""q AS (SELECT vec_id, embedding, sqrt(${dotSql("e", "e")}) nrm,
           |        CAST(list_max(list_transform(embedding, x -> abs(x)))
           |             AS DOUBLE) / 127 sc
           |      FROM embeddings e),
           |c AS (SELECT vec_id, nrm, sc,
           |        list_transform(embedding, x -> CAST(greatest(-127.0,
           |          least(127.0, round_even(CASE WHEN sc > 0
           |            THEN CAST(x AS DOUBLE) / sc ELSE 0 END, 0)))
           |          AS BIGINT)) codes
           |      FROM q)""".stripMargin
      val intDot = (1 to Dim).map(i => s"a.codes[$i] * b.codes[$i]")
        .mkString(" + ")
      s"""WITH $codeCte,
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        ($intDot) * a.sc * b.sc / (a.nrm * b.nrm) cosine
         |      FROM c a JOIN c b ON a.vec_id <> b.vec_id WHERE a.vec_id < 1000)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM p) WHERE "rank" <= 5""".stripMargin
    },
    "q157_hard_negatives" ->
      s"""WITH nl AS (SELECT vec_id, embedding, label,
         |        sqrt(${dotSql("e", "e")}) nrm FROM embeddings e),
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM nl a JOIN nl b
         |        ON a.vec_id <> b.vec_id AND a.label <> b.label
         |      WHERE a.vec_id < 100)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank"
         |FROM (SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id)
         |    AS "rank" FROM p) WHERE "rank" <= 3""".stripMargin,
    "q21_cosine_topk" ->
      s"""WITH $normCte,
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM n a JOIN n b ON a.vec_id <> b.vec_id WHERE a.vec_id < 1000)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM p) WHERE "rank" <= 5""".stripMargin,
    "q22_lang_id" -> {
      val scores = TextAnalysis.stopwords.map { case (l, ws) =>
        s"len(list_filter(ws, t -> t IN ${stopIn(ws)})) s_$l"
      }.mkString(", ")
      val langs = TextAnalysis.stopwords.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val pick = langs.map(l => s"WHEN s_$l = best AND s_$l > 0 THEN '$l'").mkString(" ")
      s"""WITH f AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
         |sc AS (SELECT doc_id, len(ws) n_tok, $scores FROM f),
         |b AS (SELECT *, $best best FROM sc)
         |SELECT doc_id, CASE $pick ELSE 'und' END AS pred_lang,
         |  round(best::DOUBLE / n_tok, 6) AS lang_score FROM b""".stripMargin
    },
    "q23_quality" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH f AS (SELECT doc_id, text, string_split(text, ' ') ws FROM documents),
         |m AS (SELECT doc_id,
         |  round((length(text) - (len(ws) - 1))::DOUBLE / len(ws), 6) avg_word_len,
         |  round(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE / length(text), 6) punct_ratio,
         |  round(len(list_filter(ws, t -> t IN $en))::DOUBLE / len(ws), 6) stopword_ratio,
         |  length(text) n_chars FROM f)
         |SELECT doc_id, avg_word_len, punct_ratio, stopword_ratio,
         |  round(((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN stopword_ratio > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
         |FROM m""".stripMargin
    },
    "q24_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "q25_fingerprint" ->
      s"""WITH $shingleCtes,
         |e AS (SELECT doc_id, unnest(shs) sh FROM s),
         |h AS (SELECT DISTINCT doc_id, ${h60("sh")} x FROM e)
         |SELECT doc_id, array_to_string(list_sort(list(x))[1:8], ',') AS fingerprint
         |FROM h GROUP BY doc_id""".stripMargin,
    // append ≡ one-shot assignment against the SAME frozen centroids —
    // the oracle assigns every vector to the build-subset seeds directly
    "q270_ivf_append" ->
      s"""WITH $normCte,
         |c AS (SELECT vec_id cid, embedding, nrm FROM n
         |      WHERE vec_id < 16 AND vec_id % 3 <> 0),
         |asg AS (SELECT vec_id, embedding, nrm, cid FROM (
         |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
         |  FROM n v CROSS JOIN c) WHERE rn = 1),
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
         |      WHERE a.vec_id < 500)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM p) WHERE "rank" <= 3""".stripMargin,
    // delta ingest + replay + compaction is content-identical to q270's
    // append — same frozen-seed one-shot assignment oracle, verbatim:
    // hash-green here certifies replay idempotence and compaction
    // invariance, not just assignment correctness
    "q274_stream_ivf_ingest" ->
      s"""WITH $normCte,
         |c AS (SELECT vec_id cid, embedding, nrm FROM n
         |      WHERE vec_id < 16 AND vec_id % 3 <> 0),
         |asg AS (SELECT vec_id, embedding, nrm, cid FROM (
         |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
         |  FROM n v CROSS JOIN c) WHERE rn = 1),
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
         |      WHERE a.vec_id < 500)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM p) WHERE "rank" <= 3""".stripMargin,
    "q26_ann_ivf" ->
      s"""WITH $normCte,
         |c AS (SELECT vec_id cid, embedding, nrm FROM n WHERE vec_id < 16),
         |asg AS (SELECT vec_id, embedding, nrm, cid FROM (
         |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
         |  FROM n v CROSS JOIN c) WHERE rn = 1),
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM p) WHERE "rank" <= 3""".stripMargin,
    "q27_binary_meta" ->
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS content_md5,
        |  ascii(substr(text, 1, 1)) AS magic_byte
        |FROM documents""".stripMargin,
    "q30_embed_dups" ->
      s"""WITH $normCte,
         |c AS (SELECT vec_id cid, embedding, nrm FROM n WHERE vec_id < 16),
         |asg AS (SELECT vec_id, embedding, nrm, cid FROM (
         |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
         |  FROM n v CROSS JOIN c) WHERE rn = 1),
         |p AS (SELECT a.vec_id vec_a, b.vec_id vec_b,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, round(cosine, 6) AS cosine FROM p
         |WHERE cosine >= 0.4""".stripMargin,
    "q31_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${h60("doc_id || ':s0'")} % 1000000
         |      < (CASE WHEN lang = 'en' THEN 0.3 ELSE 1.0 END) * 1e6""".stripMargin,
    "q32_quota_per_source" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH f AS (SELECT doc_id, source, n_chars, text,
         |             string_split(text, ' ') ws FROM documents),
         |q AS (SELECT doc_id, source, n_chars,
         |  round(((CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN round(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE
         |                        / length(text), 6) <= 0.1 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN round(len(list_filter(ws, t -> t IN $en))::DOUBLE
         |                        / len(ws), 6) > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
         |  FROM f)
         |SELECT doc_id, source, quality FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY source ORDER BY quality DESC, n_chars DESC, doc_id) rn
         |  FROM q) WHERE rn <= 10""".stripMargin
    },
    "q79_containment" ->
      s"""WITH $hashedShingleCtes,
         |p AS (SELECT x.doc_id doc_a, y.doc_id doc_b,
         |        len(list_intersect(x.shs, y.shs))::DOUBLE / len(x.shs) cont
         |      FROM s x JOIN s y ON x.doc_id <> y.doc_id
         |      WHERE len(x.shs) > 0 AND len(y.shs) > 0)
         |SELECT doc_a, doc_b, round(cont, 6) AS containment
         |FROM p WHERE cont >= 0.8""".stripMargin,
    "q77_index_search" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(string_split(text, ' '), 'join')
        |  AND list_contains(string_split(text, ' '), 'hash')""".stripMargin,
    "q71_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN ${h60("doc_id || ':sp0'")} % 1000000 < 800000
         |         THEN 'train'
         |       WHEN ${h60("doc_id || ':sp0'")} % 1000000 < 900000
         |         THEN 'val'
         |       ELSE 'test' END AS split,
         |  ${h60("doc_id || ':sp0:fold'")} % 5 AS fold
         |FROM documents""".stripMargin,
    "q70_lm_score" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) token
        |           FROM documents),
        |tok AS (SELECT doc_id, token FROM t WHERE token <> ''),
        |freq AS (SELECT token, count(*) cnt FROM tok GROUP BY token),
        |n AS (SELECT sum(cnt)::DOUBLE nn FROM freq),
        |tf AS (SELECT doc_id, token, count(*) tf FROM tok GROUP BY 1, 2),
        |terms AS (SELECT tf.doc_id, tf.token, tf.tf,
        |            tf.tf * ln(freq.cnt::DOUBLE / n.nn) v
        |          FROM tf JOIN freq USING (token) CROSS JOIN n),
        |g AS (SELECT doc_id, array_agg(v ORDER BY token) vs,
        |        sum(tf)::BIGINT n_tokens
        |      FROM terms GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(list_reduce(vs, (a, b) -> a + b), 6) AS log_prob,
        |  round(exp(-(list_reduce(vs, (a, b) -> a + b)) / n_tokens), 4)
        |    AS ppl
        |FROM g""".stripMargin,
    "q65_text_clean" -> {
      val dirtySql =
        "chr(1) || chr(8216) || 'hi' || chr(8217) || '  ' || chr(8212) || " +
          "'  ' || text || CASE WHEN doc_id % 3 = 0 " +
          "THEN chr(8203) || chr(160) || 'tail' ELSE ' ' END"
      val chain = TextAnalysis.cleanPatterns.foldLeft("dirty") {
        case (acc, (_, pat, rep)) =>
          s"regexp_replace($acc, '${re2(pat)}', '${rep.replace("'", "''")}', 'g')"
      }
      s"""SELECT doc_id, cleaned, length(cleaned)::INT AS n_clean FROM (
         |  SELECT doc_id, substring(trim($chain), 1, 300) AS cleaned
         |  FROM (SELECT doc_id, $dirtySql AS dirty FROM documents))""".stripMargin
    },
    "q64_curation" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH RECURSIVE
         |f AS (SELECT doc_id, lang, text,
         |             string_split(text, ' ') ws FROM documents),
         |sc AS (SELECT doc_id, lang, text, len(ws)::INT n_tokens,
         |  round(((CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN round(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE
         |                        / length(text), 6) <= 0.1 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN round(len(list_filter(ws, t -> t IN $en))::DOUBLE
         |                        / len(ws), 6) > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
         |  FROM f),
         |kept AS (SELECT * FROM sc WHERE quality >= 0.5),
         |k AS (SELECT md5(text) h, min(doc_id) keep
         |      FROM kept GROUP BY md5(text)),
         |exact_edges AS (SELECT d.doc_id doc_a, k.keep doc_b
         |                FROM kept d JOIN k ON md5(d.text) = k.h
         |                WHERE d.doc_id <> k.keep),
         |repdocs AS (SELECT d.* FROM kept d JOIN k ON d.doc_id = k.keep),
         |${minhashCtesOver("repdocs")},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.8
         |      UNION ALL SELECT doc_a, doc_b FROM exact_edges),
         |und AS (SELECT doc_a u, doc_b v FROM p
         |        UNION SELECT doc_b, doc_a FROM p),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u doc_id, min(v) component FROM reach GROUP BY u),
         |surv AS (SELECT d.* FROM kept d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         WHERE d.doc_id = coalesce(c.component, d.doc_id)),
         |c2 AS (SELECT doc_id, lang, n_tokens,
         |        coalesce(sum(n_tokens) OVER (PARTITION BY lang
         |          ORDER BY quality DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |          AS cum_before
         |       FROM surv)
         |SELECT doc_id, lang, n_tokens, cum_before FROM c2
         |WHERE cum_before < 400""".stripMargin
    },
    "q40_token_budget" -> {
      val en = stopIn(TextAnalysis.stopwords.head._2)
      s"""WITH f AS (SELECT doc_id, source, text,
         |             string_split(text, ' ') ws FROM documents),
         |q AS (SELECT doc_id, source, len(ws)::INT n_tokens,
         |  round(((CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN round(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE
         |                        / length(text), 6) <= 0.1 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN round(len(list_filter(ws, t -> t IN $en))::DOUBLE
         |                        / len(ws), 6) > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
         |  FROM f),
         |c AS (SELECT doc_id, source, n_tokens,
         |        coalesce(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY quality DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
         |      FROM q)
         |SELECT doc_id, source, n_tokens, cum_before FROM c
         |WHERE cum_before < 600""".stripMargin
    },
    "q41_ann_nprobe" ->
      s"""WITH $normCte,
         |c AS (SELECT vec_id cid, embedding, nrm FROM n WHERE vec_id < 16),
         |asg AS (SELECT vec_id, embedding, nrm, cid, rn probe FROM (
         |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      (${dotSql("v", "c")}) / (v.nrm * c.nrm) DESC, c.cid) rn
         |  FROM n v CROSS JOIN c) WHERE rn <= 2),
         |home AS (SELECT vec_id, embedding, nrm, cid FROM asg WHERE probe = 1),
         |p AS (SELECT a.vec_id vec_id, b.vec_id neighbor_id,
         |        (${dotSql("a", "b")}) / (a.nrm * b.nrm) cosine
         |      FROM asg a JOIN home b ON a.cid = b.cid AND a.vec_id <> b.vec_id)
         |SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, "rank" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM p) WHERE "rank" <= 3""".stripMargin,
    "q38_contamination" ->
      s"""WITH $hashedShingleCtes,
         |ev AS (SELECT DISTINCT unnest(shs) sh FROM s WHERE doc_id < 20),
         |c AS (SELECT doc_id, unnest(shs) sh FROM s WHERE doc_id >= 20),
         |t AS (SELECT doc_id, count(*)::BIGINT n_shingles,
         |        (count(*) FILTER (WHERE sh IN (SELECT sh FROM ev)))::BIGINT n_contaminated
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_contaminated,
         |  round(n_contaminated::DOUBLE / n_shingles, 6) AS contamination
         |FROM t""".stripMargin,
    "q39_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |r AS (SELECT doc_id, len(ws) - 1 AS total,
        |        len(list_distinct([ws[g] || ' ' || ws[g+1]
        |                           for g in generate_series(1, len(ws)-1)])) AS dist
        |      FROM w)
        |SELECT doc_id,
        |  round(CASE WHEN total > 0 THEN 1.0::DOUBLE - dist::DOUBLE / total
        |             ELSE 0.0 END, 6) AS repetition
        |FROM r""".stripMargin,
    "q29_seq_packing" ->
      // the ::BIGINT on the window sum is load-bearing: DuckDB's windowed
      // sum(BIGINT) yields HUGEINT, which arrives driver-side as float64
      // (0.0 vs Spark's 0) and breaks the value hash even though the
      // numbers are equal
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |             len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, shard,
        |        coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
        |      FROM t)
        |SELECT doc_id, shard, cum_before,
        |  CAST(floor(cum_before / 2048.0) AS BIGINT) AS pack_id,
        |  (cum_before % 2048)::BIGINT AS "offset"
        |FROM c""".stripMargin
  )
}
