package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines: exact
  * content-hash dedup, exact n-gram Jaccard, MinHash+LSH near-dup, and
  * SimHash fingerprints.
  *
  * The reference corpus dedups only by business key + latest timestamp
  * (SURVEY.md §2.10a); a 100 TB text pipeline additionally needs
  * *content*-level dedup. Everything here is expressed as declarative
  * DataFrame plans:
  *
  *  - no cross join anywhere: exact Jaccard pairs come from an inverted
  *    index on shingles (only pairs that share ≥1 shingle materialize);
  *    MinHash candidates come from an equi-join on LSH band keys. Both are
  *    ordinary shuffle-hash joins that scale out linearly with executors;
  *  - all hashes are md5-derived and engine-independent (no Scala UDF, no
  *    JVM hashCode), so results are reproducible across runs and engines —
  *    and DuckDB can replay the identical computation as the oracle;
  *  - per-document state is bounded (a shingle array), never a driver-side
  *    collect.
  */
object TextDedup {

  /** Large prime > 2^32 for the MinHash permutation universe. */
  val MinhashPrime: Long = 4294967311L

  /** Deterministic permutation constants a_i (odd, < 2^30) and b_i,
    * generated from a fixed LCG seed — identical constants are embedded in
    * the DuckDB oracle SQL. */
  def permutations(n: Int): Seq[(Long, Long)] =
    (1 to n).map { i =>
      val a = ((2862933555777941757L * i + 3037000493L) >>> 35) | 1L
      val b = ((6364136223846793005L * i + 1442695040888963407L) >>> 33)
      (a % (1L << 30) | 1L, b % MinhashPrime)
    }

  /** Engine-independent 60-bit hash of a string column: first 15 hex chars
    * of md5, base-16 → long. DuckDB equivalent:
    * `('0x' || substr(md5(s),1,15))::BIGINT`. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver-side twin of [[hash60]] — bit-identical (same md5-prefix
    * construction over UTF-8 bytes), for computing partition/bucket keys
    * of LITERAL values without launching a Spark job (e.g. a term
    * lookup's `bkt=` literal in [[TextIndex.lookup]]). */
  def hash60Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Distinct word n-gram shingles of a text column, as an array column.
    * Documents with fewer than `n` words get an empty array. Native
    * single-pass expression ([[graft.functions.NGramShingles]]) — the
    * composable transform/slice/array_join/array_distinct spelling costs
    * ~1 ms per document and similarity plans recompute their shingle
    * subtree several times. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.NGramShingles.shingles(split(text, " "), n)

  /** 60-bit md5-prefix hashes of the distinct shingles, hashed inside the
    * same native single pass ([[graft.functions.NGramShingles]]) — the
    * composable `transform(..., s => hash60(s))` spelling runs interpreted
    * (HOF lambdas are outside whole-stage codegen) and was ~10× slower. */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.NGramShingles.shingleHashes(split(text, " "), n)

  /** Exact dedup by content hash: one row per distinct content with the
    * surviving (minimum) id and the duplicate count. Single shuffle on the
    * md5 key — the canonical first pass of any dedup cascade. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Quality-aware survivor selection over dedup groups: given a
    * (doc_id, component) assignment (e.g. [[connectedComponentsStar]]
    * over near-dup pairs) and per-doc scores, keep each group's
    * highest-scoring member (ties → smallest id) instead of the blind
    * min-id representative — the production policy when near-duplicates
    * differ in provenance (keep the cleanest crawl of a page, not the
    * first-seen one). One join + one `max(struct(score, −id, id))`
    * aggregate — no window. Scores must be deterministic
    * ([[TextAnalysis.qualityScore]] is). */
  def survivorsByScore(groups: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame =
    groups.select(col("doc_id"), col("component"))
      .join(scored.select(col(idCol).as("doc_id"),
        col(scoreCol).as("__s")), Seq("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("__s").as("s"), negate(col("doc_id")).as("n"),
          col("doc_id").as("i"))).as("__w"))
      .select(col("component"), col("__w.i").as("keep_id"),
        col("__w.s").as("keep_score"), col("n_docs"))

  /** One row per (id, shingle), shingles distinct within a document. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(shingles(col(textCol), n)).as("__sh"))

  /** One row per (id, 60-bit shingle hash). Similarity plans join, sort,
    * cache, and intersect HASHES, not shingle strings: 8-byte fixed-width
    * keys instead of ~30-byte UTF8 move proportionally fewer bytes through
    * every exchange and compare with single instructions. Jaccard over the
    * hash sets equals Jaccard over the string sets absent 60-bit
    * collisions (~N²·2^-60 — negligible at any realistic corpus);
    * [[jaccardPairsNaive]] keeps the string path as the differential
    * witness. */
  def hashedShingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      explode(shingleHashes(col(textCol), n)).as("__sh"))

  /** Exact n-gram Jaccard similarity pairs at or above `threshold`, via
    * prefix filtering (the AllPairs/PPJoin family): order every document's
    * shingles by a global (document-frequency asc, shingle) total order and
    * index only the first |A| − ⌈t·|A|⌉ + 1 of them — if J(A,B) ≥ t the two
    * prefixes provably intersect, so joining prefixes instead of full
    * shingle sets is LOSSLESS for the threshold while shrinking the
    * inverted index by ~t and steering the join through *rare* shingles
    * (tiny buckets) instead of boilerplate (huge buckets). Candidates then
    * verify with exact set intersection. At 100 TB this is the difference
    * between a join keyed on the corpus's most common phrases and one keyed
    * on its rarest — the former is quadratic in practice, the latter
    * near-linear. A size filter (|B| ≥ ⌈t·|A|⌉) prunes further.
    * `maxShingleDf` optionally drops boilerplate shingles entirely
    * (changes the measure to Jaccard over the filtered sets).
    * `materialize` persists (MEMORY_AND_DISK, lazy, lineage kept — blocks
    * recompute after executor loss) the per-doc frame the plan self-joins,
    * so the shingle subtree computes once instead of up to 6×. Unlike an
    * eager localCheckpoint there is no up-front cost and no
    * fault-tolerance loss, so the default is on; blocks are evicted LRU
    * when executors need the memory. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxShingleDf: Option[Long] = None,
      materialize: Boolean = true): DataFrame = {
    val rows = filteredRows(hashedShingleRows(df, idCol, textCol, n), maxShingleDf)
    val dfreq = rows.groupBy("__sh").agg(count(lit(1)).as("__df"))
    // one per-doc frame carrying the df-ordered shingle array: prefix,
    // sizes, and the verification sets all derive from it — three window/
    // groupBy shuffles collapse into one, and downstream exchanges move
    // 1 row per doc instead of 1 per shingle
    val docsPlan = rows.join(dfreq, Seq("__sh"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__arr"))
      .select(col("__id"),
        transform(col("__arr"), e => e("__sh")).as("__shs"),
        size(col("__arr")).as("__n"))
    val docs =
      if (materialize)
        docsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else docsPlan
    // prefix rows are SKINNY — (id, size, shingle), no array payload: the
    // candidate join and the pair dedup move 16-byte pairs, not documents.
    // Pair dedup is then a plain HashAggregate on two longs; the shingle
    // arrays join back from the persisted doc frame only for the (few)
    // surviving candidates. Carrying the arrays through the join instead
    // would force the dedup into a SortAggregate that sorts every
    // candidate row with two full shingle arrays attached — measured 2×
    // slower on the bench corpus and strictly worse at scale.
    val prefix = docs.select(col("__id"), col("__n"),
      explode(slice(col("__shs"), lit(1),
        (col("__n") - ceil(lit(threshold) * col("__n")) + 1).cast("int")))
        .as("__sh"))
    val a = prefix.select(col("__id").as("doc_a"), col("__sh"),
      col("__n").as("__na"))
    val b = prefix.select(col("__id").as("doc_b"), col("__sh"),
      col("__n").as("__nb"))
    val cands = a.join(b, Seq("__sh"))
      .where(col("doc_a") < col("doc_b") &&
        col("__nb") >= ceil(lit(threshold) * col("__na")) &&
        col("__na") >= ceil(lit(threshold) * col("__nb")))
      .select("doc_a", "doc_b").distinct()
    // lookup joins broadcast ONLY the skinny pair keys (16 bytes/row) into
    // each per-doc frame; the two candidate-sized array frames then meet
    // in a shuffle join on the pair key. No BroadcastExchange ever carries
    // a shingle array, so a pathological corpus whose prefix filter yields
    // millions of candidates streams through bounded shuffle partitions
    // instead of OOMing the driver (AQE may still elect a broadcast at
    // runtime — but size-gated by its threshold, not hard-coded).
    val withA = docs
      .select(col("__id").as("doc_a"), col("__shs").as("__sa"),
        col("__n").as("__na"))
      .join(broadcast(cands), Seq("doc_a"))
    val withB = docs
      .select(col("__id").as("doc_b"), col("__shs").as("__sb"),
        col("__n").as("__nb"))
      .join(broadcast(cands), Seq("doc_b"))
    withA.join(withB, Seq("doc_a", "doc_b"))
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric containment pairs: C(A→B) = |A∩B| / |A| ≥ `threshold` —
    * the subset-detection measure Jaccard misses (a paragraph quoted
    * inside a much longer document scores near-zero Jaccard but full
    * containment). Output is DIRECTED: (doc_a, doc_b) means A is
    * `containment`-contained in B, and both directions can appear.
    *
    * Prefix filtering adapts to the asymmetry: if C(A→B) ≥ t then any
    * (|A| − ⌈t·|A|⌉ + 1)-prefix of A's df-ordered shingles must hit B's
    * FULL set (B's size is unconstrained — that is the point), so the
    * candidate join is A-prefix × all-shingles inverted index; exact
    * verification follows. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxShingleDf: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val rows = filteredRows(hashedShingleRows(df, idCol, textCol, n), maxShingleDf)
    val dfreq = rows.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val docs = rows.join(dfreq, Seq("__sh"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__arr"))
      .select(col("__id"),
        transform(col("__arr"), e => e("__sh")).as("__shs"),
        size(col("__arr")).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefixA = docs.select(col("__id").as("doc_a"), col("__n").as("__na"),
      explode(slice(col("__shs"), lit(1),
        (col("__n") - ceil(lit(threshold) * col("__n")) + 1).cast("int")))
        .as("__sh"))
    val bAll = rows.select(col("__id").as("doc_b"), col("__sh"))
    val cands = prefixA.join(bAll, Seq("__sh"))
      .where(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // same bounded-verification shape as [[jaccardPairs]]: broadcast only
    // the skinny pair keys, shuffle-join the two array lookups
    val withA = docs
      .select(col("__id").as("doc_a"), col("__shs").as("__sa"),
        col("__n").as("__na"))
      .join(broadcast(cands), Seq("doc_a"))
    val withB = docs
      .select(col("__id").as("doc_b"), col("__shs").as("__sb"))
      .join(broadcast(cands), Seq("doc_b"))
    withA.join(withB, Seq("doc_a", "doc_b"))
      .withColumn("containment",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          col("__na"))
      .where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Reference quadratic-candidate implementation (inverted index over ALL
    * shingles): same output as [[jaccardPairs]]; kept for differential
    * testing of the prefix filter. */
  private[ops] def jaccardPairsNaive(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val rows = filteredRows(shingleRows(df, idCol, textCol, n), maxShingleDf)
    val cands = rows.select(col("__id").as("doc_a"), col("__sh"))
      .join(rows.select(col("__id").as("doc_b"), col("__sh")), Seq("__sh"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cands, rows, threshold)
  }

  private def filteredRows(rows: DataFrame, maxShingleDf: Option[Long]): DataFrame = {
    maxShingleDf match {
      case Some(maxDf) =>
        val hot = rows.groupBy("__sh").agg(count(lit(1)).as("__df"))
          .where(col("__df") > maxDf).select("__sh")
        rows.join(hot, Seq("__sh"), "left_anti")
      case None => rows
    }
  }

  /** Exact Jaccard over candidate pairs from per-doc shingle sets. */
  private def verifyJaccard(cands: DataFrame, rows: DataFrame,
      threshold: Double): DataFrame = {
    val sets = rows.groupBy("__id").agg(collect_list(col("__sh")).as("__shs"))
    cands
      .join(sets.select(col("__id").as("doc_a"), col("__shs").as("__sa")), Seq("doc_a"))
      .join(sets.select(col("__id").as("doc_b"), col("__shs").as("__sb")), Seq("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash signatures: one row per document with `numHashes` min-hash
    * columns `m0..m{H-1}`. One shuffle (groupBy id); the permutation family
    * is h_i(x) = (a_i·(x mod P) + b_i) mod P over the 60-bit shingle hash. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val x = pmod(hash60(col("__sh")), lit(MinhashPrime))
    val mins = permutations(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * x + lit(b), lit(MinhashPrime))).as(s"m$i")
    }
    shingleRows(df, idCol, textCol, n)
      .groupBy(col("__id"))
      .agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, key each band, and equi-join documents whose band keys
    * collide. Probability a pair with Jaccard s collides:
    * 1 − (1 − s^r)^b — the standard S-curve. The join is on (band index,
    * band key): pure shuffle-hash, no cross join, scales out. */
  def lshCandidates(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")
    val banded = signatures.select(
      col("__id") +:
        (0 until bands).map { bi =>
          concat_ws(":",
            (0 until rowsPerBand).map(r => col(s"m${bi * rowsPerBand + r}")): _*)
            .as(s"band$bi")
        }: _*)
    val exploded = banded.select(col("__id"),
      posexplode(array((0 until bands).map(bi => col(s"band$bi")): _*))
        .as(Seq("__band_idx", "__band_key")))
    val l = exploded.select(col("__id").as("doc_a"), col("__band_idx"), col("__band_key"))
    val r = exploded.select(col("__id").as("doc_b"), col("__band_idx"), col("__band_key"))
    l.join(r, Seq("__band_idx", "__band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash+LSH near-duplicate pairs, verified: LSH proposes candidates,
    * exact shingle Jaccard confirms ≥ `threshold`. Verification joins the
    * (small) candidate set against per-document shingle arrays — broadcast
    * when candidates are few, shuffle otherwise; Catalyst/AQE decides. */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8, materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands): " +
        "integer division would silently drop the trailing signature " +
        "columns and change the LSH S-curve from 1-(1-s^r)^b")
    // one persisted HASHED-shingle-array frame (8-byte elements — see
    // [[hashedShingleRows]]) feeds BOTH the signature explode and the two
    // verification joins (same lazy MEMORY_AND_DISK persist as
    // jaccardPairs' `materialize` — see its scaladoc)
    val setsPlan = df.select(col(idCol).as("__id"),
      shingleHashes(col(textCol), n).as("__shs"))
    val sets =
      if (materialize)
        setsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else setsPlan
    val rows = sets.select(col("__id"), explode(col("__shs")).as("__sh"))
    val x = pmod(col("__sh"), lit(MinhashPrime))
    val mins = permutations(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * x + lit(b), lit(MinhashPrime))).as(s"m$i")
    }
    val sigs = rows.groupBy(col("__id")).agg(mins.head, mins.tail: _*)
    val cands = lshCandidates(sigs, bands, numHashes / bands)
    // broadcast the SMALL side (candidate pairs), stream the persisted doc
    // frame — never broadcast an array-carrying frame (see jaccardPairs):
    // withA carries one full shingle array PER CANDIDATE PAIR, and a
    // boilerplate-heavy corpus can propose millions of pairs, so the
    // second join stays a shuffle join (AQE may still choose broadcast
    // when it measures withA as genuinely small — a measurement, not a
    // hard hint past the size gate)
    val withA = sets
      .select(col("__id").as("doc_a"), col("__shs").as("__sa"))
      .join(broadcast(cands), Seq("doc_a"))
    sets
      .select(col("__id").as("doc_b"), col("__shs").as("__sb"))
      .join(withA, Seq("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Persisted MinHash signature index: build once over the corpus —
    * signatures only, 8·`numHashes` bytes per doc (a 100 TB text corpus
    * indexes to ~tens of GB) — so every daily increment dedups against
    * the corpus WITHOUT re-reading or re-hashing corpus text. */
  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, numHashes: Int = 16): Unit =
    minhashSignatures(df, idCol, textCol, n, numHashes)
      .write.mode("overwrite").parquet(path)

  /** Near-dup pairs between an indexed corpus and a (small) increment —
    * the daily-ingest shape: the increment's band keys BROADCAST against
    * ONE scan of the signature index, so the corpus side never shuffles
    * and the daily cost is O(increment) + one index scan, not a corpus
    * re-shuffle. Verification then computes shingles fresh only for the
    * few corpus docs the bands proposed (candidate-pruned text lookup)
    * and for the increment. Returns (corpus `doc_a`, increment `doc_b`,
    * exact `jaccard` ≥ threshold) — same S-curve and verify semantics as
    * [[minhashDedupPairs]] restricted to cross pairs. */
  def incrementalDupPairs(spark: SparkSession, indexPath: String,
      corpus: DataFrame, increment: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame =
    incrementalDupPairsFrom(graft.core.Tables.parquet(spark, indexPath), corpus,
      increment, idCol, textCol, n, numHashes, bands, threshold)

  /** [[incrementalDupPairs]] over an already-loaded signature frame —
    * the streaming sink passes the index of its parent snapshot. */
  def incrementalDupPairsFrom(index: DataFrame,
      corpus: DataFrame, increment: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rpb = numHashes / bands
    def banded(sigs: DataFrame, out: String): DataFrame =
      sigs.select(
        col("__id").as(out) +:
          (0 until bands).map { bi =>
            concat_ws(":",
              (0 until rpb).map(r => col(s"m${bi * rpb + r}")): _*)
              .as(s"band$bi")
          }: _*)
        .select(col(out),
          posexplode(array((0 until bands).map(bi => col(s"band$bi")): _*))
            .as(Seq("__band_idx", "__band_key")))
    val idx = banded(index, "doc_a")
    val inc = banded(
      minhashSignatures(increment, idCol, textCol, n, numHashes), "doc_b")
    val cands = idx.join(broadcast(inc), Seq("__band_idx", "__band_key"))
      .where(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // candidate-pruned corpus text lookup (skinny pair keys broadcast,
    // never the shingle arrays — the jaccardPairs discipline)
    val corpusSets = corpus
      .select(col(idCol).as("doc_a"), shingleHashes(col(textCol), n).as("__sa"))
      .join(broadcast(cands.select("doc_a").distinct()), Seq("doc_a"))
    increment
      .select(col(idCol).as("doc_b"), shingleHashes(col(textCol), n).as("__sb"))
      .join(broadcast(cands), Seq("doc_b"))
      .join(corpusSets, Seq("doc_a"))
      .withColumn("jaccard",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Duplicate-pair lists → duplicate GROUPS: connected components over
    * the pair graph, labeling every member with the minimum doc id of its
    * component (the canonical survivor; `keep = doc_id == component`).
    * This is the step that turns any pairwise dedup (Jaccard, MinHash,
    * SimHash, embedding) into an actionable drop list.
    *
    * Algorithm: distributed min-label propagation — each round joins
    * labels across edges and takes the per-node min; labels only
    * decrease, so Σlabels is a convergence certificate (an aggregate
    * riding each round's checkpoint, no row-wise diff). Rounds = component
    * diameter; near-dup components are dense and tiny (diameter ≲ 4 in
    * practice), so this converges in a handful of rounds — for
    * adversarially long chains the alternating large-star/small-star
    * variant (O(log n) rounds) is the drop-in upgrade. Every round is one equi-join + one
    * groupBy, fully distributed; `localCheckpoint` truncates the loop's
    * otherwise-exponential lineage. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 20): DataFrame = {
    val a = col(aCol)
    val edges = pairs.select(a.as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), a.as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // DECIMAL(38,0) sum: labels only ever DECREASE under min-label
    // propagation, so an unchanged sum is a SOUND fixpoint certificate —
    // but hash60-derived ids are ~2^59 and a LONG sum overflows (ANSI:
    // ArithmeticException kills the job) on a few dozen nodes. 38-digit
    // decimal headroom covers ~8e19 such labels; no collision risk the
    // way an xor checksum would have (xor is not monotone). The count and
    // the sum ride each round's checkpoint of the labels.
    var labels: DataFrame = null
    var lastSum: java.math.BigDecimal = null
    var converged = false
    def roll(next: DataFrame): Unit = {
      val (out, obs) = graft.core.Ckpt.rollObserved(next,
        Seq(count(lit(1)), sum(col("component").cast("decimal(38,0)"))), labels)
      labels = out
      val s = obs.getDecimal(1)
      // labels only decrease: equal sum = fixpoint (compareTo: BigDecimal
      // equals() is scale-sensitive); no labels at all is a fixpoint too
      converged = obs.getLong(0) == 0 || lastSum != null && s.compareTo(lastSum) == 0
      lastSum = s
    }
    roll(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component")))
    var round = 0
    while (!converged && round < maxRounds) {
      roll(labels
        .join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), col("component"))
        .unionByName(labels)
        .groupBy("id").agg(min("component").as("component")))
      round += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds — a " +
          "component's diameter exceeds the round budget; raise maxRounds " +
          "or use connectedComponentsStar (O(log n) rounds)")
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** The canonical dedup cascade, composed end to end: exact content
    * dedup collapses byte-identical copies first (cheap, one shuffle),
    * then MinHash+LSH near-dup pairs over the distinct-content survivors,
    * then connected components turn pairs into groups. Returns the input
    * keyed rows with `component` (the group's canonical id) and
    * `keep` — exactly one survivor per duplicate group, lowest id wins;
    * docs untouched by any duplicate keep themselves. This is the
    * operator a 100 TB curation pipeline actually runs: every stage is
    * the already-verified primitive, composed without a collect. */
  def dedupCascade(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val ids = df.select(col(idCol).cast("long").as("doc_id"))
    // exact duplicates: every id maps to its content-group min
    val exact = df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as("__keep"))
    val exactEdges = df.select(col(idCol).as("doc_a"), md5(col(textCol)).as("__h"))
      .join(exact, Seq("__h"))
      .where(col("doc_a") =!= col("__keep"))
      .select(col("doc_a"), col("__keep").as("doc_b"))
    // near-dups among distinct-content representatives only
    val reps = df.join(exact.select(col("__keep").as(idCol)), Seq(idCol))
    val nearEdges = minhashDedupPairs(reps, idCol, textCol, n, numHashes,
      bands, threshold).select("doc_a", "doc_b")
    val comps = connectedComponentsStar(
      exactEdges.unionByName(nearEdges), "doc_a", "doc_b")
    ids
      .join(comps, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("keep", col("doc_id") === col("component"))
  }

  /** Corpus-wide chunk-level deduplication (the C4/RefinedWeb line-dedup
    * rule generalized to fixed-width token chunks, since the corpus has no
    * newline structure): split each document into consecutive
    * `chunkTokens`-token chunks, keep only the globally FIRST occurrence
    * of every distinct chunk (lowest (doc_id, chunk_idx)), and rebuild
    * each document from its surviving chunks in order. Documents whose
    * every chunk was seen earlier elsewhere come back with a null
    * `clean_text` (fully boilerplate).
    *
    * Output: (doc_id, clean_text, n_chunks, n_kept).
    *
    * Scale shape: chunking is a projection (`slice` over the token array,
    * no explode until the chunk rows); first-occurrence election is ONE
    * window shuffle partitioned by the 60-bit chunk hash — 8-byte keys,
    * not chunk text; the rebuild is one groupBy back on doc_id. No
    * driver-side state, no cross join. */
  /** Edit-distance near-dup pairs: candidate pairs blocked on the first
    * token, pre-filtered to a ±`bandTokens` token-count band, then scored
    * with `levenshtein` over the first `prefixLen` chars (bounding the
    * O(prefixLen²) DP — full-text edit distance is quadratic in document
    * length and never the right tool at corpus scale). Returns ordered
    * (doc_a < doc_b) pairs with `edit_dist` ≤ `maxDist`.
    *
    * Scale shape: one equi-join on the block key — no cross join; the
    * token-band and distance predicates run inside the join. Blocking on
    * a single leading token is the classic skew hazard when a corpus
    * shares boilerplate openers — for such corpora widen the key (first
    * two tokens, or first token + length band the q44 bin way); the
    * fingerprint/LSH family here is the better recall/cost point when
    * prefixes alone can't block. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 40, maxDist: Int = 10, bandTokens: Int = 2): DataFrame = {
    require(prefixLen >= 1 && maxDist >= 0 && bandTokens >= 0)
    val base = df.select(col(idCol).as("__id"),
      split(col(textCol), " ").getItem(0).as("__ft"),
      size(split(col(textCol), " ")).as("__nt"),
      substring(col(textCol), 1, prefixLen).as("__pfx"))
    val a = base.select(col("__id").as("doc_a"), col("__ft"),
      col("__nt").as("__nt_a"), col("__pfx").as("__pfx_a"))
    val b = base.select(col("__id").as("doc_b"), col("__ft"),
      col("__nt").as("__nt_b"), col("__pfx").as("__pfx_b"))
    a.join(b, Seq("__ft"))
      .where(col("doc_a") < col("doc_b") &&
        abs(col("__nt_a") - col("__nt_b")) <= bandTokens)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__pfx_a"), col("__pfx_b")).cast("long").as("edit_dist"))
      .where(col("edit_dist") <= maxDist)
  }

  /** Jaro–Winkler near-dup pairs — [[editDistancePairs]]' blocked shape
    * with the transposition-tolerant scorer ([[graft.functions
    * .JaroWinkler]], native codegen'd expression): first-token equi-join
    * blocking bounds candidates, the O(len²) similarity runs only on
    * survivors over a fixed prefix. Same skew caveat as edit distance —
    * a corpus where one first token dominates widens the key (first two
    * tokens) or pre-salts. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 30, minSim: Double = 0.9): DataFrame = {
    require(prefixLen >= 1 && minSim >= 0.0 && minSim <= 1.0)
    val base = df.select(col(idCol).as("__id"),
      split(col(textCol), " ").getItem(0).as("__ft"),
      substring(col(textCol), 1, prefixLen).as("__pfx"))
    val a = base.select(col("__id").as("doc_a"), col("__ft"),
      col("__pfx").as("__pfx_a"))
    val b = base.select(col("__id").as("doc_b"), col("__ft"),
      col("__pfx").as("__pfx_b"))
    a.join(b, Seq("__ft"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.JaroWinkler.jaroWinklerCol(
          col("__pfx_a"), col("__pfx_b")), 6).as("jw_sim"))
      .where(col("jw_sim") >= minSim)
  }

  /** Sorted-neighborhood record linkage — the third blocking family next
    * to equi-blocking ([[editDistancePairs]]' first token) and LSH
    * banding ([[lshCandidates]]): sort the corpus by a blocking key and
    * compare each record only with its `windowSize` successors. Where
    * equi-blocking misses pairs whose first tokens differ (typo in the
    * block key = lost pair), the sorted order still places near-equal
    * keys adjacently.
    *
    * Pair generation is sorted-adjacency over the GLOBAL (sortKey, id)
    * order. The execution shape is gated on a MEASURED row count: up to
    * 2M rows the corpus sorts in ONE window task and pairs come from
    * `lead()` — at that size the single sort is cheaper than any exchange
    * fan-out; past the gate the same pairs are computed fully
    * distributed: range-partition by the sort key, pin the partitioning
    * with a checkpoint
    * (partition ids feed three branches — the exactPercentiles
    * discipline), global rank = local row_number + broadcast
    * per-partition offsets, and each record meets its `windowSize`
    * successors through one equi-join on the rank — w·n skinny rows, no
    * single-task ceiling (the rounds-≤9 spelling was serial at ANY size,
    * guide §2.3/§5). Both shapes emit identical pairs: rank r meets
    * ranks r+1..r+w when they exist (differentially tested).
    *
    * Returns candidate pairs with the scorer applied (Jaro–Winkler over
    * `textCol` prefixes), filtered to `minSim`. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      textCol: String, sortKey: Column, windowSize: Int = 3,
      prefixLen: Int = 30, minSim: Double = 0.9): DataFrame =
    sortedNeighborhood(df, idCol, textCol, sortKey, windowSize, prefixLen,
      minSim, SnSerialMaxRows)

  /** The row count up to which [[sortedNeighborhoodPairs]] runs serially. */
  private val SnSerialMaxRows = 2000000L

  private[graft] def sortedNeighborhood(df: DataFrame, idCol: String,
      textCol: String, sortKey: Column, windowSize: Int, prefixLen: Int,
      minSim: Double, serialMax: Long): DataFrame = {
    require(windowSize >= 1 && prefixLen >= 1)
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("doc_a"),
      substring(col(textCol), 1, prefixLen).as("__pfx_a"),
      sortKey.as("__sk"))
    // the gate is one count over the projected input — for the common
    // raw-table caller this is a metadata-cheap scan, and it buys the
    // right shape on both sides of the knee; the count and the shape it
    // picked are attributes of the caller's trace span
    val n = base.count()
    val serial = n <= serialMax
    graft.core.Trace.attr("sn_rows", n)
    graft.core.Trace.attr("sn_shape", if (serial) "serial" else "distributed")
    if (serial) {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("__sk"), col("doc_a"))
      base.select(
          col("doc_a"), col("__pfx_a"),
          array((1 to windowSize).map(i =>
            struct(lead(col("doc_a"), i).over(w).as("doc_b"),
              lead(col("__pfx_a"), i).over(w).as("__pfx_b"))): _*).as("__nbrs"))
        .select(col("doc_a"), col("__pfx_a"),
          explode(col("__nbrs")).as("__n"))
        .where(col("__n.doc_b").isNotNull)
        .select(col("doc_a"), col("__n.doc_b").as("doc_b"),
          round(graft.functions.JaroWinkler.jaroWinklerCol(
            col("__pfx_a"), col("__n.__pfx_b")), 6).as("jw_sim"))
        .where(col("jw_sim") >= minSim)
    } else {
      val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val parts = base
        .repartitionByRange(nPart, col("__sk"), col("doc_a"))
        .select(col("doc_a"), col("__pfx_a"), col("__sk"),
          spark_partition_id().as("__pid"))
        .localCheckpoint()
      val wLocal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__pid")).orderBy(col("__sk"), col("doc_a"))
      // per-partition offsets: K tiny rows, cumulated with a 1-partition
      // window over K rows (never over data rows), broadcast back
      val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("__pid"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offs = parts.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
        .select(col("__pid"),
          coalesce(sum(col("__c")).over(wOff), lit(0L)).as("__off"))
      val ranked = parts
        .withColumn("__lrn", row_number().over(wLocal))
        .join(broadcast(offs), Seq("__pid"))
        .select(col("doc_a"), col("__pfx_a"),
          (col("__lrn") + col("__off")).as("__rn"))
      // successors at ranks __rn+1..__rn+w: explode the probe side w ways
      // and equi-join on the successor's rank — missing ranks (the global
      // tail) drop out of the inner join exactly like lead()'s nulls did
      val succ = ranked.select(col("doc_a").as("doc_b"),
        col("__pfx_a").as("__pfx_b"), col("__rn").as("__rn_b"))
      ranked
        .select(col("doc_a"), col("__pfx_a"),
          explode(org.apache.spark.sql.functions.sequence(
            col("__rn") + 1, col("__rn") + windowSize)).as("__rn_b"))
        .join(succ, Seq("__rn_b"))
        .select(col("doc_a"), col("doc_b"),
          round(graft.functions.JaroWinkler.jaroWinklerCol(
            col("__pfx_a"), col("__pfx_b")), 6).as("jw_sim"))
        .where(col("jw_sim") >= minSim)
    }
  }

  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be positive, got $chunkTokens")
    val toks = split(col(textCol), " ")
    val nChunks = ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int")
    val chunks = df.select(
        col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))
          .as(Seq("idx", "chunk")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(hash60(col("chunk")))
      .orderBy(col("doc_id"), col("idx"))
    val elected = chunks
      .withColumn("__rn", row_number().over(w))
      .withColumn("__kept", col("__rn") === 1)
    elected.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("__kept"),
          struct(col("idx"), col("chunk"))))).as("__ordered"))
      .withColumn("clean_text",
        when(col("n_kept") > 0,
          array_join(transform(col("__ordered"), s => s("chunk")), " ")))
      .select(col("doc_id"), col("clean_text"), col("n_chunks"), col("n_kept"))
  }

  /** [[connectedComponents]] via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — O(log n) rounds regardless of component DIAMETER, where
    * plain min-label propagation needs diameter rounds. Each round is two
    * window-min passes over the edge list; convergence when the edge list
    * reaches a fixpoint (certified by count + order-invariant
    * hash checksum, two aggregates that ride each round's checkpoint). At
    * the fixpoint every component is a star centered on its minimum id, so
    * the label read is one more groupBy-min. Same output contract as
    * [[connectedComponents]] (differentially tested); prefer this
    * variant when components can be long chains. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    // each star's per-node min is a window over the node's edges, so a
    // round is three exchanges and no join or broadcast
    // large-star: every u links its LARGER neighbors to m = min(N(u)∪{u});
    // no distinct: duplicates change neither smallStar's per-node min nor
    // its own final distinct
    def largeStar(e: DataFrame): DataFrame =
      e.select(explode(array(struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("x"))
        .select(col("x.u").as("u"), col("x.v").as("v"))
        .withColumn("m", least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
    // small-star: orient each edge large→small; every u links its
    // not-larger neighbors (and itself) to their collective min
    def smallStar(e: DataFrame): DataFrame =
      e.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
        .select(explode(array(struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("x"))
        .where(col("x.a") =!= col("x.b"))
        .select(col("x.a").as("a"), col("x.b").as("b"))
        .distinct()
    // fixpoint certificate: count + order-invariant, overflow-free
    // bit_xor checksum (a sum would overflow the ANSI long on large edge
    // lists), riding each round's checkpoint of the edge list
    var edges: DataFrame = null
    var sig: (Long, Long) = null
    var converged = false
    def roll(next: DataFrame): Unit = {
      val (out, obs) = graft.core.Ckpt.rollObserved(next, Seq(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))), edges)
      edges = out
      val s = (obs.getLong(0), obs.getLong(1))
      converged = s._1 == 0 || s == sig
      sig = s
    }
    roll(pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    var round = 0
    while (!converged && round < maxRounds) graft.core.Trace.span("ccstar/round") {
      val upd = smallStar(largeStar(edges))
      if (round == 0) graft.core.Trace.attr("plan",
        upd.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      roll(upd)
      round += 1
    }
    // stars: every member has an edge to the component min
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    und.groupBy("u").agg(least(min(col("v")), col("u")).as("component"))
      .select(col("u").as("doc_id"), col("component"))
  }

  /** Weighted SimHash fingerprint (`bits` ≤ 32): per token, a ±count
    * contribution to each bit of the token's hash; the fingerprint sets
    * bit b iff the summed contribution is positive. One narrow explode +
    * two shuffles (token counts, per-doc sum). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
        explode(split(col(textCol), " ")).as("__tok"))
      .where(col("__tok") =!= "")
      .groupBy("__id", "__tok").agg(count(lit(1)).as("__cnt"))
      .withColumn("__h", hash60(col("__tok")))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(lit(1L)) === 1L, col("__cnt"))
        .otherwise(-col("__cnt"))).as(s"__s$b")
    }
    toks.groupBy(col("__id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("__id"),
        (0 until bits)
          .map(b => when(col(s"__s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: fingerprints within `maxHamming` bits. The
    * pair source is a block join on the top `blockBits` bits (near-dups
    * agree on most bits, so blocking on a prefix keeps recall high while
    * avoiding N²); hamming via xor + bit_count. `bits` must match the
    * fingerprint width used in [[simhash]] — blocking shifts by
    * `bits - blockBits`, so a mismatched width would silently collapse
    * the blocks into one bucket (quadratic join). */
  def simhashPairs(fingerprints: DataFrame, maxHamming: Int,
      blockBits: Int = 8, bits: Int = 32): DataFrame = {
    require(blockBits > 0 && blockBits <= bits,
      s"blockBits must be in (0, $bits], got $blockBits")
    val blocked = fingerprints.withColumn("__blk",
      shiftright(col("simhash"), bits - blockBits))
    val a = blocked.select(col("__id").as("doc_a"), col("simhash").as("__fa"), col("__blk"))
    val b = blocked.select(col("__id").as("doc_b"), col("simhash").as("__fb"), col("__blk"))
    a.join(b, Seq("__blk"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("__fa").bitwiseXOR(col("__fb"))))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact duplicated-SPAN detection — substring-level dedup in the sense
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (§4.1 ExactSubstr), re-expressed relationally: every
    * position-aligned `n`-token window whose 60-bit hash occurs ≥ 2 times
    * CORPUS-WIDE marks its half-open token span [pos, pos+n) as
    * duplicated; overlapping marked spans within a document merge into
    * islands (running-max gaps-and-islands), and the per-document report
    * says how much of the document is corpus-repeated boilerplate. This
    * is finer-grained than [[exactDedup]] (whole doc) or [[lineDedup]]
    * (fixed chunks): it catches licenses, headers, and templated
    * paragraphs at arbitrary offsets.
    *
    * Scale shape: one shuffle keyed on the window hash (the count-≥-2
    * mark is a window aggregate, no second join against the big frame),
    * then one per-document window ordered by position. Rows between the
    * two are (doc, pos, 8-byte hash) — fixed width, no shingle strings.
    * Only documents containing at least one duplicated span are returned.
    *
    * Output: id, `n_dup_windows` (marked windows), `n_islands` (merged
    * spans), `dup_tokens` (tokens covered by any duplicated span).
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("__t"))
      .where(size(col("__t")) >= n)
    val wins = toks
      .select(col("__id"), posexplode(
        transform(sequence(lit(0), size(col("__t")) - n),
          i => hash60(array_join(slice(col("__t"), i + 1, lit(n)), " ")))))
      .withColumnRenamed("pos", "__s").withColumnRenamed("col", "__h")
    val marked = wins
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .where(col("__cnt") >= 2)
      .select(col("__id"), col("__s"), (col("__s") + n).as("__e"))
    val byPos = Window.partitionBy(col("__id")).orderBy(col("__s"))
    val isl = marked
      .withColumn("__pmax",
        max(col("__e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("__new"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy(col("__id"), col("island"))
      .agg(count(lit(1)).as("__w"), (max(col("__e")) - min(col("__s"))).as("__len"))
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__w")).as("n_dup_windows"),
        count(lit(1)).as("n_islands"),
        sum(col("__len")).as("dup_tokens"))
  }

  /** LSH-tuning evaluation: precision/recall of the MinHash band
    * candidates against exact-Jaccard ground truth — the number that says
    * whether (numHashes, bands) sit at the right point on the
    * 1−(1−s^r)^b S-curve for YOUR corpus before committing a planet-scale
    * dedup run to them. Ground truth is [[jaccardPairs]] (prefix-filtered,
    * lossless at the threshold); candidates are the raw
    * [[lshCandidates]] — the un-verified band collisions, since
    * verified pairs have precision 1 by construction.
    *
    * One full-outer join of two skinny pair sets + a 3-counter aggregate:
    * (n_true, n_candidates, tp, precision, recall). Exact integer counts,
    * two float divisions — engine-exact. */
  def lshEvalMetrics(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val cands = lshCandidates(
      minhashSignatures(df, idCol, textCol, n, numHashes),
      bands, numHashes / bands)
    val exact = jaccardPairs(df, idCol, textCol, n, threshold)
      .select(col("doc_a"), col("doc_b"))
    val marked = cands.withColumn("__c", lit(1L))
      .join(exact.withColumn("__t", lit(1L)), Seq("doc_a", "doc_b"),
        "full_outer")
    marked
      // outer coalesce: sum over an EMPTY pair set (no dups at all) is
      // null — report zeros, not a null row
      .agg(coalesce(sum(coalesce(col("__t"), lit(0L))), lit(0L)).as("n_true"),
        coalesce(sum(coalesce(col("__c"), lit(0L))), lit(0L))
          .as("n_candidates"),
        coalesce(sum(when(col("__c").isNotNull && col("__t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("tp"))
      .select(col("n_true"), col("n_candidates"), col("tp"),
        when(col("n_candidates") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double") / col("n_candidates"), 6))
          .as("precision"),
        when(col("n_true") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double") / col("n_true"), 6))
          .as("recall"))
  }

  /** Top-k most-similar documents per document by exact n-gram Jaccard —
    * the "related documents" retrieval surface (vs [[jaccardPairs]]'
    * dedup-threshold pairs). `floor` bounds the candidate space: the
    * prefix-filtered pair join runs at that threshold (lossless for any
    * neighbor scoring ≥ floor), pairs symmetrize, and a bounded-heap
    * [[graft.functions.TopKByScore]] aggregate keeps each document's k
    * best — no window sort, exchanges move (id, id, score) triples only.
    * Neighbors below `floor` are (by design) not ranked; documents with
    * no neighbor ≥ floor are absent.
    *
    * Ties break toward the smaller neighbor id (score DESC, id ASC) —
    * deterministic on any engine, same contract as the ANN family. */
  def relatedDocsTopK(df: DataFrame, idCol: String, textCol: String, n: Int,
      floor: Double, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val pairs = jaccardPairs(df, idCol, textCol, n, floor)
    val sym = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("__nb"),
        col("jaccard"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"),
        col("doc_a").as("__nb"), col("jaccard")))
    sym.groupBy(col("doc_id"))
      .agg(graft.functions.TopKByScore.topK(col("jaccard"), col("__nb"), k)
        .as("__top"))
      .select(col("doc_id"), posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("doc_id"), col("__e.id").as("neighbor_id"),
        round(col("__e.score"), 6).as("jaccard"),
        (col("__i") + 1).cast("int").as("rank"))
  }
}
