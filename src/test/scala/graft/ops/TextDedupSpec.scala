package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e f"),          // base
    (2L, "a b c d e f"),          // exact duplicate of 1
    (3L, "a b c d e g"),          // near-dup of 1 (shares 3 of 5+ shingles)
    (4L, "x y z w v u")           // unrelated
  ).toDF("doc_id", "text")

  test("shingles produces distinct word n-grams, empty under n words") {
    val out = Seq(("a b c d", 0), ("a b", 1)).toDF("t", "i")
      .select(TextDedup.shingles(col("t"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
  }

  test("exactDedup groups identical content, keeps min id") {
    val groups = TextDedup.exactDedup(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(groups.length == 3)
    val dup = groups.find(_.getLong(1) == 1L).get
    assert(dup.getLong(2) == 2L) // docs 1 and 2 collapse
  }

  test("jaccardPairs finds exact and near duplicates with exact values") {
    val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc1 shingles {abc,bcd,cde,def}, doc3 {abc,bcd,cde,deg}: 3/5
    assert(math.abs(pairs((1L, 3L)) - 0.6) < 1e-12)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("jaccardPairs maxShingleDf drops boilerplate shingles") {
    val boiler = Seq(
      (1L, "p q r s"), (2L, "p q r t"), (3L, "p q r u")
    ).toDF("doc_id", "text")
    // "p q r" appears in all 3 docs; with maxShingleDf=2 it is ignored and
    // no pair shares a shingle anymore
    val out = TextDedup.jaccardPairs(boiler, "doc_id", "text", 3, 0.01,
      maxShingleDf = Some(2L))
    assert(out.count() == 0)
  }

  test("prefix-filtered jaccardPairs ≡ naive inverted index (differential)") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.4, 0.8)) {
      def norm(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      val fast = norm(TextDedup.jaccardPairs(corpus, "doc_id", "text", 3, t))
      val slow = norm(TextDedup.jaccardPairsNaive(corpus, "doc_id", "text", 3, t))
      assert(fast == slow, s"threshold $t")
      assert(slow.nonEmpty || t > 0.4) // sanity: low threshold finds pairs
    }
  }

  test("containmentPairs: directed subset detection that Jaccard misses") {
    // doc 10 (one sentence) appears verbatim inside doc 11 (much longer):
    // containment(10→11) = 1.0, while Jaccard is far below any useful
    // threshold — the asymmetric measure earns its keep here
    val quote = "p q r s t"
    val long = s"m n o $quote u v w x y z aa bb cc dd ee ff gg hh"
    val d = Seq((10L, quote), (11L, long), (12L, "k l zz k2 l2 zz2"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.containmentPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet == Set((10L, 11L)), s"pairs: $pairs") // directed!
    assert(pairs((10L, 11L)) == 1.0)
    // and Jaccard at the same threshold finds NOTHING
    assert(TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.9).count() == 0)
    // differential vs naive all-pairs on the shared fixture
    val fast = TextDedup.containmentPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naiveRows = docs.select(col("doc_id").as("a"),
        TextDedup.shingleHashes(col("text"), 3).as("sa"))
    val naive = naiveRows.crossJoin(
        naiveRows.select(col("a").as("b"), col("sa").as("sb")))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(col("sa"))).as("c"))
      .where(col("c") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == naive, s"fast=$fast naive=$naive")
  }

  test("minhash LSH recovers exact and near duplicates, verified") {
    val pairs = TextDedup.minhashDedupPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    // near-dup 1-3 at jac 0.6: bands of 4 rows collide with prob
    // 1-(1-0.6^4)^4 ≈ 0.43 — must not assert presence; assert no false
    // positives against the unrelated doc instead
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash signature equality for identical docs") {
    val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    val fps = TextDedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(3L)) < ham(fps(1L), fps(4L)))
  }

  test("simhashPairs finds identical pair at hamming 0") {
    val fps = TextDedup.simhash(docs, "doc_id", "text")
    val pairs = TextDedup.simhashPairs(fps, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("dedupCascade: exact + near dups collapse transitively, one survivor per group") {
    val corpus = Seq(
      (1L, "a b c d e f"),          // base
      (2L, "a b c d e f"),          // exact dup of 1
      (3L, "a b c d e f g"),        // near-dup of 1 (jac 4/5 = 0.8)
      (4L, "x y z w v u"),          // unrelated
      (5L, "x y z w v u")           // exact dup of 4
    ).toDF("doc_id", "text")
    val out = TextDedup.dedupCascade(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false))) // exact edge
    assert(out(4L) == ((4L, true)))
    assert(out(5L) == ((4L, false)))
    // near-dup of 1 joins 1's component IF its LSH bands collide —
    // banding is probabilistic, so only assert it never lands elsewhere
    assert(out(3L) == ((1L, false)) || out(3L) == ((3L, true)))
    assert(out.values.count(_._2) <= 3)
  }

  test("connectedComponents labels chains, separate components, handles empty") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // a 4-chain — needs propagation rounds
      (10L, 11L),                   // separate component
      (20L, 21L), (21L, 20L)        // duplicate/reversed edges
    ).toDF("doc_a", "doc_b")
    val out = TextDedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val empty = TextDedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    assert(empty.count() == 0)
  }

  test("large-star/small-star CC ≡ propagation CC on adversarial graphs (differential)") {
    import org.scalacheck.{Gen, rng}
    def edgesOf(g: Gen[List[(Long, Long)]], seed: Long) =
      g.apply(Gen.Parameters.default, rng.Seed(seed)).getOrElse(Nil)
    val chainG = Gen.choose(5, 15).map(n =>
      (0L until n).sliding(2).map(s => (s(1), s(0))).toList) // chain (within
    // propagation's round budget; the long-chain case is tested below)
    val randomG = Gen.listOfN(60, for {
      a <- Gen.choose(0L, 30L); b <- Gen.choose(0L, 30L) if a != b
    } yield (a, b))
    val graphs = Seq(
      edgesOf(chainG, 1), edgesOf(randomG, 2), edgesOf(randomG, 3),
      (0L until 20L).map(i => (i, i + 100L)).toList, // star-ish pairs
      Nil)
    for ((es, i) <- graphs.zipWithIndex) {
      val pairs = es.toDF("doc_a", "doc_b")
      def m(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = m(TextDedup.connectedComponents(pairs, "doc_a", "doc_b"))
      val star = m(TextDedup.connectedComponentsStar(pairs, "doc_a", "doc_b"))
      assert(star == prop, s"graph #$i diverged")
    }
    // a 200-node chain: diameter >> propagation's default round budget —
    // propagation must REFUSE (not silently mislabel), star must solve it
    val chain = (0L until 200L).sliding(2).map(s => (s(1), s(0))).toList
      .toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      TextDedup.connectedComponents(chain, "doc_a", "doc_b").collect()
    }
    val solved = TextDedup.connectedComponentsStar(chain, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(solved.length == 200 && solved.forall(_._2 == 0L))
  }

  test("native shingleHashes ≡ hash60 over string shingles (differential)") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    val viaStrings = corpus
      .select(col("doc_id"), explode(TextDedup.shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), TextDedup.hash60(col("sh")).as("h"))
    val native = corpus
      .select(col("doc_id"), explode(TextDedup.shingleHashes(col("text"), 3)).as("h"))
    def s(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (a, b) = (s(viaStrings), s(native))
    assert(a == b && a.nonEmpty)
  }

  test("hash60 is stable across sessions (md5-derived, engine-independent)") {
    val h = Seq("hello").toDF("s")
      .select(TextDedup.hash60(col("s"))).head().getLong(0)
    // first 15 hex chars of md5("hello") = 5d41402abc4b2a7
    assert(h == java.lang.Long.parseLong("5d41402abc4b2a7", 16))
  }

  test("hash60Local (driver-side) is bit-identical to the hash60 column") {
    val terms = Seq("hello", "the", "zzz_not_a_word", "héllo wörld",
      "日本語テキスト", "a b c", "0", " leading space")
    val viaColumn = terms.toDF("s")
      .select(col("s"), TextDedup.hash60(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (t <- terms)
      assert(TextDedup.hash60Local(t) == viaColumn(t),
        s"driver/column hash mismatch for '$t'")
  }

  test("editDistancePairs: blocking, band, threshold, and ordering") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delto"),     // 1 edit from doc 1
      (3L, "alpha beta gamma delta"),     // exact dup of doc 1
      (4L, "omega beta gamma delta"),     // different first token — never paired
      (5L, "alpha b c d e f g h i j k l") // same block, outside ±2 token band
    ).toDF("doc_id", "text")
    val got = TextDedup.editDistancePairs(docs, "doc_id", "text",
        prefixLen = 40, maxDist = 10, bandTokens = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L)))
    // every pair is ordered and within threshold
    assert(got.forall { case (a, b, d) => a < b && d <= 10 })
  }

  test("editDistancePairs joins on the block key — no cartesian product") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextDedup.editDistancePairs(corpus, "doc_id", "text")
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"fuzzy dedup went quadratic:\n$p")
  }

  test("verification joins never broadcast shingle arrays (bounded at scale)") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // AQE off: inspect the STATIC plan — the one the optimizer commits to
    // before runtime sizes are known; AQE may still elect a broadcast at
    // runtime, but size-gated by its threshold, which is the safe case
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, out) <- Seq(
          "jaccard" -> TextDedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.8),
          "containment" ->
            TextDedup.containmentPairs(corpus, "doc_id", "text", 3, 0.9))) {
        val offenders = out.queryExecution.executedPlan.collect {
          case b: BroadcastExchangeExec
              if b.output.exists(_.dataType.isInstanceOf[ArrayType]) => b
        }
        assert(offenders.isEmpty,
          s"$name broadcasts array payloads:\n${offenders.mkString("\n")}")
        assert(out.count() > 0) // plan still executes and finds pairs
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("duplicatedSpans marks corpus-repeated windows and merges overlaps") {
    // docs 1 and 2 share the 6-token run "p q r s t u": with n=5 that is
    // two overlapping duplicated windows per doc → one island of 6 tokens.
    // doc 3 has no 5-gram in common with anything → absent from output.
    val docs = Seq(
      (1L, "a b c p q r s t u x y z"),
      (2L, "m n p q r s t u o w"),
      (3L, "entirely different words with no repeats at all")
    ).toDF("doc_id", "text")
    val got = TextDedup.duplicatedSpans(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(1L -> ((2L, 1L, 6L)), 2L -> ((2L, 1L, 6L))))
  }

  test("duplicatedSpans: within-document repetition also counts") {
    // "h1 h2 h3 h4 h5" occurs twice INSIDE one doc (positions 0 and 7) —
    // corpus-wide count 2 → both windows marked, two disjoint islands
    val docs = Seq((9L, "h1 h2 h3 h4 h5 gap x h1 h2 h3 h4 h5"))
      .toDF("doc_id", "text")
    val got = TextDedup.duplicatedSpans(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((9L, 2L, 2L, 10L)))
  }

  test("incrementalDupPairs ≡ full MinHash pairs restricted to cross pairs") {
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val old = corpus.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val inc = corpus.where(pmod(col("doc_id"), lit(10)) === 0)
    val dir = scratch("graft-mhidx")
    TextDedup.buildMinhashIndex(old, "doc_id", "text", dir)
    val incr = TextDedup.incrementalDupPairs(spark, dir, old, inc, "doc_id", "text")
    val got = incr.as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    // ground truth: the all-at-once MinHash dedup, keeping only pairs that
    // straddle the corpus/increment split
    val full = TextDedup.minhashDedupPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    assert(got.nonEmpty, "fixture produced no cross pairs — vacuous test")
    assert(got == full)
    // the band join must broadcast the increment side — the index (the
    // 100 TB stand-in) streams through a BroadcastHashJoin, never a
    // shuffle of its own
    val p = incr.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"increment bands not broadcast against the index scan:\n$p")
  }

  test("sortedNeighborhoodPairs catches a pair first-token blocking misses") {
    // docs 1 and 2 differ in their FIRST token (alpha/alpho) — an
    // equi-block on that token never compares them; sorted by prefix they
    // are adjacent, so the neighborhood window scores them
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpho beta gamma delta"),
      (3L, "zzz totally different text")
    ).toDF("doc_id", "text")
    val got = TextDedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        sortKey = substring(col("text"), 1, 20))
      .as[(Long, Long, Double)].collect().toSet
    // JW("alpha beta gamma delta", "alpho beta gamma delta") = 0.905628
    // under greedy Jaro matching (the o/a mismatch cross-matches later
    // a's → transpositions) — DuckDB-parity value, oracle-verified
    assert(got == Set((1L, 2L, 0.905628)))
  }

  test("sortedNeighborhoodPairs above the gate runs distributed and matches the total-order lead() spelling") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sk = substring(col("text"), 1, 20)
    // force the distributed shape (the corpus is under the 2M gate)
    val out = TextDedup.sortedNeighborhood(corpus, "doc_id", "text", sk,
      windowSize = 3, prefixLen = 30, minSim = 0.9, serialMax = 0L)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet
    // no single-task window over the corpus (the round-≤9 serial stage):
    // every Window in the executed plan must be partitioned
    out.queryExecution.executedPlan.foreach {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned (single-task) window survived:\n$w")
      case _ => ()
    }
    // value identity against the reference unpartitioned-lead() spelling
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__sk"), col("doc_a"))
    val base = corpus.select(col("doc_id").as("doc_a"),
      substring(col("text"), 1, 30).as("__pfx_a"), sk.as("__sk"))
    val ref = base.select(col("doc_a"), col("__pfx_a"),
        array((1 to 3).map(i =>
          struct(lead(col("doc_a"), i).over(w).as("doc_b"),
            lead(col("__pfx_a"), i).over(w).as("__pfx_b"))): _*).as("__nbrs"))
      .select(col("doc_a"), col("__pfx_a"), explode(col("__nbrs")).as("__n"))
      .where(col("__n.doc_b").isNotNull)
      .select(col("doc_a"), col("__n.doc_b").as("doc_b"),
        round(graft.functions.JaroWinkler.jaroWinklerCol(
          col("__pfx_a"), col("__n.__pfx_b")), 6).as("jw_sim"))
      .where(col("jw_sim") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == ref, s"distributed SN pairs diverge from lead() reference")
  }

  test("lshEvalMetrics: exact dup counted as tp; zero-truth corpus guards") {
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),  // exact dup of 1 → certain band collision
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val m = TextDedup.lshEvalMetrics(d, "doc_id", "text").head()
    val (nTrue, nCand, tp) = (m.getLong(0), m.getLong(1), m.getLong(2))
    assert(nTrue == 1 && tp == 1, "the exact dup pair is ground truth and caught")
    assert(tp <= nCand)
    assert(m.getDouble(3) == math.rint(1e6 * tp.toDouble / nCand) / 1e6)
    assert(m.getDouble(4) == 1.0)
    // no pair reaches 0.8 → n_true = 0 → recall defined as 0
    val far = Seq((1L, "a b c d e"), (2L, "a b x y z"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val f = TextDedup.lshEvalMetrics(far, "doc_id", "text").head()
    assert(f.getLong(0) == 0 && f.getDouble(4) == 0.0)
  }

  test("relatedDocsTopK: ranked neighbors, id tie-break, floor excludes") {
    val d = Seq(
      (1L, "a b c d e"),   // J(1,3)=1.0, J(1,2)=0.5
      (2L, "a b c d f"),   // J(2,1)=J(2,3)=0.5 — tie broken toward id 1
      (3L, "a b c d e"),   // exact dup of 1
      (4L, "x y z w v")    // no neighbor ≥ floor → absent
    ).toDF("doc_id", "text")
    val out = TextDedup.relatedDocsTopK(d, "doc_id", "text", 3, 0.3, 2)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    assert(out(1L) == Seq((3L, 1.0), (2L, 0.5)))
    assert(out(2L) == Seq((1L, 0.5), (3L, 0.5)), "0.5-tie must order by id")
    assert(out(3L) == Seq((1L, 1.0), (2L, 0.5)))
    assert(!out.contains(4L))
  }
}
