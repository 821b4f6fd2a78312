package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible sampling and quota capping for training-data curation.
  *
  * Random sampling is useless at 100 TB if a re-run (or another engine)
  * draws a different sample: everything here is HASH-based — membership is
  * a pure function of (row key, salt), so samples are stable across runs,
  * partitionings, and engines, and the DuckDB oracle reproduces them
  * exactly. This is the industry-standard trick for reproducible holdouts
  * (hash-mod bucketing), expressed as codegen'd column expressions.
  */
object Sampling {

  /** Per-stratum deterministic sampling: keep ~`fractions(stratum)` of
    * rows in each stratum (e.g. downsample over-represented languages).
    * Strata absent from the map keep `defaultFraction`. */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 1.0,
      salt: String = "s0"): DataFrame = {
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
    }
    df.where(
      pmod(TextDedup.hash60(concat(col(keyCol).cast("string"), lit(":" + salt))),
        lit(1000000L)).cast("double") < frac * 1e6)
  }

  /** Reproducible dataset splitting: named splits by cumulative-fraction
    * thresholds on the hash-uniform (e.g. train 0.8 / val 0.1 / test 0.1)
    * plus a `fold` column (hash mod `kFolds`, independent salt) for
    * cross-validation. Pure projection — no shuffle, no state; membership
    * is a function of the KEY alone, so it is stable under reruns,
    * repartitioning, late-arriving data, and engine changes (the property
    * random() splits lack, and the one that matters when the corpus is
    * 100 TB re-crawled monthly). */
  def assignSplits(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)], kFolds: Int,
      salt: String = "sp0"): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    require(kFolds >= 1)
    val u = pmod(TextDedup.hash60(
        concat(col(keyCol).cast("string"), lit(":" + salt))),
      lit(1000000L))
    val cum = splits.scanLeft(0.0)(_ + _._2).tail.map(f => (f * 1e6).toLong)
    val split = splits.zip(cum).init.foldRight(
        lit(splits.last._1): Column) { case (((name, _), hi), acc) =>
      when(u < hi, lit(name)).otherwise(acc)
    }
    val fold = pmod(TextDedup.hash60(
        concat(col(keyCol).cast("string"), lit(":" + salt + ":fold"))),
      lit(kFolds.toLong))
    df.withColumn("split", split).withColumn("fold", fold)
  }

  /** Per-group quota: keep the top `quota` rows of each group by `order`
    * (e.g. best-quality documents per source). The standard data-mixing
    * primitive; plans as WindowGroupLimit — no full per-group sort
    * materialization. */
  def quotaPerGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      quota: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quota)
      .drop("__rn")
  }

  /** Weighted sampling without replacement, k per group
    * (Efraimidis–Spiridakis A-Res): each row draws a deterministic uniform
    * u = hash60(key⊕salt)/2^60 and gets priority ln(u)/w — the k largest
    * priorities per group are an exact weighted sample without
    * replacement. Fully distributed (one window shuffle on the group key,
    * WindowGroupLimit plan) and reproducible across runs, partitionings,
    * and engines — the same md5-derived uniform everywhere. Priorities are
    * rounded to 9 decimals before ranking (with a key tiebreak) so the
    * order is well-defined under float noise; weights must be > 0. */
  def weightedSample(df: DataFrame, groupCols: Seq[String], keyCol: String,
      weight: Column, k: Int, salt: String = "w0"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = TextDedup.hash60(concat(col(keyCol).cast("string"), lit(":" + salt)))
      .cast("double") / lit(1.152921504606846976e18) // 2^60, exact in double
    val priority = round(log(u) / weight, 9)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(priority.desc, col(keyCol).asc)
    df.withColumn("priority", priority)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
  }

  /** Token-budget dataset mixing: greedily fill each group (ordered by
    * `order` — typically quality-first) until `budget` tokens, keeping
    * the document that crosses the boundary. The token-based complement
    * of [[quotaPerGroup]]'s row quota — mixture weights in a training
    * recipe are token budgets, not document counts. One window shuffle on
    * the group key; `cum_before` (tokens ahead of the doc in its group's
    * fill order) is emitted for downstream packing. */
  def tokenBudgetPerGroup(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], tokens: Column, budget: Long): DataFrame = {
    require(budget >= 1)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before", coalesce(sum(tokens).over(w), lit(0L)))
      .where(col("cum_before") < budget)
  }

  /** Temperature-scaled mixture sampling — the multilingual/multi-source
    * mixing rule (sampling share ∝ groupSize^α): α = 1 reproduces the
    * natural distribution, α → 0 flattens toward uniform, α = 0.5
    * (√-scaling, the common compromise — and an EXACT single float op)
    * is the default. Per-group budgets are `floor(total · s_g / S)` with
    * `S = Σ s_g` folded over the groups in SORTED order (q93's
    * fixed-order float discipline — a handful of groups, one row);
    * member selection is an md5-ranked top-budget per group, so the
    * drawn set is a pure function of (key, salt) — reproducible across
    * engines, reruns, and partitionings. Output keeps (rnk, budget) for
    * audit. */
  def temperatureMix(df: DataFrame, groupCol: String, keyCol: String,
      total: Long, salt: String = "t0"): DataFrame = {
    require(total >= 1)
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__s", sqrt(col("__n").cast("double")))
    val sTotal = counts
      .agg(sort_array(collect_list(struct(col(groupCol), col("__s"))))
        .as("__arr"))
      .select(aggregate(transform(col("__arr"), e => e.getField("__s")),
        lit(0.0), (a, x) => a + x).as("__S"))
    val budgets = counts.crossJoin(broadcast(sTotal))
      .select(counts(groupCol),
        floor(lit(total.toDouble) * counts("__s") / sTotal("__S"))
          .cast("long").as("budget"))
    val w = Window.partitionBy(col(groupCol)).orderBy(
      TextDedup.hash60(concat(col(keyCol).cast("string"), lit(":" + salt)))
        .asc, col(keyCol).asc)
    df.join(broadcast(budgets), Seq(groupCol))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= col("budget"))
  }

  /** Deterministic global shuffle — the reproducible random ordering a
    * training run reads the corpus in. Epoch-salted md5 over the row key
    * gives every row a pseudo-random rank that is a pure function of
    * (key, epoch): re-runs, repartitionings, and other engines produce
    * the SAME order, and each epoch a DIFFERENT one — `ORDER BY
    * md5(key)` is exactly how the oracle replays it.
    *
    * 100 TB shape: `repartitionByRange` + intra-partition sort — a
    * range-partitioned TOTAL order (each output file is a contiguous
    * slice of the global shuffle; file i is read before file i+1), not a
    * single-task global sort. `shuffle_pos` (dense 0..n-1 would need a
    * second pass; the hash itself is the position key) lets a reader
    * verify order or seek. Collision note: 60-bit hash over ≤2^30 keys
    * makes ties astronomically rare; the key itself tie-breaks them
    * deterministically. */
  /** Contrastive training-pair construction: POSITIVE pairs are documents
    * with identical content (within exact-dup groups, canonical a<b);
    * NEGATIVE pairs come from a deterministic hash-derangement — order
    * documents inside each of `buckets` hash buckets by an independent
    * salt and pair each with its successor, dropping the (rare)
    * same-content collisions. Labels: 1/0. The (anchor, positive,
    * negative) feedstock a contrastive or reranker loss trains on,
    * reproducible on any engine/partitioning (hash order, no RNG).
    *
    * Scale shape: positives explode per dup group (quadratic ONLY in the
    * group — cap upstream if a pathological cluster appears); negatives
    * are one partitioned window `lead` per bucket — raise `buckets`
    * proportionally with corpus size to keep per-bucket windows bounded. */
  def contrastivePairs(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val base = df.select(col(idCol).as("__id"),
      md5(col(textCol)).as("__ch"),
      TextDedup.hash60(concat(col(idCol).cast("string"), lit(":np")))
        .as("__h"))
    val pos = base.groupBy(col("__ch"))
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .where(size(col("__ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(__ids, (x, i) ->
          |  transform(slice(__ids, i + 2, size(__ids)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("__p"))
      .select(col("__p.a").as("doc_a"), col("__p.b").as("doc_b"),
        lit(1).as("label"))
    val w = Window.partitionBy(pmod(col("__h"), lit(buckets.toLong)))
      .orderBy(col("__h"), col("__id"))
    val neg = base
      .withColumn("__nid", lead(col("__id"), 1).over(w))
      .withColumn("__nch", lead(col("__ch"), 1).over(w))
      .where(col("__nid").isNotNull && col("__ch") =!= col("__nch"))
      .select(col("__id").as("doc_a"), col("__nid").as("doc_b"),
        lit(0).as("label"))
    pos.unionByName(neg)
  }

  def deterministicShuffle(df: DataFrame, keyCol: String, epoch: Int,
      numPartitions: Int = 0): DataFrame = {
    val pos = TextDedup.hash60(
      concat(col(keyCol).cast("string"), lit(s":epoch$epoch")))
    val withPos = df.withColumn("shuffle_pos", pos)
    val n = if (numPartitions > 0) numPartitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    withPos
      .repartitionByRange(n, col("shuffle_pos"), col(keyCol))
      .sortWithinPartitions(col("shuffle_pos"), col(keyCol))
  }
}
