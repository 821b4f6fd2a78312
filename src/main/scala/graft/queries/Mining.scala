package graft.queries

import graft.core.Tables.table
import graft.ops.{Stats, Temporal, TextAnalysis, TextDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 statistical-mining surface: substring-level span dedup, the
  * interval concurrency sweep, Welch's t-test, RFM segmentation, BPE
  * pair statistics, and PSI drift screening. Oracle conventions follow
  * [[Training]] / [[Corpus]]: integer quantization before any group sum,
  * float formulas mirrored literally, fixed-order folds for float
  * reductions, deterministic tiebreaks on every ranking.
  */
object Mining {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** Corpus-repeated 5-token spans per document (ExactSubstr-style
    * substring dedup). [[TextDedup.duplicatedSpans]]. */
  def q122SpanDedup(spark: SparkSession, dir: String): DataFrame =
    TextDedup.duplicatedSpans(docs(spark, dir), "doc_id", "text", n = 5)

  /** Peak simultaneous events per event type: each event holds an
    * interval [epoch-second(ts), +max(1s, round(value)) s); the +1/−1
    * sweep finds the concurrency high-water mark — the capacity-planning
    * query. [[Temporal.peakConcurrency]]. */
  def q123PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    // ts arrives as an epoch-nanos long (`nanosAsLong`, see [[Advanced]]);
    // the oracle's floor(epoch(ts)) matches `div 1e9` for positive epochs.
    val iv = table(spark, dir, "events").select(col("event_type"),
        expr("ts div 1000000000L").as("start_s"),
        (expr("ts div 1000000000L") +
          greatest(lit(1L), round(col("value")).cast("long"))).as("end_s"))
    Temporal.peakConcurrency(iv, "event_type", "start_s", "end_s")
  }

  /** Welch's unequal-variance t-test: does `value` differ between click
    * and error events? [[Stats.welchTTest]]. */
  def q124WelchTTest(spark: SparkSession, dir: String): DataFrame =
    Stats.welchTTest(table(spark, dir, "events"), "event_type", "value",
      groupA = "click", groupB = "error")

  /** RFM customer segmentation over orders. [[Stats.rfm]]. */
  def q125Rfm(spark: SparkSession, dir: String): DataFrame =
    Stats.rfm(table(spark, dir, "orders"), "o_custkey", "o_orderdate",
      "o_totalprice")

  /** Top-50 BPE merge candidates over the document corpus.
    * [[TextAnalysis.bpePairs]]. */
  def q126BpePairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairs(docs(spark, dir), "text", k = 50)

  /** PSI drift of each source's document-length distribution against the
    * corpus, 10 equal-width bins over [0, 600). [[Stats.psiDrift]]. */
  def q127PsiDrift(spark: SparkSession, dir: String): DataFrame =
    Stats.psiDrift(docs(spark, dir), "source", "n_chars",
        lo = 0.0, hi = 600.0, bins = 10)
      .select(col("slice").as("source"), col("n_rows"), col("psi"))

  /** Two-sample Kolmogorov–Smirnov: click vs error `value`
    * distributions. [[Stats.ksTest]]. */
  def q128KsTest(spark: SparkSession, dir: String): DataFrame =
    Stats.ksTest(table(spark, dir, "events"), "event_type", "value",
      groupA = "click", groupB = "error")

  /** Mann–Whitney U rank-sum: click vs error `value` — the heavy-tail-
    * robust companion to q124's Welch test. [[Stats.mannWhitneyU]]. */
  def q129Mwu(spark: SparkSession, dir: String): DataFrame =
    Stats.mannWhitneyU(table(spark, dir, "events"), "event_type", "value",
      groupA = "click", groupB = "error")

  /** Decile lift-and-gains: treat `o_totalprice` as a model score for
    * predicting finished orders (`o_orderstatus = 'F'`).
    * [[Stats.liftGains]]. */
  def q130Lift(spark: SparkSession, dir: String): DataFrame =
    Stats.liftGains(
      table(spark, dir, "orders")
        .withColumn("y", col("o_orderstatus") === "F"),
      idCol = "o_orderkey", scoreCol = "o_totalprice", labelCol = "y")

  /** Deterministic multiplier-bootstrap 95% CI for mean document length.
    * [[Stats.bootstrapMeanCI]]. */
  def q131BootstrapCi(spark: SparkSession, dir: String): DataFrame =
    Stats.bootstrapMeanCI(docs(spark, dir), "doc_id", "n_chars",
      resamples = 100)

  /** Leave-one-out target encoding of order priority against the
    * finished-order label — the high-cardinality-categorical feature
    * builder. [[Stats.targetEncode]]. */
  def q135TargetEncode(spark: SparkSession, dir: String): DataFrame =
    Stats.targetEncode(
      table(spark, dir, "orders")
        .withColumn("y", col("o_orderstatus") === "F"),
      idCol = "o_orderkey", catCol = "o_orderpriority", labelCol = "y")

  /** Key-skew diagnostic over the orders fact table's customer key: the
    * Gini + hottest-key share that decides whether a join on this key
    * needs [[graft.ops.Skew]] salting. [[Stats.keySkew]]. */
  def q137KeySkew(spark: SparkSession, dir: String): DataFrame =
    Stats.keySkew(table(spark, dir, "orders"), "o_custkey")

  /** Cross-engine reconciliation checksum of the orders table: money
    * pre-quantized to cents and dates pre-rendered to ISO strings (the
    * canonicalization contract), then the order-independent XOR + modular
    * SUM signature — DuckDB computes the identical signature from the
    * identical canonical strings. [[graft.ops.Quality.tableChecksum]]. */
  def q138TableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val canon = table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
      col("o_orderpriority"))
    graft.ops.Quality.tableChecksum(canon, Seq("o_orderkey", "o_custkey",
      "o_orderstatus", "cents", "day", "o_orderpriority"))
  }

  /** Winsorized mean event value per type, clamped to the exact
    * [p5, p95] band — the outlier-robust KPI. [[Stats.winsorizedMean]]. */
  def q139Winsorized(spark: SparkSession, dir: String): DataFrame =
    Stats.winsorizedMean(table(spark, dir, "events"), "event_type", "value",
      pLo = 0.05, pHi = 0.95)

  /** Theil–Sen robust trend of daily order volume per priority: the
    * median pairwise slope (orders/day per day) an outlier burst can't
    * bend. [[Stats.theilSen]]. */
  def q140TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "orders")
      .groupBy(col("o_orderpriority"),
        // o_orderdate is TIMESTAMP_NTZ: cast via TIMESTAMP (session tz is
        // pinned UTC) to reach epoch seconds — matches DuckDB's epoch()
        expr("cast(cast(o_orderdate as timestamp) as long) div 86400L")
          .as("day"))
      .agg(count(lit(1)).as("y"))
    Stats.theilSen(daily, "o_orderpriority", "day", "y")
  }

  /** Quantile-normalization bias screen: each document's length mapped to
    * its corpus ECDF percentile, averaged per source — 0.5 means the
    * source looks like the corpus; >0.5 means long-doc bias. The mean of
    * per-doc percentiles is computed as one exact integer contraction
    * (Σ cum(v)·c_s(v)) / (n_s·N) over DISTINCT-value grain, so no float
    * ever sums: engine-exact, and the big table aggregates once. */
  def q143QuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir).select(col("source"), col("n_chars").as("v"))
    val vc = d.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val cum = vc.select(col("v"), sum(col("c")).over(
      Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      .as("cumv"))
    val n = d.agg(count(lit(1)).as("nn"))
    d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("cs"))
      .join(cum, Seq("v"))
      .groupBy(col("source"))
      .agg(sum(col("cs")).as("n_docs"),
        sum(col("cumv") * col("cs")).as("wsum"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_docs"),
        round(col("wsum") / (col("n_docs") * col("nn")).cast("double"), 6)
          .as("mean_pct"))
  }

  /** Exact-duplicate rate per source: a doc is redundant when an
    * earlier doc (lowest doc_id keeps) carries byte-identical text
    * anywhere in the corpus — the "which feed is reselling me the same
    * pages" procurement metric. One window over md5 grain + one
    * aggregate. */
  def q145DupRate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    docs(spark, dir)
      .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
      .withColumn("redundant",
        when(row_number().over(w) > 1, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("redundant")).as("n_redundant"))
      .select(col("source"), col("n_docs"), col("n_redundant"),
        round(col("n_redundant") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
  }

  /** Seasonal-naive forecast error (MASE, Hyndman & Koehler 2006): per
    * order priority, the mean |y_t − y_{t−7}| of daily order counts
    * scaled by the in-sample naive |y_t − y_{t−1}| — < 1 means weekly
    * seasonality beats persistence, the go/no-go for seasonal models.
    * Lag alignment is by rowless 7-step shift over the DENSE day spine
    * (missing days count 0), so both engines see identical series; all
    * numerators/denominators are exact integer sums. */
  def q146Mase(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("g"),
        expr("cast(cast(o_orderdate as timestamp) as long) div 86400L")
          .as("day"))
      .agg(count(lit(1)).as("y"))
    // dense day spine per group from the tiny aggregate's own bounds
    val span = daily.groupBy(col("g"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = span.select(col("g"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val dense = spine.join(daily, Seq("g", "day"), "left")
      .na.fill(0L, Seq("y"))
    val w = Window.partitionBy(col("g")).orderBy(col("day"))
    val diffs = dense.select(col("g"),
      abs(col("y") - lag(col("y"), 1).over(w)).as("d1a"),
      abs(col("y") - lag(col("y"), 7).over(w)).as("d7a"))
    diffs.groupBy(col("g"))
      .agg(count(col("d7a")).as("n7"), sum(col("d7a")).as("s7"),
        count(col("d1a")).as("n1"), sum(col("d1a")).as("s1"))
      .select(col("g").as("o_orderpriority"),
        round(col("s7") / col("n7").cast("double"), 6).as("mae_seasonal"),
        round(col("s1") / col("n1").cast("double"), 6).as("mae_naive"),
        round((col("s7") / col("n7").cast("double")) /
          (col("s1") / col("n1").cast("double")), 6).as("mase"))
  }

  /** Day-of-week seasonality strength per event type: 1 − SS_within/SS_total
    * over daily event counts grouped by weekday — the classic variance-
    * explained ratio (≈1: strict weekly rhythm; ≈0: none). Sums of
    * squares are exact integer arithmetic up to the closing division. */
  def q147DowStrength(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("ts div 1000000000L div 86400L").as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dow", (col("day") + 3) % 7)
    // SS identities over exact integers: SS_tot = Σy² − (Σy)²/n,
    // SS_within = Σ_dow (Σy² − (Σy)²/n_dow)
    val per = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("nd"), sum(col("y")).as("sd"),
        sum(col("y") * col("y")).as("ssd"))
    per.groupBy(col("event_type"))
      .agg(sum(col("nd")).as("n"), sum(col("sd")).as("s"),
        sum(col("ssd")).as("ss"),
        // within-group SS: per-dow float terms fold in dow order from a
        // sorted array (the q127 rule — never a float SUM)
        sort_array(collect_list(struct(col("dow"),
          (col("ssd").cast("double") -
            col("sd").cast("double") * col("sd") / col("nd")).as("t"))))
          .as("arr"))
      .select(col("event_type"), col("n"),
        round(lit(1.0) -
          aggregate(transform(col("arr"), e => e.getField("t")),
            lit(0.0), (a, x) => a + x) /
          (col("ss") - col("s").cast("double") * col("s") / col("n")), 6)
          .as("dow_strength"))
  }

  /** Two-fact reconciliation: daily revenue booked at order grain vs
    * summed from line items, with the cent-exact difference — the audit
    * query a finance pipeline runs after every load. Both sides
    * aggregate independently (no fact-to-fact join of raw rows: each
    * reduces to day grain first, then a tiny full-outer merge), top-20
    * worst days. */
  def q148FactReconcile(spark: SparkSession, dir: String): DataFrame = {
    val oDay = expr("cast(cast(o_orderdate as timestamp) as long) div 86400L")
    val o = table(spark, dir, "orders")
      .groupBy(oDay.as("dy"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("o_cents"))
    val l = table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders")
        .select(col("o_orderkey"), oDay.as("dy")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("dy"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("l_cents"))
    o.join(l, Seq("dy"), "full_outer")
      .na.fill(0L, Seq("o_cents", "l_cents"))
      .select(col("dy"), col("o_cents"), col("l_cents"),
        abs(col("o_cents") - col("l_cents")).as("diff_cents"))
      .orderBy(col("diff_cents").desc, col("dy"))
      .limit(20)
  }

  /** Conversion lag: per user, µs from their first event to their first
    * purchase (users who never purchase are absent); distribution stats
    * per-user-cohort-free — n, median and p90 lag in seconds. Two
    * conditional aggregates per user then one exact percentile over
    * user grain. */
  def q149ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(expr("ts div 1000L")).as("first_us"),
        min(when(col("event_type") === "purchase", expr("ts div 1000L")))
          .as("first_buy_us"))
      .where(col("first_buy_us").isNotNull)
      .select(((col("first_buy_us") - col("first_us")) / 1000000L)
        .cast("long").as("lag_s"))
    per.agg(count(lit(1)).as("n_converted"),
      round(percentile(col("lag_s"), lit(0.5)), 6).as("median_lag_s"),
      round(percentile(col("lag_s"), lit(0.9)), 6).as("p90_lag_s"))
  }

  /** Exact-dup cluster-size histogram: how many duplicate groups of each
    * size the corpus carries (size 1 = unique) — the dedup report that
    * justifies the cascade's cost. Two hash aggregates, both map-side
    * combined. */
  def q150ClusterSizes(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("sz") * col("n_clusters"))

  /** ANSI-safe arithmetic surface: Spark 4 runs ANSI mode by default, so
    * raw `/ 0`, bad casts, and out-of-range array hits THROW; the `try_*`
    * family is the null-on-error escape a migrating pipeline reaches
    * for. One projection + one aggregate exercising try_divide /
    * try_cast / try_element_at over adversarial inputs derived from real
    * rows; the oracle mirrors with NULLIF and TRY_CAST (DuckDB's
    * equivalents). */
  def q151SafeArith(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        expr("try_divide(round(o_totalprice * 100), o_orderkey % 5)")
          .as("div5"),
        expr("try_cast(substring(o_orderpriority, 1, 1) as long)")
          .as("prio_num"),
        expr("try_cast(o_orderstatus as long)").as("bad_cast"),
        expr("try_element_at(array(o_orderkey), " +
          "cast(nullif(o_orderkey % 3, 0) as int))")
          .as("arr_hit"))
      .agg(count(lit(1)).as("n"),
        count(col("div5")).as("n_div_ok"),
        sum(when(col("div5").isNull, 1L).otherwise(0L)).as("n_div_by_zero"),
        count(col("prio_num")).as("n_prio_parsed"),
        min(col("prio_num")).as("prio_min"), max(col("prio_num")).as("prio_max"),
        count(col("bad_cast")).as("n_bad_cast_ok"),
        count(col("arr_hit")).as("n_arr_hits"))

  /** EXACT distinct users per event type via bitmap aggregation — the
    * mergeable alternative to `count(distinct)`: each (type, 32k-bucket)
    * partial is a fixed-size bitmap built map-side, buckets then SUM —
    * re-aggregable across days/partitions like a sketch but exact, and
    * no Expand plan. The oracle is plain COUNT(DISTINCT) — same number,
    * different (scale-shaped) plan. */
  def q152BitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
        .as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))

  /** Burstiness (Fano factor) of daily event counts per type:
    * variance/mean over the dense day spine — 1 ≈ Poisson arrivals,
    * ≫1 bursty. Σ, Σ² exact integers; two float ops at the end. */
  def q154Fano(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("ts div 1000000000L div 86400L").as("dy"))
      .agg(count(lit(1)).as("y"))
    val span = daily.groupBy(col("event_type"))
      .agg(min(col("dy")).as("d0"), max(col("dy")).as("d1"))
    val dense = span.select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("dy"))
      .join(daily, Seq("event_type", "dy"), "left")
      .na.fill(0L, Seq("y"))
    dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("ss"))
      .select(col("event_type"), col("n_days"),
        // population variance / mean, exact-integer numerators
        round(((col("ss") - col("s").cast("double") * col("s") /
            col("n_days")) / col("n_days")) /
          (col("s") / col("n_days").cast("double")), 6).as("fano"))
  }

  /** Lag-7 autocorrelation of daily event counts per type — the weekly-
    * rhythm detector (complements q147's variance decomposition with the
    * signed correlation). Pearson r over (y_t, y_{t−7}) pairs on the
    * dense spine; every sum is an exact integer, the closing formula is
    * literal. */
  def q155Autocorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("ts div 1000000000L div 86400L").as("dy"))
      .agg(count(lit(1)).as("y"))
    val span = daily.groupBy(col("event_type"))
      .agg(min(col("dy")).as("d0"), max(col("dy")).as("d1"))
    val dense = span.select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("dy"))
      .join(daily, Seq("event_type", "dy"), "left")
      .na.fill(0L, Seq("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("dy"))
    val pairs = dense.select(col("event_type"), col("y"),
        lag(col("y"), 7).over(w).as("x"))
      .where(col("x").isNotNull)
    val a = pairs.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val nD = col("n").cast("double")
    a.select(col("event_type"), col("n"),
      round((nD * col("sxy") - col("sx").cast("double") * col("sy")) /
        sqrt((nD * col("sxx") - col("sx").cast("double") * col("sx")) *
          (nD * col("syy") - col("sy").cast("double") * col("sy"))), 6)
        .as("acf7"))
  }

  /** Inter-event gap statistics per type: mean, median, and p95 waiting
    * time in seconds — the arrival-process profile (capacity planning's
    * other half, next to q123's concurrency peak). Gaps are exact
    * integer µs from a lead window; exact percentiles over gap grain. */
  def q156GapStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    table(spark, dir, "events")
      .select(col("event_type"), expr("ts div 1000L").as("ts_us"),
        col("event_id"))
      .select(col("event_type"),
        (lead(col("ts_us"), 1).over(w) - col("ts_us")).as("gap_us"))
      .where(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(sum(col("gap_us")) / count(lit(1)).cast("double") / 1e6, 6)
          .as("mean_gap_s"),
        round(percentile(col("gap_us"), lit(0.5)) / 1e6, 6)
          .as("median_gap_s"),
        round(percentile(col("gap_us"), lit(0.95)) / 1e6, 6)
          .as("p95_gap_s"))
  }

  /** Effective sample size under value-weighting per event type:
    * ESS = (Σw)²/Σw² and the design effect n/ESS — how much a weighted
    * estimator REALLY knows (Kish 1965); the sanity gate before any
    * weighted corpus mix ships. Weights are exact integer cents. */
  def q158Ess(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("w"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
        sum(col("w") * col("w")).as("sww"))
      .select(col("event_type"), col("n"),
        round(col("sw").cast("double") * col("sw") /
          col("sww").cast("double"), 6).as("ess"),
        round(col("n").cast("double") * col("sww") /
          (col("sw").cast("double") * col("sw")), 6).as("design_effect"))

  /** Monthly churn: users active in month m and absent in m+1, over the
    * consecutive-month pairs the data spans — the retention KPI. Month
    * = integral epoch-day ÷ 30 bucket (calendar-free: engines disagree
    * on month arithmetic; fixed 30-day buckets are engine-exact). */
  def q159Churn(spark: SparkSession, dir: String): DataFrame = {
    val am = table(spark, dir, "events")
      .select(col("user_id"),
        expr("ts div 1000000000L div 86400L div 30L").as("m"))
      .distinct()
    val next = am.select(col("user_id"), (col("m") - 1).as("m"),
      lit(1L).as("__next"))
    am.join(next, Seq("user_id", "m"), "left")
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__next").isNull, 1L).otherwise(0L)).as("n_churned"))
      .crossJoin(broadcast(am.agg(max(col("m")).as("__mx"))))
      .where(col("m") < col("__mx")) // last month has no m+1 to churn into
      .select(col("m"), col("n_active"), col("n_churned"),
        round(col("n_churned") / col("n_active").cast("double"), 6)
          .as("churn_rate"))
  }

  /** Lexical diversity per source: type–token ratio and hapax-legomena
    * share — the corpus-linguistics vocabulary-richness screen (template
    * farms score low TTR; OCR noise scores high hapax). Two exact-count
    * aggregations, token grain then type grain. */
  def q160LexDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val types = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    types.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types") / col("n_tokens").cast("double"), 6).as("ttr"),
        round(col("n_hapax") / col("n_types").cast("double"), 6)
          .as("hapax_share"))
  }

  /** One-sided upper CUSUM change-point screen over daily order volumes
    * per priority: `s_i = max(0, s_{i−1} + (y_i − μ − 0.5σ))` over the
    * dense day spine, flagged when s crosses the classic 4σ decision
    * interval. μ/σ derive from exact integer sums (one fixed float
    * expression each); the recurrence is an ordered float fold with an
    * ARRAY accumulator (running values, not just the final state —
    * q169's determinism discipline, replayed by a rank-indexed
    * recursive CTE). */
  def q178Cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("g"),
        expr("cast(cast(o_orderdate as timestamp) as long) div 86400L")
          .as("day"))
      .agg(count(lit(1)).as("y"))
    val span = daily.groupBy(col("g"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val dense = span.select(col("g"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("g", "day"), "left")
      .na.fill(0L, Seq("y"))
    val per = dense.groupBy(col("g")).agg(
      sort_array(collect_list(struct(col("day"), col("y")))).as("arr"),
      sum(col("y")).as("sx"), sum(col("y") * col("y")).as("sxx"),
      count(lit(1)).as("n"))
    val mu = col("sx").cast("double") / col("n").cast("double")
    val sigma = sqrt(
      (col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double")
          / col("n").cast("double")) / col("n").cast("double"))
    val folded = aggregate(col("arr"),
      array().cast("array<struct<day:bigint,s:double>>"),
      (acc, e) => concat(acc, array(struct(
        e.getField("day").as("day"),
        greatest(lit(0.0),
          coalesce(try_element_at(acc, lit(-1)).getField("s"), lit(0.0))
            + e.getField("y").cast("double") - mu - lit(0.5) * sigma)
          .as("s")))))
    per.select(col("g"), sigma.as("__sigma"),
        posexplode(folded).as(Seq("__p", "__e")))
      .select(col("g").as("o_orderpriority"), col("__e.day").as("day"),
        round(col("__e.s"), 6).as("cusum"),
        (col("__e.s") > lit(4.0) * col("__sigma")).as("flag"))
  }

  /** Count-min sketch heavy hitters ([[graft.ops.Sketches]]): a
    * depth-4 × width-512 CMS TABLE over event user_ids (weighted by row),
    * point-queried for every user with true count ≥ 80 (the heavy tail at every sf) — estimate is
    * min-over-depths of the collided counters, always ≥ truth. The
    * deterministic md5 hashing means the DuckDB oracle rebuilds the SAME
    * counter table and estimates, hash-gating a probabilistic structure;
    * the output carries (true count, estimate, overestimate) per heavy
    * user so the CMS error bound is itself data under test. Build is one
    * counter-bounded shuffle; the query side broadcasts the 2048-row
    * sketch. */
  def q250CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val ev = table(spark, dir, "events").select(col("user_id"))
    val sketch = Sketches.cmsBuild(ev, "user_id", depth = 4, width = 512)
    val truth = ev.groupBy(col("user_id")).agg(count(lit(1)).as("true_cnt"))
      .where(col("true_cnt") >= 80L)
    Sketches.cmsEstimate(truth, sketch, "user_id", depth = 4, width = 512)
      .join(truth, Seq("user_id"))
      .select(col("user_id"), col("true_cnt"), col("est"),
        (col("est") - col("true_cnt")).as("overestimate"))
  }

  /** HyperLogLog distinct users per event type via GROUPED register
    * tables ([[graft.ops.Sketches.hllBuildBy]], b = 9 → 512 registers
    * per type): ONE pass over `events` builds every type's (bucket,
    * max rho) table and [[graft.ops.Sketches.hllEstimateBy]] closes all
    * estimates in ONE aggregation — exact-integer Σ2^−rho per group, one
    * float formula at the end. T event types cost one scan + one
    * counter-bounded shuffle, not T+1 driver-launched jobs (the shape a
    * backfill over thousands of groups requires). The exact distinct
    * count and relative error ride along. Registers use max-merge, so
    * per-day tables union into month-grade sketches with one more
    * groupBy — persistable sketch cubes. Oracle replays registers AND
    * estimates bit-for-bit. */
  def q251HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val ev = table(spark, dir, "events")
    val regs = Sketches.hllBuildBy(
      ev.select(col("event_type"), col("user_id")), "user_id", b = 9,
      groupCols = Seq("event_type"))
    Sketches.hllEstimateBy(regs, b = 9, groupCols = Seq("event_type"))
      .select(col("event_type"), col("n_zero"), col("estimate"))
      .join(ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct")),
        Seq("event_type"))
      .select(col("event_type"), col("n_zero"), col("estimate"),
        col("exact_distinct"),
        round(abs(col("estimate") - col("exact_distinct")) /
          col("exact_distinct"), 4).as("rel_err"))
  }

  /** KMV bottom-k sketch set operations ([[graft.ops.Sketches.kmvBuild]],
    * k = 64) over per-source document-text hash sets: per source pair the
    * sketch-estimated Jaccard next to the EXACT Jaccard, so the
    * estimator's error is itself data under test. KMV is the sketch HLL
    * cannot be — union/intersection composable — and bottom-k rank plans
    * as WindowGroupLimit (per-group k-heap, no full sort). md5-derived
    * hashes make the whole structure DuckDB-replayable. */
  def q252KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val d = docs(spark, dir)
    val sketch = Sketches.kmvBuild(d, Seq("source"), "text", 64)
    val est = Sketches.kmvJaccard(sketch, "source", 64)
    val sets = d.select(col("source"),
      TextDedup.hash60(concat(col("text"), lit(":kmv"))).as("h")).distinct()
    val sizes = sets.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sets.select(col("source").as("ga"), col("h"))
      .join(sets.select(col("source").as("gb"), col("h")), Seq("h"))
      .where(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("n_inter"))
    est
      .join(sizes.select(col("source").as("ga"), col("n").as("na")), Seq("ga"))
      .join(sizes.select(col("source").as("gb"), col("n").as("nb")), Seq("gb"))
      .join(inter, Seq("ga", "gb"), "left")
      .select(col("ga"), col("gb"), col("k_union"), col("n_both"),
        col("jaccard_est"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))), 4)
          .as("jaccard_exact"))
  }

  /** Daily sketch cube ([[graft.jobs.SketchCube]]): one backfill pass
    * persists per-day HLL registers + KMV bottom-k tables partitioned by
    * `day=`; the query then answers (a) distinct users over a 10-day
    * range from a PARTITION-PRUNED register scan + max-merge (the fact
    * table is never re-read) and (b) every day-pair's user overlap from
    * the KMV halves. Both sections replay in DuckDB because the cube is
    * deterministic md5 arithmetic end to end — a synopsis cube under a
    * value hash. */
  def q253SketchCube(spark: SparkSession, dir: String): DataFrame = {
    import graft.jobs.SketchCube
    val base = graft.core.FsOps.scratchRoot(spark, "q253", dir)
    val ev = table(spark, dir, "events")
      .withColumn("d",
        to_date(timestamp_micros(expr("ts div 1000"))).cast("string"))
    SketchCube.buildAll(ev, "user_id", "d", base)
    val range = SketchCube
      .distinctOverRange(spark, base, "2024-01-01", "2024-01-10")
      .select(lit("range").as("section"), lit("2024-01-01").as("a"),
        lit("2024-01-10").as("b"), col("m").as("v1"),
        col("n_zero").as("v2"), col("estimate").as("x"))
    val overlap = SketchCube.dayOverlap(spark, base)
      .select(lit("overlap").as("section"), col("ga").as("a"),
        col("gb").as("b"), col("k_union").as("v1"), col("n_both").as("v2"),
        col("jaccard_est").as("x"))
    range.unionByName(overlap)
  }

  /** Zone-map-pruned scan: orders rewritten range-clustered on
    * o_orderdate (16 files, each owning a disjoint date range —
    * [[graft.core.Layout.writeRangeClustered]]) in a build-once cache
    * ([[zoneCache]]), then a spring-quarter revenue report read through
    * the standard path: [[graft.plans.ZoneMapRule]] shrinks the file list
    * to the ~3 months that can match, from the committed files' own
    * footers, BEFORE the real scan is constructed, and straddling files
    * re-filter, so the result is identical to a full scan — which is
    * exactly what the oracle replays. */
  def q263ZonePrunedScan(spark: SparkSession, dir: String): DataFrame =
    springQuarter(spark, dir)

  /** Zone-map pruning through the STANDARD read path
    * ([[graft.plans.ZoneMapRule]]): [[q263ZonePrunedScan]]'s query over
    * the same build-once cache — a PLAIN parquet scan of the committed
    * version `.where(band)`. The optimizer reads the version's footers at
    * planning time and shrinks the file list (the Delta Lake data-skipping
    * behavior on plain parquet); the oracle replays the direct band
    * filter, so equality proves the automatic pruning is
    * result-invisible. ZoneMapSpec plan-asserts the pruned file list
    * through this exact read shape. */
  def q279ZoneAutoPrune(spark: SparkSession, dir: String): DataFrame =
    springQuarter(spark, dir)

  private def springQuarter(spark: SparkSession, dir: String): DataFrame =
    zoneCache(spark, "orders_bydate", dir, "orders_clustered",
        table(spark, dir, "orders"), "o_orderdate")
      .read(spark, "orders_clustered")
      .where(col("o_orderdate") >=
          lit(java.sql.Timestamp.valueOf("1997-03-01 00:00:00")) &&
        col("o_orderdate") <=
          lit(java.sql.Timestamp.valueOf("1997-05-31 00:00:00")))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy(col("month"))

  /** IN-list pruning through the STANDARD read path — [[q279ZoneAutoPrune]]'s
    * shape for the second prunable conjunct family
    * ([[graft.plans.ZoneMapRule]]): orders range-clustered on o_custkey
    * into a build-once cache, then a PLAIN parquet scan
    * `.where(isin(...))` — twelve keys, past the
    * optimizer's In→InSet conversion threshold (10), so the rule prunes
    * from an InSet's value set: a file survives when ANY value
    * intersects its zone. The keys span two low zones of the 16-file
    * layout, so ~14 files never scan; the oracle replays the direct IN
    * filter, proving the pruning result-invisible. ZoneMapSpec
    * plan-asserts both the In and InSet prune shapes. */
  def q281ZoneInPrune(spark: SparkSession, dir: String): DataFrame = {
    // keys ≤ 127 exist at every corpus SF (sf0.001 tops out at 149)
    val keys = Seq(2L, 3L, 5L, 7L, 11L, 13L,
      101L, 103L, 107L, 109L, 113L, 127L)
    zoneCache(spark, "q281", dir, "orders_bycust",
        table(spark, dir, "orders"), "o_custkey")
      .read(spark, "orders_bycust")
      .where(col("o_custkey").isin(keys: _*))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy(col("o_custkey"))
  }

  /** Mergeable equi-width histogram quantiles
    * ([[graft.ops.Sketches.histBuild]]): order totals at cents grain
    * binned into a 256-bucket counter table PER PRIORITY (the
    * persistable per-group partial), sum-merged to a global histogram,
    * then P25/P50/P75/P90/P99 estimated by integer rank targeting +
    * within-bin linear interpolation — the probe is histogram-sized
    * (≤256×5 rows), nothing after the one binning pass scales with
    * data. Each estimate ships next to the EXACT value at the same
    * rank (first-value-reaching-cum over the distinct-value frame — an
    * audit column, fine here, not the 100 TB path) and the error.
    * Everything before the closing interpolation is exact long
    * arithmetic, so DuckDB replays the whole pipeline bit-for-bit. */
  def q264HistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val lo = 0L; val hi = 50000000L; val bins = 256
    val cents = round(col("o_totalprice") * 100).cast("long")
    val orders = table(spark, dir, "orders")
    val perPrio = Sketches.histBuild(orders, cents,
      Seq("o_orderpriority"), lo, hi, bins)
    val global = Sketches.histMerge(
      Seq(perPrio.select(col("bin"), col("cnt"))), Seq.empty)
    val probs = Seq((1, 4), (1, 2), (3, 4), (9, 10), (99, 100))
    val est = Sketches.histQuantile(global, probs, lo, hi, bins)
    // exact rank-t values: cumulative counts over DISTINCT totals
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val vcum = orders.select(cents.as("v")).groupBy(col("v"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(w))
    val exact = est.select(col("p_num"), col("p_den"), col("t").as("tt"))
      .join(vcum.select(col("v"), col("cum")),
        col("cum") >= col("tt"))
      .groupBy(col("p_num"), col("p_den"))
      .agg(min(col("v")).as("exact_cents"))
    est.join(exact, Seq("p_num", "p_den"))
      .select(col("p_num"), col("p_den"), col("t"), col("bin"), col("est"),
        col("exact_cents"),
        round(col("est") - col("exact_cents").cast("double"), 4)
          .as("err_cents"))
      .orderBy(col("p_den"), col("p_num"))
  }

  /** BPE train→encode end to end ([[TextAnalysis.bpeTrain]] +
    * [[TextAnalysis.bpeApply]]): 8 merges trained on the documents
    * corpus, applied in round order to the word histogram, and the
    * encoded corpus summarized as the top-100 tokens by weighted
    * occurrence — the whole tokenizer lifecycle under one hash gate.
    * The oracle replays all 8 training rounds as chained CTEs over
    * bracket-delimited token strings (`⟨h⟩⟨e⟩…`), where one
    * non-overlapping string replace per round is PROVABLY the greedy
    * left-to-right merge fold (a fresh `l+r` token can never
    * immediately re-merge), pair argmax tiebroken (freq desc, left,
    * right) identically. */
  def q266BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = TextAnalysis.bpeTrain(d, "text", rounds = 8)
    TextAnalysis.bpeApply(d, "text", merges)
      .select(col("wc"), explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(sum(col("wc")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(100)
  }

  /** Corpus tokenization through the encoded vocab ([[q266BpeEncode]]'s
    * companion — the path scaladoc'd on [[TextAnalysis.bpeApply]]):
    * documents tokenize by joining their words against the ≤|vocab|-row
    * encoded frame (broadcast here; shuffle join on `word` when a real
    * vocab outgrows it), then per-source token economics — words, BPE
    * tokens, chars, chars-per-token. The corpus is touched exactly
    * twice (word explode, join); merges replay only over the vocab. */
  def q267DocTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = TextAnalysis.bpeTrain(d, "text", rounds = 8)
    val vocabTok = TextAnalysis.bpeApply(d, "text", merges)
      .select(col("word"), size(col("toks")).cast("long").as("n_tok"))
    d.select(col("source"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 2)
      .join(broadcast(vocabTok), Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_words"), col("bpe_tokens"),
        col("n_chars"),
        round(col("n_chars").cast("double") /
          col("bpe_tokens").cast("double"), 4).as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** Grouped histogram quantiles ([[Sketches.histQuantileBy]]): per
    * order-priority P25/P50/P90 of order totals, answered from the SAME
    * per-group counter table q264 merges globally — the "p99 per
    * tenant" reporting shape. One binning pass, then every group's
    * estimates in one synopsis-sized frame pass (group-partitioned
    * cumulative window + integer rank targets); the per-group windows
    * partition by a 5-value key, so nothing funnels to one task. */
  def q271GroupQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val lo = 0L; val hi = 50000000L; val bins = 256
    val cents = round(col("o_totalprice") * 100).cast("long")
    val perPrio = Sketches.histBuild(table(spark, dir, "orders"), cents,
      Seq("o_orderpriority"), lo, hi, bins)
    Sketches.histQuantileBy(perPrio, Seq("o_orderpriority"),
      Seq((1, 4), (1, 2), (9, 10)), lo, hi, bins)
      .orderBy(col("o_orderpriority"), col("p_den"), col("p_num"))
  }

  /** Prefix + OR-of-bands pruning through the STANDARD read path —
    * [[q281ZoneInPrune]]'s shape for the third prunable conjunct family
    * ([[graft.plans.ZoneMapRule]]): events range-clustered on event_type
    * into a build-once cache, then a PLAIN parquet scan
    * `.where(like('purch%') OR like('sig%'))`.
    * LikeSimplification turns each pure-prefix LIKE into a StartsWith;
    * the rule extracts the OR of the two prefix byte-range bands
    * ([prefix, prefix▲]) and a file survives only when EITHER prefix
    * interval intersects its zone — the click/error/view files (~3/5 of
    * the corpus) never scan. Reference motivation: the corpus's own P3
    * `LIKE "PullRequest%Event"` filters (ProcessDaily.usql:636,1204) —
    * the leading-literal form is the pruning-eligible variant. The
    * oracle replays the direct LIKE filter, proving the pruning
    * result-invisible; ZoneMapSpec plan-asserts the prefix and OR prune
    * shapes file-by-file. */
  def q283ZonePrefixPrune(spark: SparkSession, dir: String): DataFrame =
    zoneCache(spark, "q283", dir, "events_bytype",
        table(spark, dir, "events").select(col("event_type"), col("user_id")),
        "event_type")
      .read(spark, "events_bytype")
      .where(col("event_type").like("purch%") || col("event_type").like("sig%"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("uid_sum"))
      .orderBy(col("event_type"))

  /** The build-once cache behind the zone-map queries: `df` range-
    * clustered on `key` into 16 files of table `name`, committed once per
    * process and input dir ([[graft.core.Snapshots.openOrBuild]] — the
    * commit is the completion marker, so a crashed build is invisible and
    * rebuilt). The committed files' footers are the zones. */
  private[graft] def zoneCache(spark: SparkSession, tag: String, dir: String,
      name: String, df: => DataFrame, key: String): graft.core.Snapshots.Snapshot =
    graft.core.Snapshots.openOrBuild(spark, graft.core.FsOps.procCacheDir(spark, tag, dir))(
      stageZoned(_, name, df, key))

  private[graft] def stageZoned(txn: graft.core.Snapshots.Txn, name: String,
      df: DataFrame, key: String): Unit =
    graft.core.Layout.writeRangeClustered(df, txn.dir(name), 16, col(key))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q283_zone_prefix_prune" -> q283ZonePrefixPrune,
    "q271_group_quantiles" -> q271GroupQuantiles,
    "q267_doc_tokens" -> q267DocTokens,
    "q266_bpe_encode" -> q266BpeEncode,
    "q264_hist_quantiles" -> q264HistQuantiles,
    "q263_zone_pruned_scan" -> q263ZonePrunedScan,
    "q279_zone_auto_prune" -> q279ZoneAutoPrune,
    "q281_zone_in_prune" -> q281ZoneInPrune,
    "q253_sketch_cube" -> q253SketchCube,
    "q252_kmv_overlap" -> q252KmvOverlap,
    "q250_cms_heavy_hitters" -> q250CmsHeavyHitters,
    "q251_hll_distinct" -> q251HllDistinct,
    "q178_cusum" -> q178Cusum,
    "q160_lex_diversity" -> q160LexDiversity,
    "q158_ess" -> q158Ess,
    "q159_churn" -> q159Churn,
    "q154_fano" -> q154Fano,
    "q155_autocorr" -> q155Autocorr,
    "q156_gap_stats" -> q156GapStats,
    "q152_bitmap_distinct" -> q152BitmapDistinct,
    "q151_safe_arith" -> q151SafeArith,
    "q148_fact_reconcile" -> q148FactReconcile,
    "q149_conversion_lag" -> q149ConversionLag,
    "q150_cluster_sizes" -> q150ClusterSizes,
    "q146_mase" -> q146Mase,
    "q147_dow_strength" -> q147DowStrength,
    "q145_dup_rate" -> q145DupRate,
    "q143_quantile_norm" -> q143QuantileNorm,
    "q139_winsorized" -> q139Winsorized,
    "q140_theil_sen" -> q140TheilSen,
    "q135_target_encode" -> q135TargetEncode,
    "q137_key_skew" -> q137KeySkew,
    "q138_table_checksum" -> q138TableChecksum,
    "q128_ks_test" -> q128KsTest,
    "q129_mwu" -> q129Mwu,
    "q130_lift" -> q130Lift,
    "q131_bootstrap_ci" -> q131BootstrapCi,
    "q122_span_dedup" -> q122SpanDedup,
    "q123_peak_concurrency" -> q123PeakConcurrency,
    "q124_welch_ttest" -> q124WelchTTest,
    "q125_rfm" -> q125Rfm,
    "q126_bpe_pairs" -> q126BpePairs,
    "q127_psi_drift" -> q127PsiDrift
  )

  /** The q266 oracle, generated: 8 chained (pairs → argmax → replace)
    * CTE rounds replaying [[TextAnalysis.bpeTrain]] +
    * [[TextAnalysis.bpeApply]] over bracket-delimited token strings.
    * `replace` is non-overlapping left-to-right, which equals the
    * Scala greedy fold (see q266's scaladoc); the argmax tiebreak
    * orders on the TRIMMED token text to match the trainer's raw
    * (left, right) ordering. Fully-merged one-token words pair with
    * nothing via the empty generate_series. */
  private def bpeCtePrefix: String = {
    val rounds = (1 to 8).map { r =>
      s"""p$r AS (SELECT l[i] lft, l[i + 1] rgt, wc
         |  FROM (SELECT wc, regexp_extract_all(s, '⟨[^⟩]*⟩') l FROM s${r - 1}),
         |       unnest(generate_series(1, len(l) - 1)) AS u(i)),
         |t$r AS (SELECT lft, rgt FROM p$r GROUP BY 1, 2
         |  ORDER BY sum(wc) DESC, trim(lft, '⟨⟩'), trim(rgt, '⟨⟩') LIMIT 1),
         |s$r AS (SELECT w, wc, replace(s, t.lft || t.rgt,
         |    replace(t.lft, '⟩', '') || replace(t.rgt, '⟨', '')) AS s
         |  FROM s${r - 1}, t$r t)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) w FROM documents),
       |v AS (SELECT w, count(*)::BIGINT wc FROM tok WHERE len(w) >= 2
       |  GROUP BY 1),
       |s0 AS (SELECT w, wc, regexp_replace(w, '(.)', '⟨\\1⟩', 'g') AS s
       |  FROM v),
       |$rounds""".stripMargin
  }

  private def bpeEncodeOracle: String =
    s"""$bpeCtePrefix
       |SELECT trim(tok, '⟨⟩') AS token, CAST(sum(wc) AS BIGINT)
       |    AS n_occurrences
       |FROM (SELECT wc, unnest(regexp_extract_all(s, '⟨[^⟩]*⟩')) AS tok
       |      FROM s8)
       |GROUP BY 1 ORDER BY n_occurrences DESC, token ASC
       |LIMIT 100""".stripMargin

  private def bpeDocTokensOracle: String =
    s"""$bpeCtePrefix,
       |vt AS (SELECT w, len(regexp_extract_all(s, '⟨[^⟩]*⟩')) AS n_tok
       |  FROM s8),
       |wd AS (SELECT source, w
       |  FROM (SELECT source, unnest(string_split(text, ' ')) w
       |        FROM documents)
       |  WHERE len(w) >= 2)
       |SELECT source, count(*) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |  round(CAST(sum(len(w)) AS DOUBLE)
       |    / CAST(sum(n_tok) AS DOUBLE), 4) AS chars_per_token
       |FROM wd JOIN vt USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q266_bpe_encode" -> bpeEncodeOracle,
    "q267_doc_tokens" -> bpeDocTokensOracle,
    // cube replay: per-day registers/bottom-64 from the same md5 hashes,
    // the q264 pipeline partitioned by priority: per-group cum ranks,
    // per-group totals, same closing interpolation
    "q271_group_quantiles" ->
      """WITH cents AS (
        |  SELECT o_orderpriority g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |hist AS (
        |  SELECT g, least(255, greatest(0, v * 256 // 50000000)) AS bin,
        |    count(*) AS cnt
        |  FROM cents GROUP BY 1, 2),
        |cum AS (SELECT g, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum FROM hist),
        |n AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_total
        |      FROM hist GROUP BY 1),
        |probs(p_num, p_den) AS (VALUES (1,4),(1,2),(9,10)),
        |t AS (SELECT g, p_num, p_den,
        |    greatest(1, (n_total * p_num + p_den - 1) // p_den) AS t
        |  FROM probs, n)
        |SELECT cum.g AS o_orderpriority, p_num, p_den,
        |  CAST(t AS BIGINT) AS t, CAST(bin AS BIGINT) AS bin,
        |  round(0.0 + (50000000.0 / 256) * (CAST(bin AS DOUBLE)
        |    + CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)), 4)
        |    AS est
        |FROM cum JOIN t ON cum.g = t.g
        |WHERE cum >= t AND cum - cnt < t
        |ORDER BY o_orderpriority, p_den, p_num""".stripMargin,
    // identical integer pipeline: cents → clamped equi-width bins →
    // cumulative ranks → one closing interpolation expression; the
    // exact column is first-distinct-value-reaching-rank both sides
    "q264_hist_quantiles" ->
      """WITH cents AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |hist AS (
        |  SELECT least(255, greatest(0, v * 256 // 50000000)) AS bin,
        |    count(*) AS cnt
        |  FROM cents GROUP BY 1),
        |cum AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM hist),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hist),
        |probs(p_num, p_den) AS (VALUES (1,4),(1,2),(3,4),(9,10),(99,100)),
        |t AS (SELECT p_num, p_den,
        |    greatest(1, (n_total * p_num + p_den - 1) // p_den) AS t
        |  FROM probs, n),
        |est AS (
        |  SELECT p_num, p_den, t, bin,
        |    round(0.0 + (50000000.0 / 256) * (CAST(bin AS DOUBLE)
        |      + CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)), 4)
        |      AS est
        |  FROM cum, t WHERE cum >= t AND cum - cnt < t),
        |vals AS (SELECT v, count(*) AS nv FROM cents GROUP BY 1),
        |vcum AS (SELECT v, sum(nv) OVER (ORDER BY v) AS vc FROM vals),
        |exact AS (
        |  SELECT p_num, p_den, min(v) AS exact_cents
        |  FROM vcum, t WHERE vc >= t GROUP BY 1, 2)
        |SELECT p_num, p_den, CAST(t AS BIGINT) AS t,
        |  CAST(bin AS BIGINT) AS bin, est,
        |  CAST(exact_cents AS BIGINT) AS exact_cents,
        |  round(est - CAST(exact_cents AS DOUBLE), 4) AS err_cents
        |FROM est JOIN exact USING (p_num, p_den)
        |ORDER BY p_den, p_num""".stripMargin,
    // the pruned scan is result-invisible: the oracle replays the
    // DIRECT band filter over orders — equality IS the proof that
    // zone pruning dropped only files that couldn't match
    "q263_zone_pruned_scan" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-03-01'
        |  AND o_orderdate <= TIMESTAMP '1997-05-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q283 = prefix + OR-of-bands pruning through the standard read
    // path; the direct replay proves the prune result-invisible
    "q283_zone_prefix_prune" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum
        |FROM events
        |WHERE event_type LIKE 'purch%' OR event_type LIKE 'sig%'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q281 = IN-list pruning through the standard read path; the direct
    // replay proves InSet pruning result-invisible
    "q281_zone_in_prune" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |WHERE o_custkey IN (2,3,5,7,11,13,101,103,107,109,113,127)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q279 = the same report through the STANDARD read path (automatic
    // zone-map pruning) — the identical replay proves result-invisibility
    "q279_zone_auto_prune" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-03-01'
        |  AND o_orderdate <= TIMESTAMP '1997-05-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // range merge + the b=9 estimator (alpha as in q251), pair overlap
    // as in q252 with day groups
    "q253_sketch_cube" ->
      ("""WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id
        |  FROM events),
        |hh AS (SELECT day, user_id,
        |    ('0x' || substr(md5(user_id::VARCHAR || ':hll'), 1, 15))::BIGINT AS h
        |  FROM ev),
        |zz AS (SELECT day, h % 512 AS bucket, h // 512 AS z FROM hh),
        |regs AS (SELECT day, bucket,
        |    max(CASE WHEN z = 0 THEN 52 ELSE 52 - length(bin(z)) END) AS max_rho
        |  FROM zz GROUP BY 1, 2),
        |rng AS (SELECT bucket, max(max_rho) AS max_rho FROM regs
        |  WHERE day >= '2024-01-01' AND day <= '2024-01-10' GROUP BY 1),
        |agg AS (SELECT count(*) AS n_present,
        |    CAST(sum(CAST(1 AS BIGINT) << (52 - max_rho)) AS BIGINT) AS s_present
        |  FROM rng),
        |tot AS (SELECT 512 - n_present AS n_zero,
        |    (512 - n_present) * (CAST(1 AS BIGINT) << 52) + s_present AS s_total
        |  FROM agg),
        |est AS (SELECT CAST(512 AS BIGINT) AS m, CAST(n_zero AS BIGINT) AS n_zero,
        |    round(CASE WHEN n_zero > 0 AND
        |        ALPHA * 512 * 512 * 4503599627370496.0 / s_total <= 1280.0
        |      THEN 512.0 * ln(512.0 / n_zero)
        |      ELSE ALPHA * 512 * 512 * 4503599627370496.0 / s_total END,
        |      4) AS estimate
        |  FROM tot),
        |ks AS (SELECT DISTINCT day,
        |    ('0x' || substr(md5(user_id::VARCHAR || ':kmv'), 1, 15))::BIGINT AS h
        |  FROM ev),
        |sk AS (SELECT day, h FROM (SELECT day, h, row_number() OVER (
        |    PARTITION BY day ORDER BY h) rn FROM ks) WHERE rn <= 64),
        |pr AS (SELECT a.day AS ga, b.day AS gb
        |  FROM (SELECT DISTINCT day FROM sk) a,
        |       (SELECT DISTINCT day FROM sk) b WHERE a.day < b.day),
        |uni AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
        |  FROM (SELECT pr.ga, pr.gb, sk.h, 1 AS in_a, 0 AS in_b
        |        FROM pr JOIN sk ON sk.day = pr.ga
        |        UNION ALL
        |        SELECT pr.ga, pr.gb, sk.h, 0, 1
        |        FROM pr JOIN sk ON sk.day = pr.gb) t GROUP BY 1, 2, 3),
        |bot AS (SELECT * FROM (SELECT uni.*, row_number() OVER (
        |    PARTITION BY ga, gb ORDER BY h) rn FROM uni) WHERE rn <= 64)
        |SELECT 'range' AS section, '2024-01-01' AS a, '2024-01-10' AS b,
        |  m AS v1, n_zero AS v2, estimate AS x FROM est
        |UNION ALL
        |SELECT 'overlap', ga, gb, count(*),
        |  CAST(sum(in_a * in_b) AS BIGINT),
        |  round(sum(in_a * in_b)::DOUBLE / count(*), 4)
        |FROM bot GROUP BY 2, 3""")
        .stripMargin.replace("ALPHA", "0.71978311332173028::DOUBLE"),
    // KMV replay: identical bottom-64 per source, union bottom-64 per
    // pair, membership counts, and the same exact-Jaccard denominator
    "q252_kmv_overlap" ->
      """WITH hs AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5(text || ':kmv'), 1, 15))::BIGINT AS h
        |  FROM documents),
        |sk AS (SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (
        |      PARTITION BY source ORDER BY h) rn FROM hs) WHERE rn <= 64),
        |pr AS (SELECT a.source AS ga, b.source AS gb
        |  FROM (SELECT DISTINCT source FROM sk) a,
        |       (SELECT DISTINCT source FROM sk) b
        |  WHERE a.source < b.source),
        |uni AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
        |  FROM (
        |    SELECT pr.ga, pr.gb, sk.h, 1 AS in_a, 0 AS in_b
        |    FROM pr JOIN sk ON sk.source = pr.ga
        |    UNION ALL
        |    SELECT pr.ga, pr.gb, sk.h, 0, 1
        |    FROM pr JOIN sk ON sk.source = pr.gb) t
        |  GROUP BY 1, 2, 3),
        |bot AS (SELECT * FROM (SELECT uni.*, row_number() OVER (
        |    PARTITION BY ga, gb ORDER BY h) rn FROM uni) WHERE rn <= 64),
        |est AS (SELECT ga, gb, count(*) AS k_union,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |    round(sum(in_a * in_b)::DOUBLE / count(*), 4) AS jaccard_est
        |  FROM bot GROUP BY 1, 2),
        |sizes AS (SELECT source, count(*) AS n FROM hs GROUP BY 1),
        |inter AS (SELECT a.source AS ga, b.source AS gb, count(*) AS n_inter
        |  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT e.ga, e.gb, e.k_union, e.n_both, e.jaccard_est,
        |  round(coalesce(i.n_inter, 0)::DOUBLE
        |    / (sa.n + sb.n - coalesce(i.n_inter, 0)), 4) AS jaccard_exact
        |FROM est e
        |JOIN sizes sa ON sa.source = e.ga
        |JOIN sizes sb ON sb.source = e.gb
        |LEFT JOIN inter i ON i.ga = e.ga AND i.gb = e.gb""".stripMargin,
    // HLL replay: identical md5 registers, exact-integer sum(2^(52-rho)),
    // the same alpha literal and float closing formula as Sketches
    "q251_hll_distinct" ->
      ("""WITH ev AS (SELECT event_type, user_id FROM events),
        |hh AS (SELECT event_type, user_id,
        |    ('0x' || substr(md5(user_id::VARCHAR || ':hll'), 1, 15))::BIGINT AS h
        |  FROM ev),
        |zz AS (SELECT event_type, h % 512 AS bucket, h // 512 AS z FROM hh),
        |regs AS (SELECT event_type, bucket,
        |    max(CASE WHEN z = 0 THEN 52 ELSE 52 - length(bin(z)) END) AS max_rho
        |  FROM zz GROUP BY 1, 2),
        |agg AS (SELECT event_type, count(*) AS n_present,
        |    CAST(sum(CAST(1 AS BIGINT) << (52 - max_rho)) AS BIGINT) AS s_present
        |  FROM regs GROUP BY 1),
        |tot AS (SELECT event_type, 512 - n_present AS n_zero,
        |    (512 - n_present) * (CAST(1 AS BIGINT) << 52) + s_present AS s_total
        |  FROM agg),
        |est AS (SELECT event_type, CAST(n_zero AS BIGINT) AS n_zero,
        |    round(CASE WHEN n_zero > 0 AND
        |        ALPHA * 512 * 512 * 4503599627370496.0 / s_total <= 1280.0
        |      THEN 512.0 * ln(512.0 / n_zero)
        |      ELSE ALPHA * 512 * 512 * 4503599627370496.0 / s_total END,
        |      4) AS estimate
        |  FROM tot),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        |  FROM ev GROUP BY 1)
        |SELECT e.event_type, e.n_zero, e.estimate, x.exact_distinct,
        |  round(abs(e.estimate - x.exact_distinct)::DOUBLE
        |    / x.exact_distinct, 4) AS rel_err
        |FROM est e JOIN ex x ON e.event_type = x.event_type""")
        .stripMargin.replace("ALPHA", "0.71978311332173028::DOUBLE"),
    // CMS replay: identical md5 counters, min-over-depth estimate
    "q250_cms_heavy_hitters" ->
      """WITH ev AS (SELECT user_id FROM events),
        |h AS (SELECT user_id, d,
        |    ('0x' || substr(md5(user_id::VARCHAR || ':cms' || d), 1, 15))::BIGINT
        |      % 512 AS bucket
        |  FROM ev, UNNEST([0, 1, 2, 3]) AS u(d)),
        |cms AS (SELECT d AS depth, bucket, count(*) AS cnt
        |  FROM h GROUP BY 1, 2),
        |truth AS (SELECT user_id, count(*) AS true_cnt FROM ev
        |  GROUP BY 1 HAVING count(*) >= 80),
        |q AS (SELECT t.user_id, d,
        |    ('0x' || substr(md5(t.user_id::VARCHAR || ':cms' || d), 1, 15))::BIGINT
        |      % 512 AS bucket
        |  FROM truth t, UNNEST([0, 1, 2, 3]) AS u(d)),
        |est AS (SELECT q.user_id,
        |    CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
        |  FROM q LEFT JOIN cms ON cms.depth = q.d AND cms.bucket = q.bucket
        |  GROUP BY 1)
        |SELECT t.user_id, CAST(t.true_cnt AS BIGINT) AS true_cnt, e.est,
        |  e.est - t.true_cnt AS overestimate
        |FROM truth t JOIN est e ON t.user_id = e.user_id""".stripMargin,
    // seed row writes 0.0 + y explicitly so the IEEE op sequence matches
    // the engine's coalesce(last, 0.0) + y fold exactly
    "q178_cusum" ->
      """WITH RECURSIVE daily AS (SELECT o_orderpriority g,
        |        CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 dy,
        |        count(*)::BIGINT y
        |      FROM orders GROUP BY 1, 2),
        |span AS (SELECT g, min(dy) d0, max(dy) d1 FROM daily GROUP BY 1),
        |spine AS (SELECT g, unnest(generate_series(d0, d1)) dy FROM span),
        |dense AS (SELECT s.g, s.dy, coalesce(d.y, 0)::BIGINT y
        |      FROM spine s LEFT JOIN daily d ON s.g = d.g AND s.dy = d.dy),
        |st AS (SELECT g, sum(y)::BIGINT sx, sum(y * y)::BIGINT sxx,
        |        count(*)::BIGINT n FROM dense GROUP BY 1),
        |pr AS (SELECT g, sx::DOUBLE / n::DOUBLE mu,
        |        sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
        |          / n::DOUBLE) sigma FROM st),
        |o AS (SELECT g, dy, y,
        |        row_number() OVER (PARTITION BY g ORDER BY dy) rn FROM dense),
        |it(g, rn, dy, s) AS (
        |  SELECT o.g, 1, o.dy,
        |    greatest(0.0, 0.0 + o.y::DOUBLE - pr.mu - 0.5 * pr.sigma)
        |  FROM o JOIN pr ON pr.g = o.g WHERE rn = 1
        |  UNION ALL
        |  SELECT o.g, o.rn, o.dy,
        |    greatest(0.0, it.s + o.y::DOUBLE - pr.mu - 0.5 * pr.sigma)
        |  FROM it JOIN o ON o.g = it.g AND o.rn = it.rn + 1
        |    JOIN pr ON pr.g = o.g)
        |SELECT it.g AS o_orderpriority, it.dy AS day, round(it.s, 6) AS cusum,
        |  it.s > 4.0 * pr.sigma AS flag
        |FROM it JOIN pr ON pr.g = it.g""".stripMargin,
    "q160_lex_diversity" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) tok
        |      FROM documents),
        |ty AS (SELECT source, tok, count(*)::BIGINT c FROM t
        |      WHERE tok <> '' GROUP BY 1, 2),
        |a AS (SELECT source, sum(c)::BIGINT n_tokens,
        |        count(*)::BIGINT n_types,
        |        sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT n_hapax
        |      FROM ty GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |  round(n_types / n_tokens::DOUBLE, 6) AS ttr,
        |  round(n_hapax / n_types::DOUBLE, 6) AS hapax_share
        |FROM a""".stripMargin,
    "q158_ess" ->
      """WITH q AS (SELECT event_type,
        |        CAST(round("value" * 100) AS BIGINT) w FROM events),
        |a AS (SELECT event_type, count(*)::BIGINT n, sum(w)::BIGINT sw,
        |        sum(w * w)::BIGINT sww FROM q GROUP BY 1)
        |SELECT event_type, n,
        |  round(sw::DOUBLE * sw / sww::DOUBLE, 6) AS ess,
        |  round(n::DOUBLE * sww / (sw::DOUBLE * sw), 6) AS design_effect
        |FROM a""".stripMargin,
    "q159_churn" ->
      """WITH am AS (SELECT DISTINCT user_id,
        |        epoch_us(ts) // 1000000 // 86400 // 30 m FROM events),
        |mx AS (SELECT max(m) mxm FROM am),
        |j AS (SELECT a.m, a.user_id,
        |        CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END churned
        |      FROM am a LEFT JOIN am b
        |        ON b.user_id = a.user_id AND b.m = a.m + 1)
        |SELECT j.m, count(*) AS n_active,
        |  sum(churned)::BIGINT AS n_churned,
        |  round(sum(churned) / count(*)::DOUBLE, 6) AS churn_rate
        |FROM j CROSS JOIN mx WHERE j.m < mx.mxm GROUP BY 1""".stripMargin,
    "q154_fano" ->
      """WITH daily AS (SELECT event_type,
        |        epoch_us(ts) // 1000000 // 86400 dy, count(*)::BIGINT y
        |      FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(dy) d0, max(dy) d1 FROM daily
        |      GROUP BY 1),
        |spine AS (SELECT s.event_type, u.dy
        |      FROM span s, UNNEST(generate_series(s.d0, s.d1)) AS u(dy)),
        |dense AS (SELECT sp.event_type, sp.dy, coalesce(d.y, 0)::BIGINT y
        |      FROM spine sp LEFT JOIN daily d
        |        ON d.event_type = sp.event_type AND d.dy = sp.dy),
        |a AS (SELECT event_type, count(*)::BIGINT n_days,
        |        sum(y)::BIGINT s, sum(y * y)::BIGINT ss
        |      FROM dense GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(((ss - s::DOUBLE * s / n_days) / n_days) /
        |    (s / n_days::DOUBLE), 6) AS fano
        |FROM a""".stripMargin,
    "q155_autocorr" ->
      """WITH daily AS (SELECT event_type,
        |        epoch_us(ts) // 1000000 // 86400 dy, count(*)::BIGINT y
        |      FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(dy) d0, max(dy) d1 FROM daily
        |      GROUP BY 1),
        |spine AS (SELECT s.event_type, u.dy
        |      FROM span s, UNNEST(generate_series(s.d0, s.d1)) AS u(dy)),
        |dense AS (SELECT sp.event_type, sp.dy, coalesce(d.y, 0)::BIGINT y
        |      FROM spine sp LEFT JOIN daily d
        |        ON d.event_type = sp.event_type AND d.dy = sp.dy),
        |p AS (SELECT event_type, y,
        |        lag(y, 7) OVER (PARTITION BY event_type ORDER BY dy) x
        |      FROM dense),
        |a AS (SELECT event_type, count(*)::BIGINT n, sum(x)::BIGINT sx,
        |        sum(y)::BIGINT sy, sum(x * x)::BIGINT sxx,
        |        sum(y * y)::BIGINT syy, sum(x * y)::BIGINT sxy
        |      FROM p WHERE x IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  round((n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |    sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx) *
        |         (n::DOUBLE * syy - sy::DOUBLE * sy)), 6) AS acf7
        |FROM a""".stripMargin,
    "q156_gap_stats" ->
      """WITH g AS (SELECT event_type,
        |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(sum(gap_us)::BIGINT / count(*)::DOUBLE / 1e6, 6)
        |    AS mean_gap_s,
        |  round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS median_gap_s,
        |  round(quantile_cont(gap_us, 0.95) / 1e6, 6) AS p95_gap_s
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin,
    "q152_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q151_safe_arith" ->
      """WITH t AS (SELECT
        |    round(o_totalprice * 100) / NULLIF(o_orderkey % 5, 0) div5,
        |    TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) prio_num,
        |    TRY_CAST(o_orderstatus AS BIGINT) bad_cast,
        |    ([o_orderkey])[CAST(NULLIF(o_orderkey % 3, 0) AS INT)] arr_hit
        |  FROM orders)
        |SELECT count(*) AS n, count(div5)::BIGINT AS n_div_ok,
        |  sum(CASE WHEN div5 IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_div_by_zero,
        |  count(prio_num)::BIGINT AS n_prio_parsed,
        |  min(prio_num)::BIGINT AS prio_min,
        |  max(prio_num)::BIGINT AS prio_max,
        |  count(bad_cast)::BIGINT AS n_bad_cast_ok,
        |  count(arr_hit)::BIGINT AS n_arr_hits
        |FROM t""".stripMargin,
    "q148_fact_reconcile" ->
      """WITH o AS (SELECT
        |        CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 dy,
        |        sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |          o_cents
        |      FROM orders GROUP BY 1),
        |ld AS (SELECT l.l_orderkey,
        |        CAST(floor(epoch(oo.o_orderdate)) AS BIGINT) // 86400 dy,
        |        l.l_extendedprice, l.l_discount
        |      FROM lineitem l JOIN orders oo
        |        ON l.l_orderkey = oo.o_orderkey),
        |li AS (SELECT dy, sum(CAST(round(l_extendedprice *
        |          (1 - l_discount) * 100) AS BIGINT))::BIGINT l_cents
        |      FROM ld GROUP BY 1)
        |SELECT coalesce(o.dy, li.dy) AS dy,
        |  coalesce(o.o_cents, 0)::BIGINT AS o_cents,
        |  coalesce(li.l_cents, 0)::BIGINT AS l_cents,
        |  abs(coalesce(o.o_cents, 0) - coalesce(li.l_cents, 0))::BIGINT
        |    AS diff_cents
        |FROM o FULL OUTER JOIN li ON o.dy = li.dy
        |ORDER BY diff_cents DESC, dy LIMIT 20""".stripMargin,
    "q149_conversion_lag" ->
      """WITH p AS (SELECT user_id, min(epoch_us(ts)) first_us,
        |        min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts)
        |          END) first_buy_us
        |      FROM events GROUP BY 1),
        |l AS (SELECT (first_buy_us - first_us) // 1000000 lag_s FROM p
        |      WHERE first_buy_us IS NOT NULL)
        |SELECT count(*) AS n_converted,
        |  round(quantile_cont(lag_s, 0.5), 6) AS median_lag_s,
        |  round(quantile_cont(lag_s, 0.9), 6) AS p90_lag_s
        |FROM l""".stripMargin,
    "q150_cluster_sizes" ->
      """WITH h AS (SELECT md5(text) h, count(*)::BIGINT sz
        |      FROM documents GROUP BY 1)
        |SELECT sz, count(*) AS n_clusters,
        |  (sz * count(*))::BIGINT AS n_docs
        |FROM h GROUP BY 1""".stripMargin,
    "q146_mase" ->
      """WITH daily AS (SELECT o_orderpriority g,
        |        CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 dy,
        |        count(*)::BIGINT y
        |      FROM orders GROUP BY 1, 2),
        |span AS (SELECT g, min(dy) d0, max(dy) d1 FROM daily GROUP BY 1),
        |spine AS (SELECT g, unnest(generate_series(d0, d1)) dy FROM span),
        |dense AS (SELECT s.g, s.dy, coalesce(d.y, 0)::BIGINT y
        |      FROM spine s LEFT JOIN daily d
        |        ON s.g = d.g AND s.dy = d.dy),
        |df AS (SELECT g, abs(y - lag(y, 1) OVER w) d1a,
        |        abs(y - lag(y, 7) OVER w) d7a
        |      FROM dense WINDOW w AS (PARTITION BY g ORDER BY dy)),
        |a AS (SELECT g, count(d7a)::BIGINT n7, sum(d7a)::BIGINT s7,
        |        count(d1a)::BIGINT n1, sum(d1a)::BIGINT s1
        |      FROM df GROUP BY 1)
        |SELECT g AS o_orderpriority,
        |  round(s7 / n7::DOUBLE, 6) AS mae_seasonal,
        |  round(s1 / n1::DOUBLE, 6) AS mae_naive,
        |  round((s7 / n7::DOUBLE) / (s1 / n1::DOUBLE), 6) AS mase
        |FROM a""".stripMargin,
    "q147_dow_strength" ->
      """WITH daily AS (SELECT event_type,
        |        epoch_us(ts) // 1000000 // 86400 dy, count(*)::BIGINT y
        |      FROM events GROUP BY 1, 2),
        |per AS (SELECT event_type, (dy + 3) % 7 dow, count(*)::BIGINT nd,
        |        sum(y)::BIGINT sd, sum(y * y)::BIGINT ssd
        |      FROM daily GROUP BY 1, 2),
        |agg AS (SELECT event_type, sum(nd)::BIGINT n, sum(sd)::BIGINT s,
        |        sum(ssd)::BIGINT ss,
        |        array_agg(ssd::DOUBLE - sd::DOUBLE * sd / nd ORDER BY dow)
        |          ts
        |      FROM per GROUP BY 1)
        |SELECT event_type, n,
        |  round(1.0 - list_reduce(list_prepend(0.0::DOUBLE, ts),
        |      (acc, x) -> acc + x) /
        |    (ss - s::DOUBLE * s / n), 6) AS dow_strength
        |FROM agg""".stripMargin,
    "q145_dup_rate" ->
      """WITH h AS (SELECT source, doc_id, md5(text) h FROM documents),
        |r AS (SELECT source,
        |        CASE WHEN row_number() OVER (PARTITION BY h
        |          ORDER BY doc_id) > 1 THEN 1 ELSE 0 END red
        |      FROM h)
        |SELECT source, count(*) AS n_docs, sum(red)::BIGINT AS n_redundant,
        |  round(sum(red) / count(*)::DOUBLE, 6) AS dup_rate
        |FROM r GROUP BY 1""".stripMargin,
    "q143_quantile_norm" ->
      """WITH d AS (SELECT source, n_chars v FROM documents),
        |vc AS (SELECT v, count(*)::BIGINT c FROM d GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |          cumv FROM vc),
        |n AS (SELECT count(*)::BIGINT nn FROM d),
        |sv AS (SELECT source, v, count(*)::BIGINT cs FROM d GROUP BY 1, 2)
        |SELECT sv.source, sum(sv.cs)::BIGINT AS n_docs,
        |  round(sum(cum.cumv * sv.cs)::BIGINT /
        |    (sum(sv.cs) * n.nn)::DOUBLE, 6) AS mean_pct
        |FROM sv JOIN cum ON sv.v = cum.v CROSS JOIN n
        |GROUP BY 1, n.nn""".stripMargin,
    "q139_winsorized" ->
      """WITH q AS (SELECT event_type g,
        |        CAST(round("value" * 100) AS BIGINT) cents FROM events),
        |b AS (SELECT g,
        |        CAST(round(quantile_cont(cents, 0.05)) AS BIGINT) lo_c,
        |        CAST(round(quantile_cont(cents, 0.95)) AS BIGINT) hi_c
        |      FROM q GROUP BY 1),
        |m AS (SELECT q.g, count(*) n,
        |        sum(least(greatest(cents, lo_c), hi_c))::BIGINT wsum,
        |        min(lo_c) lo_c, min(hi_c) hi_c
        |      FROM q JOIN b ON q.g = b.g GROUP BY 1)
        |SELECT g AS event_type, n,
        |  round(lo_c / 100.0, 6) AS p_lo, round(hi_c / 100.0, 6) AS p_hi,
        |  round(wsum / n::DOUBLE / 100.0, 6) AS winsorized_mean
        |FROM m""".stripMargin,
    "q140_theil_sen" ->
      """WITH d AS (SELECT o_orderpriority g,
        |        CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 x,
        |        count(*)::BIGINT y
        |      FROM orders GROUP BY 1, 2),
        |p AS (SELECT a.g, (b.y - a.y)::DOUBLE / (b.x - a.x)::DOUBLE slope
        |      FROM d a JOIN d b ON a.g = b.g AND a.x < b.x)
        |SELECT g AS o_orderpriority, count(*) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) AS trend
        |FROM p GROUP BY 1""".stripMargin,
    "q135_target_encode" ->
      """WITH d AS (SELECT o_orderkey id, o_orderpriority category,
        |        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END y
        |      FROM orders),
        |g AS (SELECT category, count(*)::BIGINT n_cat,
        |        sum(y)::BIGINT pos_cat FROM d GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT nt, sum(y)::BIGINT pt FROM d)
        |SELECT d.id, d.category, d.y::BIGINT AS y,
        |  round((g.pos_cat - d.y + 10.0 * t.pt / t.nt::DOUBLE) /
        |    (g.n_cat - 1 + 10)::DOUBLE, 6) AS enc
        |FROM d JOIN g ON d.category = g.category CROSS JOIN t""".stripMargin,
    "q137_key_skew" ->
      """WITH c AS (SELECT o_custkey k, count(*)::BIGINT x
        |      FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x ASC, k ASC) i FROM c),
        |a AS (SELECT count(*)::BIGINT n_keys, sum(x)::BIGINT n_rows,
        |        sum((2 * i - 1) * x)::BIGINT num2, max(x)::BIGINT mx
        |      FROM r)
        |SELECT n_keys, n_rows,
        |  round((num2 - n_keys * n_rows)::DOUBLE /
        |    (n_keys * n_rows)::DOUBLE, 6) AS gini,
        |  round(mx / n_rows::DOUBLE, 6) AS top_share
        |FROM a""".stripMargin,
    "q138_table_checksum" ->
      """WITH s AS (SELECT
        |    o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
        |    o_orderstatus || '|' ||
        |    CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR || '|' ||
        |    strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority rs
        |  FROM orders),
        |h AS (SELECT ('0x' || substr(md5(rs), 1, 15))::BIGINT h FROM s)
        |SELECT count(*) AS n_rows, bit_xor(h)::BIGINT AS xor_sig,
        |  sum(h % 1048573)::BIGINT AS sum_sig FROM h""".stripMargin,
    "q128_ks_test" ->
      """WITH q AS (SELECT event_type g, CAST(round("value" * 1000) AS BIGINT) x
        |           FROM events WHERE event_type IN ('click', 'error')),
        |pv AS (SELECT x,
        |        sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT ca,
        |        sum(CASE WHEN g = 'error' THEN 1 ELSE 0 END)::BIGINT cb
        |      FROM q GROUP BY 1),
        |n AS (SELECT sum(ca)::BIGINT n1, sum(cb)::BIGINT n2 FROM pv),
        |c AS (SELECT x,
        |        sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) cum_a,
        |        sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) cum_b
        |      FROM pv),
        |d AS (SELECT x, abs(cum_a / n.n1::DOUBLE - cum_b / n.n2::DOUBLE) d
        |      FROM c CROSS JOIN n),
        |m AS (SELECT max(d) dm FROM d)
        |SELECT 'click' AS group_a, 'error' AS group_b, n.n1, n.n2,
        |  round(m.dm, 6) AS d_stat, round(min(d.x) / 1000.0, 6) AS d_at
        |FROM d CROSS JOIN m CROSS JOIN n
        |WHERE d.d = m.dm GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    "q129_mwu" ->
      """WITH q AS (SELECT event_type g, CAST(round("value" * 1000) AS BIGINT) x
        |           FROM events WHERE event_type IN ('click', 'error')),
        |pv AS (SELECT x,
        |        sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT ca,
        |        sum(CASE WHEN g = 'error' THEN 1 ELSE 0 END)::BIGINT cb
        |      FROM q GROUP BY 1),
        |r AS (SELECT ca, cb, ca + cb c,
        |        coalesce(sum(ca + cb) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          cumprev
        |      FROM pv),
        |a AS (SELECT sum(ca)::BIGINT n1, sum(cb)::BIGINT n2,
        |        sum(ca * (2 * cumprev + c + 1))::BIGINT r1x2,
        |        sum(c * c * c - c)::BIGINT tie_sum
        |      FROM r)
        |SELECT 'click' AS group_a, 'error' AS group_b, n1, n2,
        |  round(r1x2 / 2.0 - n1::DOUBLE * (n1::DOUBLE + 1) / 2.0, 6)
        |    AS u_stat,
        |  round((r1x2 / 2.0 - n1::DOUBLE * (n1::DOUBLE + 1) / 2.0 -
        |      n1::DOUBLE * n2::DOUBLE / 2.0) /
        |    sqrt(n1::DOUBLE * n2::DOUBLE / 12.0 *
        |      ((n1::DOUBLE + n2::DOUBLE + 1) -
        |       tie_sum::DOUBLE / ((n1::DOUBLE + n2::DOUBLE) *
        |                       (n1::DOUBLE + n2::DOUBLE - 1)))), 6) AS z
        |FROM a""".stripMargin,
    "q130_lift" ->
      """WITH d AS (SELECT o_orderkey id, o_totalprice score,
        |        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END y
        |      FROM orders),
        |t AS (SELECT y, ntile(10) OVER (ORDER BY score DESC, id ASC) bucket
        |      FROM d),
        |p AS (SELECT bucket, count(*) n, sum(y)::BIGINT pos
        |      FROM t GROUP BY 1),
        |c AS (SELECT bucket, n, pos,
        |        sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW)::BIGINT cum_n,
        |        sum(pos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW)::BIGINT cum_pos
        |      FROM p),
        |tt AS (SELECT sum(n)::BIGINT nt, sum(pos)::BIGINT pt FROM p)
        |SELECT CAST(bucket AS INT) AS bucket, n, pos,
        |  round(pos / n::DOUBLE, 6) AS rate,
        |  round(cum_pos / tt.pt::DOUBLE, 6) AS cum_gain,
        |  round((cum_pos / cum_n::DOUBLE) / (tt.pt / tt.nt::DOUBLE), 6)
        |    AS lift
        |FROM c CROSS JOIN tt""".stripMargin,
    "q131_bootstrap_ci" ->
      """WITH q AS (SELECT doc_id id,
        |        CAST(round(n_chars * 1000) AS BIGINT) x FROM documents),
        |p AS (SELECT sum(x)::BIGINT sx, count(*) n FROM q),
        |e AS (SELECT id, x, r FROM q,
        |        UNNEST(generate_series(0, 99)) AS u(r)),
        |w AS (SELECT r,
        |        ('0x' || substr(md5(id || ':' || r), 1, 15))::BIGINT % 3 w,
        |        x FROM e),
        |g AS (SELECT r, sum(w * x)::BIGINT swx, sum(w)::BIGINT sw
        |      FROM w GROUP BY 1),
        |m AS (SELECT r, swx / sw::DOUBLE / 1000.0 m FROM g),
        |arr AS (SELECT array_agg(m ORDER BY m) ms FROM m)
        |SELECT p.n, 100 AS n_resamples,
        |  round(p.sx / p.n::DOUBLE / 1000.0, 6) AS mean,
        |  round(arr.ms[3], 6) AS ci_lo, round(arr.ms[98], 6) AS ci_hi
        |FROM arr CROSS JOIN p""".stripMargin,
    "q122_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |w AS (SELECT doc_id, i AS s,
        |        ('0x' || substr(md5(array_to_string(ts[(i+1):(i+5)], ' ')),
        |          1, 15))::BIGINT h
        |      FROM t, UNNEST(generate_series(0, len(ts) - 5)) AS u(i)
        |      WHERE len(ts) >= 5),
        |m AS (SELECT doc_id, s, s + 5 AS e FROM (
        |        SELECT doc_id, s, count(*) OVER (PARTITION BY h) cnt FROM w)
        |      WHERE cnt >= 2),
        |x AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pmax
        |      FROM m),
        |y AS (SELECT doc_id, s, e,
        |        sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY s
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) island
        |      FROM x),
        |pi AS (SELECT doc_id, island, count(*) nw, max(e) - min(s) len
        |       FROM y GROUP BY 1, 2)
        |SELECT doc_id, sum(nw)::BIGINT AS n_dup_windows,
        |  count(*)::BIGINT AS n_islands, sum(len)::BIGINT AS dup_tokens
        |FROM pi GROUP BY 1""".stripMargin,
    "q123_peak_concurrency" ->
      """WITH iv AS (SELECT event_type,
        |        CAST(floor(epoch(ts)) AS BIGINT) s,
        |        CAST(floor(epoch(ts)) AS BIGINT) +
        |          greatest(1, CAST(round("value") AS BIGINT)) e
        |      FROM events),
        |d AS (SELECT event_type, s AS t, 1 AS d FROM iv
        |      UNION ALL SELECT event_type, e, -1 FROM iv),
        |g AS (SELECT event_type, t, sum(d) d FROM d GROUP BY 1, 2),
        |r AS (SELECT event_type, t, sum(d) OVER (PARTITION BY event_type
        |        ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        run FROM g),
        |mx AS (SELECT event_type, max(run) mxr FROM r GROUP BY 1)
        |SELECT r.event_type, mx.mxr::BIGINT AS peak,
        |  min(r.t)::BIGINT AS peak_at
        |FROM r JOIN mx ON r.event_type = mx.event_type AND r.run = mx.mxr
        |GROUP BY 1, 2""".stripMargin,
    "q124_welch_ttest" ->
      """WITH q AS (SELECT event_type g, CAST(round("value" * 1000) AS BIGINT) x
        |           FROM events WHERE event_type IN ('click', 'error')),
        |a AS (SELECT count(*) n1, sum(x)::BIGINT s1, sum(x*x)::BIGINT ss1
        |      FROM q WHERE g = 'click'),
        |b AS (SELECT count(*) n2, sum(x)::BIGINT s2, sum(x*x)::BIGINT ss2
        |      FROM q WHERE g = 'error'),
        |m AS (SELECT n1, n2,
        |        s1 / n1::DOUBLE / 1000.0 m1, s2 / n2::DOUBLE / 1000.0 m2,
        |        (ss1 - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
        |          / (n1::DOUBLE - 1) / 1000000.0 v1,
        |        (ss2 - s2::DOUBLE * s2::DOUBLE / n2::DOUBLE)
        |          / (n2::DOUBLE - 1) / 1000000.0 v2
        |      FROM a CROSS JOIN b),
        |z AS (SELECT *, v1 / n1::DOUBLE + v2 / n2::DOUBLE se2 FROM m)
        |SELECT 'click' AS group_a, 'error' AS group_b, n1, n2,
        |  round(m1, 6) AS mean_a, round(m2, 6) AS mean_b,
        |  round(v1, 6) AS var_a, round(v2, 6) AS var_b,
        |  round((m1 - m2) / sqrt(se2), 6) AS t_stat,
        |  round(se2 * se2 /
        |    ((v1 / n1::DOUBLE) * (v1 / n1::DOUBLE) / (n1::DOUBLE - 1) +
        |     (v2 / n2::DOUBLE) * (v2 / n2::DOUBLE) / (n2::DOUBLE - 1)), 6)
        |    AS df
        |FROM z""".stripMargin,
    "q125_rfm" ->
      """WITH pc AS (SELECT o_custkey custkey, max(o_orderdate) last_order,
        |        count(*) n_orders,
        |        sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT cents
        |      FROM orders GROUP BY 1),
        |s AS (SELECT *,
        |        6 - ntile(5) OVER (ORDER BY last_order DESC, custkey ASC)
        |          r_score,
        |        6 - ntile(5) OVER (ORDER BY n_orders DESC, custkey ASC)
        |          f_score,
        |        6 - ntile(5) OVER (ORDER BY cents DESC, custkey ASC)
        |          m_score
        |      FROM pc)
        |SELECT custkey, last_order, n_orders, cents,
        |  r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
        |  m_score::BIGINT AS m_score,
        |  r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
        |FROM s""".stripMargin,
    "q126_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) w FROM documents),
        |v AS (SELECT w, count(*) wc FROM tok WHERE len(w) >= 2 GROUP BY 1),
        |p AS (SELECT substring(w, i, 2) pair, wc
        |      FROM v, UNNEST(generate_series(1, len(w) - 1)) AS u(i)),
        |g AS (SELECT pair, sum(wc)::BIGINT freq FROM p GROUP BY 1)
        |SELECT pair, freq,
        |  row_number() OVER (ORDER BY freq DESC, pair ASC) AS "rank"
        |FROM g ORDER BY freq DESC, pair ASC LIMIT 50""".stripMargin,
    "q127_psi_drift" ->
      """WITH b AS (SELECT source, least(9, greatest(0,
        |        CAST(floor((n_chars - 0.0) / 60.0) AS INT))) bin
        |      FROM documents),
        |c AS (SELECT source, bin, count(*) c FROM b GROUP BY 1, 2),
        |s AS (SELECT source, sum(c)::BIGINT n_s FROM c GROUP BY 1),
        |g AS (SELECT bin, sum(c)::BIGINT c_g FROM c GROUP BY 1),
        |t AS (SELECT sum(c_g)::BIGINT n_g FROM g),
        |bins AS (SELECT unnest(generate_series(0, 9))::INT bin),
        |d AS (SELECT s.source, s.n_s, bins.bin, coalesce(c.c, 0)::BIGINT c,
        |        g.c_g, t.n_g
        |      FROM s CROSS JOIN bins
        |      LEFT JOIN c ON c.source = s.source AND c.bin = bins.bin
        |      JOIN g ON g.bin = bins.bin CROSS JOIN t),
        |v AS (SELECT source, n_s, bin,
        |        ((c::DOUBLE + 0.5) / (n_s::DOUBLE + 5.0) -
        |         (c_g::DOUBLE + 0.5) / (n_g::DOUBLE + 5.0)) *
        |          ln(((c::DOUBLE + 0.5) / (n_s::DOUBLE + 5.0)) /
        |             ((c_g::DOUBLE + 0.5) / (n_g::DOUBLE + 5.0))) v
        |      FROM d),
        |a AS (SELECT source, n_s n_rows, array_agg(v ORDER BY bin) vs
        |      FROM v GROUP BY 1, 2)
        |SELECT source, n_rows,
        |  round(list_reduce(list_prepend(0.0::DOUBLE, vs), (a, b) -> a + b),
        |    6) AS psi
        |FROM a""".stripMargin
  )
}
