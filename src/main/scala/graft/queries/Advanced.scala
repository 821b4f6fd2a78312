package graft.queries

import graft.core.Tables.table
import graft.ops.{Temporal, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time operator surface (as-of join, interval range join,
  * sessionization) plus curation extensions added in round 3. Each query
  * has a full DuckDB oracle; timestamps compute on epoch-nanos longs on
  * both sides (the engine reads parquet nanos as longs under
  * `nanosAsLong`; the oracle uses `epoch_ns`), so all temporal arithmetic
  * is exact-integer and engine-independent.
  */
object Advanced {

  /** Events with `ts_us` (epoch micros). The parquet carries TIMESTAMP
    * (NANOS) — the engine reads it as an epoch-nanos long, but DuckDB
    * reads it at µs precision, so all cross-engine temporal arithmetic
    * happens on µs (integral `div`, not `/`: nanos exceed 2^53 and the
    * double division behind `/` is inexact). */
  private def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").withColumn("ts_us", expr("ts div 1000L"))

  /** As-of join: every click paired with the same user's most recent
    * prior-or-simultaneous purchase (null when none). Single-shuffle
    * union+window plan — see [[graft.ops.Temporal.asofJoin]]; the
    * join-then-rank spelling the oracle uses is the semantics, not the
    * plan (it materializes every candidate pair). */
  def q43AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    val purchases = ev.where(col("event_type") === "purchase")
    Temporal.asofJoin(clicks, purchases, "user_id", "ts_us", "ts_us",
      Seq("event_id" -> "purchase_id", "value" -> "purchase_value"),
      tiebreak = "event_id")
      .select(col("click_id"), col("user_id"), col("purchase_id"),
        col("purchase_value"))
  }

  /** Forward as-of join: every click paired with the same user's EARLIEST
    * following-or-simultaneous purchase — the attribution dual of q43,
    * same single-shuffle plan scanning time descending. */
  def q63AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    val purchases = ev.where(col("event_type") === "purchase")
    Temporal.asofJoin(clicks, purchases, "user_id", "ts_us", "ts_us",
      Seq("event_id" -> "purchase_id", "value" -> "purchase_value"),
      tiebreak = "event_id", direction = "forward")
      .select(col("click_id"), col("user_id"), col("purchase_id"),
        col("purchase_value"))
  }

  /** Interval range join (no equi-key): per error event, count and sum all
    * events inside [ts, ts+10min). Binned-candidate equi-join plan — the
    * inequality-only join Spark would otherwise execute as a quadratic
    * broadcast nested loop. */
  def q44RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val tenMinUs = 600000000L
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("error_id"),
        col("ts_us").as("start_ts"),
        (col("ts_us") + tenMinUs).as("end_ts"))
    Temporal.rangeJoin(errors, ev, "start_ts", "end_ts", "ts_us",
      binWidth = tenMinUs)
      .groupBy(col("error_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** Gap-based sessionization: per-user sessions split at >12h idle,
    * aggregated to one row per session. */
  def q45Sessionize(spark: SparkSession, dir: String): DataFrame =
    Temporal.sessionize(events(spark, dir), "user_id", "event_id", "ts_us",
      gap = 43200000000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))

  /** PII-bearing text synthesized deterministically from doc_id (the
    * corpus itself is PII-free word salad): one email, URL, IPv4, and
    * phone per doc, prepended to the real text. Both engines build the
    * identical string, so the scrub compares end-to-end. */
  private def piiRaw: Column = concat(
    lit("contact user"), col("doc_id").cast("string"),
    lit("@mail"), pmod(col("doc_id"), lit(7)).cast("string"),
    lit(".example via https://ex"), pmod(col("doc_id"), lit(5)).cast("string"),
    lit(".org/a?b=1 at 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
    lit("."), pmod(col("doc_id"), lit(100)).cast("string"),
    lit(" call 555-"),
    lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
    lit(" :: "), col("text"))

  /** PII scrub: redact emails/URLs/IPs/phones and count each kind —
    * projection-only, scan-speed. */
  def q46PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val withRaw = table(spark, dir, "documents").withColumn("raw", piiRaw)
    val counts = TextAnalysis.piiCounts(col("raw"))
      .map { case (name, c) => c.as(name) }
    withRaw.select(
      Seq(col("doc_id"), TextAnalysis.scrubPii(col("raw")).as("scrubbed"))
        ++ counts: _*)
  }

  /** Top-3 TF-IDF terms per document (smoothed idf, deterministic
    * tiebreak) — the classic relevance/keyword-extraction surface. */
  def q47Tfidf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidf(table(spark, dir, "documents"), "doc_id", "text", k = 3)
      .select(col("__id").as("doc_id"), col("token"), col("tfidf"), col("rnk"))

  /** Weighted sampling without replacement: 20 docs per language, chance
    * proportional to n_chars — reproducible (hash-derived uniforms) and
    * fully distributed; the oracle replays the identical draw. */
  def q48WeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(table(spark, dir, "documents"),
      Seq("lang"), "doc_id", col("n_chars"), k = 20)
      .select(col("doc_id"), col("lang"), col("priority"), col("rnk"))

  /** Bloom-accelerated exact semi join: lineitem rows whose supplier has
    * positive account balance; result ≡ the plain semi join the oracle
    * spells (no false negatives + exact verification of false
    * positives). */
  def q49BloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val rich = table(spark, dir, "supplier").where(col("s_acctbal") > 5000.0)
    graft.ops.BloomJoin.semiJoinExact(
      table(spark, dir, "lineitem"), rich, "l_suppkey", "s_suppkey",
      expectedItems = 1000L)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Time-series gap fill: per-priority daily revenue on a complete date
    * spine (`sequence` + `explode` — generated distributedly, no driver
    * loop), missing days forward-filled with `last(ignoreNulls)` over an
    * ordered window. The standard reporting densification; one window
    * shuffle per group key. */
  def q68GapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderdate"))
      .agg(round(sum(col("o_totalprice")), 2).as("day_total"))
    val spine = daily.groupBy(col("o_orderpriority"))
      .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"))
      .select(col("o_orderpriority"),
        explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 DAY")))
          .as("d"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily,
        spine("o_orderpriority") === daily("o_orderpriority") &&
          col("d") === col("o_orderdate"), "left")
      .select(spine("o_orderpriority"), col("d"), col("day_total"))
      .withColumn("filled", last(col("day_total"), ignoreNulls = true).over(w))
      .select(
        col("o_orderpriority"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("filled"),
        col("day_total").isNull.as("is_gap"))
  }

  /** One-scan dataset profile over orders: null counts, exact distinct
    * cardinality, min/max per column (ANALYZE-style statistics). `exact =
    * true` here because the oracle hash-compares values; the library
    * DEFAULT is the HLL sketch path — one narrow pass, no Expand — which
    * is what a 100 TB profile runs (see [[graft.ops.Profile]]). */
  def q69Profile(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.profile(table(spark, dir, "orders"),
      Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"),
      exact = true)

  /** Ordered funnel with a conversion window: view → first click within
    * 24h OF THE FIRST VIEW → first purchase within 24h of that click,
    * per user; one row per funnel stage with the user count. Ordering +
    * window is what makes it a funnel (a purchase before the view, or a
    * week later, does not convert) — each stage is one filtered
    * aggregate + one equi-join on user_id. */
  def q73Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val dayUs = 86400000000L
    def stage(tpe: String) = ev.where(col("event_type") === tpe)
    val tv = stage("view").groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t_view"))
    val tc = stage("click").join(tv, "user_id")
      .where(col("ts_us") >= col("t_view") &&
        col("ts_us") < col("t_view") + dayUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_click"))
    val tp = stage("purchase").join(tc, "user_id")
      .where(col("ts_us") >= col("t_click") &&
        col("ts_us") < col("t_click") + dayUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_purchase"))
    tv.join(tc.select(col("user_id"), col("t_click")), Seq("user_id"), "left_outer")
      .join(tp.select(col("user_id"), col("t_purchase")), Seq("user_id"), "left_outer")
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2).otherwise(1).as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
  }

  /** Weekly cohort retention: users grouped by the Monday week of their
    * FIRST event; for each later active week, how many of the cohort came
    * back. The canonical warehouse triangle — two aggregations and one
    * equi-join on user_id, fully shuffle-parallel. */
  def q74Cohort(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"),
        to_date(timestamp_micros(col("ts_us"))).as("d"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
      .select(col("user_id"),
        date_trunc("week", col("first_d")).cast("date").as("cohort_w"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("d")).cast("date").as("w"))
      .distinct()
    active.join(cohort, "user_id")
      .groupBy(col("cohort_w"), col("w"))
      .agg(count(lit(1)).as("n_active"))
      .select(
        date_format(col("cohort_w"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("w"), col("cohort_w")) / 7).cast("int").as("week_offset"),
        col("n_active"))
  }

  /** S9 catalog round-trip (ref CreateGitHubDataTable.usql:4-12): CTAS
    * the nation table into a persistent warehouse (catalog table +
    * session catalog, [[graft.core.Warehouse]]), then resolve it BY NAME
    * from a brand-new session whose catalog never saw the DDL — the
    * returned rows travelled through the on-disk catalog metadata, not
    * live session state. The warehouse root derives from the input dir
    * so concurrent scale factors don't collide. */
  def q80Catalog(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Warehouse
    val root = graft.core.FsOps.scratchRoot(spark, "q80", dir)
    Warehouse.saveTable(spark, root, "graftwh", "nation",
      table(spark, dir, "nation"))
    val fresh = spark.newSession()
    Warehouse.open(fresh, root)
    fresh.sql(
      "SELECT n_nationkey, n_name, n_regionkey FROM graftwh.nation")
  }

  /** Persisted VIEW through a cold start: a masked customer projection
    * published as `graftwh.customer_masked` (pseudonymized name — the
    * governance pattern: analysts query the view, never the raw PII
    * column), then resolved from a FRESH session whose only state is the
    * warehouse root ([[graft.core.Warehouse.createView]]/[[graft.core.Warehouse.open]]).
    * The oracle replays the view DEFINITION — catalog plumbing must be
    * result-invisible. */
  def q225CatalogView(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Warehouse
    val root = graft.core.FsOps.scratchRoot(spark, "q225", dir)
    Warehouse.saveTable(spark, root, "graftwh2", "customer",
      table(spark, dir, "customer"))
    Warehouse.createView(spark, root, "graftwh2", "customer_masked",
      """SELECT c_custkey,
        |  substr(sha2(concat('v1', c_name), 256), 1, 16) AS name_token,
        |  c_nationkey, c_mktsegment
        |FROM graftwh2.customer WHERE c_acctbal > 0""".stripMargin)
    val fresh = spark.newSession()
    Warehouse.open(fresh, root)
    fresh.sql("SELECT * FROM graftwh2.customer_masked")
  }

  /** Per-user exponentially decayed activity level (EWMA, α=0.5) over the
    * event stream — the bounded per-entity feature a training pipeline
    * derives from unbounded logs. Order-pinned float fold (see
    * [[graft.ops.Temporal.ewma]]): bit-identical to DuckDB's
    * `list_reduce` replay because both engines execute the same IEEE
    * operation sequence. */
  def q88Ewma(spark: SparkSession, dir: String): DataFrame =
    Temporal.ewma(events(spark, dir), "user_id",
        Seq("ts_us", "event_id"), "value", alpha = 0.5)
      .select(col("user_id"), col("n_obs"), round(col("ewma"), 6).as("ewma"))

  /** Holt linear-trend smoothing of each user's value series: q88's EWMA
    * with a trend state — level, trend, and one-step forecast per user.
    * Struct-accumulator ordered fold, bit-identical to DuckDB's
    * `list_reduce` replay ([[graft.ops.Temporal.holt]]); α=0.5, β=0.25
    * are exactly-representable doubles. */
  def q169Holt(spark: SparkSession, dir: String): DataFrame =
    Temporal.holt(events(spark, dir), "user_id",
        Seq("ts_us", "event_id"), "value", alpha = 0.5, beta = 0.25)
      .select(col("user_id"), col("n_obs"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("level") + col("trend"), 6).as("forecast"))

  /** Robust z-score outliers: orders whose price deviates from their
    * priority group's MEDIAN by more than 1.9× the group's MAD (median
    * absolute deviation) — the quartile-free anomaly rule that, unlike
    * mean/stddev z-scores, is not dragged by the outliers it hunts.
    * Two tiny broadcast joins (5 group rows each); exact `percentile`
    * (≡ DuckDB `quantile_cont`, the q35 pairing). For a 100 TB fact the
    * swap is `percentile_approx` (t-digest, one pass, mergeable) at the
    * cost of the exact oracle. */
  def q94RobustOutliers(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val med = o.groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    val dev = o.join(broadcast(med), "o_orderpriority")
      .withColumn("absdev", abs(col("o_totalprice") - col("med")))
    val mad = dev.groupBy(col("o_orderpriority"))
      .agg(expr("percentile(absdev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "o_orderpriority")
      .where(col("absdev") > lit(1.9) * col("mad"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        round(col("absdev") / col("mad"), 4).as("robust_z"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_catalog" -> q80Catalog,
    "q225_catalog_view" -> q225CatalogView,
    "q88_ewma" -> q88Ewma,
    "q169_holt" -> q169Holt,
    "q94_robust_outliers" -> q94RobustOutliers,
    "q73_funnel" -> q73Funnel,
    "q74_cohort" -> q74Cohort,
    "q69_profile" -> q69Profile,
    "q68_gap_fill" -> q68GapFill,
    "q43_asof_join" -> q43AsofJoin,
    "q44_range_join" -> q44RangeJoin,
    "q45_sessionize" -> q45Sessionize,
    "q46_pii_scrub" -> q46PiiScrub,
    "q47_tfidf" -> q47Tfidf,
    "q48_weighted_sample" -> q48WeightedSample,
    "q49_bloom_semi" -> q49BloomSemi,
    "q63_asof_forward" -> q63AsofForward
  )

  /** The synthesized PII text in DuckDB (|| casts ints itself). */
  private val piiRawSql =
    "'contact user' || doc_id || '@mail' || (doc_id % 7) || " +
      "'.example via https://ex' || (doc_id % 5) || " +
      "'.org/a?b=1 at 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) || " +
      "' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' :: ' || text"

  /** Scrub chain + per-kind counts generated from the SAME pattern list
    * the Spark side uses — the regexes cannot drift apart. */
  private def scrubSql: String = {
    val scrubbed = TextAnalysis.piiPatterns.foldLeft("raw") {
      case (acc, (_, pat, rep)) =>
        s"regexp_replace($acc, '$pat', '$rep', 'g')"
    }
    val counts = TextAnalysis.piiPatterns.map { case (kind, pat, _) =>
      s"len(regexp_extract_all(raw, '$pat')) AS n_$kind"
    }.mkString(",\n  ")
    s"""SELECT doc_id, $scrubbed AS scrubbed,
       |  $counts
       |FROM (SELECT doc_id, $piiRawSql AS raw FROM documents)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the catalog/view plumbing is result-invisible: the oracle is the
    // view DEFINITION (Spark sha2(·,256) ≡ DuckDB sha256, lowercase hex)
    "q225_catalog_view" ->
      """SELECT c_custkey,
        |  substr(sha256('v1' || c_name), 1, 16) AS name_token,
        |  c_nationkey, c_mktsegment
        |FROM customer WHERE c_acctbal > 0""".stripMargin,
    "q80_catalog" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    // list_reduce seeds with the first element and folds left — exactly
    // the engine's null-seeded first-observation fold; 0.5 is exact in
    // binary so both lambdas run the same IEEE sequence
    // recursive CTE, NOT a struct-accumulator list_reduce: DuckDB v1.0
    // updates a struct accumulator FIELD-BY-FIELD, so the trend
    // expression would read the already-overwritten level (verified
    // empirically). The CTE advances (l, t) one rank per user with
    // honest snapshot semantics; l_i's expression is repeated verbatim
    // inside t_i — same IEEE ops as the Spark fold, bit-identical.
    "q169_holt" ->
      """WITH RECURSIVE
        |s AS (SELECT user_id, value::DOUBLE x, row_number()
        |        OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) rn
        |      FROM events),
        |n AS (SELECT user_id, max(rn) mx FROM s GROUP BY user_id),
        |it(uid, rn, l, t) AS (
        |  SELECT user_id, 1, x, 0.0::DOUBLE FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.rn,
        |    0.5*s.x + 0.5*(it.l + it.t),
        |    0.25*(0.5*s.x + 0.5*(it.l + it.t) - it.l) + 0.75*it.t
        |  FROM it JOIN s ON s.user_id = it.uid AND s.rn = it.rn + 1)
        |SELECT it.uid AS user_id, n.mx AS n_obs, round(l, 6) AS level,
        |  round(t, 6) AS trend, round(l + t, 6) AS forecast
        |FROM it JOIN n ON n.user_id = it.uid AND it.rn = n.mx""".stripMargin,
    "q88_ewma" ->
      """SELECT user_id, count(*) AS n_obs,
        |  round(list_reduce(list(value ORDER BY epoch_us(ts), event_id),
        |    (acc, x) -> 0.5*x + 0.5*acc), 6) AS ewma
        |FROM events GROUP BY user_id""".stripMargin,
    "q94_robust_outliers" ->
      """WITH med AS (SELECT o_orderpriority,
        |               quantile_cont(o_totalprice, 0.5) med
        |             FROM orders GROUP BY 1),
        |dev AS (SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
        |          abs(o.o_totalprice - m.med) absdev
        |        FROM orders o JOIN med m USING (o_orderpriority)),
        |mad AS (SELECT o_orderpriority, quantile_cont(absdev, 0.5) mad
        |        FROM dev GROUP BY 1)
        |SELECT d.o_orderkey, d.o_orderpriority, d.o_totalprice,
        |  round(d.absdev / m.mad, 4) AS robust_z
        |FROM dev d JOIN mad m USING (o_orderpriority)
        |WHERE d.absdev > 1.9 * m.mad""".stripMargin,
    "q73_funnel" ->
      """WITH tv AS (SELECT user_id, min(epoch_us(ts)) t_view
        |            FROM events WHERE event_type = 'view' GROUP BY user_id),
        |tc AS (SELECT e.user_id, min(epoch_us(e.ts)) t_click
        |       FROM events e JOIN tv ON e.user_id = tv.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) >= tv.t_view
        |         AND epoch_us(e.ts) < tv.t_view + 86400000000
        |       GROUP BY e.user_id),
        |tp AS (SELECT e.user_id, min(epoch_us(e.ts)) t_purchase
        |       FROM events e JOIN tc ON e.user_id = tc.user_id
        |       WHERE e.event_type = 'purchase'
        |         AND epoch_us(e.ts) >= tc.t_click
        |         AND epoch_us(e.ts) < tc.t_click + 86400000000
        |       GROUP BY e.user_id)
        |SELECT stage, count(*) AS n_users FROM (
        |  SELECT CASE WHEN tp.user_id IS NOT NULL THEN 3
        |              WHEN tc.user_id IS NOT NULL THEN 2
        |              ELSE 1 END AS stage
        |  FROM tv LEFT JOIN tc ON tv.user_id = tc.user_id
        |          LEFT JOIN tp ON tv.user_id = tp.user_id)
        |GROUP BY stage""".stripMargin,
    "q74_cohort" ->
      """WITH ev AS (SELECT user_id, ts::DATE d FROM events),
        |cohort AS (SELECT user_id,
        |             date_trunc('week', min(d))::DATE cohort_w
        |           FROM ev GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id,
        |             date_trunc('week', d)::DATE w FROM ev)
        |SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week,
        |  (date_diff('day', cohort_w, w) / 7)::INT AS week_offset,
        |  count(*) AS n_active
        |FROM active JOIN cohort USING (user_id)
        |GROUP BY cohort_w, w""".stripMargin,
    "q69_profile" ->
      Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")
        .map { c =>
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
             |FROM orders""".stripMargin
        }.mkString("\nUNION ALL\n"),
    "q68_gap_fill" ->
      """WITH daily AS (SELECT o_orderpriority p, o_orderdate d,
        |                 round(sum(o_totalprice), 2) t
        |               FROM orders GROUP BY 1, 2),
        |b AS (SELECT p, min(d) mn, max(d) mx FROM daily GROUP BY p),
        |spine AS (SELECT p, unnest(generate_series(mn, mx,
        |            INTERVAL 1 DAY))::DATE d FROM b),
        |j AS (SELECT s.p, s.d, daily.t, daily.t IS NULL AS is_gap
        |      FROM spine s LEFT JOIN daily ON daily.p = s.p AND daily.d = s.d)
        |SELECT p AS o_orderpriority, strftime(d, '%Y-%m-%d') AS day,
        |  last_value(t IGNORE NULLS) OVER (PARTITION BY p ORDER BY d
        |    ROWS UNBOUNDED PRECEDING) AS filled,
        |  is_gap
        |FROM j""".stripMargin,
    "q48_weighted_sample" -> {
      val pri = "round(ln((('0x' || substr(md5(doc_id || ':w0'), 1, 15))::BIGINT)" +
        " / 1152921504606846976.0) / n_chars, 9)"
      s"""SELECT doc_id, lang, priority, rnk FROM (
         |  SELECT doc_id, lang, $pri AS priority,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY $pri DESC, doc_id ASC) AS rnk
         |  FROM documents) WHERE rnk <= 20""".stripMargin
    },
    "q49_bloom_semi" ->
      """SELECT l_suppkey, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM supplier
        |              WHERE s_suppkey = l_suppkey AND s_acctbal > 5000.0)
        |GROUP BY l_suppkey""".stripMargin,
    "q46_pii_scrub" -> scrubSql,
    "q47_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM t WHERE token <> '' GROUP BY doc_id, token),
        |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, token, tfidf, rnk FROM (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * ln((n.n + 1.0) / (dfr.df + 1.0)), 6) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * ln((n.n + 1.0) / (dfr.df + 1.0)), 6) DESC,
        |               tf.token ASC) AS rnk
        |  FROM tf JOIN dfr USING (token) CROSS JOIN n
        |) WHERE rnk <= 3""".stripMargin,
    "q43_asof_join" ->
      """SELECT click_id, user_id, purchase_id, purchase_value FROM (
        |  SELECT c.event_id AS click_id, c.user_id,
        |         p.event_id AS purchase_id, p.value AS purchase_value,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY p.ts DESC, p.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'click') c
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |    ON p.user_id = c.user_id AND p.ts <= c.ts
        |) WHERE rn = 1""".stripMargin,
    "q63_asof_forward" ->
      """SELECT click_id, user_id, purchase_id, purchase_value FROM (
        |  SELECT c.event_id AS click_id, c.user_id,
        |         p.event_id AS purchase_id, p.value AS purchase_value,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY p.ts ASC, p.event_id ASC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'click') c
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |    ON p.user_id = c.user_id AND p.ts >= c.ts
        |) WHERE rn = 1""".stripMargin,
    "q44_range_join" ->
      """SELECT i.event_id AS error_id, count(*) AS n_events,
        |  round(sum(e.value), 2) AS sum_value
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') i
        |JOIN events e
        |  ON epoch_us(e.ts) >= epoch_us(i.ts)
        | AND epoch_us(e.ts) < epoch_us(i.ts) + 600000000
        |GROUP BY i.event_id""".stripMargin,
    "q45_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |y AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(event_id) AS first_event, max(event_id) AS last_event,
        |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        |FROM y GROUP BY user_id, session_id""".stripMargin
  )
}
