package graft.queries

import graft.core.{Snapshots, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming query surface with DuckDB oracles: the streaming
  * plans run to completion (`Trigger.AvailableNow`) over the driver's
  * `events` table, land in a memory sink, and the finished result is
  * compared against SQL replaying the same watermark-emission rule — so
  * the streaming path gets the same hash-match correctness gate as the
  * batch operators, not just spec coverage.
  *
  * The reference corpus has no streams (SURVEY.md §2.12); this is the
  * engine-surface extension that feeds the same merge semantics from a
  * stream. Scale shape: the file source lists incrementally, the windowed
  * aggregate keeps one row of state per (window, key) bounded by the
  * watermark, and the sink is append-only — nothing here is local-mode
  * specific.
  */
object StreamingQueries {

  /** Run `f` with shuffle partitions pinned to `n` for a stateful stream.
    *
    * Stateful operators allocate one state-store instance per shuffle
    * partition (a stream-stream join allocates FOUR — two per side), and
    * each store carries fixed per-batch cost (provider init, snapshot,
    * commit). Partition count is therefore a STATE-VOLUME knob, not a
    * CPU-count knob: these streams hold KBs of state, so a handful of
    * partitions is right; a 100 TB/day stream would raise it to spread
    * store size, independently of executor cores. The setting is pinned
    * into the query's checkpoint at first start (changing it later needs
    * a new checkpoint), so it belongs HERE, per stream — the batch
    * queries keep the session-wide parallelism. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** The `events` table of `dir` as a file stream. File sources list a
    * DIRECTORY, so a glob pins the one table; the schema comes from its
    * footer. `normalizeEventTs` pins `ts` to the epoch-NANOS-long contract
    * whatever the corpus drop shipped (ns-as-long or µs timestamp), and
    * `event_ts` truncates it to micros with integer DIV, exactly like
    * DuckDB's ns->us read does. */
  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Tables.parquet(spark, s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(Tables.normalizeEventTs)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))

  /** Run `df` to completion (`AvailableNow`) into a fresh memory sink and
    * return the sink's table. The checkpoint is removed once the stream
    * has terminated: the memory sink already holds the result. */
  private def runToMemory(df: DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    val sink = s"${name}_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = new org.apache.hadoop.fs.Path(
      s"${System.getProperty("java.io.tmpdir")}/graft-ckpt-$sink")
    try df.writeStream.format("memory").queryName(sink).outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally ckpt.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).delete(ckpt, true)
    df.sparkSession.table(sink)
  }

  /** Six-hour tumbling-window event counts per type, append mode with a
    * zero-delay watermark, run to completion over the events table.
    *
    * Append emission rule this replays (and the oracle encodes): a window
    * is emitted once the watermark — max event time seen at the end of
    * the PREVIOUS micro-batch, minus the delay — passes its end; with
    * `AvailableNow` the engine runs a final no-data batch after the last
    * file, so every window whose end <= max(ts) flushes, and the
    * still-open tail window (containing max(ts)) stays in state,
    * unemitted. Window starts/ends are epoch-aligned (Spark `window()`
    * and DuckDB `time_bucket` agree for midnight-phase intervals) and
    * formatted as strings to sidestep the parquet ns-vs-µs divergence. */
  def q37StreamWindow(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val counts = Streams.windowedCounts(eventStream(spark, dir), "event_ts", "event_type",
      windowDur = "6 hours", slideDur = "6 hours", watermarkDelay = "0 seconds")
    runToMemory(counts, "q37").select(
      date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
      col("event_type"),
      col("n_events"))
  }

  /** Stream-static enrichment: the event stream inner-joined to the
    * static `customer` dimension (broadcast per micro-batch, stateless),
    * then 6-hour tumbling revenue/count per market segment, append mode,
    * run to completion. The watermark sits on the stream BEFORE the join,
    * so flush is governed by max(ts) over ALL events — the oracle
    * replays the join plus exactly that rule. Revenue in integer cents
    * per row before the sum (merge-order-proof). */
  def q89StreamEnrich(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val dim = Tables.parquet(spark, s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = Streams.enrichedWindowedAgg(eventStream(spark, dir), dim,
      streamKey = "user_id", dimKey = "c_custkey", tsCol = "event_ts",
      segCol = "c_mktsegment", valueCol = "value",
      windowDur = "6 hours", watermarkDelay = "0 seconds")
    runToMemory(agg, "q89").select(
      date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
      col("c_mktsegment"), col("n_events"), col("revenue_cents"))
  }

  /** Streaming session windows per user (12h gap), append mode, run to
    * completion. Emission rule: a session closes when the final watermark
    * (= max(ts), zero delay) passes its end = last event + gap — the
    * still-open tail session per user stays in state, unemitted. Session
    * boundaries use the native `session_window` split rule (only a
    * strictly-larger-than-gap silence splits; an event exactly on the
    * session end merges); the oracle replays exactly that on
    * epoch-micros. */
  // q51 keeps the session-wide partitioning: session-window state spans
  // (user × session) keys — enough rows that the per-partition merge sort,
  // not store count, dominates; see withStatePartitions for the trade.
  def q51StreamSession(spark: SparkSession, dir: String): DataFrame = {
    val sessions = Streams.sessionWindows(eventStream(spark, dir), "event_ts", "user_id",
      gap = "12 hours", watermarkDelay = "0 seconds")
    runToMemory(sessions, "q51").select(
      col("user_id"),
      date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
      date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
      col("n_events"))
  }

  /** Streaming exact dedup (watermark-bounded state): first occurrence
    * per (user_id, event_type) over the event stream. All data arrives
    * inside one AvailableNow batch, so the within-watermark guarantee
    * coincides with global distinct — which is exactly what the oracle
    * spells. Only the key columns are projected: WHICH physical row
    * survives is arrival-order-dependent, the key set is not. */
  def q60StreamDedup(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val deduped = Streams.dedupStream(eventStream(spark, dir), "event_ts",
      Seq("user_id", "event_type"), watermarkDelay = "1 hour")
      .select(col("user_id"), col("event_type"))
    runToMemory(deduped, "q60")
  }

  /** Stream-stream inner interval join: each purchase matched to the same
    * user's clicks in the preceding hour. Inner-join emission is
    * watermark-independent (pairs emit when the later side arrives;
    * the watermark only bounds state), so run-to-completion output ≡ the
    * batch join the oracle spells. */
  def q61StreamJoin(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val clicks = eventStream(spark, dir).where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_ts").as("click_ts"))
    val purchases = eventStream(spark, dir).where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_ts").as("purchase_ts"))
    val joined = Streams.intervalJoin(clicks, purchases, "user_id",
      "click_ts", "purchase_ts", intervalUpper = "1 HOUR",
      watermarkDelay = "0 seconds")
      .select(col("click_id"), col("l.user_id").as("user_id"),
        col("purchase_id"))
    runToMemory(joined, "q61")
  }

  /** Streaming LEFT OUTER interval join, run to completion: every click
    * with its same-user purchases inside [click, click+1h] — and clicks
    * with NO such purchase as null-padded rows once the watermark proves
    * no match can arrive ([[Streams.intervalJoinOuter]]). The oracle
    * replays the batch left join plus the eviction rule: null rows only
    * for clicks whose 1-hour deadline the final watermark (min of the
    * two stream maxima) passed. */
  def q170StreamOuterJoin(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val clicks = eventStream(spark, dir).where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_ts").as("click_ts"))
    val purchases = eventStream(spark, dir).where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_ts").as("purchase_ts"))
    val joined = Streams.intervalJoinOuter(clicks, purchases, "user_id",
      "click_ts", "purchase_ts", intervalUpper = "1 HOUR",
      watermarkDelay = "0 seconds")
      .select(col("click_id"), col("l.user_id").as("user_id"),
        col("purchase_id"))
    runToMemory(joined, "q170")
  }

  /** Exact distinct users per 6-hour window on the event stream —
    * [[Streams.windowedUniqueKeys]]' dedup-then-count shape (the only
    * exact streaming spelling of count(DISTINCT); chained aggregates are
    * unsupported and approx_count_distinct is inexact), run to
    * completion; oracle = SELECT DISTINCT + GROUP BY + the q37 flush
    * rule. */
  def q167StreamUniques(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val uniq = Streams.windowedUniqueKeys(eventStream(spark, dir), "event_ts", "user_id",
      windowDur = "6 hours", watermarkDelay = "0 seconds")
    runToMemory(uniq, "q167").select(
      date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
      col("n_unique"))
  }

  /** Exactly-once streaming MERGE INTO run to completion: the events file
    * stream upserts into a scratch warehouse table keyed by user, newest
    * (ts, event_id) version wins — so the finished table is the latest
    * event per user. The version-aware merge is order-insensitive across
    * micro-batches (an older version arriving later never regresses a
    * row), so the result is deterministic however the file source splits
    * batches, and the oracle replays it as one rank-1 window. */
  def q161StreamUpsert(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val events = eventStream(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val root = graft.core.FsOps.scratchRoot(spark, "q161", dir)
    val q = Streams.upsertSink(events, root, "user_latest",
      keys = Seq("user_id"), versionCols = Seq("ts", "event_id"),
      checkpoint = s"$root/_ckpt")
    q.awaitTermination()
    Snapshots.open(spark, root).read(spark, "user_latest")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
  }

  /** Stream-static SCD2 enrichment: the event stream joined to the
    * point-in-time-correct dimension VERSION — each event picks the SCD2
    * interval (built batch-side with [[graft.ops.History.scd2]] over user
    * states) that was valid AT ITS EVENT TIME, `valid_from ≤ ts <
    * valid_to` — not the latest row, the as-of row. Stateless
    * stream-static join (dimension broadcast per micro-batch, no
    * watermark needed: nothing aggregates, every joined row appends);
    * at 100 TB/day this is the enrichment shape for late-arriving facts,
    * because replayed events still land on their historical version. */
  def q215StreamScd2(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val events = eventStream(spark, dir)
      .withColumn("ts_us", expr("ts div 1000L"))
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val dim = graft.ops.History.scd2(
        Tables.table(spark, dir, "events")
          .withColumn("ts_us", expr("ts div 1000L")),
        Seq("user_id"), col("ts_us"), col("event_id"), Seq("event_type"))
      .select(col("user_id").as("d_user"), col("event_type").as("state"),
        col("valid_from"), col("valid_to"), col("version"))
    val joined = events.join(dim,
        col("user_id") === col("d_user") &&
          col("ts_us") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts_us") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("state"), col("version"))
    runToMemory(joined, "q215")
  }

  /** COMPLETE-output-mode streaming aggregate: the per-type running
    * event count re-emitted in full every micro-batch — the third output
    * mode next to the suite's append windows (q37/q51) and update-shaped
    * upserts (q161). No watermark, unwindowed grouping: complete mode is
    * the one legal spelling for a global streaming aggregate, and its
    * state is exactly |groups| rows (5 here — bounded by key
    * cardinality, not stream length, which is why it scales). After
    * `AvailableNow` runs to completion the final emission IS the batch
    * group-by, which is what the oracle replays. */
  def q232StreamComplete(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val counts = eventStream(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 1000) as bigint)")).as("value_milli"))
    runToMemory(counts, "q232", "complete")
  }

  /** Streaming ingest over the native Avro connector
    * ([[graft.sources.AvroSource]]): the events stream is exported as
    * Avro container shards (the exchange-feed layout), then re-ingested
    * with `readStream.format("graftavro")` under `Trigger.AvailableNow`
    * and aggregated per event type — count plus integer-cents value sum.
    * Complete mode: the aggregate is tiny (one row per type) and the run
    * drains the whole listing, so the sink holds the final totals, which
    * the oracle replays from the ORIGINAL parquet (the avro hop + the
    * micro-batch replay must be exactly lossless, the q245 contract
    * extended to the streaming path). One micro-batch per trigger, one
    * partition per container shard. */
  def q249StreamAvroIngest(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    val base = graft.core.FsOps.scratchRoot(spark, "q249", dir)
    Tables.table(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
      .write.format("graftavro").mode("overwrite").save(base)
    val stream = spark.readStream.format("graftavro").load(base)
    val agg = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("value_cents"))
    runToMemory(agg, "q249", "complete")
      .select(col("event_type"), col("n_events"), col("value_cents"))
  }

  /** Streaming quantile state ([[Streams.histogramSink]]): the events
    * stream drains in FOUR micro-batches (maxFilesPerTrigger=1 over a
    * 4-file staged copy), each batch binned once and sum-merged into the
    * ≤100-row (bin, cnt) state table, one watermarked commit per batch
    * (a replayed batch is a no-op), and quantiles read off that table —
    * the mergeable-histogram sketch (q264) as streaming state: fact
    * rows are binned exactly once, never revisited, and batch order
    * can't matter because sum-merge is a semilattice. The oracle
    * replays the identical integer pipeline over events directly —
    * merge-across-batches must be invisible. */
  def q265StreamQuantiles(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, 8) {
    import graft.ops.Sketches
    val lo = 0L; val hi = 50000L; val bins = 100
    val base = graft.core.FsOps.scratchRoot(spark, "q265", dir)
    Tables.table(spark, dir, "events")
      .select(col("event_id"),
        round(col("value") * 100).cast("long").as("vc"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$base/feed")
    val stream = spark.readStream.schema(Tables.parquet(spark, s"$base/feed").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
    val q = Streams.histogramSink(stream, s"$base/state", "vc",
      lo, hi, bins, s"$base/ckpt")
    q.awaitTermination()
    Sketches.histQuantile(Streams.histogramState(spark, s"$base/state"),
      Seq((1, 4), (1, 2), (3, 4), (9, 10)), lo, hi, bins)
      .orderBy(col("p_den"), col("p_num"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q265_stream_quantiles" -> q265StreamQuantiles,
    "q215_stream_scd2" -> q215StreamScd2,
    "q232_stream_complete" -> q232StreamComplete,
    "q37_stream_window" -> q37StreamWindow,
    "q249_stream_avro_ingest" -> q249StreamAvroIngest,
    "q51_stream_session" -> q51StreamSession,
    "q60_stream_dedup" -> q60StreamDedup,
    "q61_stream_join" -> q61StreamJoin,
    "q89_stream_enrich" -> q89StreamEnrich,
    "q161_stream_upsert" -> q161StreamUpsert,
    "q167_stream_uniques" -> q167StreamUniques,
    "q170_stream_outer_join" -> q170StreamOuterJoin
  )

  val oracles: Map[String, String] = Map(
    // batch partials sum-merge to exactly the one-shot histogram, so the
    // oracle replays the q264 integer pipeline straight over events
    "q265_stream_quantiles" ->
      """WITH cents AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |hist AS (
        |  SELECT least(99, greatest(0, v * 100 // 50000)) AS bin,
        |    count(*) AS cnt
        |  FROM cents GROUP BY 1),
        |cum AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM hist),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hist),
        |probs(p_num, p_den) AS (VALUES (1,4),(1,2),(3,4),(9,10)),
        |t AS (SELECT p_num, p_den,
        |    greatest(1, (n_total * p_num + p_den - 1) // p_den) AS t
        |  FROM probs, n)
        |SELECT p_num, p_den, CAST(t AS BIGINT) AS t,
        |  CAST(bin AS BIGINT) AS bin,
        |  round(0.0 + (50000.0 / 100) * (CAST(bin AS DOUBLE)
        |    + CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)), 4)
        |    AS est
        |FROM cum, t WHERE cum >= t AND cum - cnt < t
        |ORDER BY p_den, p_num""".stripMargin,
    // the avro hop + micro-batch drain are identity — replay from parquet
    "q249_stream_avro_ingest" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events GROUP BY 1""".stripMargin,
    // complete mode's final emission after AvailableNow IS the batch
    // group-by; milli-quantized value sums are merge-order-proof
    "q232_stream_complete" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS value_milli
        |FROM events GROUP BY 1""".stripMargin,
    // stateless stream-static join: every event lands on its as-of SCD2
    // version; the oracle is the q81 interval build + the interval join
    "q215_stream_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) ts_us FROM events),
        |x AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts_us, event_id) prev
        |      FROM e),
        |ch AS (SELECT user_id, event_id, event_type, ts_us FROM x
        |       WHERE prev IS NULL OR event_type <> prev),
        |scd AS (SELECT user_id, event_type AS state,
        |    ts_us AS valid_from, lead(ts_us) OVER w AS valid_to,
        |    row_number() OVER w AS version
        |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT e.event_id, e.user_id, scd.state, scd.version
        |FROM e JOIN scd ON e.user_id = scd.user_id
        |  AND e.ts_us >= scd.valid_from
        |  AND (scd.valid_to IS NULL OR e.ts_us < scd.valid_to)""".stripMargin,
    // matched rows stream through unconditionally; null-padded rows only
    // for clicks whose match deadline (click + 1h) the final watermark —
    // the MIN of the two per-stream maxima, delay 0 — strictly passed
    "q170_stream_outer_join" ->
      """WITH c AS (SELECT event_id click_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id purchase_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase'),
        |m AS (SELECT least((SELECT max(ts) FROM c),
        |                   (SELECT max(ts) FROM p)) wm),
        |j AS (SELECT c.click_id, c.user_id, p.purchase_id
        |      FROM c JOIN p ON c.user_id = p.user_id
        |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'),
        |u AS (SELECT c.click_id, c.user_id, NULL::BIGINT AS purchase_id
        |      FROM c, m WHERE c.ts + INTERVAL '1 hour' < m.wm
        |        AND NOT EXISTS (SELECT 1 FROM p
        |          WHERE p.user_id = c.user_id AND p.ts >= c.ts
        |            AND p.ts <= c.ts + INTERVAL '1 hour'))
        |SELECT * FROM j UNION ALL SELECT * FROM u""".stripMargin,
    "q167_stream_uniques" ->
      """WITH e AS (SELECT DISTINCT time_bucket(INTERVAL '6 hours', ts) ws,
        |             user_id FROM events),
        |b AS (SELECT ws, count(*) AS n_unique FROM e GROUP BY ws),
        |m AS (SELECT max(ts) mx FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(ws + INTERVAL '6 hours', '%Y-%m-%d %H:%M:%S') AS window_end,
        |  n_unique
        |FROM b, m WHERE ws + INTERVAL '6 hours' <= mx""".stripMargin,
    "q161_stream_upsert" ->
      """WITH r AS (SELECT user_id, event_id, event_type, "value",
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) rn
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  "value" AS last_value
        |FROM r WHERE rn = 1""".stripMargin,
    "q60_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // flush clock = max(ts) over ALL events (watermark precedes the join),
    // not just joined rows
    "q89_stream_enrich" ->
      """WITH j AS (SELECT time_bucket(INTERVAL '6 hours', e.ts) ws,
        |             c.c_mktsegment, count(*) AS n_events,
        |             CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |           FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |           GROUP BY 1, 2),
        |m AS (SELECT max(ts) mx FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(ws + INTERVAL '6 hours', '%Y-%m-%d %H:%M:%S') AS window_end,
        |  c_mktsegment, n_events, revenue_cents
        |FROM j, m WHERE ws + INTERVAL '6 hours' <= mx""".stripMargin,
    "q61_stream_join" ->
      """SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000""".stripMargin,
    "q37_stream_window" ->
      """WITH b AS (SELECT time_bucket(INTERVAL '6 hours', ts) ws, event_type,
        |             count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |m AS (SELECT max(ts) mx FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(ws + INTERVAL '6 hours', '%Y-%m-%d %H:%M:%S') AS window_end,
        |  event_type, n_events
        |FROM b, m WHERE ws + INTERVAL '6 hours' <= mx""".stripMargin,
    "q51_stream_session" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM x),
        |s AS (SELECT user_id, sid, count(*) AS n_events,
        |        min(ts) AS first_ts, max(ts) AS last_ts
        |      FROM y GROUP BY user_id, sid),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT user_id,
        |  strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(last_ts + INTERVAL 12 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  n_events
        |FROM s, m WHERE last_ts + INTERVAL 12 HOUR <= mx""".stripMargin
  )
}
