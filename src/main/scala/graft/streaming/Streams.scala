package graft.streaming

import graft.core.{Snapshots, Tables}
import graft.entities.{Pipelines, Specs}
import graft.ingest.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming extension: the reference is strictly daily batch
  * (SURVEY.md §2.12), but its merge semantics are incremental by
  * construction — latest-effective-timestamp-wins per key self-corrects as
  * data arrives. These operators feed the SAME merge executors from a file
  * stream, so batch and streaming share one code path.
  *
  * Scale shape: the file source lists incrementally (maxFilesPerTrigger
  * bounds batch size); `foreachBatch` reuses the batch merge plan per
  * micro-batch; stateful dedup keeps one small struct per key with
  * watermark-bounded eviction.
  */
object Streams {

  /** Raw crawled-JSON file stream → staged rows (same projection as
    * [[Staging.stage]]); `ingest_date` derived from each doc's processed
    * timestamp rather than a path parameter. */
  def stagedStream(spark: SparkSession, rawRoot: String,
      maxFilesPerTrigger: Int = 64): DataFrame = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(rawRoot)
      .toDF("data")
    Staging.stage(raw, ingestDate = "")
      .withColumn("ingest_date", date_format(col("processed_at"), "yyyy-MM-dd"))
  }

  /** Incremental snapshot maintenance: every micro-batch merges into
    * `spec.table` through the daily executor itself
    * ([[Pipelines.mergeSnapshot]]) — `Trigger.AvailableNow` makes this the
    * streaming twin of the daily `ProcessDaily` run. `curatedDir` is a
    * [[Snapshots]] root holding that one table; read it with
    * `Snapshots.open(spark, curatedDir).read(spark, spec.table)`.
    *
    * Exactly-once: each batch is one [[commitBatch]], so a replayed batch
    * id (foreachBatch is at-least-once; a fresh checkpoint restarts ids at
    * 0) is a no-op even for `truncate=false` specs, whose merge APPENDS
    * (the CommitParent quirk). */
  def incrementalSnapshot(spark: SparkSession, rawRoot: String,
      curatedDir: String, spec: Specs.SnapshotSpec,
      checkpoint: String): StreamingQuery =
    stagedStream(spark, rawRoot)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(spark, curatedDir, batchId)(stageTable(spec.table) { prior =>
          val fresh = Pipelines.freshSnapshot(batch, spec)
          Pipelines.mergeSnapshot(prior.getOrElse(fresh.limit(0)), fresh, spec)
        })
      }
      .start()

  /** Apply micro-batch `batchId` to the sink's [[Snapshots]] root `root`
    * as one commit: `stage` stages the batch's tables into the pending
    * version, which lands in the same put-if-absent record as the stream
    * watermark advanced to `batchId`. A batch at or below the watermark is
    * a replay and writes nothing; a crash before the commit leaves only
    * invisible staging dirs. Either way no batch applies twice. */
  private def commitBatch(spark: SparkSession, root: String, batchId: Long)
      (stage: Snapshots.Txn => Unit): Unit = {
    val txn = Snapshots.begin(spark, root)
    if (stageBatch(txn, batchId)(stage)) {
      txn.commit()
      Snapshots.vacuum(spark, root, keepLast = 2)
    }
  }

  /** [[commitBatch]]'s staging half: false, staging nothing, for a
    * replayed batch. */
  private[graft] def stageBatch(txn: Snapshots.Txn, batchId: Long)
      (stage: Snapshots.Txn => Unit): Boolean =
    !txn.watermark.exists(_ >= batchId) && { stage(txn); txn.advance(batchId); true }

  /** Stage `table`, the one table of a sink root, as `next` of its prior
    * version (None before the first batch). */
  private[graft] def stageTable(table: String)(next: Option[DataFrame] => DataFrame)
      (txn: Snapshots.Txn): Unit = {
    val prior = txn.parent.map { p =>
      // one watermark per root: a second stream's batches would read as replays
      require(p.dirs.keySet == Set(table),
        s"${txn.root} holds ${p.dirs.keys.mkString(", ")}; a stream sink root holds only its $table")
      p.read(txn.spark, table)
    }
    txn.stage(table, next(prior))
  }

  /** Watermarked sliding-window event counts — the standard streaming
    * aggregate (late rows beyond the watermark are dropped, state is
    * evicted). `append` output emits each window once, on close. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowDur: String, slideDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur, slideDur), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("n_events"))

  /** Watermarked session windows: events within `gap` of each other merge
    * into one session per key (native `session_window` state — sessions
    * merge across micro-batches, state evicts once the watermark passes a
    * session's end = last event + gap). The streaming dual of
    * [[graft.ops.Temporal.sessionize]], with identical gap semantics: an
    * event landing exactly on a session's end still merges — only a
    * strictly larger gap splits. */
  def sessionWindows(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): a key's dedup state is evicted
    * once the watermark passes its event time + delay, so an unbounded
    * key space (URLs, doc hashes, event ids at 100 TB/day) cannot
    * accumulate state forever — the guarantee weakens from global to
    * "no duplicates within the watermark horizon", which is the right
    * trade for at-least-once upstream retries. Dedup is a stateful
    * filter, not an aggregate: surviving rows emit in the micro-batch
    * they arrive. Which physical row survives per key is
    * arrival-order-dependent — project the key columns downstream when
    * determinism matters. */
  def dedupStream(events: DataFrame, tsCol: String, keys: Seq[String],
      watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream inner join: right rows with the same key
    * inside `[leftTs, leftTs + intervalUpper]`. The event-time range
    * predicate is mandatory design, not decoration — it is what lets the
    * engine derive a state-retention bound per side (left rows evict
    * once the watermark passes `leftTs + intervalUpper`; right rows once
    * it passes `rightTs`), keeping join state finite on unbounded
    * streams. Matched pairs emit in the batch the later row arrives. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, intervalUpper: String,
      watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $intervalUpper"),
      "inner")
  }

  /** LEFT OUTER [[intervalJoin]]: matched pairs stream through like the
    * inner join; an unmatched left row emits ONCE, null-padded, when the
    * watermark passes `leftTs + intervalUpper` (the point where a match
    * is provably impossible and the row's state evicts). Both sides need
    * the watermark — the eviction clock is the MIN of the two stream
    * watermarks. Run to completion, the null-padded set is exactly the
    * unmatched left rows whose deadline the final watermark passed — the
    * replayable flush rule the oracle uses. */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, intervalUpper: String,
      watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $intervalUpper"),
      "leftOuter")
  }

  /** Per-key latest-version state: the snapshot-merge idiom as
    * flatMapGroupsWithState. Emits a row only when the incoming version is
    * newer than the stored one (effective-timestamp comparison, the P6
    * ternary). Pass `stateTtl` to evict state for keys silent longer than
    * the TTL, bounding state size on unbounded key spaces — note the
    * processing-time timeout makes Spark schedule periodic no-data
    * batches, so enable it only on genuinely continuous triggers. */
  final case class VersionedDoc(key: String, effectiveTs: java.sql.Timestamp,
      payload: String)

  /** Single-pass running max by effective-ts — O(1) memory however many
    * versions a hot key receives in one micro-batch (the previous
    * materialized `maxBy` buffered the whole group). Strict `>` keeps
    * the earliest-seen element on ties, matching `maxBy` over
    * state-then-rows order. */
  private def newestOf(seed: Option[VersionedDoc],
      rows: Iterator[VersionedDoc]): VersionedDoc = {
    def ts(d: VersionedDoc): Long =
      Option(d.effectiveTs).fold(Long.MinValue)(_.getTime)
    var best = seed.orNull
    rows.foreach { d => if (best == null || ts(d) > ts(best)) best = d }
    best
  }

  def latestPerKeyStream(docs: org.apache.spark.sql.Dataset[VersionedDoc],
      stateTtl: Option[String] = None): org.apache.spark.sql.Dataset[VersionedDoc] = {
    import docs.sparkSession.implicits._
    val timeoutConf = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    docs.groupByKey(_.key)
      .flatMapGroupsWithState[VersionedDoc, VersionedDoc](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[VersionedDoc]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val best = newestOf(state.getOption, rows)
            val isNew = state.getOption.forall(s =>
              best.effectiveTs != null && (s.effectiveTs == null ||
                best.effectiveTs.after(s.effectiveTs)))
            state.update(best)
            stateTtl.foreach(state.setTimeoutDuration)
            if (isNew) Iterator.single(best) else Iterator.empty
          }
      }
  }

  /** [[latestPerKeyStream]] on Spark 4's `transformWithState` — the
    * successor API for arbitrary stateful processing (typed per-key state
    * handles, first-class per-state TTL, timers, schema evolution of
    * state). Same emission semantics as the flatMapGroupsWithState
    * version: a row emits only when it advances the key's effective
    * timestamp. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — which is also the provider
    * a 100 TB deployment runs anyway: state spills to disk + SST
    * snapshots instead of living on the JVM heap.
    *
    * `stateTtl` maps to `TTLConfig` — eviction is handled by the state
    * store itself (no processing-time timers, no forced no-data
    * batches — strictly better than the GroupStateTimeout spelling). */
  class LatestVersionProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, VersionedDoc, VersionedDoc] {
    import org.apache.spark.sql.streaming.{TimerValues, TimeMode, TTLConfig, ValueState}
    @transient private var latest: ValueState[VersionedDoc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[VersionedDoc]("latest",
        org.apache.spark.sql.Encoders.product[VersionedDoc],
        if (ttl == null) TTLConfig.NONE else ttl)

    override def handleInputRows(key: String, rows: Iterator[VersionedDoc],
        timerValues: TimerValues): Iterator[VersionedDoc] = {
      val stored = if (latest.exists()) Some(latest.get()) else None
      val best = newestOf(stored, rows)
      val isNew = stored.forall(s =>
        best.effectiveTs != null && (s.effectiveTs == null ||
          best.effectiveTs.after(s.effectiveTs)))
      latest.update(best)
      if (isNew) Iterator.single(best) else Iterator.empty
    }
  }

  def latestPerKeyTws(docs: org.apache.spark.sql.Dataset[VersionedDoc],
      stateTtl: Option[java.time.Duration] = None)
      : org.apache.spark.sql.Dataset[VersionedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    val ttl = stateTtl.fold(TTLConfig.NONE)(TTLConfig.apply)
    docs.groupByKey(_.key)
      .transformWithState(new LatestVersionProcessor(ttl),
        TimeMode.None(), OutputMode.Append())
  }

  final case class TokenEvent(key: String, item: String)
  final case class HeavyHitter(key: String, item: String, count: Long)

  /** Misra–Gries streaming heavy hitters on `transformWithState`: per
    * stream key (e.g. per tenant or event type), maintain at most
    * `capacity` frequent-item counters in a typed `MapState` and emit the
    * surviving candidate set (count-descending, item tiebreak) after each
    * micro-batch that touches the key.
    *
    * The Misra–Gries guarantee holds per key across batches because the
    * decrement step is applied to the PERSISTED counter map: any item
    * whose true frequency exceeds N/capacity (N = items seen for that
    * key) is guaranteed present, and each reported count undercounts by
    * at most N/capacity. State is O(capacity) per key — bounded no matter
    * how many distinct items stream past (the whole point vs an exact
    * groupBy count at 100 TB/day); RocksDB keeps it off-heap.
    */
  class HeavyHittersProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, TokenEvent, HeavyHitter] {
    import org.apache.spark.sql.streaming.{MapState, TimerValues, TimeMode, TTLConfig}
    @transient private var counters: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[String, Long]("mg",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[TokenEvent],
        timerValues: TimerValues): Iterator[HeavyHitter] = {
      // hot path runs on a LOCAL mirror of the (≤ capacity)-entry map:
      // the state store is scanned ONCE per (key, batch) and written
      // O(capacity) at the end. The previous spelling paid a full
      // MapState scan per previously-unseen item just to test fullness
      // (plus per-row store reads) — O(capacity) state-store work per
      // ROW on the mostly-distinct streams heavy hitters exist for.
      val local = scala.collection.mutable.HashMap[String, Long]()
      counters.iterator().foreach { p => local(p._1) = p._2 }
      rows.foreach { e =>
        if (local.contains(e.item)) local(e.item) += 1
        else if (local.size < capacity) local(e.item) = 1L
        else { // Misra–Gries decrement-all; drop counters reaching zero
          val ks = local.keys.toArray
          ks.foreach { k =>
            val v = local(k) - 1
            if (v <= 0) local.remove(k) else local(k) = v
          }
        }
      }
      counters.iterator().toSeq.foreach { p =>
        if (!local.contains(p._1)) counters.removeKey(p._1)
      }
      local.foreach { case (item, c) => counters.updateValue(item, c) }
      local.toSeq
        .sortBy { case (item, c) => (-c, item) }
        .map { case (item, c) => HeavyHitter(key, item, c) }
        .iterator
    }
  }

  /** [[HeavyHittersProcessor]] over a token stream; requires the RocksDB
    * state store provider (as any at-scale deployment runs). Emits the
    * candidate set per key per touched batch — downstream takes the
    * latest batch per key for the current view. */
  def heavyHittersStream(tokens: org.apache.spark.sql.Dataset[TokenEvent],
      capacity: Int): org.apache.spark.sql.Dataset[HeavyHitter] = {
    import tokens.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    tokens.groupByKey(_.key)
      .transformWithState(new HeavyHittersProcessor(capacity),
        TimeMode.None(), OutputMode.Append())
  }

  /** Stream-static enrichment + windowed rollup: join a (small) static
    * dimension onto an event stream, then tumbling-window aggregates per
    * dimension attribute. The stream-static join is STATELESS — the dim
    * is broadcast fresh each micro-batch (so an updated dim table is
    * picked up on the next batch), and only the windowed aggregate holds
    * state, one row per (window, segment) bounded by the watermark.
    *
    * The watermark is declared on the stream BEFORE the join, so the
    * emission clock advances with ALL arriving events — including ones
    * the inner join drops — which keeps the flush rule replayable as
    * "window end ≤ max event time over the whole stream".
    *
    * Revenue aggregates in integer cents (per-row `round(value·100)` cast
    * to long before the sum — the q72/q86 rule: merge order can never
    * change a cent). */
  def enrichedWindowedAgg(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String, tsCol: String, segCol: String,
      valueCol: String, windowDur: String,
      watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .join(broadcast(dim), col(streamKey) === col(dimKey))
      .groupBy(window(col(tsCol), windowDur, windowDur), col(segCol))
      .agg(count(lit(1)).as("n_events"),
        sum(expr(s"cast(round($valueCol * 100, 0) as bigint)"))
          .as("revenue_cents"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(segCol),
        col("n_events"), col("revenue_cents"))

  /** Exact windowed DISTINCT-count — `count(DISTINCT user)` per window,
    * which streaming aggregation cannot express directly (chained
    * aggregates are unsupported; `approx_count_distinct` trades
    * exactness). The legal shape is dedup-then-count: watermarked
    * `dropDuplicates` on (window, key) — state one row per distinct pair,
    * evicted with the watermark because the window column carries event
    * time — feeding ONE windowed aggregate. Same append-emission rule as
    * [[windowedCounts]] (window flushes when the watermark passes its
    * end), so the oracle replays it as `SELECT DISTINCT` + GROUP BY. */
  def windowedUniqueKeys(events: DataFrame, tsCol: String, keyCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .select(window(col(tsCol), windowDur, windowDur).as("window"),
        col(keyCol))
      .dropDuplicates("window", keyCol)
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_unique"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_unique"))

  // -- exactly-once streaming MERGE INTO -------------------------------------

  /** Apply one micro-batch as a version-aware MERGE into `table`, the one
    * table of the [[Snapshots]] root `tableDir` — the reusable body of
    * [[upsertSink]], exposed so retry semantics are testable without a
    * streaming runtime. Read the table with
    * `Snapshots.open(spark, tableDir).read(spark, table)`.
    *
    * Exactly-once: `foreachBatch` is AT-LEAST-once (a batch is re-run if
    * the driver dies between the sink action and the checkpoint commit),
    * so the batch and the stream watermark commit as one record
    * ([[commitBatch]]) and a replayed batchId is a no-op.
    *
    * Version-aware update: a source row overwrites its matched target row
    * only when its `versionCols` tuple is >= the target's — out-of-order
    * arrivals (an older version surfacing after a newer one was applied)
    * never regress the table, the same latest-effective-ts rule as the
    * reference's snapshot merge (ProcessDaily.usql:98-177) generalized to
    * any key/version columns. Within the batch, rank-1 per key keeps
    * MERGE's one-source-row-per-key contract.
    *
    * 100 TB shape: one window shuffle over the (small) batch + the
    * full-outer merge join, where AQE broadcasts the batch side; each
    * batch stages a full new version of the table. A table too large to
    * rewrite per batch pairs this same merge with
    * [[graft.ops.MergeOnRead]]'s O(delta) log instead. `deleteWhen`
    * (over `src_*` columns) emits tombstone deletes. */
  def upsertBatch(tableDir: String, table: String, keys: Seq[String],
      versionCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None)
      (batch: DataFrame, batchId: Long): Unit =
    commitBatch(batch.sparkSession, tableDir, batchId)(
      stageTable(table)(upsertMerge(batch, keys, versionCols, deleteWhen)))

  /** [[upsertBatch]]'s merge of `batch` into the prior table. */
  private[graft] def upsertMerge(batch: DataFrame, keys: Seq[String],
      versionCols: Seq[String], deleteWhen: Option[org.apache.spark.sql.Column])
      (prior: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(versionCols.map(col(_).desc): _*)
    val src = batch.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    // keys of the batch's tombstones: "delete if present, NEVER insert".
    // MERGE's bare semantics would INSERT an unmatched delete row, so a
    // first-batch tombstone would land as live data; the anti-join below
    // makes delete rows terminal regardless of match state.
    val deleteKeys = deleteWhen.map { d =>
      val aliased = src.columns.foldLeft(src) { (df, c) =>
        df.withColumnRenamed(c, s"src_$c")
      }
      aliased.where(coalesce(d, lit(false)))
        .select(keys.map(k => col(s"src_$k").as(k)): _*)
    }
    val merged = prior.fold(src) { target =>
      val srcNewer =
        struct(versionCols.map(c => col(s"src_$c")): _*) >=
          struct(versionCols.map(target(_)): _*)
      val nonKeys = batch.columns.filterNot(keys.contains)
      val updates = nonKeys.map(c =>
        c -> when(srcNewer, col(s"src_$c")).otherwise(target(c))).toMap
      val inserts = batch.columns.map(c => c -> col(s"src_$c")).toMap
      graft.ops.MergeInto.mergeInto(target, src, keys, updates, inserts,
        deleteWhen)
    }
    deleteKeys.fold(merged)(dk => merged.join(broadcast(dk), keys, "left_anti"))
  }

  /** Streaming near-duplicate detection — the streaming face of
    * [[graft.ops.TextDedup.incrementalDupPairs]]: each micro-batch is
    * LSH-matched against the PERSISTED MinHash signature index of
    * everything seen before (increment bands broadcast, index scanned
    * once, exact-Jaccard verify against the stored corpus text), plus
    * within-batch pairs via [[graft.ops.TextDedup.minhashDedupPairs]].
    *
    * `stateDir` is a [[Snapshots]] root. Batch `id` stages its pairs,
    * signatures and text as the tables `pairs_<id>`, `sigs_<id>` and
    * `docs_<id>` and commits them with the watermark ([[commitBatch]]):
    * it reads the prior index and corpus from the parent snapshot, so
    * state grows O(batch) per batch, prior text is never re-shingled, and
    * a replayed batch id is a no-op. Read the state with
    * [[nearDupState]]. */
  def nearDupBatch(stateDir: String, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8)(batch: DataFrame, batchId: Long): Unit =
    commitBatch(batch.sparkSession, stateDir, batchId)(
      stageNearDup(batch, batchId, idCol, textCol, n, numHashes, bands, threshold))

  /** [[nearDupBatch]]'s staging of batch `batchId`. */
  private[graft] def stageNearDup(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, n: Int, numHashes: Int, bands: Int, threshold: Double)
      (txn: Snapshots.Txn): Unit = {
    import graft.ops.TextDedup
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val within = TextDedup
        .minhashDedupPairs(b, idCol, textCol, n, numHashes, bands, threshold)
      // the first batch has no prior index: no cross pairs, same schema
      val cross = txn.parent.fold(within.limit(0)) { p =>
        TextDedup.incrementalDupPairsFrom(batches(txn.spark, p, "sigs"),
          batches(txn.spark, p, "docs"), b, idCol, textCol, n, numHashes, bands, threshold)
      }
      txn.stage(s"pairs_$batchId", within.unionByName(cross))
      txn.stage(s"sigs_$batchId", TextDedup.minhashSignatures(b, idCol, textCol, n, numHashes))
      txn.stage(s"docs_$batchId", b.select(col(idCol), col(textCol)))
    } finally b.unpersist()
  }

  /** The near-dup sink's `part` — "pairs", "sigs" or "docs" — over every
    * batch the current snapshot of `stateDir` holds. */
  def nearDupState(spark: SparkSession, stateDir: String, part: String): DataFrame =
    batches(spark, Snapshots.open(spark, stateDir), part)

  /** The `<part>_<id>` tables of `snap` as one scan. */
  private def batches(spark: SparkSession, snap: Snapshots.Snapshot,
      part: String): DataFrame = {
    val paths = snap.dirs.keys.filter(_.startsWith(s"${part}_")).toSeq.sorted.map(snap.path)
    require(paths.nonEmpty, s"snapshot ${snap.id} of ${snap.root} holds no $part")
    spark.read.schema(Tables.parquet(spark, paths.head).schema).parquet(paths: _*)
  }

  /** [[nearDupBatch]] wired as a foreachBatch sink. */
  def nearDupSink(stream: DataFrame, stateDir: String, idCol: String,
      textCol: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(nearDupBatch(stateDir, idCol, textCol) _)
      .start()

  /** Streaming ANN index ingestion: every micro-batch of (id, vector)
    * rows is assigned against the index's FROZEN centroids and committed
    * as the delta table `batch_<id>` via [[graft.ops.Ann.ivfDeltaAppend]]
    * — exactly-once by the index's watermark (a replayed foreachBatch
    * re-stages its own delta, or is a no-op once folded), O(batch) per
    * trigger, the base `cid=` files never touched. Queries read the live
    * index, base ∪ deltas of one snapshot, through
    * [[graft.ops.Ann.readIvfAssignments]] and
    * [[graft.ops.Ann.queryIvfIndex]]; the nightly
    * [[graft.ops.Ann.ivfCompactDeltas]] folds accumulated deltas into
    * the pruned layout and [[graft.jobs.Maintain.maintainIvf]] retrains
    * when the stream has drifted the cells — together the full life of
    * a 100 TB embedding index fed by a firehose: build once, ingest
    * per-trigger at batch cost, compact and retrain on maintenance
    * windows. Each of them is one commit, so a trigger racing a
    * compaction fails one of the two, and its rerun lands. */
  def ivfIngestSink(stream: DataFrame, indexPath: String, idCol: String,
      vecCol: String, dim: Int, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Ann.ivfDeltaAppend(batch.sparkSession, indexPath,
          batch, idCol, vecCol, dim, batchId): Unit
      }
      .start()

  /** Exactly-once streaming upsert: every micro-batch MERGEs into the
    * warehouse table through [[upsertBatch]] — the streaming twin of a
    * nightly MERGE INTO job, with the snapshot's stream watermark
    * upgrading foreachBatch's at-least-once replay to exactly-once table
    * state. */
  def upsertSink(stream: DataFrame, tableDir: String, table: String,
      keys: Seq[String], versionCols: Seq[String], checkpoint: String,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(upsertBatch(tableDir, table, keys, versionCols,
        deleteWhen) _)
      .start()

  // -- streaming histogram / quantile state ---------------------------------

  /** One micro-batch of streaming histogram maintenance: bin the batch
    * with [[graft.ops.Sketches.histBuild]] and sum-merge it into the
    * prior (bin, cnt) table `hist` of the [[Snapshots]] root `stateDir`,
    * committed with the watermark ([[commitBatch]]): a replayed batch id
    * is a no-op instead of double-counting. The state stays one ≤bins-row
    * table however many batches fold into it. */
  def histogramBatch(stateDir: String, valueCol: String, lo: Long,
      hi: Long, bins: Int)(batch: DataFrame, batchId: Long): Unit =
    commitBatch(batch.sparkSession, stateDir, batchId)(
      stageHistogram(batch, valueCol, lo, hi, bins))

  /** [[histogramBatch]]'s staging of one batch. */
  private[graft] def stageHistogram(batch: DataFrame, valueCol: String, lo: Long,
      hi: Long, bins: Int): Snapshots.Txn => Unit =
    stageTable(Hist) { prior =>
      val binned = graft.ops.Sketches.histBuild(batch, col(valueCol), Seq.empty, lo, hi, bins)
      graft.ops.Sketches.histMerge(prior.toSeq :+ binned, Seq.empty).coalesce(1)
    }

  private val Hist = "hist"

  /** [[histogramBatch]] wired as a foreachBatch sink — running
    * distribution state (quantiles, spread, drift) maintained
    * incrementally: the stream is binned once per batch and the fact
    * rows are never revisited. */
  def histogramSink(stream: DataFrame, stateDir: String, valueCol: String,
      lo: Long, hi: Long, bins: Int, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(histogramBatch(stateDir, valueCol, lo, hi, bins) _)
      .start()

  /** The streaming histogram state, (bin, cnt) of the current snapshot:
    * a ≤bins-row scan. Feed straight into
    * [[graft.ops.Sketches.histQuantile]]. */
  def histogramState(spark: SparkSession, stateDir: String): DataFrame =
    Snapshots.open(spark, stateDir).read(spark, Hist)
}
