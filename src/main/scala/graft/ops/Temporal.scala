package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins and sessionization — the event-stream operator surface a
  * warehouse over the reference's `events`-style data needs
  * (ghcrawler-datalake-etl is daily batch; these generalize its
  * latest-version-wins window idiom, ProcessDaily.usql:137-140, to
  * event-time semantics).
  *
  * All three operators are single-shuffle at scale:
  *
  *  - [[asofJoin]] avoids the O(rows × versions) join-then-rank plan a
  *    naive as-of spelling produces. It unions both sides tagged, sorts
  *    once within the key partition, and carries the most recent right-row
  *    forward with a running `last(ignoreNulls)` — one exchange on the key,
  *    linear scan per partition, no pair blow-up. This is the only as-of
  *    shape that survives 100 TB (the join-based spelling materializes
  *    every (probe, candidate) pair before ranking them away).
  *  - [[rangeJoin]] turns an inequality-only interval join (which Spark
  *    plans as a broadcast nested loop — quadratic) into an equi-join on
  *    overlapping time bins + an exact residual filter. Cost is
  *    O(intervals × bins-per-interval + matches); bin width tunes the
  *    candidate fan-out.
  *  - [[sessionize]] is the classic gap-based session assignment: one
  *    window shuffle on the entity key, `lag` to detect gaps, running sum
  *    to number sessions.
  */
object Temporal {

  /** Left as-of join: for every left row, attach the single most recent
    * right row with `right.tsCol <= left.tsCol` and the same key (null
    * payload when no right row precedes the left row).
    *
    * Ties on the right timestamp resolve to the greatest `tiebreak` value
    * (deterministic; pass e.g. the right row id). Implementation: tagged
    * union → one window partitioned by key ordered by (ts, tag, tiebreak)
    * with right rows (tag 0) sorting before left rows (tag 1) at equal ts
    * — so an exactly-simultaneous right row is visible — then a running
    * `last(payload, ignoreNulls)` carries the latest right payload onto
    * each left row.
    *
    * `direction = "forward"` flips the semantics to the EARLIEST right row
    * with `right.tsCol >= left.tsCol` (ties → smallest `tiebreak`): the
    * scan runs descending in time, so the same single-shuffle running-last
    * plan serves both directions.
    *
    * @param rightPayload right columns to attach (renamed as given)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String,
      rightPayload: Seq[(String, String)],
      tiebreak: String, direction: String = "backward"): DataFrame = {
    require(rightPayload.nonEmpty, "rightPayload must name at least one column")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val payloadStruct = struct(
      (rightPayload.map { case (c, as) => col(c).as(as) } :+
        col(tiebreak).as("__tb")): _*)
    val rNorm = right.select(
      col(keyCol).as("__k"), col(rightTs).as("__t"), lit(0).as("__tag"),
      payloadStruct.as("__r"))
    val leftStruct = struct(left.columns.map(col): _*)
    val payloadType = rNorm.schema("__r").dataType
    val lTyped = left.select(
      col(keyCol).as("__k"), col(leftTs).as("__t"), lit(1).as("__tag"),
      lit(null).cast(payloadType).as("__r"), leftStruct.as("__lrow"))
    val rTyped = rNorm.withColumn("__lrow",
      lit(null).cast(lTyped.schema("__lrow").dataType))
    val unioned = lTyped.unionByName(rTyped)
    val order =
      if (direction == "backward")
        Seq(col("__t").asc, col("__tag").asc, col("__r.__tb").asc)
      else // forward: scan from the future; closest following right wins
        Seq(col("__t").desc, col("__tag").asc, col("__r.__tb").desc)
    val w = Window.partitionBy(col("__k"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
    matched.select(
      left.columns.map(c => col(s"__lrow.$c").as(c)) ++
        rightPayload.map { case (_, as) => col(s"__asof.$as").as(as) }: _*)
  }

  /** Interval–point range join: every (interval, point) pair with
    * `point ∈ [startCol, endCol)`. Timestamps are numeric (any consistent
    * unit — the engine reads parquet nanos timestamps as epoch-nanos longs
    * under `nanosAsLong`); `binWidth` is in the same unit. No equi-key
    * required — candidate pairs come from an equi-join on overlapping
    * `binWidth`-wide time bins (intervals explode to the bins they span;
    * points hash to one bin), then the exact range predicate filters
    * residuals. Point columns keep their names; interval columns are
    * prefixed `p_` where they collide.
    *
    * Bin width trades per-interval fan-out (span/binWidth bins) against
    * candidate precision — set it near the typical interval length.
    */
  def rangeJoin(intervals: DataFrame, points: DataFrame,
      startCol: String, endCol: String, pointTs: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    // integral `div`, not floor(a / b): epoch-nanos exceed 2^53, so the
    // double division behind `/` is inexact and can mis-bin boundary rows.
    // The stop is clamped to start−1, as in plans.RangeJoinRule: an empty
    // or inverted interval walks back at most two phantom bins, which the
    // exact range filter rejects, instead of every intervening bin.
    val iBinned = intervals
      .withColumn("__s", col(startCol).cast("long"))
      .withColumn("__e", col(endCol).cast("long"))
      .withColumn("__bin",
        explode(sequence(expr(s"__s div ${binWidth}L"),
          expr(s"greatest((__e - 1) div ${binWidth}L, (__s div ${binWidth}L) - 1)"))))
    val collide = intervals.columns.toSet.intersect(points.columns.toSet)
    val pRenamed = collide.foldLeft(points) { (df, c) =>
      df.withColumnRenamed(c, s"p_$c")
    }
    val pTsName = if (collide(pointTs)) s"p_$pointTs" else pointTs
    val pBinned = pRenamed
      .withColumn("__pt", col(pTsName).cast("long"))
      .withColumn("__bin", expr(s"__pt div ${binWidth}L"))
    iBinned.join(pBinned, Seq("__bin"))
      .where(col("__pt") >= col("__s") && col("__pt") < col("__e"))
      .drop("__bin", "__s", "__e", "__pt")
  }

  /** Gap-based sessionization: assigns `session_id` (1-based per key) that
    * increments whenever the gap to the previous row (ordered by
    * `orderCol` within `keyCol`) exceeds `gap` (same numeric unit as
    * `tsCol`). One window shuffle; `orderCol` must be a deterministic
    * total order per key (an event id monotone with time — ordering by a
    * raw timestamp risks ties). */
  def sessionize(df: DataFrame, keyCol: String, orderCol: String,
      tsCol: String, gap: Long): DataFrame = {
    require(gap > 0, s"gap must be positive, got $gap")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    val ts = col(tsCol).cast("long")
    val prev = lag(ts, 1).over(w)
    val isBreak = when(prev.isNull || ts - prev > gap, 1L).otherwise(0L)
    df.withColumn("session_id",
      sum(isBreak).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
  }

  /** Exponentially weighted moving average per key: the decayed "current
    * level" of a per-entity time series (`ewma_i = α·x_i + (1-α)·ewma_{i-1}`,
    * seeded with the first observation), returned as one row per key with
    * the series length. Time-decay summarization is the standard way to
    * turn an unbounded event stream into a bounded per-entity feature.
    *
    * Determinism: an EWMA is an ordered float fold — a windowed/agg
    * spelling would sum in engine order and drift in the last ulp. Here
    * the series is pinned: `sort_array(collect_list(struct(order…, x)))`
    * fixes the exact IEEE operation sequence, so any engine folding the
    * same lambda in the same order is bit-identical (same trick as the
    * q70 LM score; DuckDB replays it with `list_reduce` over
    * `list(x ORDER BY …)`).
    *
    * 100 TB shape: one shuffle on `keyCol`; per-key state is that key's
    * own series (bounded by entity history, not corpus size). A
    * pathologically hot key is a groupBy skew — cap series length
    * upstream or pre-aggregate to coarser ticks before folding.
    */
  def ewma(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val fields = orderCols.map(col) :+ col(valueCol).as("__x")
    val arr = sort_array(collect_list(struct(fields: _*)))
    val fold = aggregate(
      transform(arr, e => e.getField("__x").cast("double")),
      lit(null).cast("double"),
      (acc, x) => when(acc.isNull, x)
        .otherwise(lit(alpha) * x + lit(1.0 - alpha) * acc))
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"), fold.as("ewma"))
  }

  /** Holt linear-trend smoothing per key (double exponential smoothing):
    * `l_i = α·x_i + (1−α)·(l_{i−1} + t_{i−1})`,
    * `t_i = β·(l_i − l_{i−1}) + (1−β)·t_{i−1}`, seeded `(x_0, 0)` —
    * [[ewma]] plus a trend state, for per-entity series with drift.
    * Returns one row per key: final level, trend, and the one-step-ahead
    * forecast `level + trend`.
    *
    * Determinism: the same order-pinned fold as [[ewma]], with the
    * coupled two-field recurrence riding a STRUCT accumulator — the IEEE
    * op sequence is fixed (l_i's expression is repeated verbatim inside
    * t_i: same ops, same result), so a rank-indexed recursive-CTE replay
    * is bit-identical. (A DuckDB `list_reduce` struct accumulator is NOT
    * a valid replay: v1.0 overwrites accumulator fields sequentially, so
    * the trend lambda reads the already-updated level.) Same one-shuffle
    * / per-key-bounded-state shape as [[ewma]]; pick α/β with exact
    * binary representations (0.5, 0.25) when cross-engine comparison
    * matters. */
  def holt(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    val fields = orderCols.map(col) :+ col(valueCol).as("__x")
    val arr = sort_array(collect_list(struct(fields: _*)))
    val fold = aggregate(
      transform(arr, e => e.getField("__x").cast("double")),
      struct(lit(null).cast("double").as("l"),
        lit(null).cast("double").as("t")),
      (acc, x) => {
        val lPrev = acc.getField("l")
        val tPrev = acc.getField("t")
        val lNew = lit(alpha) * x + lit(1.0 - alpha) * (lPrev + tPrev)
        val tNew = lit(beta) * (lNew - lPrev) + lit(1.0 - beta) * tPrev
        when(lPrev.isNull, struct(x.as("l"), lit(0.0).as("t")))
          .otherwise(struct(lNew.as("l"), tNew.as("t")))
      })
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        fold.getField("l").as("level"), fold.getField("t").as("trend"))
  }

  /** Peak concurrency per key: the classic +1/−1 interval sweep over
    * half-open intervals [startCol, endCol). Deltas are aggregated per
    * (key, timestamp) BEFORE the prefix sum, so (a) the running-sum
    * window orders by unique timestamps — no tie-order ambiguity,
    * deterministic on any engine — and (b) map-side combine collapses
    * the fact table to |distinct endpoints| rows before the one shuffle.
    * The per-key prefix sum then runs over each key's endpoint series
    * (bounded by key activity, not corpus size — the same argument as
    * [[ewma]]; salt via [[Skew]] if one key dominates).
    *
    * Output: key, `peak` (max simultaneous intervals), `peak_at` (the
    * earliest timestamp at which the peak is reached).
    */
  def peakConcurrency(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val deltas = df.select(col(keyCol).as("__k"), col(startCol).as("__t"),
        lit(1L).as("__d"))
      .unionByName(df.select(col(keyCol).as("__k"), col(endCol).as("__t"),
        lit(-1L).as("__d")))
      .groupBy(col("__k"), col("__t")).agg(sum(col("__d")).as("__d"))
    val byT = Window.partitionBy(col("__k")).orderBy(col("__t"))
    val run = deltas.withColumn("__run", sum(col("__d"))
      .over(byT.rowsBetween(Window.unboundedPreceding, 0)))
    run.withColumn("__mx", max(col("__run")).over(Window.partitionBy(col("__k"))))
      .where(col("__run") === col("__mx"))
      .groupBy(col("__k").as(keyCol))
      .agg(max(col("__mx")).as("peak"), min(col("__t")).as("peak_at"))
  }

  /** Holt-Winters ADDITIVE seasonal smoothing per key — [[holt]] plus a
    * rolling seasonal state of length `period` (e.g. 7 for weekly shape
    * over daily series): the standard ops-forecasting triple
    * (level, trend, seasonality).
    *
    * == Integer exactness ==
    * Unlike [[holt]]'s order-pinned FLOAT fold (whose DuckDB replay needs
    * a rank-indexed recursive CTE precisely because `list_reduce` struct
    * accumulators mis-sequence), all Holt-Winters state here lives in
    * integer MICRO-units (value·1e6) with dyadic smoothing constants
    * α=1/2, β=γ=1/4 applied as truncating integral divisions:
    *
    *   l_t = (x_t − s_head + l_{t−1} + b_{t−1}) ÷ 2
    *   b_t = (l_t − l_{t−1} + 3·b_{t−1})        ÷ 4
    *   s_t = (x_t − l_t + 3·s_head)             ÷ 4
    *
    * `÷` truncates toward zero — spelled `(x / d).cast(long)` (exact:
    * state stays far under 2⁵³) precisely BECAUSE DuckDB's `//`
    * truncates on negatives where an arithmetic shift would floor; with
    * matching rounding the replay is bit-exact, quantization loss
    * ≤1 micro-unit per op. Seeded (l=x_1, b=0, s=0⃗). Rolling state:
    * `s_head = s[1]`, then the array shifts left and appends the fresh
    * seasonal — so after the last step `s[1]` IS the next step's seasonal
    * and the one-step forecast is `l + b + s[1]`.
    *
    * Same one-shuffle per-key-bounded-state shape as [[ewma]]/[[holt]]:
    * the series folds inside its key's group (state = 3 + period longs),
    * corpus size only widens the groupBy. Returns one row per key:
    * (n_obs, level_micro, trend_micro, forecast_micro). */
  def holtWinters(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, period: Int = 7): DataFrame = {
    require(period >= 2 && period <= 366, s"period in [2,366], got $period")
    val arr = sort_array(collect_list(struct(col(orderCol).as("__o"),
      (col(valueCol).cast("long") * 1000000L).as("__x"))))
    val zeroSeason = array_repeat(lit(0L), period)
    val fold = aggregate(
      arr,
      struct(lit(null).cast("long").as("l"), lit(0L).as("b"),
        zeroSeason.as("s")),
      (acc, e) => {
        // truncating integral division (≡ DuckDB //): exact, |state| ≪ 2⁵³
        def tdiv(c: Column, d: Long): Column = (c / lit(d)).cast("long")
        val x = e.getField("__x")
        val lPrev = acc.getField("l")
        val bPrev = acc.getField("b")
        val s = acc.getField("s")
        val sHead = element_at(s, 1)
        val lNew = tdiv(x - sHead + lPrev + bPrev, 2L)
        val bNew = tdiv(lNew - lPrev + lit(3L) * bPrev, 4L)
        val sNew = tdiv(x - lNew + lit(3L) * sHead, 4L)
        when(lPrev.isNull, struct(x.as("l"), lit(0L).as("b"), s.as("s")))
          .otherwise(struct(lNew.as("l"), bNew.as("b"),
            concat(slice(s, 2, period - 1), array(sNew)).as("s")))
      })
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"), fold.as("__hw"))
      .select(col(keyCol), col("n_obs"),
        col("__hw.l").as("level_micro"), col("__hw.b").as("trend_micro"),
        (col("__hw.l") + col("__hw.b") +
          element_at(col("__hw.s"), 1)).as("forecast_micro"))
  }
}
