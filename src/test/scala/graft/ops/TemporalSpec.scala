package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TemporalSpec extends SparkSpec {
  import spark.implicits._

  // (key, ts, id) event streams with deliberate edge cases: simultaneous
  // rows, duplicate right timestamps, keys with no right rows, huge
  // epoch-nanos magnitudes (beyond double's exact integer range).
  private val base = 1700000000000000000L // ~2023 in epoch nanos
  private def lhs: DataFrame = Seq(
    (1L, base + 100L, 10L), (1L, base + 200L, 11L), (1L, base + 300L, 12L),
    (2L, base + 150L, 20L), (3L, base + 50L, 30L)
  ).toDF("k", "t", "lid")
  private def rhs: DataFrame = Seq(
    (1L, base + 100L, 100L, 1.0), (1L, base + 100L, 101L, 2.0),
    (1L, base + 250L, 102L, 3.0), (2L, base + 160L, 200L, 4.0)
  ).toDF("k", "t", "rid", "v")

  /** Reference as-of: join-all-then-rank (the quadratic spelling). */
  private def naiveAsof: DataFrame = {
    val l = lhs.select(col("k"), col("t").as("lt"), col("lid"))
    val r = rhs.select(col("k").as("rk"), col("t").as("rt"), col("rid"), col("v"))
    val w = Window.partitionBy(col("lid"))
      .orderBy(col("rt").desc_nulls_last, col("rid").desc_nulls_last)
    l.join(r, col("k") === col("rk") && col("rt") <= col("lt"), "left_outer")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("k"), col("lt").as("t"), col("lid"),
        col("rid").as("m_rid"), col("v").as("m_v"))
  }

  test("asofJoin matches the join-then-rank reference on ties, no-match keys, and simultaneous rows") {
    val got = Temporal.asofJoin(lhs, rhs, "k", "t", "t",
      Seq("rid" -> "m_rid", "v" -> "m_v"), tiebreak = "rid")
    assert(got.columns.toSeq === Seq("k", "t", "lid", "m_rid", "m_v"))
    assert(got.collect().toSet === naiveAsof.collect().toSet)
    // spot-check semantics: simultaneous right row IS visible (<=), ties
    // on right ts resolve to the max tiebreak
    val byL = got.collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(byL(10L) === Some(101L)) // t=+100 sees both +100 rows, picks rid 101
    assert(byL(12L) === Some(102L)) // t=+300 sees +250
    assert(byL(20L) === None)       // right row at +160 is AFTER +150
    assert(byL(30L) === None)       // key with no right rows
  }

  test("asofJoin forward: earliest following right row, ties to min tiebreak") {
    val got = Temporal.asofJoin(lhs, rhs, "k", "t", "t",
      Seq("rid" -> "m_rid"), tiebreak = "rid", direction = "forward")
    val byL = got.collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(byL(10L) === Some(100L)) // t=+100: simultaneous pair → min rid
    assert(byL(11L) === Some(102L)) // t=+200: next is +250
    assert(byL(12L) === None)       // t=+300: nothing follows
    assert(byL(20L) === Some(200L)) // +150 → +160 IS following
    assert(byL(30L) === None)       // no right rows for key
    // reference: join-all-then-rank ascending
    val l = lhs.select(col("k"), col("t").as("lt"), col("lid"))
    val r = rhs.select(col("k").as("rk"), col("t").as("rt"), col("rid"))
    val w = Window.partitionBy(col("lid"))
      .orderBy(col("rt").asc_nulls_last, col("rid").asc_nulls_last)
    val naive = l.join(r, col("k") === col("rk") && col("rt") >= col("lt"),
        "left_outer")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("k"), col("lt").as("t"), col("lid"), col("rid").as("m_rid"))
    assert(got.collect().toSet === naive.collect().toSet)
  }

  test("asofJoin plans a single exchange (union+window), not a join") {
    val got = Temporal.asofJoin(lhs, rhs, "k", "t", "t",
      Seq("rid" -> "m_rid"), tiebreak = "rid")
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"expected join-free plan, got:\n$plan")
  }

  test("rangeJoin matches the naive cross-filter reference across bin boundaries") {
    val intervals = Seq(
      (1L, base + 100L, base + 300L),  // spans multiple 100ns bins
      (2L, base + 250L, base + 251L),  // width 1
      (3L, base + 400L, base + 400L)   // empty [x, x)
    ).toDF("iid", "s", "e")
    val points = Seq(
      (50L, base + 99L), (51L, base + 100L), (52L, base + 250L),
      (53L, base + 299L), (54L, base + 300L), (55L, base + 400L)
    ).toDF("pid", "pt")
    val got = Temporal.rangeJoin(intervals, points, "s", "e", "pt", binWidth = 100L)
      .select("iid", "pid")
    val want = intervals.crossJoin(points)
      .where(col("pt") >= col("s") && col("pt") < col("e"))
      .select("iid", "pid")
    assert(got.collect().toSet === want.collect().toSet)
    // half-open semantics: start inclusive, end exclusive
    val hits = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits === Set((1L, 51L), (1L, 52L), (1L, 53L), (2L, 52L)))
  }

  test("rangeJoin: an inverted interval matches nothing instead of failing the query") {
    // start 10^12, end 0, width 1: an unclamped bin sequence walks back
    // over every bin between them, past Spark's array-length limit
    val intervals = Seq((1L, 1000000000000L, 0L)).toDF("iid", "s", "e")
    val points = Seq((50L, 0L), (51L, 5L), (52L, 1000000000000L)).toDF("pid", "pt")
    val got = Temporal.rangeJoin(intervals, points, "s", "e", "pt", binWidth = 1L)
    assert(got.count() == 0)
  }

  test("rangeJoin prefixes colliding point columns") {
    val intervals = Seq((1L, 0L, 10L)).toDF("id", "s", "t")
    val points = Seq((2L, 5L)).toDF("id", "t")
    val got = Temporal.rangeJoin(intervals, points, "s", "t", "t", binWidth = 4L)
    assert(got.columns.toSeq === Seq("id", "s", "t", "p_id", "p_t"))
    assert(got.count() === 1)
  }

  test("sessionize splits on gap and numbers sessions 1..n per key") {
    val ev = Seq(
      (1L, 1L, 1000L), (1L, 2L, 1500L), (1L, 3L, 5000L), (1L, 4L, 5100L),
      (2L, 5L, 9000L)
    ).toDF("k", "id", "t")
    val got = Temporal.sessionize(ev, "k", "id", "t", gap = 1000L)
      .select("k", "id", "session_id").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 5L, 1L)))
  }

  test("sessionize boundary: gap exactly equal to threshold does NOT split") {
    val ev = Seq((1L, 1L, 0L), (1L, 2L, 1000L), (1L, 3L, 2001L)).toDF("k", "id", "t")
    val got = Temporal.sessionize(ev, "k", "id", "t", gap = 1000L)
      .select("id", "session_id").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("ewma folds in time order, seeded with the first observation") {
    // series 1, 2, 4 at α=0.5: acc = 1 → 1.5 → 2.75; rows arrive shuffled
    val ev = Seq((1L, 3L, 4.0), (1L, 1L, 1.0), (1L, 2L, 2.0), (2L, 9L, 7.0))
      .toDF("k", "t", "v")
    val got = Temporal.ewma(ev, "k", Seq("t"), "v", alpha = 0.5)
      .select("k", "n_obs", "ewma").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((3L, 2.75)), 2L -> ((1L, 7.0))))
  }

  test("ewma is partition-invariant (order pinned by sort, not arrival)") {
    val ev = (1L to 200L).map(i => (i % 5, i, (i * 37 % 11).toDouble))
      .toDF("k", "t", "v")
    val a = Temporal.ewma(ev, "k", Seq("t"), "v", 0.25)
      .as[(Long, Long, Double)].collect().toSet
    val b = Temporal.ewma(ev.repartition(13), "k", Seq("t"), "v", 0.25)
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b)
  }

  test("holt: hand-computed level/trend series, seeded (x0, 0)") {
    // series 10, 12, 15, 13 at α=0.5, β=0.25 (all values exact binary):
    // (10,0) → (11,0.25) → (13.125,0.71875) → (13.421875,0.61328125)
    val ev = Seq((1L, 4L, 13.0), (1L, 1L, 10.0), (1L, 3L, 15.0),
      (1L, 2L, 12.0), (2L, 9L, 7.0)).toDF("k", "t", "v")
    val got = Temporal.holt(ev, "k", Seq("t"), "v", alpha = 0.5, beta = 0.25)
      .select("k", "n_obs", "level", "trend")
      .as[(Long, Long, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(1L -> ((4L, 13.421875, 0.61328125)),
      2L -> ((1L, 7.0, 0.0))))
  }

  test("holt is partition-invariant (order pinned by sort, not arrival)") {
    val ev = (1L to 200L).map(i => (i % 5, i, (i * 37 % 11).toDouble))
      .toDF("k", "t", "v")
    val a = Temporal.holt(ev, "k", Seq("t"), "v", 0.5, 0.25)
      .as[(Long, Long, Double, Double)].collect().toSet
    val b = Temporal.holt(ev.repartition(13), "k", Seq("t"), "v", 0.5, 0.25)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(a === b)
  }

  test("peakConcurrency: half-open sweep, earliest peak timestamp") {
    // key A: [0,10) [5,15) [10,20) → overlap of 2 on [5,10) and [10,15);
    // an interval ENDING at 10 does not overlap one starting at 10
    // (half-open), so the peak is 2, first reached at t=5.
    // key B: [0,5) [0,5) [0,5) → peak 3 at 0.
    val iv = Seq(("A", 0L, 10L), ("A", 5L, 15L), ("A", 10L, 20L),
      ("B", 0L, 5L), ("B", 0L, 5L), ("B", 0L, 5L)).toDF("k", "s", "e")
    val got = Temporal.peakConcurrency(iv, "k", "s", "e")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("A" -> ((2L, 5L)), "B" -> ((3L, 0L))))
  }

  test("peakConcurrency matches a brute-force sweep on random intervals") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map { _ =>
      val s = rnd.nextInt(1000).toLong
      (s"k${rnd.nextInt(3)}", s, s + 1 + rnd.nextInt(50))
    }
    val expected = rows.groupBy(_._1).map { case (k, ivs) =>
      val peaks = (0L to 1060L).map(t =>
        t -> ivs.count(iv => iv._2 <= t && t < iv._3))
      val mx = peaks.map(_._2).max
      k -> ((mx.toLong, peaks.find(_._2 == mx).get._1))
    }
    val got = Temporal.peakConcurrency(rows.toDF("k", "s", "e"), "k", "s", "e")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
  }

  test("holtWinters: hand-computed shifts, stationarity, negative floors") {
    import spark.implicits._
    // [10, 12]: l=(12e6+10e6)>>1=11e6, b=1e6>>2=250000, s[1] still 0
    val two = Seq(("a", 1, 10L), ("a", 2, 12L)).toDF("k", "d", "v")
    val r = Temporal.holtWinters(two, "k", "d", "v").head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 11000000L, 250000L, 11250000L)))
    // constant series is a fixed point: forecast = the constant
    val const = (1 to 10).map(i => ("c", i, 7L)).toDF("k", "d", "v")
    val c = Temporal.holtWinters(const, "k", "d", "v").head()
    assert(c.getLong(2) == 7000000L && c.getLong(3) == 0L &&
      c.getLong(4) == 7000000L)
    // declining series: trend goes negative through the truncating
    // division (≡ DuckDB's //, which truncates toward zero on negatives)
    val down = Seq(("z", 1, 10L), ("z", 2, 2L)).toDF("k", "d", "v")
    val z = Temporal.holtWinters(down, "k", "d", "v").head()
    assert(z.getLong(2) == 6000000L && z.getLong(3) == -1000000L &&
      z.getLong(4) == 5000000L)
    // partition-invariant (integer state)
    val series = (1 to 40).map(i => ("p", i, (i * 3 % 11).toLong))
      .toDF("k", "d", "v")
    val one = Temporal.holtWinters(series, "k", "d", "v").head().toSeq
    val rep = Temporal.holtWinters(series.repartition(7), "k", "d", "v")
      .head().toSeq
    assert(one == rep)
  }

  test("sessionize ≡ Spark's native session_window at a boundary-free gap") {
    // custom breaks on diff > gap, native on diff >= gap — identical when
    // no adjacent diff equals the gap EXACTLY; assert that precondition
    // on the corpus, then require session-for-session equality
    val gapUs = 1801000000L // 1801 s, an off-round value no diff hits
    val ev = graft.core.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts_us", org.apache.spark.sql.functions.expr("ts div 1000L"))
      .select(col("user_id"), col("ts_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
    val boundaryHits = ev
      .withColumn("d", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .where(col("d") === gapUs).count()
    assert(boundaryHits == 0, "fixture hits the semantic boundary — change the gap")
    val custom = Temporal.sessionize(ev, "user_id", "ts_us", "ts_us", gapUs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"),
        count(lit(1)).as("n"))
      .select("user_id", "t0", "t1", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    val native = ev
      .groupBy(col("user_id"),
        session_window(timestamp_micros(col("ts_us")), "1801 seconds"))
      .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"),
        count(lit(1)).as("n"))
      .select("user_id", "t0", "t1", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(custom == native,
      "custom sessionize diverged from the engine's session_window")
  }
}
