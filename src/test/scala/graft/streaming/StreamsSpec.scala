package graft.streaming

import graft.SparkSpec
import graft.core.Snapshots
import graft.entities.Specs
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class StreamsSpec extends SparkSpec {

  private def writeDoc(dir: String, file: String, docs: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, file), docs.mkString("\n").getBytes)
  }

  private def doc(urn: String, processedAt: String, sha: String): String =
    s"""{"_metadata":{"type":"commit","processedAt":"$processedAt",""" +
      s""""links":{"self":{"href":"$urn"},"repo":{"href":"urn:repo:1"}}},""" +
      s""""sha":"$sha","url":"u"}"""

  test("incrementalSnapshot merges a file stream through the batch executor") {
    val raw = scratch("stream-raw")
    val curated = scratch("stream-cur")
    val ckpt = scratch("stream-ckpt")

    writeDoc(raw, "a.json", Seq(
      doc("urn:c:1", "2024-01-01T10:00:00Z", "v1"),
      doc("urn:c:2", "2024-01-01T10:00:00Z", "x1")))
    val q1 = Streams.incrementalSnapshot(spark, raw, curated, Specs.commit, ckpt)
    q1.awaitTermination()

    // second batch: newer version of urn:c:1
    writeDoc(raw, "b.json", Seq(doc("urn:c:1", "2024-01-02T10:00:00Z", "v2")))
    val q2 = Streams.incrementalSnapshot(spark, raw, curated, Specs.commit, ckpt)
    q2.awaitTermination()

    val result = Snapshots.open(spark, curated).read(spark, "commit")
      .select("etl_source_id", "sha").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(result == Map("urn:c:1" -> "v2", "urn:c:2" -> "x1"))
  }

  test("windowedCounts: watermarked sliding windows over a memory-like batch") {
    // validate the aggregation plan on a batch frame (same expressions)
    import spark.implicits._
    val events = Seq(
      ("2024-01-01 00:00:10", "a"), ("2024-01-01 00:00:50", "a"),
      ("2024-01-01 00:01:10", "b")
    ).toDF("ts", "k").withColumn("ts", col("ts").cast("timestamp"))
    val out = Streams.windowedCounts(events, "ts", "k", "1 minute", "1 minute", "10 seconds")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3)))
    assert(out.toSet == Set(
      ("2024-01-01 00:00:00.0", "a", 2L),
      ("2024-01-01 00:01:00.0", "b", 1L)))
  }

  test("windowedCounts on a real stream: windows emit on watermark passage") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.windowedCounts(
        input.toDS().toDF("ts", "k"), "ts", "k", "1 minute", "1 minute", "10 seconds")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((ts("2024-01-01 00:00:10"), "a"), (ts("2024-01-01 00:00:50"), "a"))
    q.processAllAvailable()
    // window [00:00,00:01) is still open — nothing emitted yet
    assert(spark.table("win_out").count() == 0)
    // event at 00:02:00 advances the watermark past 00:01 → first window closes
    input.addData((ts("2024-01-01 00:02:00"), "b"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:05:00"), "b")) // push watermark further
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3)))
    q.stop()
    assert(rows.contains(("2024-01-01 00:00:00.0", "a", 2L)))
  }

  test("windowedCounts drops late data behind the watermark, and reports it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.windowedCounts(
        input.toDS().toDF("ts", "k"), "ts", "k",
        "1 minute", "1 minute", "10 seconds")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((ts("2024-01-01 00:00:10"), "a"))
    q.processAllAvailable()
    // advance watermark far past the first window, closing it
    input.addData((ts("2024-01-01 00:10:00"), "b"))
    q.processAllAvailable()
    // LATE event into the already-closed 00:00 window: must not resurrect
    // or double-emit the window — the exactly-once append contract
    input.addData((ts("2024-01-01 00:00:20"), "a"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:20:00"), "b"))
    q.processAllAvailable()
    val aRows = spark.table("late_out").collect()
      .filter(_.getString(2) == "a")
      .map(r => (r.getTimestamp(0).toString, r.getLong(3)))
    // the engine accounts for the drop in progress metrics — the signal
    // an ops dashboard alarms on
    val dropped = q.recentProgress
      .map(p => Option(p.stateOperators).map(_.map(_.numRowsDroppedByWatermark)
        .sum).getOrElse(0L)).sum
    q.stop()
    assert(aRows.toSeq == Seq(("2024-01-01 00:00:00.0", 1L)),
      s"closed window must emit once with the on-time count only: ${aRows.toSeq}")
    assert(dropped >= 1, s"late row must be counted as dropped, got $dropped")
  }

  test("enrichedWindowedAgg: joins the dim, drops unmatched keys, sums cents") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "AUTO"), (2L, "HOME")).toDF("ck", "seg")
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val q = Streams.enrichedWindowedAgg(
        input.toDS().toDF("ts", "uid", "value"), dim,
        streamKey = "uid", dimKey = "ck", tsCol = "ts", segCol = "seg",
        valueCol = "value", windowDur = "1 minute",
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // uid=9 has no dim row → dropped by the inner join, but its event
    // time must still advance the flush clock (watermark sits pre-join)
    input.addData(
      (ts("2024-01-01 00:00:10"), 1L, 1.25),
      (ts("2024-01-01 00:00:20"), 1L, 2.00),
      (ts("2024-01-01 00:00:30"), 2L, 5.00))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:02:00"), 9L, 99.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:05:00"), 9L, 99.0))
    q.processAllAvailable()
    val rows = spark.table("enrich_out").collect()
      .map(r => (r.getString(2), r.getLong(3), r.getLong(4))).toSet
    q.stop()
    assert(rows === Set(("AUTO", 2L, 325L), ("HOME", 1L, 500L)))
  }

  test("sessionWindows: gap merge/split semantics and watermark emission") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.sessionWindows(
        input.toDS().toDF("ts", "k"), "ts", "k", gap = "1 minute",
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two events 30s apart merge; an event landing EXACTLY on the session
    // end (60s after the previous) still merges — only a strictly larger
    // gap splits; the fourth event at +61s starts a new session
    input.addData((ts("2024-01-01 00:00:00"), "a"),
      (ts("2024-01-01 00:00:30"), "a"), (ts("2024-01-01 00:01:30"), "a"),
      (ts("2024-01-01 00:02:31"), "a"))
    q.processAllAvailable()
    // advance the watermark far past both session ends
    input.addData((ts("2024-01-01 01:00:00"), "b"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 02:00:00"), "b"))
    q.processAllAvailable()
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSet
    q.stop()
    assert(rows.contains(("a", "2024-01-01 00:00:00.0", "2024-01-01 00:02:30.0", 3L)),
      s"first session wrong: $rows")
    assert(rows.contains(("a", "2024-01-01 00:02:31.0", "2024-01-01 00:03:31.0", 1L)),
      s"second session wrong: $rows")
  }

  test("dedupStream: dedups within the watermark horizon, state evicts past it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.dedupStream(
        input.toDS().toDF("ts", "k"), "ts", Seq("k"), "10 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((ts("2024-01-01 00:00:00"), "a"),
      (ts("2024-01-01 00:00:01"), "a"), (ts("2024-01-01 00:00:02"), "b"))
    q.processAllAvailable()
    // same-batch duplicate of "a" suppressed
    assert(spark.table("dedup_out").collect().map(_.getString(1)).sorted
      .toSeq == Seq("a", "b"))
    // advance the watermark far past a's eventTime + 10s → state evicted
    input.addData((ts("2024-01-01 01:00:00"), "c"))
    q.processAllAvailable()
    // "a" reappearing BEYOND the horizon is a new row again (bounded
    // state = within-horizon guarantee, by design)
    input.addData((ts("2024-01-01 01:00:05"), "a"))
    q.processAllAvailable()
    val ks = spark.table("dedup_out").collect().map(_.getString(1)).toSeq
    q.stop()
    assert(ks.count(_ == "a") == 2 && ks.count(_ == "b") == 1)
  }

  test("windowedUniqueKeys: exact distinct per window, deduped across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.windowedUniqueKeys(
        input.toDS().toDF("ts", "k"), "ts", "k", "1 minute", "10 seconds")
      .writeStream.format("memory").queryName("uniq_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((ts("2024-01-01 00:00:10"), "a"),
      (ts("2024-01-01 00:00:20"), "a"), (ts("2024-01-01 00:00:50"), "b"))
    q.processAllAvailable()
    // window [00:00,00:01) still open — nothing emitted
    assert(spark.table("uniq_out").count() == 0)
    // "a" again in a LATER batch: state from batch 1 must absorb it, and
    // the closing event advances the watermark past 00:01 → flush
    input.addData((ts("2024-01-01 00:00:55"), "a"),
      (ts("2024-01-01 00:02:00"), "c"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:05:00"), "d"))
    q.processAllAvailable()
    val rows = spark.table("uniq_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    q.stop()
    // 3 events, 2 distinct users — the cross-batch duplicate counted once
    assert(rows("2024-01-01 00:00:00.0") == 2L)
  }

  test("intervalJoin: matches only key-equal pairs inside the time interval") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, String, String)]
    val buys = MemoryStream[(java.sql.Timestamp, String, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val joined = Streams.intervalJoin(
      clicks.toDS().toDF("cts", "user", "click_id"),
      buys.toDS().toDF("bts", "user", "buy_id"),
      "user", "cts", "bts", "1 HOUR", "0 seconds")
      .select(col("click_id"), col("buy_id"))
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    clicks.addData(
      (ts("2024-01-01 10:00:00"), "u1", "c1"),
      (ts("2024-01-01 10:00:00"), "u2", "c2"))
    buys.addData(
      (ts("2024-01-01 10:30:00"), "u1", "b1"),   // in window, same user
      (ts("2024-01-01 12:00:00"), "u1", "b2"),   // outside window
      (ts("2024-01-01 10:30:00"), "u3", "b3"))   // no matching user
    q.processAllAvailable()
    val pairs = spark.table("ij_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(pairs == Set("c1" -> "b1"))
  }

  test("intervalJoinOuter: matches stream through, unmatched null-pads on watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, String, String)]
    val buys = MemoryStream[(java.sql.Timestamp, String, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val joined = Streams.intervalJoinOuter(
      clicks.toDS().toDF("cts", "user", "click_id"),
      buys.toDS().toDF("bts", "user", "buy_id"),
      "user", "cts", "bts", "1 HOUR", "0 seconds")
      .select(col("click_id"), col("buy_id"))
    val q = joined.writeStream.format("memory").queryName("ijo_out")
      .outputMode("append").start()
    clicks.addData(
      (ts("2024-01-01 10:00:00"), "u1", "c1"),
      (ts("2024-01-01 10:00:00"), "u2", "c2"))
    buys.addData((ts("2024-01-01 10:30:00"), "u1", "b1"))
    q.processAllAvailable()
    // match emits immediately; c2's deadline (11:00) not yet provably past
    val early = spark.table("ijo_out").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(early == Set("c1" -> Some("b1")))
    // both watermarks past 11:00 → c2's state evicts, null row emits
    clicks.addData((ts("2024-01-01 13:00:00"), "u9", "c9"))
    buys.addData((ts("2024-01-01 13:00:00"), "u8", "b8"))
    q.processAllAvailable()
    clicks.addData((ts("2024-01-01 15:00:00"), "u9", "c9b"))
    buys.addData((ts("2024-01-01 15:00:00"), "u8", "b8b"))
    q.processAllAvailable()
    val late = spark.table("ijo_out").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    q.stop()
    assert(late.contains("c2" -> None), s"unmatched click never emitted: $late")
    assert(!late.contains("c1" -> None), "matched click must not ALSO null-pad")
  }

  test("nearDupSink: cross-batch pairs via the persisted index, replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val state = scratch("graft-neardup")
    val ckpt = scratch("graft-neardup-ckpt")
    val input = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = Streams.nearDupSink(input.toDS().toDF("doc_id", "text"),
        state, "doc_id", "text", ckpt)
      q.awaitTermination()
    }
    def read(part: String) = Streams.nearDupState(spark, state, part)
    val textA = "alpha beta gamma delta epsilon zeta"
    val textB = "one two three four five six seven"
    input.addData((1L, textA), (2L, textB))
    run() // batch 0: nothing seen before, no dups
    assert(read("pairs").count() == 0)
    assert(read("sigs").count() == 2)
    // batch 1: 3 duplicates doc 1 (cross-batch), 4 and 5 duplicate each
    // other (within-batch)
    input.addData((3L, textA), (4L, "x y z w v u t"), (5L, "x y z w v u t"))
    run()
    val got = read("pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (4L, 5L)), s"pairs: $got")
    assert(read("sigs").count() == 5)
    assert(read("docs").count() == 5)
    // replaying batch 1 by hand must not duplicate
    Streams.nearDupBatch(state, "doc_id", "text")(
      Seq((3L, textA), (4L, "x y z w v u t"), (5L, "x y z w v u t"))
        .toDF("doc_id", "text"), 1L)
    assert(read("pairs").count() == 2)
    assert(read("sigs").count() == 5)
  }

  test("ivfIngestSink: streamed vectors land as deltas; live read ≡ one-shot assignment") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Ann
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = scratch("graft-ivf-stream")
    val ckpt = scratch("graft-ivf-stream-ckpt")
    Ann.buildIvfIndex(e.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", 64, 16, idx)
    val rest = e.where(col("vec_id") % 3 === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val (half0, half1) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[(Long, Array[Float])]
    def drain(): Unit = Streams.ivfIngestSink(
      input.toDS().toDF("vec_id", "embedding"), idx, "vec_id",
      "embedding", 64, ckpt).awaitTermination()
    input.addData(half0.toSeq); drain() // micro-batch 0
    input.addData(half1.toSeq); drain() // micro-batch 1
    // each trigger committed its own batch_ delta; the base is untouched
    val snap = graft.core.Snapshots.open(spark, idx)
    assert(snap.dirs.keySet == Set("centroids", "assignments", "batch_0", "batch_1"))
    assert(snap.tables("assignments") == 1)
    val live = Ann.readIvfAssignments(spark, idx)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = snap.read(spark, "centroids")
      .select(col("cid").as("vec_id"), col("cvec").as("embedding"))
    val oneShot = Ann.assignClusters(e, cents, "vec_id", "embedding", 64)
      .select(col("__vid"), col("__cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(live == oneShot, "streamed index diverged from one-shot assignment")
  }

  test("latestPerKeyTws (transformWithState + RocksDB) matches the fMGWS semantics") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.VersionedDoc]
      val q = Streams.latestPerKeyTws(input.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        Streams.VersionedDoc("k1", ts("2024-01-01 00:00:00"), "p1"),
        Streams.VersionedDoc("k1", ts("2024-01-03 00:00:00"), "p3"))
      q.processAllAvailable()
      input.addData(
        Streams.VersionedDoc("k1", ts("2024-01-02 00:00:00"), "p2"), // stale
        Streams.VersionedDoc("k2", ts("2024-01-01 00:00:00"), "x1")) // new key
      q.processAllAvailable()
      input.addData(
        Streams.VersionedDoc("k1", ts("2024-01-05 00:00:00"), "p5")) // advances
      q.processAllAvailable()
      val out = spark.table("tws_out").as[Streams.VersionedDoc].collect()
      q.stop()
      // batch1: p3 (max of batch); batch2: x1 only (p2 stale); batch3: p5
      assert(out.map(_.payload).sorted.toSeq == Seq("p3", "p5", "x1"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("heavyHittersStream: Misra-Gries candidates survive across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.TokenEvent]
      val q = Streams.heavyHittersStream(input.toDS(), capacity = 3)
        .writeStream.format("memory").queryName("hh_out")
        .outputMode("append").start()
      // batch 1: "a" dominates (6 of 10), b/c/d noise
      input.addData((Seq.fill(6)("a") ++ Seq("b", "b", "c", "d"))
        .map(Streams.TokenEvent("k", _)): _*)
      q.processAllAvailable()
      val b1 = spark.table("hh_out").as[Streams.HeavyHitter].collect()
      assert(b1.exists(h => h.item == "a" && h.count >= 4),
        s"dominant item must survive with count ≥ N/cap error bound: ${b1.toSeq}")
      // batch 2: "e" takes over; state carries across batches
      input.addData(Seq.fill(8)("e").map(Streams.TokenEvent("k", _)): _*)
      q.processAllAvailable()
      val all = spark.table("hh_out").as[Streams.HeavyHitter].collect()
      q.stop()
      val b2 = all.drop(b1.length)
      assert(b2.exists(h => h.item == "e" && h.count >= 6),
        s"new dominant item must appear: ${b2.toSeq}")
      assert(b2.exists(h => h.item == "a"),
        s"prior heavy item must still be tracked (18 items, cap 3 → " +
          s"err ≤ 6, a's true count 6 keeps it present): ${b2.toSeq}")
      // bounded state: never more than capacity candidates per batch
      assert(b1.length <= 3 && b2.length <= 3)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("latestPerKeyStream state logic emits only newer versions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.VersionedDoc]
    val q = Streams.latestPerKeyStream(input.toDS())
      .writeStream.format("memory").queryName("latest_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      Streams.VersionedDoc("k1", ts("2024-01-01 00:00:00"), "p1"),
      Streams.VersionedDoc("k1", ts("2024-01-03 00:00:00"), "p3"))
    q.processAllAvailable()
    input.addData(
      Streams.VersionedDoc("k1", ts("2024-01-02 00:00:00"), "p2")) // stale
    q.processAllAvailable()
    val out = spark.table("latest_out").as[Streams.VersionedDoc].collect()
    q.stop()
    // first batch emits the max (p3); the stale p2 must NOT re-emit
    assert(out.map(_.payload).toSeq == Seq("p3"))
  }

  // -- upsertSink / upsertBatch ----------------------------------------------

  private def upsertFixture(rows: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "ver", "val")
  }

  private def readTable(dir: String): Map[Long, (Long, String)] =
    Snapshots.open(spark, dir).read(spark, "t").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  test("upsertBatch: insert, newer-version update, stale row ignored") {
    val dir = scratch("upsert")
    val apply = Streams.upsertBatch(dir, "t", Seq("id"), Seq("ver")) _
    apply(upsertFixture(Seq((1L, 10L, "a1"), (2L, 10L, "b1"))), 0L)
    // batch 1: newer version of 1, stale version of 2, new key 3
    apply(upsertFixture(Seq((1L, 20L, "a2"), (2L, 5L, "bSTALE"),
      (3L, 1L, "c1"))), 1L)
    assert(readTable(dir) ==
      Map(1L -> (20L, "a2"), 2L -> (10L, "b1"), 3L -> (1L, "c1")))
  }

  test("upsertBatch: replayed batchId is a no-op even with different data") {
    val dir = scratch("upsert-replay")
    val apply = Streams.upsertBatch(dir, "t", Seq("id"), Seq("ver")) _
    apply(upsertFixture(Seq((1L, 10L, "a1"))), 0L)
    // foreachBatch retry delivers the same batchId — must not re-apply
    apply(upsertFixture(Seq((1L, 99L, "MUST_NOT_LAND"))), 0L)
    assert(readTable(dir) == Map(1L -> (10L, "a1")))
  }

  test("upsertBatch: intra-batch rank-1 per key; deleteWhen tombstones") {
    import org.apache.spark.sql.functions.col
    val dir = scratch("upsert-del")
    val apply = Streams.upsertBatch(dir, "t", Seq("id"), Seq("ver"),
      deleteWhen = Some(col("src_val") === "DEAD")) _
    // two versions of key 1 in ONE batch: rank-1 (ver=20) must win
    apply(upsertFixture(Seq((1L, 10L, "a1"), (1L, 20L, "a2"),
      (2L, 1L, "b1"))), 0L)
    assert(readTable(dir) == Map(1L -> (20L, "a2"), 2L -> (1L, "b1")))
    apply(upsertFixture(Seq((1L, 30L, "DEAD"))), 1L)
    assert(readTable(dir) == Map(2L -> (1L, "b1")))
  }

  test("upsertBatch: a tombstone batch replayed after a crash before commit applies once") {
    import org.apache.spark.sql.functions.col
    val dir = scratch("upsert-del-replay")
    val dead = Some(col("src_val") === "DEAD")
    val apply = Streams.upsertBatch(dir, "t", Seq("id"), Seq("ver"), dead) _
    apply(upsertFixture(Seq((1L, 10L, "a1"), (2L, 1L, "b1"))), 0L)
    // the sink died after staging batch 1 and before its commit
    val tombstone = upsertFixture(Seq((1L, 30L, "DEAD")))
    val crashed = Snapshots.begin(spark, dir)
    assert(Streams.stageBatch(crashed, 1L)(Streams.stageTable("t")(
      Streams.upsertMerge(tombstone, Seq("id"), Seq("ver"), dead))))
    assert(readTable(dir) == Map(1L -> (10L, "a1"), 2L -> (1L, "b1")),
      "a staged, uncommitted batch is invisible")
    // foreachBatch replays batch 1, and then replays it once more
    apply(tombstone, 1L)
    assert(readTable(dir) == Map(2L -> (1L, "b1")))
    apply(tombstone, 1L)
    assert(readTable(dir) == Map(2L -> (1L, "b1")),
      "replayed tombstone batch must reproduce the same table")
    assert(Snapshots.open(spark, dir).watermark.contains(1L))
    // first-batch tombstone on an EMPTY table never lands as live data
    val dir2 = scratch("upsert-del-first")
    val apply2 = Streams.upsertBatch(dir2, "t", Seq("id"), Seq("ver"),
      deleteWhen = Some(col("src_val") === "DEAD")) _
    apply2(upsertFixture(Seq((5L, 1L, "DEAD"), (6L, 1L, "ok"))), 0L)
    assert(readTable(dir2) == Map(6L -> (1L, "ok")))
  }

  test("incrementalSnapshot: a truncate=false batch replayed on a fresh checkpoint applies once") {
    // truncate=false specs APPEND per batch (the CommitParent quirk), so a
    // replayed batch id is visible as duplicate rows unless the sink's
    // commit recognizes it
    val appending = Specs.commit.copy(truncate = false)
    val raw = scratch("stream-raw-replay")
    val curated = scratch("stream-cur-replay")
    writeDoc(raw, "a.json", Seq(
      doc("urn:c:9", "2024-01-01T10:00:00Z", "v1"),
      doc("urn:c:8", "2024-01-01T10:00:00Z", "w1")))
    def rows() = Snapshots.open(spark, curated).read(spark, "commit").count()
    Streams.incrementalSnapshot(spark, raw, curated, appending,
      scratch("stream-ckpt-r1")).awaitTermination()
    val before = rows()
    assert(before == 2)
    // no marker dir of any earlier ledger may be what blocks the replay
    new java.io.File(curated).listFiles().filter(_.getName.startsWith("_graft_commits_"))
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    // a FRESH checkpoint restarts batch ids at 0 over the same files
    Streams.incrementalSnapshot(spark, raw, curated, appending,
      scratch("stream-ckpt-r2")).awaitTermination()
    assert(rows() == before, "replayed batch 0 must not append again")
  }

  test("upsertSink end-to-end: multi-batch stream converges to latest-wins") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = scratch("upsert-e2e")
    val ckpt = scratch("upsert-ckpt")
    val input = MemoryStream[(Long, Long, String)]
    val q = Streams.upsertSink(input.toDF().toDF("id", "ver", "val"),
      dir, "t", Seq("id"), Seq("ver"), ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    input.addData((1L, 10L, "a1"), (2L, 10L, "b1"))
    q.processAllAvailable()
    input.addData((1L, 20L, "a2"), (2L, 5L, "bSTALE"))
    q.processAllAvailable()
    q.stop()
    assert(readTable(dir) ==
      Map(1L -> (20L, "a2"), 2L -> (10L, "b1")))
  }

  test("histogramBatch: batch partials sum-merge to the one-shot histogram; replay is idempotent") {
    import graft.ops.Sketches
    import spark.implicits._
    val state = scratch("hist-state")
    val apply = Streams.histogramBatch(state, "v", 0L, 1000L, 10) _
    val all = spark.range(1000).select(col("id").as("v"))
    apply(all.where(col("v") < 400L), 0L)
    apply(all.where(col("v") >= 400L), 1L)
    // foreachBatch retry: same batchId, even different data — a batch
    // at or below the watermark must leave the state unchanged
    apply(all.where(col("v") >= 400L), 1L)
    val merged = Streams.histogramState(spark, state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Sketches.histBuild(all, col("v"), Seq.empty, 0L, 1000L, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == direct && merged.values.sum == 1000L,
      s"streamed state must equal one-shot build: $merged vs $direct")
    val med = Sketches.histQuantile(Streams.histogramState(spark, state),
      Seq((1, 2)), 0L, 1000L, 10).collect().head.getDouble(4)
    assert(math.abs(med - 500.0) <= 100.0, s"median off: $med")
  }
}
