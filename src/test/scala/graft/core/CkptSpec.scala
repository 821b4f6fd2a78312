package graft.core

import graft.SparkSpec
import graft.ops.{Graph, TextDedup}
import org.apache.spark.sql.functions._

/** Checkpoint hygiene for the iterative operators: every round replaces
  * its state with a fresh `localCheckpoint()`, and [[Ckpt.roll]] must
  * free the superseded round's block-manager storage instead of leaving
  * it for driver GC — the leak that degraded long bench sessions
  * (same-binary q244 measured 32/53/125 s across three sf1 samples,
  * 14 s solo). Results must be bit-identical: freeing only ever touches
  * frames whose content is never read again. */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  private def persistedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  private def edges = Seq(
    (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
    (4L, 1L), (1L, 4L), (5L, 6L), (6L, 5L))
    .toDF("src", "dst")

  test("pageRank frees superseded rounds; only the returned state survives") {
    val before = persistedCount
    val r = Graph.pageRank(edges, iters = 6)
    assert(r.count() == 6L)
    // edgesDeg/nodes are unpersisted inside; the six superseded rank
    // rounds must be freed by the roll — only the RETURNED checkpoint
    // (plus nothing else) may remain
    val leaked = persistedCount - before
    assert(leaked <= 1, s"pageRank left $leaked persisted RDDs behind")
    org.apache.spark.sql.GraftSqlShim.freeLocalCheckpoint(r)
  }

  test("connectedComponents frees superseded edge rounds, result unchanged") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L))
      .toDF("a", "b")
    val before = persistedCount
    val cc = TextDedup.connectedComponents(pairs, "a", "b")
    val got = cc.as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)))
    val leaked = persistedCount - before
    assert(leaked <= 2, s"connectedComponents left $leaked persisted RDDs")
    org.apache.spark.sql.GraftSqlShim.freeLocalCheckpoint(cc)
  }

  test("shortestPaths frees dead frontiers and distances, result unchanged") {
    val sources = Seq(1L).toDF("node")
    val before = persistedCount
    val d = Graph.shortestPaths(edges, sources, maxHops = 5)
    val got = d.as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
    val leaked = persistedCount - before
    assert(leaked <= 1, s"shortestPaths left $leaked persisted RDDs")
    org.apache.spark.sql.GraftSqlShim.freeLocalCheckpoint(d)
  }

  test("roll materializes next before freeing prev (content correct)") {
    var state = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    for (i <- 1 to 4)
      state = Ckpt.roll(state.select((col("x") + 1).as("x")), state)
    assert(state.as[Long].collect().sorted.toSeq == Seq(5L, 6L, 7L))
    Ckpt.free(state)
  }

  test("rollObserved: its count equals count(), 0 rows included, on the " +
      "checkpoint's own job, and it frees the superseded frames") {
    val prev = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    val before = persistedCount
    val metrics = Seq(count(lit(1)), sum(col("x")))
    val next = prev.where(col("x") > 1)
    val plain = jobsDuring(Ckpt.free(next.localCheckpoint()))
    var out: org.apache.spark.sql.DataFrame = null
    var row: org.apache.spark.sql.Row = null
    val jobs = jobsDuring { val (o, r) = Ckpt.rollObserved(next, metrics, prev, null); out = o; row = r }
    assert(jobs == plain, "the metrics ride the checkpoint: no job beyond its own")
    assert(row.getLong(0) == out.count() && row.getLong(0) == 2L && row.getLong(1) == 5L)
    assert(persistedCount - before == 0, "prev freed, only the new state is held")
    assert(out.as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // empty frames: a filtered checkpoint and a local relation
    for (empty <- Seq(out.where(col("x") > 9), Seq.empty[Long].toDF("x"))) {
      val (e, r) = Ckpt.rollObserved(empty, metrics)
      assert(r.getLong(0) == 0L && r.getLong(0) == e.count() && r.isNullAt(1))
      Ckpt.free(e)
    }
    Ckpt.free(out)
  }

  test("free is idempotent and null-tolerant") {
    val df = Seq(1L).toDF("x").localCheckpoint()
    Ckpt.free(df, df, null)
    Ckpt.free(df)
    // a non-checkpointed plan is a no-op, not an error
    Ckpt.free(Seq(2L).toDF("x"))
  }
}
