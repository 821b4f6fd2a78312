package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row}

/** Checkpoint rolling for iterative operators: every round of PageRank /
  * BFS / label propagation / connected components / BPE replaces its
  * state frame with a fresh `localCheckpoint()` — and the superseded
  * round's blocks sit in the block manager until driver GC notices,
  * which a long session may never do (see
  * [[org.apache.spark.sql.GraftSqlShim.freeLocalCheckpoint]] for the
  * measured effect). [[roll]] pairs the two steps so live checkpoint
  * storage stays at ONE round's state per operator.
  *
  * Contract: a frame passed as `superseded` must never be read again —
  * its lineage was truncated by the checkpoint, so the freed blocks
  * cannot be recomputed. */
object Ckpt {

  /** Eagerly `localCheckpoint()` `next` (materializing it), then free
    * the storage of the `superseded` checkpoints. Nulls and repeated
    * frames are tolerated (unpersist is idempotent), so callers can
    * pass possibly-aliased round state without bookkeeping. */
  def roll(next: DataFrame, superseded: DataFrame*): DataFrame = {
    val out = next.localCheckpoint()
    free(superseded: _*)
    out
  }

  /** [[roll]] whose checkpoint job also evaluates `metrics` — deterministic
    * aggregates over `next`, e.g. a row count for a convergence test or a
    * broadcast gate — and returns them as one row, in the order given.
    * They ride the checkpoint as an observed metric (`Dataset.observe`, the
    * frame's last operator), read back from the checkpointed plan itself,
    * so a round's count or checksum costs no job of its own and waits on no
    * listener. Over an empty frame a count reads 0 and other aggregates
    * null. */
  def rollObserved(next: DataFrame, metrics: Seq[Column],
      superseded: DataFrame*): (DataFrame, Row) = {
    val name = java.util.UUID.randomUUID.toString
    val observed = next.observe(name, metrics.head, metrics.tail: _*)
    val out = roll(observed, superseded: _*)
    (out, observed.queryExecution.observedMetrics(name))
  }

  /** Free the checkpoint storage of frames that are provably dead. */
  def free(dfs: DataFrame*): Unit =
    dfs.foreach(df => if (df != null) GraftSqlShim.freeLocalCheckpoint(df))
}
