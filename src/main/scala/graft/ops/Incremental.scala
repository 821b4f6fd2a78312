package graft.ops

import graft.core.Snapshots
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: a materialized partial-aggregate
  * table, keyed by an ingest-granularity column `part` (typically day),
  * that answers rollup queries WITHOUT rescanning history.
  *
  * The design is the mergeable-state discipline used everywhere in this
  * engine ([[Sketches]], `TopKByScore`): each part stores per-key
  * (count, integer-cents sum, min, max) — all exactly mergeable in any
  * order — so "this month's revenue" reads a few small partial files
  * instead of the raw fact table, and a late-arriving day replaces ONLY
  * its own part's rows (the reference's S4/S5 partition replace
  * discipline at the aggregate layer).
  *
  * The store is ONE committed copy: every write publishes an immutable
  * version `<path>/partials/v=<id>-<writer>` through [[graft.core.Snapshots]]
  * (stage → commit → vacuum, keeping the last two versions). Readers
  * resolve the committed version once and never write; a crash before
  * the commit leaves an invisible staged dir, and the next write stages
  * its own and commits. Of two writers racing for one version, one
  * commits and the other fails ([[graft.core.Snapshots.Txn.commit]]).
  *
  * At 100 TB this is the difference between a daily report that costs one
  * day's scan and one that costs the whole table: raw-history scans are
  * O(history), this path is O(delta) fact work + O(partials) rewrite and
  * read, and the partials are smaller than the facts by the group-key
  * cardinality ratio. Money sums are integer cents (per-row conversion
  * BEFORE the first sum), so merge order — partial vs final, engine vs
  * engine — can never change a cent (the q72 lesson).
  */
object Incremental {

  private val Table = "partials"

  /** Per-(partition, keys) mergeable state for one measure column.
    * `measureCents` must already be integral per row (e.g.
    * `round(col("price") * 100).cast("long")`). */
  def buildPartials(df: DataFrame, partExpr: Column, keys: Seq[String],
      measureCents: Column): DataFrame =
    df.groupBy((partExpr.as("part") +: keys.map(col)): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(measureCents).as("sum_cents"),
        min(measureCents).as("min_cents"),
        max(measureCents).as("max_cents"))

  /** Publish the store's next version: the committed rows minus every
    * `part` that `partials` carries, plus `partials` — dynamic partition
    * overwrite semantics, resolved by one window over `part` so the new
    * partials are computed once. The version is coalesced to ~512 MB
    * files, sized from the version it replaces (a first write is one
    * file), so a rollup read is one small-file scan with no partition
    * listing (a day-directory layout spent 5.4 s of the q86 rollup's
    * 6.3 s listing 2,406 dirs). Every write gets a new version id, so two
    * writes within one second are distinct by construction. */
  def writePartials(partials: DataFrame, path: String): Unit = {
    val spark = partials.sparkSession
    val txn = Snapshots.begin(spark, path)
    stagePartials(txn, partials)
    txn.commit()
    Snapshots.vacuum(spark, path, keepLast = 2)
  }

  /** Stage [[writePartials]]'s next version into `txn`. */
  private[graft] def stagePartials(txn: Snapshots.Txn, partials: DataFrame): Unit =
    txn.stage(Table, txn.parent.fold(partials) { snap =>
      val prev = snap.read(txn.spark, Table)
      val nFiles = (prev.queryExecution.optimizedPlan.stats.sizeInBytes /
        (512L << 20)).max(1).toInt
      prev.withColumn("__new", lit(0))
        .unionByName(partials.withColumn("__new", lit(1)))
        .withColumn("__keep", max(col("__new")).over(Window.partitionBy("part")))
        .where(col("__new") === col("__keep"))
        .drop("__new", "__keep")
        .coalesce(nFiles)
    })

  /** Incremental refresh: recompute partials ONLY for the rows of `delta`
    * (a new/late day, a corrected batch) and replace exactly those
    * parts. O(delta) for the fact-side work; the version rewrite is
    * O(partials), which is smaller than the facts by the group-key
    * cardinality ratio. */
  def refresh(delta: DataFrame, path: String, partExpr: Column,
      keys: Seq[String], measureCents: Column): Unit =
    writePartials(buildPartials(delta, partExpr, keys, measureCents), path)

  /** The committed partials, pinned to the version current at this call:
    * a later commit cannot move rows under the returned frame, which stays
    * readable until the second commit after it vacuums its version. `part`
    * keeps the type of the expression it was built from. */
  def read(spark: SparkSession, path: String): DataFrame =
    Snapshots.open(spark, path).read(spark, Table)

  /** Roll partials up to a coarser grain (`grainExpr` over the stored
    * `part` column, e.g. month from day). Count/sum re-add, min/max
    * re-min/max — exact in any merge order. Reads only the committed
    * version ([[read]]). */
  def rollup(spark: SparkSession, path: String, grainExpr: Column,
      keys: Seq[String]): DataFrame =
    read(spark, path)
      .groupBy((grainExpr.as("grain") +: keys.map(col)): _*)
      .agg(
        sum(col("cnt")).as("cnt"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))

  /** Delta term for an INSERT-ONLY materialized join view: with a stored
    * view `V_old = F_old ⋈ D_old`, appending fact rows `ΔF` and dimension
    * rows `ΔD` contributes exactly
    *
    * {{{ ΔV = ΔF ⋈ (D_old ∪ ΔD)  ∪  F_old ⋈ ΔD }}}
    *
    * — the classic join delta rule (ΔF⋈ΔD is folded into the first term
    * so no pair is produced twice). The view owner appends `ΔV` to the
    * stored view; nothing else is touched.
    *
    * At 100 TB this is the point: a daily refresh joins ONE DAY of facts
    * against the dimension (broadcast or bucket-pruned — O(ΔF)) plus the
    * historical facts against only the handful of NEW dimension rows
    * (O(F) scan but a near-empty build side, and with `ΔD` empty Catalyst
    * prunes the term to nothing) — never the full F ⋈ D recompute.
    * Insert-only is the contract: updates/deletes need the retraction
    * algebra ([[MergeOnRead]] covers latest-wins snapshots instead). */
  def joinViewDelta(factOld: DataFrame, factDelta: DataFrame,
      dimOld: DataFrame, dimDelta: DataFrame,
      keys: Seq[String]): DataFrame =
    factDelta.join(dimOld.unionByName(dimDelta), keys)
      .unionByName(factOld.join(dimDelta, keys))

  /** Maintained view after one insert-only batch: stored rows plus
    * [[joinViewDelta]]. Spec-proven row-identical to the full
    * `(F_old ∪ ΔF) ⋈ (D_old ∪ ΔD)` recompute. */
  def maintainJoinView(viewOld: DataFrame, factOld: DataFrame,
      factDelta: DataFrame, dimOld: DataFrame, dimDelta: DataFrame,
      keys: Seq[String]): DataFrame =
    viewOld.unionByName(
      joinViewDelta(factOld, factDelta, dimOld, dimDelta, keys))
}
