package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {

  private def orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  private val cents = round(col("o_totalprice") * 100).cast("long")
  private val dayExpr = date_format(col("o_orderdate"), "yyyy-MM-dd")

  private def directMonthly(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("grain"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(cents).as("sum_cents"),
        min(cents).as("min_cents"), max(cents).as("max_cents"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  /** The first order day from mid-history on: orders on both sides, and
    * a refresh of it is never empty. */
  private lazy val cut =
    orders.where(dayExpr >= "1997-06-15").select(min(dayExpr)).head().getString(0)

  private type Answer = Map[(String, String), (Long, Long, Long, Long)]

  private def answer(rolled: org.apache.spark.sql.DataFrame): Answer =
    rolled.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  private def rolledUp(path: String) =
    answer(Incremental.rollup(spark, path, substring(col("part"), 1, 7),
      Seq("o_orderpriority")))

  test("rollup over day partials ≡ direct monthly aggregate over the facts") {
    val path = scratch("inc_full")
    Incremental.writePartials(
      Incremental.buildPartials(orders, dayExpr, Seq("o_orderpriority"), cents),
      path)
    assert(rolledUp(path) == directMonthly(orders))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("late-day refresh changes only its own part, result converges") {
    val path = scratch("inc_delta")
    Incremental.writePartials(
      Incremental.buildPartials(orders.where(dayExpr < cut),
        dayExpr, Seq("o_orderpriority"), cents),
      path)
    val before = rows(Incremental.read(spark, path))
    // late-arriving day lands: refresh exactly that day's rows
    Incremental.refresh(orders.where(dayExpr === cut), path,
      dayExpr, Seq("o_orderpriority"), cents)
    val after = rows(Incremental.read(spark, path))
    assert(after.filter(_.head != cut) == before,
      "a part the delta lacks changed — refresh is not a part replace")
    assert(after.exists(_.head == cut))
    assert(rolledUp(path) == directMonthly(orders.where(dayExpr <= cut)))
  }

  test("re-refreshing the same day is idempotent") {
    val path = scratch("inc_idem")
    Incremental.writePartials(
      Incremental.buildPartials(orders.where(dayExpr <= cut),
        dayExpr, Seq("o_orderpriority"), cents),
      path)
    val once = rolledUp(path)
    Incremental.refresh(orders.where(dayExpr === cut), path,
      dayExpr, Seq("o_orderpriority"), cents)
    assert(rolledUp(path) == once)
  }

  private def customer =
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"))
      .collect().map(_.toString).sorted.toSeq

  test("maintainJoinView after a fact+dim insert batch ≡ full recompute") {
    val cut = lit("1997-06-15").cast("timestamp")
    val fOld = orders.where(col("o_orderdate") < cut)
    val fNew = orders.where(col("o_orderdate") >= cut)
    val dOld = customer.where(pmod(col("o_custkey"), lit(7)) =!= 0)
    val dNew = customer.where(pmod(col("o_custkey"), lit(7)) === 0)
    val maintained = Incremental.maintainJoinView(
      fOld.join(dOld, Seq("o_custkey")), fOld, fNew, dOld, dNew,
      Seq("o_custkey"))
    val full = orders.join(customer, Seq("o_custkey"))
    assert(sortedRows(maintained) == sortedRows(full))
  }

  test("rollup cascades: year-from-month-partials ≡ year-from-day-partials ≡ direct") {
    val path = scratch("inc_cascade")
    Incremental.writePartials(
      Incremental.buildPartials(orders, dayExpr, Seq("o_orderpriority"), cents),
      path)
    // month partials re-aggregated from day partials, persisted, then
    // rolled to year — the multi-granularity serving chain: each level is
    // mergeable state, so NO level ever rereads the facts
    val monthPath = scratch("inc_cascade_month")
    Incremental.writePartials(
      Incremental.rollup(spark, path, substring(col("part"), 1, 7),
          Seq("o_orderpriority"))
        .withColumnRenamed("grain", "part"),
      monthPath)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val yearFromMonth = toMap(Incremental.rollup(spark, monthPath,
      substring(col("part"), 1, 4), Seq("o_orderpriority")))
    val yearFromDay = toMap(Incremental.rollup(spark, path,
      substring(col("part"), 1, 4), Seq("o_orderpriority")))
    val direct = toMap(orders
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("grain"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(cents).as("sum_cents"),
        min(cents).as("min_cents"), max(cents).as("max_cents")))
    assert(yearFromMonth == direct)
    assert(yearFromDay == direct)
  }

  test("joinViewDelta with empty deltas is empty; fact-only delta joins only the delta") {
    val empty = orders.where(lit(false))
    val emptyDim = customer.where(lit(false))
    assert(Incremental.joinViewDelta(orders, empty, customer, emptyDim,
      Seq("o_custkey")).isEmpty)
    val cut = lit("1997-06-15").cast("timestamp")
    val fNew = orders.where(col("o_orderdate") >= cut)
    val delta = Incremental.joinViewDelta(
      orders.where(col("o_orderdate") < cut), fNew, customer, emptyDim,
      Seq("o_custkey"))
    assert(sortedRows(delta) == sortedRows(fNew.join(customer, Seq("o_custkey"))))
  }

  private def snapshotIds(path: String) =
    graft.core.Snapshots.currentId(spark, path)

  test("first-ever write of an EMPTY frame commits an empty version") {
    val path = scratch("inc_empty_first")
    // round-9 code threw 'Unable to infer schema' on this store
    Incremental.writePartials(
      Incremental.buildPartials(orders.where(lit(false)), dayExpr,
        Seq("o_orderpriority"), cents), path)
    assert(snapshotIds(path).contains(1))
    assert(rolledUp(path).isEmpty)
  }

  test("a rollup frame built before a refresh still collects after it") {
    val path = scratch("inc_pinned")
    val before = orders.where(dayExpr < cut)
    Incremental.writePartials(
      Incremental.buildPartials(before, dayExpr, Seq("o_orderpriority"), cents),
      path)
    val pinned = Incremental.rollup(spark, path, substring(col("part"), 1, 7),
      Seq("o_orderpriority"))
    Incremental.refresh(orders.where(dayExpr === cut), path,
      dayExpr, Seq("o_orderpriority"), cents)
    val got = answer(pinned)
    assert(got == directMonthly(before))
    assert(got != directMonthly(orders.where(dayExpr <= cut)))
    assert(rolledUp(path) == directMonthly(orders.where(dayExpr <= cut)))
  }

  test("two refreshes in the same second: the second one's rows are visible") {
    val path = scratch("inc_same_second")
    Incremental.writePartials(
      Incremental.buildPartials(orders.where(dayExpr < cut),
        dayExpr, Seq("o_orderpriority"), cents), path)
    // back to back: a wrong batch of the day, then its correction
    Incremental.refresh(orders.where(dayExpr === cut)
        .withColumn("o_totalprice", col("o_totalprice") + 1),
      path, dayExpr, Seq("o_orderpriority"), cents)
    Incremental.refresh(orders.where(dayExpr === cut), path,
      dayExpr, Seq("o_orderpriority"), cents)
    assert(snapshotIds(path).contains(3))
    assert(rolledUp(path) == directMonthly(orders.where(dayExpr <= cut)))
  }
}
