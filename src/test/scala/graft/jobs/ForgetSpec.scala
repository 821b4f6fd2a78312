package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Subject-erasure job: rows gone, others intact, audit counts exact,
  * idempotent re-run, multi-table sweep. */
class ForgetSpec extends SparkSpec {
  import spark.implicits._

  test("eraseSubjects removes exactly the subject rows, audited, idempotent") {
    val dir = scratch("forget")
    val t = (1L to 100L).map(i => (i % 10, i, s"payload$i"))
      .toDF("user_id", "row_id", "payload")
    graft.entities.Pipelines.overwriteCurated(t, dir, "activity")
    val subjects = Seq(3L, 7L).toDF("uid")

    val audit = Forget.eraseSubjects(spark, dir, "activity", "user_id",
      subjects).collect().head
    assert(audit.getAs[Long]("n_before") == 100)
    assert(audit.getAs[Long]("n_erased") == 20) // 2 subjects × 10 rows
    assert(audit.getAs[Long]("n_after") == 80)

    val left = spark.read.parquet(s"$dir/activity")
    assert(left.count() == 80)
    assert(left.where(col("user_id").isin(3L, 7L)).count() == 0,
      "subject rows must be gone")
    assert(left.where(col("user_id") === 4L).count() == 10,
      "non-subject rows must be untouched")

    // second run: nothing left to erase
    val again = Forget.eraseSubjects(spark, dir, "activity", "user_id",
      subjects).collect().head
    assert(again.getAs[Long]("n_erased") == 0)
    assert(again.getAs[Long]("n_after") == 80)
  }

  test("eraseSubjects leaves no listener behind for a later persist to copy") {
    // a listener registered on the session is copied into every session
    // clone that persist makes, each clone adding one to the listener bus
    val sc = spark.sparkContext
    def persisted() = {
      val df = spark.range(100).selectExpr("id % 7 AS k").persist()
      try df.count() finally df.unpersist()
      org.apache.spark.sql.GraftSqlShim.drainListeners(sc)
      org.apache.spark.TraceSpecShim.listeners(sc)
    }
    val dir = scratch("forget-listeners")
    graft.entities.Pipelines.overwriteCurated(
      (1L to 20L).map(i => (i % 4, i)).toDF("user_id", "row_id"), dir, "t")
    val listeners = persisted() // Spark registers its own listeners on first use
    val audit = Forget.eraseSubjects(spark, dir, "t", "user_id", Seq(1L).toDF("uid"))
      .collect().head
    assert(audit.getAs[Long]("n_erased") == 5)
    assert(persisted() == listeners)
  }

  test("eraseAcross sweeps multiple tables with per-table audit rows") {
    val dir = scratch("forget-multi")
    graft.entities.Pipelines.overwriteCurated(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("uid", "v"), dir, "t1")
    graft.entities.Pipelines.overwriteCurated(
      Seq((2L, 10L), (2L, 11L), (9L, 12L)).toDF("owner", "x"), dir, "t2")
    val audit = Forget.eraseAcross(spark, dir,
        Seq("t1" -> "uid", "t2" -> "owner"), Seq(2L).toDF("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(audit("t1") == ((3L, 1L, 2L)))
    assert(audit("t2") == ((3L, 2L, 1L)))
    assert(spark.read.parquet(s"$dir/t2")
      .where(col("owner") === 2L).count() == 0)
  }

  test("multi-column subject frame erases on keyCol, not the first column") {
    val dir = scratch("forget-multi")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "v")
      .write.parquet(s"$dir/t")
    // request frame leads with a request id — the OLD code keyed the
    // anti-join on it and erased nothing while auditing success
    val subjects = Seq((900L, 2L)).toDF("request_id", "user_id")
    val audit = Forget.eraseSubjects(spark, dir, "t", "user_id", subjects)
      .collect().head
    assert(audit.getLong(2) == 1L, s"must erase exactly one row: $audit")
    assert(spark.read.parquet(s"$dir/t").select("user_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // ambiguous frame (no keyCol, multiple columns) fails loudly
    intercept[IllegalArgumentException] {
      Forget.eraseSubjects(spark, dir, "t", "user_id",
        Seq((1L, 2L)).toDF("a", "b"))
    }
  }
}
