package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias

/** What a run-to-completion streaming query leaves behind. */
class StreamingQueriesSpec extends SparkSpec {

  test("a run-to-completion query removes its checkpoint dir once it has terminated") {
    // the event stream lists one FILE named events.parquet, as the corpus ships it
    val dir = scratch("stream-events")
    spark.range(30).selectExpr("id AS event_id", "id * 60000000000 AS ts",
        "concat('t', id % 3) AS event_type", "CAST(id AS DOUBLE) AS value", "id % 5 AS user_id")
      .coalesce(1).write.parquet(s"$dir/out")
    val part = new java.io.File(s"$dir/out").listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(s"$dir/events.parquet")))
    val df = StreamingQueries.q232StreamComplete(spark, dir)
    assert(df.collect().map(_.getLong(1)).sum == 30, "the memory sink holds the result")
    val sink = df.queryExecution.analyzed.collectFirst { case a: SubqueryAlias => a.identifier.name }
    assert(sink.exists(_.startsWith("q232_sink_")), df.queryExecution.analyzed)
    val ckpt = new java.io.File(graft.TestSession.jdkTmp, s"graft-ckpt-${sink.get}")
    assert(!ckpt.exists(), s"$ckpt is left behind")
  }

  test("q161 and q265 reuse one scratch root per process and corpus") {
    val dir = scratch("stream-scratch")
    spark.range(40).selectExpr("id AS event_id", "id * 60000000000 AS ts",
        "concat('t', id % 3) AS event_type", "CAST(id * 7 AS DOUBLE) AS value", "id % 5 AS user_id")
      .coalesce(1).write.parquet(s"$dir/out")
    val part = new java.io.File(s"$dir/out").listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(s"$dir/events.parquet")))
    val tmp = graft.TestSession.jdkTmp
    val corpus = dir.replaceAll("[^A-Za-z0-9]", "_")
    def left() = tmp.list().filter(n => (n.startsWith("graft_q161_") ||
      n.startsWith("graft_q265_")) && n.endsWith(corpus)).toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val first = (rows(StreamingQueries.q161StreamUpsert(spark, dir)),
      rows(StreamingQueries.q265StreamQuantiles(spark, dir)))
    val dirs = left()
    assert(dirs.size == 2, dirs)
    val second = (rows(StreamingQueries.q161StreamUpsert(spark, dir)),
      rows(StreamingQueries.q265StreamQuantiles(spark, dir)))
    assert(left() == dirs, "a second call leaves no new directory")
    assert(second == first && first._1.size == 5 && first._2.size == 4)
  }
}
