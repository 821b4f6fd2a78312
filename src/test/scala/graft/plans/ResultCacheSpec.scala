package graft.plans

import graft.SparkSpec
import graft.core.{Snapshots, Trace}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The writers whose scan task has started, shared by every task of the
  * JVM (a UDF closure is copied per task; this object is not). */
private object RaceMeet {
  val arrived: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

class ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def mkSource(dir: String, n: Long): Unit =
    spark.range(n).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(1).write.mode("append").parquet(dir)

  private def q(src: String) =
    spark.read.parquet(src).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))

  test("miss computes and stores; identical re-ask serves from the cache copy") {
    val src = scratch("rc_src"); val cache = scratch("rc_cache")
    mkSource(src, 1000)
    assert(!ResultCache.isCached(q(src), cache))
    val first = ResultCache.through(q(src), cache)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ResultCache.isCached(q(src), cache), "entry must persist")
    val second = ResultCache.through(q(src), cache)
    // the served frame scans the CACHE parquet, not the source
    assert(second.inputFiles.forall(_.contains(cache.split("/").last)),
      s"hit must read the cache copy: ${second.inputFiles.toSeq}")
    assert(second.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == first)
    assert(first == q(src).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("alias spelling collapses to one entry; a different literal does not") {
    val src = scratch("rc_alias"); val cache = scratch("rc_alias_cache")
    mkSource(src, 100)
    val a = spark.read.parquet(src).where(col("id") > 10L)
      .select(col("k").as("x"))
    val b = spark.read.parquet(src).where(col("id") > 10L)
      .select(col("k").as("y"))
    assert(ResultCache.fingerprint(a) == ResultCache.fingerprint(b),
      "canonicalization must ignore alias names")
    val c = spark.read.parquet(src).where(col("id") > 11L)
      .select(col("k").as("x"))
    assert(ResultCache.fingerprint(a) != ResultCache.fingerprint(c),
      "a different literal is a different computation")
  }

  test("appending to the source invalidates: new fingerprint, fresh result") {
    val src = scratch("rc_inval"); val cache = scratch("rc_inval_cache")
    mkSource(src, 500)
    val before = ResultCache.through(q(src), cache)
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(before == 500L)
    mkSource(src, 300) // append: listing + mtimes change
    assert(!ResultCache.isCached(q(src), cache),
      "stale fingerprint must not serve after the data changed")
    val after = ResultCache.through(q(src), cache)
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(after == 800L, s"must recompute over the grown source: $after")
  }

  test("vacuum reaps old entries and leaves fresh ones") {
    val src = scratch("rc_vac"); val cache = scratch("rc_vac_cache")
    mkSource(src, 50)
    ResultCache.through(q(src), cache)
    val now = System.currentTimeMillis()
    assert(ResultCache.vacuum(spark, cache, maxAgeMs = 3600000L,
      nowMs = now) == 0, "fresh entry must survive")
    assert(ResultCache.vacuum(spark, cache, maxAgeMs = 0L,
      nowMs = now + 10000) == 1, "aged entry must be reaped")
    assert(!ResultCache.isCached(q(src), cache))
  }

  test("two concurrent misses of one fingerprint: both get the rows, one commits, the loser leaves nothing") {
    val src = scratch("rc_race"); val cache = scratch("rc_race_cache")
    mkSource(src, 1000)
    // each miss's one scan task waits until the other's has started, so
    // both misses have looked the entry up before either writes it
    val meet = udf { (_: Long) =>
      RaceMeet.arrived.add(org.apache.spark.TaskContext.get().getLocalProperty("rc_writer"))
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (RaceMeet.arrived.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      true
    }
    val df = spark.read.parquet(src).where(meet(col("id")))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val fp = ResultCache.fingerprint(df)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val served = try Await.result(Future.sequence(Seq("a", "b").map(w => Future {
      spark.sparkContext.setLocalProperty("rc_writer", w)
      ResultCache.through(df, cache).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    })), Duration.Inf) finally pool.shutdown()
    assert(RaceMeet.arrived.size == 2, "both misses wrote")
    val want = spark.read.parquet(src).groupBy(col("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == Seq(want, want))
    assert(Snapshots.currentId(spark, s"$cache/$fp").contains(1))
    assert(new java.io.File(s"$cache/$fp/_snapshots").list().toSeq == Seq("s000000001.json"))
    assert(new java.io.File(cache).list().toSeq == Seq(fp), "one entry under the cache dir")
    assert(new java.io.File(s"$cache/$fp/result").list().length == 1, "one version of the entry")
  }

  test("a plan with no file inputs runs uncached and records result_cache_bypass on the span") {
    val cache = scratch("rc_bypass")
    val (rows, report) = Trace.collect(spark)(ResultCache.through(spark.range(10).toDF("id"), cache).count())
    assert(rows == 10L)
    assert(report.root.attrs.toMap.contains("result_cache_bypass"), report.root.attrs)
    assert(new java.io.File(cache).list().isEmpty, "nothing is stored")
  }
}
