package graft.jobs

import graft.ops.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Daily sketch cube: per-day HLL register tables and KMV bottom-k
  * tables persisted as `day=`-partitioned parquet, so "distinct users
  * over any day range" and "overlap between any two days" are answered
  * from KILOBYTES of counters instead of re-scanning the fact table —
  * the pre-aggregated-synopsis pattern OLAP warehouses keep beside the
  * facts.
  *
  * Everything is deterministic md5 arithmetic ([[graft.ops.Sketches]]),
  * so cube maintenance is idempotent (re-running a day overwrites the
  * same partition with identical bytes — dynamic partition overwrite,
  * the staging-layer discipline) and the whole cube replays in an
  * oracle.
  *
  * At 100 TB: the build is one scan of the new day (register/bottom-k
  * state collapses map-side to ≤ m or ≤ k rows per partition); a range
  * query touches only the `day=` partitions in range (partition-pruned
  * scan) and merges registers with one tiny aggregate. The fact table
  * is never re-read.
  */
object SketchCube {

  /** Build and persist one day's sketches for `keyCol` (idempotent
    * per-day partition replace). */
  def buildDay(df: DataFrame, keyCol: String, day: String, cubeDir: String,
      b: Int = 9, k: Int = 64): Unit = {
    val hll = Sketches.hllBuild(df, keyCol, b).withColumn("day", lit(day))
    hll.write.partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$cubeDir/hll")
    val kmv = Sketches.kmvBuild(df.withColumn("g", lit(1)), Seq("g"),
        keyCol, k)
      .drop("g").withColumn("day", lit(day))
    kmv.write.partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$cubeDir/kmv")
  }

  /** Backfill: ONE pass builds every day's sketches (grouped register /
    * bottom-k aggregation, then a single partitioned write each) — the
    * bulk twin of [[buildDay]]'s per-day partition replace. */
  def buildAll(df: DataFrame, keyCol: String, dayCol: String,
      cubeDir: String, b: Int = 9, k: Int = 64): Unit = {
    val withDay = df.withColumn("day", col(dayCol).cast("string"))
    Sketches.hllBuildBy(withDay, keyCol, b, Seq("day"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$cubeDir/hll")
    Sketches.kmvBuild(withDay, Seq("day"), keyCol, k)
      .write.partitionBy("day").mode("overwrite").parquet(s"$cubeDir/kmv")
  }

  /** Distinct-count estimate over an inclusive day range, answered from
    * the cube alone: partition-pruned register scan + max-merge + the
    * exact-integer HLL estimator. */
  def distinctOverRange(spark: SparkSession, cubeDir: String,
      fromDay: String, toDay: String, b: Int = 9): DataFrame = {
    val regs = graft.core.Tables.parquet(spark, s"$cubeDir/hll")
      .where(col("day") >= fromDay && col("day") <= toDay)
      .groupBy(col("bucket")).agg(max(col("max_rho")).as("max_rho"))
    Sketches.hllEstimate(regs, b)
  }

  /** Pairwise day-overlap (Jaccard estimate) from the KMV halves of the
    * cube: union bottom-k per day pair, membership counts — no fact
    * re-scan. */
  def dayOverlap(spark: SparkSession, cubeDir: String, k: Int = 64): DataFrame = {
    val sk = graft.core.Tables.parquet(spark, s"$cubeDir/kmv")
      .select(col("day").cast("string").as("day"), col("h"))
    Sketches.kmvJaccard(sk, "day", k)
  }
}
