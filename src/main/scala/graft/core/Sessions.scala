package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's standard configuration — the only
  * place a main builds a session, so Bench, Verify, the tools and the
  * benchmark all measure the same engine (`SessionsSpec` gates this).
  *
  * Settings chosen for correctness-parity with the reference corpus and for
  * scale: UTC session time zone (the reference parses all timestamps as UTC —
  * ProcessDaily.usql:16), AQE on (runtime re-planning,
  * skew-join splitting, partition coalescing), shuffle partitions sized to
  * the local core count rather than the 200 default, a generated-class
  * cache that holds a warm workload's classes.
  */
object Sessions {

  /** `local[n]` with n from `SPARK_GRAFT_CPUS`, else every core. */
  def local(): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))

  def local(cores: Int): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // shuffle/spill scratch on tmpfs when available: the build VM's
      // virtio disk intermittently stalls writes, multiplying wall-clock
      // on shuffle-heavy stages (a real cluster uses local NVMe here).
      // Spark's own SPARK_LOCAL_DIRS overrides it: probe tiers whose
      // shuffle volume exceeds RAM point it at disk.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-scratch"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the test corpus's events.parquet carries TIMESTAMP(NANOS), which
      // Spark has no native type for — surface as Long epoch nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache (JVM-wide, sized at first codegen)
      // defaults to 100 entries; the recurring workloads overflow that and
      // recompile on every warm run. Distinct classes compiled cold, with
      // the cache unbounded: one etl_mor_rw day (catalog + history day)
      // 361, one query_iter round at sf0.01 203 (193 in its first pass),
      // the largest registry query (q244 at sf0.01) 159. 1024 is over 2x
      // the largest.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
