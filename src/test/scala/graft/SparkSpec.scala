package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The JDK temp dir, where the engine's process-scoped roots
    * (`FsOps.procCacheDir`, `FsOps.scratchRoot`, streaming checkpoints)
    * land. */
  val jdkTmp: java.io.File = new java.io.File(System.getProperty("java.io.tmpdir"))

  /** This JVM's one root of spec scratch dirs under [[jdkTmp]], removed
    * with everything under it when the JVM exits. */
  lazy val scratchRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(jdkTmp.toPath, "graft-spec-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    d
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Fresh scratch dir per call, under the JVM's [[TestSession.scratchRoot]]
    * (removed at exit). */
  def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(TestSession.scratchRoot, prefix).toString

  /** Spark jobs started while `body` runs, counted after the bus drains. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftSqlShim.drainListeners(sc)
    sc.addSparkListener(listener)
    try { body; GraftSqlShim.drainListeners(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
