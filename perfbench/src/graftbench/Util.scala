package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** Order-independent digests, timing and file accounting. */
object Util {

  /** Hashable spelling of a column: floating point to 9 significant
    * digits (sums may differ in the last bits between runs), maps as their
    * sorted entries (maps are not hashable). */
  private def hashable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case _: MapType => to_json(array_sort(map_entries(c)))
    case _ => c
  }

  /** The action that consumes every column: the frame's row count and the
    * sum of one 64-bit hash per row. Equal multisets of rows give equal
    * digests. */
  def digestOf(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val fields = cols.map(c => hashable(col(s"`$c`"), df.schema(c).dataType))
    val h = if (fields.isEmpty) lit(0L) else xxhash64(fields: _*)
    val r = df.select(h.cast("decimal(38,0)").as("__h"))
      .agg(count(lit(1)), coalesce(sum(col("__h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.get(1).toString)
  }

  def digest(df: DataFrame): (Long, String) = digestOf(df, df.columns.toSeq.sorted)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Regular files under `dir`: (count, bytes). */
  def du(dir: String): (Long, Long) = {
    var n = 0L
    var b = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { n += 1; b += f.length() }
    walk(new File(dir))
    (n, b)
  }

  /** Data files (not `_SUCCESS`, not checksums) under `dirs` modified at
    * or after `sinceMs`: (count, bytes). */
  def writtenSince(dirs: Seq[String], sinceMs: Double): (Long, Long) = {
    var n = 0L
    var b = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
          f.lastModified() >= sinceMs.toLong - 1) { n += 1; b += f.length() }
    dirs.foreach(d => walk(new File(d)))
    (n, b)
  }

  /** Cumulative JVM garbage-collection seconds. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** The host's CPU time so far, from /proc/stat: (busy, steal) jiffies,
    * busy being user, nice, system, irq and softirq time. */
  def cpuJiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** The share of the time the host's virtual CPUs wanted to run since
    * `from` (a [[cpuJiffies]] reading) that the hypervisor gave to other
    * guests: steal over busy plus steal. */
  def stealShare(from: (Long, Long)): Double = {
    val (busy, steal) = cpuJiffies
    val (b, s) = (busy - from._1, steal - from._2)
    if (b + s <= 0) 0.0 else s.toDouble / (b + s)
  }

  /** CPU seconds this process has used. */
  def processCpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Named pass/fail records. */
  final class Checks {
    val failed: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    var total = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
      total += 1
      if (!ok) failed += s"$name: $detail"
    }
  }
}
