package graft.plans

import java.security.MessageDigest

import graft.core.{Snapshots, Trace}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Fingerprinted RESULT CACHE with input-version invalidation — the
  * serving half for the arbitrary-plan case next to [[Reuse]]
  * (detect what recurs) and [[MvRewriteRule]] (serve matching
  * aggregates from partials): run a deterministic query ONCE, persist
  * its result keyed by what it computed over, and serve every
  * identical re-ask from the parquet copy until the inputs change.
  *
  * The fingerprint is md5 over (a) the CANONICALIZED logical plan
  * (Catalyst normalizes expression ids and alias names, keeps literals
  * and ordering — the same query spelled differently collapses, a
  * different constant does not) and (b) the sorted input-file listing
  * with per-file (length, mtime). Any data change — appended file,
  * rewritten partition, compaction — flips (b), so staleness is
  * IMPOSSIBLE by construction rather than policed by TTLs; superseded
  * entries just stop being referenced ([[vacuum]] reaps them by age).
  *
  * Scale shape: fingerprinting is driver-side metadata (plan string +
  * one FileStatus per input file — the same metadata-sized work any
  * scan's listing already does); a hit costs one parquet read of the
  * RESULT (usually orders of magnitude smaller than the inputs); a
  * miss costs the query plus one write. Only deterministic plans
  * belong here — a plan with rand()/now() caches its first answer,
  * same as any result cache. Each entry is a build-once
  * [[graft.core.Snapshots]] root, so a crashed writer leaves no visible
  * half-entry, and of concurrent misses of one key exactly one commits:
  * the others read the winner's copy and leave none of their own. */
object ResultCache {

  private val Entry = "result"

  /** Stable key of (what this plan computes) × (the exact bytes it
    * reads): md5 hex of canonicalized-plan text + each input file's
    * (path, length, mtime), sorted. */
  def fingerprint(df: DataFrame): String = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val files = df.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    val payload = df.queryExecution.analyzed.canonicalized.toString +
      "\n" + files.mkString("\n")
    MessageDigest.getInstance("MD5").digest(payload.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Serve `df` through the cache at `cacheDir`: hit → read the stored
    * result; miss → execute, store as the entry's first snapshot, and
    * read back. The returned frame always scans the CACHE copy, so
    * downstream plans are identical on hit and miss. */
  def through(df: DataFrame, cacheDir: String): DataFrame = {
    val spark = df.sparkSession
    // no input files = no observable data version (JDBC, temp views over
    // checkpointed frames, pure literals): the fingerprint would bind
    // the PLAN alone and serve the first answer forever — bypass the
    // cache instead of caching something invalidation can never reach
    if (df.inputFiles.isEmpty) {
      Trace.attr("result_cache_bypass", "no file inputs")
      return df
    }
    Snapshots.openOrBuild(spark, s"$cacheDir/${fingerprint(df)}")(_.stage(Entry, df))
      .read(spark, Entry)
  }

  /** True if `df`'s current fingerprint is already materialized. */
  def isCached(df: DataFrame, cacheDir: String): Boolean =
    Snapshots.currentId(df.sparkSession, s"$cacheDir/${fingerprint(df)}").nonEmpty

  /** Reap entries older than `maxAgeMs` (superseded fingerprints are
    * never referenced again — age is the correct reclaim signal).
    * Returns the number of entries removed. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, cacheDir: String,
      maxAgeMs: Long, nowMs: Long): Int = {
    val root = new Path(cacheDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    val old = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && nowMs - s.getModificationTime > maxAgeMs)
    old.foreach(s => fs.delete(s.getPath, true))
    old.size
  }
}
