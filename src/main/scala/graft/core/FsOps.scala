package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The ONE audited implementation of the crash-safe directory swap that
  * publishes a prepared replacement: `target`→`old`, `tmp`→`target`,
  * rollback to `old` if the second rename FAILS (returns false), GC
  * `old` on success.
  *
  * Crash windows, stated honestly: a rename that returns false rolls
  * back in-process, but a PROCESS CRASH between the two renames leaves
  * the target ABSENT with the prior data stranded under `old` — two
  * renames on a plain filesystem cannot be one atomic step. Readers
  * therefore recover via [[reAdopt]]: when the target is missing, the
  * newest matching `old` dir is renamed back into place before the
  * read proceeds (idempotent, safe to race — rename-to-existing fails
  * and the winner's result is read). Callers that need a crash window
  * of ZERO across tables use [[Snapshots]] (manifest flip) instead.
  *
  * A pre-existing `old` dir (a previous crash's leftover) is cleared
  * before the first rename — Hadoop rename into an existing directory
  * NESTS instead of replacing, which would both corrupt the rollback
  * path and strand the prior leftover forever.
  *
  * Callers are the two path-addressed stores that readers (and
  * perfbench) open by path: the merge-on-read base
  * (`MergeOnRead.compact`) and the curated tables the daily merge
  * executors and `jobs.Forget` rewrite (`Pipelines.overwriteCurated`).
  * Every other store — every streaming sink, the compacted, zone-mapped
  * tables, the [[Warehouse]] catalog and the result cache included — is
  * on [[Snapshots]] instead, and `CommitGateSpec` fails on a new caller
  * of the swap or of `rename` anywhere else. Callers stage
  * the full replacement inside `tmp` BEFORE calling.
  *
  * FsOps also owns the process-scoped roots under java.io.tmpdir
  * ([[procCacheDir]], [[scratchRoot]]): `CommitGateSpec` fails on a
  * temp-dir root built anywhere else. */
object FsOps {

  def atomicSwap(fs: FileSystem, tmp: Path, target: Path, old: Path): Unit = {
    // clear a leftover `old` (crashed prior swap) — but only when the
    // target EXISTS. If the target is absent, the leftover under `old`
    // is the sole live copy of the data (a prior attempt died between
    // its two renames): deleting it would turn a recoverable crash into
    // data loss, so re-adopt it as the target instead (the same recovery
    // [[reAdopt]] performs) and let the swap proceed over it. A rename
    // into an existing dir NESTS instead of replacing, which is why the
    // existing-target case must delete before the first rename.
    if (fs.exists(old)) {
      if (fs.exists(target)) fs.delete(old, true)
      else if (!fs.rename(old, target))
        throw new java.io.IOException(
          s"re-adopt of stranded $old -> $target failed")
    }
    val hadPrior = fs.exists(target)
    if (hadPrior && !fs.rename(target, old))
      throw new java.io.IOException(s"rename $target -> $old failed")
    if (!fs.rename(tmp, target)) {
      if (hadPrior) fs.rename(old, target)
      throw new java.io.IOException(s"rename $tmp -> $target failed")
    }
    if (hadPrior) fs.delete(old, true)
  }

  /** Read-side recovery for [[atomicSwap]]'s process-crash window: if
    * `target` is absent but a sibling dir matching `oldPrefix` exists
    * (the stranded `old` of a swap that died between its two renames),
    * re-adopt the NEWEST one — by directory modification time, since the
    * embedded numeric stamps are not zero-padded and lexicographic order
    * lies across attempts — by renaming it back to `target`. No-op when
    * the target exists. Returns true if a re-adoption happened.
    * Concurrent READERS are safe: the loser's rename onto the
    * now-existing target fails and it reads the winner's result.
    * A reader concurrent with an IN-FLIGHT swap is NOT: between the
    * writer's two renames the layout is indistinguishable from a crash,
    * and a re-adoption there makes the writer's second rename fail
    * (swap aborts with an IOException; no data is lost, but the write
    * must be retried). Recovery is therefore part of the same
    * SINGLE-WRITER contract the swap itself carries — this engine's
    * maintenance jobs run compaction and its readers sequentially; a
    * multi-process deployment needs an external lock around the pair. */
  def reAdopt(fs: FileSystem, target: Path, oldPrefix: String): Boolean = {
    if (fs.exists(target)) return false
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return false
    val cand = Option(fs.listStatus(parent)).toSeq.flatten
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(oldPrefix))
      .sortBy(st => (st.getModificationTime, st.getPath.getName))
      .lastOption
    cand.exists(st => fs.rename(st.getPath, target))
  }

  /** Bounded retry-through-recovery for readers that traverse
    * swap-managed directories: run `recover` (typically a [[reAdopt]]),
    * then `read`; when the read fails on a MISSING path — a swap moved
    * the directory between the recovery and the read's file listing —
    * recover and retry, at most `attempts` more times. Any other
    * failure, or a missing path that recovery cannot restore, surfaces
    * unchanged. This closes the plan-time half of the reader-vs-swap
    * race the [[reAdopt]] contract documents; the execution-time half
    * (a task reading a file the plan already listed) stays under the
    * single-writer contract — a retry there would need to re-run the
    * caller's whole action. */
  def convergeRead[T](attempts: Int = 3)(recover: => Unit)(read: => T): T = {
    var tries = 0
    while (true) {
      recover
      try return read
      catch { case e: Throwable if tries < attempts && isMissingPath(e) =>
        tries += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Process-scoped root of a build-once query cache under
    * java.io.tmpdir, keyed by the input dir and created if absent. The
    * cache is a [[Snapshots]] root whose first commit is its completion
    * marker ([[Snapshots.openOrBuild]]): a crashed build is invisible and
    * the next call rebuilds into its own version dirs, which are never
    * renamed, so a version's files keep their paths. The pid in the path
    * keeps one process's caches from being read by another built from
    * different code; the first execution per process builds, which the
    * bench's untimed warmup pass absorbs. The root is removed at JVM exit
    * (Hadoop `deleteOnExit`). */
  def procCacheDir(spark: SparkSession, tag: String, sfDir: String): String =
    procRoot(spark, tag, sfDir, empty = false)

  /** The scratch root of a query over corpus `sfDir` that writes files it
    * reads back: [[procCacheDir]]'s root, emptied by every call — so the
    * frame a call returns stays readable until the next call — and removed
    * at JVM exit. */
  def scratchRoot(spark: SparkSession, tag: String, sfDir: String): String =
    procRoot(spark, tag, sfDir, empty = true)

  private def procRoot(spark: SparkSession, tag: String, sfDir: String,
      empty: Boolean): String = {
    val root = new Path(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_" + tag +
      "_p" + java.lang.ProcessHandle.current().pid() + "_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (empty) fs.delete(root, true)
    fs.mkdirs(root)
    fs.deleteOnExit(root) // registers only a path that exists
    root.toString
  }

  /** A missing file/dir anywhere in the failure — FileNotFoundException
    * in the cause chain, or an AnalysisException for a nonexistent path.
    * Primary signal is the error CLASS (stable across locales; matched by
    * containment so namespaced/suffixed variants of PATH_NOT_FOUND — the
    * condition Spark raises at read resolution — keep matching across
    * versions); the English message substring is a documented LAST-RESORT
    * fallback only, for builds that surface the failure with no error
    * class at all. FsOpsSpec pins the real AnalysisException of the
    * running Spark version against this predicate, so a version bump that
    * breaks BOTH signals fails CI instead of silently degrading
    * [[convergeRead]] to non-retrying. */
  @scala.annotation.tailrec
  def isMissingPath(e: Throwable): Boolean = e match {
    case null => false
    case _: java.io.FileNotFoundException => true
    case a: org.apache.spark.sql.AnalysisException
        if Option(a.getCondition).exists(_.contains("PATH_NOT_FOUND")) ||
          a.getMessage.contains("Path does not exist") => true
    case other => isMissingPath(other.getCause)
  }
}
