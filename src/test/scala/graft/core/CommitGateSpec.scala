package graft.core

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source gates for the one commit protocol: every store commits through
  * [[Snapshots]] — the Incremental partials, the IVF index, the
  * build-once query caches, the result cache, the Warehouse catalog and
  * every stream sink — except the curated tables and the merge-on-read
  * base, which perfbench reads by path and which stay on the `FsOps`
  * swap. A new hand-rolled commit marker, watermark file, manifest,
  * rename, directory swap, zone synopsis or temp-dir root fails CI here,
  * as does a spec temp dir made outside `SparkSpec`. */
class CommitGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def sources: List[Path] = scalaUnder(root)

  private def scalaUnder(dir: Path): List[Path] = {
    assert(Files.isDirectory(dir), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
  }

  test("no commit marker, watermark file or swap staging dir under src/main/scala") {
    val banned = Seq("_GRAFT_COMMITTED", "_compacted_to", ".assignments_old_",
      "createNewFile(", "recoverAssignments", "writeIvfWatermark", "_graft_commits_",
      // zones come from the committed files' own footers: no synopsis
      "readPruned", "prunedFiles", "invalidateCache", "spark.graft.zonemap.enabled",
      "ZoneMap.", "_zonemap", "mappedColumns",
      // the Warehouse catalog, result cache and stream sinks are Snapshots roots
      "_graft_catalog", "_graft_views", ".tmp_", "batch=$")
    val offenders = for {
      p <- sources
      text = Files.readString(p)
      b <- banned if text.contains(b)
    } yield s"${root.relativize(p)}: $b"
    assert(offenders.isEmpty, s"commit versioned stores through Snapshots: $offenders")
  }

  test("FsOps swap calls only in MergeOnRead and Pipelines") {
    val allowed = Set("ops/MergeOnRead.scala", "entities/Pipelines.scala")
    val call = """\b(atomicSwap|reAdopt|convergeRead)(\[\w+\])?\s*\(""".r
    val offenders = for {
      p <- sources if !allowed(root.relativize(p).toString)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if call.findFirstIn(line).nonEmpty && !line.contains("def ")
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, s"commit versioned stores through Snapshots: $offenders")
  }

  test("rename only in Snapshots, FsOps and ScaleUp") {
    val allowed = Map(
      "core/Snapshots.scala" -> "put-if-absent of a snapshot record off the local filesystem",
      "core/FsOps.scala" -> "the swap of the two stores perfbench reads by path",
      "tools/ScaleUp.scala" -> "a tool that lays out probe corpora, not a store")
    val offenders = for {
      p <- sources
      rel = root.relativize(p).toString if !allowed.contains(rel)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex if line.contains(".rename(")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, s"commit through Snapshots, not by rename: $offenders")
  }

  test("spec temp dirs only through SparkSpec") {
    // SparkSpec.scratch makes them under one per-JVM root removed at exit;
    // this gate names the strings it bans
    val allowed = Set("SparkSpec.scala", "core/CommitGateSpec.scala")
    val specs = Paths.get("src/test/scala/graft")
    val offenders = for {
      p <- scalaUnder(specs)
      rel = specs.relativize(p).toString if !allowed(rel)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("createTempDirectory") || line.contains("java.io.tmpdir")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, s"make spec temp dirs with scratch(...): $offenders")
  }

  test("java.io.tmpdir only in FsOps and the allow-listed roots") {
    // FsOps owns the process-scoped roots; elsewhere one occurrence per
    // allow-listed file, each with its reason. A JDK temp directory is a
    // temp-dir root too, and one nothing removes.
    val allowed = Map(
      "core/Sessions.scala" -> "spark.local.dir where /dev/shm is absent",
      "Bench.scala" -> "the fs canary prices the temp dir's own filesystem",
      "queries/StreamingQueries.scala" ->
        "runToMemory's checkpoint, removed once its stream terminates")
    val offenders = for {
      p <- sources
      rel = root.relativize(p).toString if rel != "core/FsOps.scala"
      n = Files.readAllLines(p).asScala.count(l =>
        l.contains("java.io.tmpdir") || l.contains("createTempDirectory"))
      if n > (if (allowed.contains(rel)) 1 else 0)
    } yield s"$rel: $n"
    assert(offenders.isEmpty, s"build temp roots with FsOps.procCacheDir or scratchRoot: $offenders")
  }
}
