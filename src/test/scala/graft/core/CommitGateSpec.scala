package graft.core

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source gates for the one commit protocol: every versioned store
  * commits through [[Snapshots]], so a new hand-rolled commit marker,
  * watermark file, directory swap, zone synopsis or temp-dir root fails
  * CI here. */
class CommitGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def sources: List[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
  }

  test("no commit marker, watermark file or swap staging dir under src/main/scala") {
    val banned = Seq("_GRAFT_COMMITTED", "_compacted_to", ".assignments_old_",
      "createNewFile(", "recoverAssignments", "writeIvfWatermark", "_graft_commits_",
      // zones come from the committed files' own footers: no synopsis
      "readPruned", "prunedFiles", "invalidateCache", "spark.graft.zonemap.enabled",
      "ZoneMap.", "_zonemap", "mappedColumns")
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
