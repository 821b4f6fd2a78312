package graft.core

import graft.SparkSpec
import org.apache.hadoop.fs.Path

class FsOpsSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("atomicSwap clears a leftover old dir instead of nesting into it") {
    val root = scratch("fsops_leftover")
    Seq(1).toDF("v").write.parquet(s"$root/target")
    Seq(2).toDF("v").write.parquet(s"$root/tmp")
    // a previous crash's stranded `old` — Hadoop rename into an existing
    // dir NESTS, which would corrupt both the rollback and the GC
    Seq(0).toDF("v").write.parquet(s"$root/old")
    FsOps.atomicSwap(fs, new Path(s"$root/tmp"), new Path(s"$root/target"),
      new Path(s"$root/old"))
    assert(spark.read.parquet(s"$root/target").as[Int].head() == 2)
    assert(!fs.exists(new Path(s"$root/old")), "old must be GC'd, not nested")
  }

  test("atomicSwap re-adopts a stranded old when the target is absent") {
    val root = scratch("fsops_strand")
    // a prior swap died between its two renames: target ABSENT, the
    // sole live copy stranded under `old`. A caller reusing the same
    // old path must not have that copy deleted out from under it —
    // the swap re-adopts it as the prior generation instead.
    Seq(1).toDF("v").write.parquet(s"$root/old")
    Seq(2).toDF("v").write.parquet(s"$root/tmp")
    FsOps.atomicSwap(fs, new Path(s"$root/tmp"), new Path(s"$root/target"),
      new Path(s"$root/old"))
    assert(spark.read.parquet(s"$root/target").as[Int].head() == 2)
    assert(!fs.exists(new Path(s"$root/old")), "re-adopted prior is GC'd")
  }

  test("reAdopt recovers the crash window between the swap's two renames") {
    val root = scratch("fsops_readopt")
    val target = new Path(s"$root/assignments")
    Seq(1).toDF("v").write.parquet(target.toString)
    // simulate the window: target renamed aside, process died before the
    // staging dir moved in — target ABSENT, data stranded under old
    assert(fs.rename(target, new Path(s"$root/.assignments_old_42")))
    assert(!fs.exists(target))
    assert(FsOps.reAdopt(fs, target, ".assignments_old_"))
    assert(spark.read.parquet(target.toString).as[Int].head() == 1)
    // idempotent: target now exists → no-op
    assert(!FsOps.reAdopt(fs, target, ".assignments_old_"))
    // absent parent / nothing to adopt → false, no throw
    assert(!FsOps.reAdopt(fs, new Path(s"$root/nope/sub"), ".x_old_"))
  }

  test("reAdopt picks the newest stranded attempt by mtime") {
    val root = scratch("fsops_newest")
    val target = new Path(s"$root/t")
    Seq(1).toDF("v").write.parquet(s"$root/.t_old_900")
    Thread.sleep(20) // distinct mtimes; names sort the WRONG way (9 > 1)
    Seq(2).toDF("v").write.parquet(s"$root/.t_old_1000")
    assert(FsOps.reAdopt(fs, target, ".t_old_"))
    assert(spark.read.parquet(target.toString).as[Int].head() == 2,
      "must re-adopt the newest attempt, not the lexicographic max")
  }

  test("convergeRead: retries missing-path failures through recovery, bounded") {
    // a swap racing between the recovery and the read's listing: the
    // first read attempt sees the dir gone, the second recovery restores
    // it — the reader must converge without surfacing the FNF
    var recoveries = 0
    var reads = 0
    val got = FsOps.convergeRead()( { recoveries += 1 } )({
      reads += 1
      if (reads == 1)
        throw new java.io.FileNotFoundException("raced away")
      42
    })
    assert(got == 42 && recoveries == 2 && reads == 2)
    // non-missing failures escape immediately, no retry
    var calls = 0
    intercept[IllegalStateException] {
      FsOps.convergeRead()(())({ calls += 1; throw new IllegalStateException("boom") })
    }
    assert(calls == 1)
    // a missing path recovery cannot restore gives up after the bound
    var attempts = 0
    intercept[java.io.FileNotFoundException] {
      FsOps.convergeRead(attempts = 2)(())(
        { attempts += 1; throw new java.io.FileNotFoundException("gone") })
    }
    assert(attempts == 3, "initial try + 2 retries")
    // FNF nested under a wrapper (Spark task failure shape) still retries
    var nested = 0
    val ok = FsOps.convergeRead()(())({
      nested += 1
      if (nested == 1) throw new RuntimeException("job aborted",
        new java.io.FileNotFoundException("part-0000 missing"))
      "ok"
    })
    assert(ok == "ok" && nested == 2)
  }

  test("isMissingPath matches the RUNNING Spark's real missing-path AnalysisException") {
    // pin against the live version, not a synthetic message: if a Spark
    // bump changes both the error class and the English message,
    // convergeRead silently degrades to non-retrying — this case makes
    // that a CI failure instead
    val e = intercept[Throwable] {
      spark.read.parquet("/definitely/not/a/path/graft_fsops_spec").collect()
    }
    assert(FsOps.isMissingPath(e), s"unrecognized missing-path failure: $e")
    // and the error-CLASS arm alone recognizes it (message fallback is
    // last-resort, not the load-bearing check)
    def classArm(t: Throwable): Boolean = t match {
      case null => false
      case a: org.apache.spark.sql.AnalysisException
          if Option(a.getCondition).exists(_.contains("PATH_NOT_FOUND")) => true
      case other => classArm(other.getCause)
    }
    assert(classArm(e), s"error class not matched, only the message would: $e")
    // close-but-different classes stay unmatched
    assert(!FsOps.isMissingPath(new RuntimeException("Path does exist")))
  }

  test("MOR snapshot read converges across a staged compaction crash window") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = scratch("fsops_mor_window")
    val df = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"))
      .toDF("id", "effective", "v")
    graft.ops.MergeOnRead.appendDelta(
      df.withColumn("etl_ingest_date", lit("2024-01-01")), dir, "t")
    graft.ops.MergeOnRead.compact(spark, dir, "t", Seq("id"),
      Seq(col("effective")))
    val before = graft.ops.MergeOnRead.readSnapshot(spark, dir, "t",
      Seq("id"), Seq(col("effective"))).collect().map(_.toString).sorted
    // the window: base renamed aside, the new base never renamed in
    val base = new Path(s"$dir/t/base")
    assert(fs.rename(base, new Path(s"$dir/t/.base_old_99")))
    assert(!fs.exists(base))
    val after = graft.ops.MergeOnRead.readSnapshot(spark, dir, "t",
      Seq("id"), Seq(col("effective"))).collect().map(_.toString).sorted
    assert(after.sameElements(before), "reader must re-adopt the stranded base")
    assert(fs.exists(base), "re-adoption must restore the base dir")
  }

  test("scratchRoot: two calls of q270 leave one root, removed at exit, same rows") {
    val dir = "/root/testdata/sf0.001"
    val tmp = graft.TestSession.jdkTmp
    val pid = java.lang.ProcessHandle.current().pid()
    def roots() = tmp.list().filter(_.startsWith(s"graft_q270_p${pid}_")).toSet
    def rows() = graft.queries.Training.q270IvfAppend(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    val first = rows()
    val second = rows()
    assert(roots().size == 1, roots())
    assert(second == first && first.nonEmpty)
    val root = new Path(new java.io.File(tmp, roots().head).getPath)
    assert(fs.cancelDeleteOnExit(root), "the root must be registered for deletion at exit")
    fs.deleteOnExit(root)
  }
}
