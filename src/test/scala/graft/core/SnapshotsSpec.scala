package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  test("multi-table commit is atomic: both tables flip together, never mixed") {
    val root = scratch("snap_atomic")
    Snapshots.stage(spark, root, "a", Seq((1, "d1")).toDF("k", "day"), 1)
    Snapshots.stage(spark, root, "b", Seq((1, "d1")).toDF("k", "day"), 1)
    // staged but uncommitted → invisible
    assert(Snapshots.currentId(spark, root).isEmpty)
    Snapshots.commit(spark, root, 1)
    assert(Snapshots.currentId(spark, root).contains(1))

    // day-2 publish: stage BOTH, but simulate a crash AFTER the staging
    // writes and BEFORE the commit — readers must still see day 1 on
    // both tables (the mixed state the per-table swap cannot prevent)
    Snapshots.stage(spark, root, "a", Seq((1, "d2")).toDF("k", "day"), 2)
    Snapshots.stage(spark, root, "b", Seq((1, "d2")).toDF("k", "day"), 2)
    val mid = Snapshots.open(spark, root)
    assert(mid.id == 1)
    assert(mid.read(spark, "a").select("day").as[String].head() == "d1")
    assert(mid.read(spark, "b").select("day").as[String].head() == "d1")

    Snapshots.commit(spark, root, 2)
    val s2 = Snapshots.open(spark, root)
    assert(s2.id == 2)
    assert(s2.read(spark, "a").select("day").as[String].head() == "d2")
    assert(s2.read(spark, "b").select("day").as[String].head() == "d2")
  }

  test("Snapshot.read and Incremental.read start no Spark job") {
    val root = scratch("snap_jobs")
    Snapshots.stage(spark, root, "t", Seq((1, "d1"), (2, "d2")).toDF("k", "day"), 1)
    Snapshots.commit(spark, root, 1)
    val incr = scratch("snap_jobs_incr")
    graft.ops.Incremental.refresh(Seq(("2024-01-01", "a", 150L)).toDF("d", "k", "c"),
      incr, col("d"), Seq("k"), col("c"))
    val snap = Snapshots.open(spark, root)
    val jobs = Map(
      "Snapshot.read" -> jobsDuring(snap.read(spark, "t").schema),
      "Incremental.read" -> jobsDuring(graft.ops.Incremental.read(spark, incr).schema))
    assert(jobs.values.forall(_ == 0), s"jobs per read: $jobs")
    assert(jobsDuring(spark.read.parquet(s"$root/t/v=1").schema) > 0,
      "the listener must see the inference job, or the 0 above proves nothing")
    assert(graft.ops.Incremental.read(spark, incr).count() == 1)
  }

  test("carry-forward: a table not re-staged keeps its parent version") {
    val root = scratch("snap_carry")
    Snapshots.stage(spark, root, "facts", Seq(1, 2, 3).toDF("v"), 1)
    Snapshots.stage(spark, root, "dims", Seq(10).toDF("v"), 1)
    Snapshots.commit(spark, root, 1)
    Snapshots.stage(spark, root, "facts", Seq(4, 5).toDF("v"), 2)
    val published = Snapshots.commit(spark, root, 2)
    assert(published == Map("facts" -> 2, "dims" -> 1))
    val s = Snapshots.open(spark, root)
    assert(s.read(spark, "facts").as[Int].collect().sorted.toSeq == Seq(4, 5))
    assert(s.read(spark, "dims").as[Int].head() == 10)
  }

  test("reader pinned at open time is isolated from later commits") {
    val root = scratch("snap_pin")
    Snapshots.stage(spark, root, "t", Seq("old").toDF("v"), 1)
    Snapshots.commit(spark, root, 1)
    val pinned = Snapshots.open(spark, root)
    Snapshots.stage(spark, root, "t", Seq("new").toDF("v"), 2)
    Snapshots.commit(spark, root, 2)
    // the pinned handle resolves to the immutable v=1 directory
    assert(pinned.read(spark, "t").as[String].head() == "old")
    assert(Snapshots.open(spark, root).read(spark, "t").as[String].head() == "new")
    // time travel re-opens snapshot 1 explicitly
    assert(Snapshots.open(spark, root, Some(1))
      .read(spark, "t").as[String].head() == "old")
  }

  test("monotone ids enforced; double commit rejected") {
    val root = scratch("snap_mono")
    Snapshots.stage(spark, root, "t", Seq(1).toDF("v"), 5)
    Snapshots.commit(spark, root, 5)
    intercept[IllegalArgumentException] {
      Snapshots.stage(spark, root, "t", Seq(2).toDF("v"), 5)
    }
    intercept[IllegalArgumentException] { Snapshots.commit(spark, root, 5) }
    intercept[IllegalArgumentException] { Snapshots.commit(spark, root, 4) }
  }

  test("vacuum: drops old snapshots + unreferenced versions, keeps live ones") {
    val root = scratch("snap_vac")
    (1 to 3).foreach { i =>
      Snapshots.stage(spark, root, "t", Seq(i).toDF("v"), i)
      Snapshots.commit(spark, root, i)
    }
    // a staging dir ABOVE the newest committed snapshot: could be a
    // crashed publish's orphan, could be a concurrent writer mid-publish
    // — vacuum cannot tell, so it must be SPARED (reaping it would turn
    // that writer's commit into a silent partial publish)
    Snapshots.stage(spark, root, "t", Seq(99).toDF("v"), 9)
    val (snaps, vers) = Snapshots.vacuum(spark, root, keepLast = 2)
    assert(snaps == 1, "s1 expired")
    assert(vers == 1, s"only v=1 (unreferenced, below current) reaped, got $vers")
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$root/t/v=9")),
      "in-flight staging must survive vacuum")
    // retained snapshots still read
    assert(Snapshots.open(spark, root, Some(2)).read(spark, "t").as[Int].head() == 2)
    assert(Snapshots.open(spark, root).read(spark, "t").as[Int].head() == 3)
    intercept[Exception] { Snapshots.open(spark, root, Some(1)).read(spark, "t") }
    // the v=9 publish never commits (crashed); once a LATER snapshot
    // commits, v=9 is below current + unreferenced → reaped as garbage
    Snapshots.stage(spark, root, "t", Seq(10).toDF("v"), 10)
    Snapshots.commit(spark, root, 10)
    val (_, vers2) = Snapshots.vacuum(spark, root, keepLast = 2)
    assert(vers2 == 2, s"v=2 (expired) + v=9 (dead orphan) reaped, got $vers2")
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$root/t/v=9")))
  }

  test("a table literally named 'id' round-trips through the manifest") {
    val root = scratch("snap_id")
    Snapshots.stage(spark, root, "id", Seq(7).toDF("v"), 1)
    Snapshots.stage(spark, root, "tables", Seq(8).toDF("v"), 1)
    Snapshots.commit(spark, root, 1)
    val snap = Snapshots.open(spark, root)
    assert(snap.tables == Map("id" -> 1, "tables" -> 1))
    assert(snap.read(spark, "id").as[Int].head() == 7)
    assert(snap.read(spark, "tables").as[Int].head() == 8)
    // carry-forward keeps both under a later partial publish
    Snapshots.stage(spark, root, "tables", Seq(9).toDF("v"), 2)
    Snapshots.commit(spark, root, 2)
    assert(Snapshots.open(spark, root).tables == Map("id" -> 1, "tables" -> 2))
  }

  test("commit fails loudly on a staged dir the manifest cannot round-trip") {
    val root = scratch("snap_badname")
    Snapshots.stage(spark, root, "good", Seq((1, "d1")).toDF("k", "day"), 1)
    // a directory created OUTSIDE stage() with a hyphenated name, staged
    // for the same snapshot id — committing it would publish a silently
    // truncated name that reads back as a nonexistent path
    Seq((1, "d1")).toDF("k", "day")
      .write.mode("overwrite").parquet(s"$root/bad-name/v=1")
    val e = intercept[IllegalArgumentException](Snapshots.commit(spark, root, 1))
    assert(e.getMessage.contains("bad-name"))
    // after removing the offender the commit goes through
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/bad-name"))
    assert(Snapshots.commit(spark, root, 1) == Map("good" -> 1))
  }

  test("vacuum skips a stray non-numeric v= dir instead of aborting") {
    val root = scratch("snap_straydir")
    Snapshots.stage(spark, root, "t", Seq((1, "d1")).toDF("k", "day"), 1)
    Snapshots.commit(spark, root, 1)
    Snapshots.stage(spark, root, "t", Seq((1, "d2")).toDF("k", "day"), 2)
    Snapshots.commit(spark, root, 2)
    // a tool-left junk dir that stripPrefix().toInt would throw on
    new java.io.File(s"$root/t/v=tmp").mkdirs()
    val (snaps, vers) = Snapshots.vacuum(spark, root, keepLast = 1)
    assert(snaps == 1 && vers == 1, s"vacuum must still enforce retention: $snaps/$vers")
    assert(!new java.io.File(s"$root/t/v=1").exists())
    assert(new java.io.File(s"$root/t/v=tmp").exists(), "junk dir is skipped, not deleted")
  }
}
