package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  /** Begin, stage every (table, frame) and commit: one writer's version. */
  private def publish(root: String, tables: (String, DataFrame)*): Snapshots.Snapshot = {
    val txn = Snapshots.begin(spark, root)
    tables.foreach { case (t, df) => txn.stage(t, df) }
    txn.commit()
  }

  test("multi-table commit is atomic: both tables flip together, never mixed") {
    val root = scratch("snap_atomic")
    val first = Snapshots.begin(spark, root)
    first.stage("a", Seq((1, "d1")).toDF("k", "day"))
    first.stage("b", Seq((1, "d1")).toDF("k", "day"))
    // staged but uncommitted → invisible
    assert(Snapshots.currentId(spark, root).isEmpty)
    first.commit()
    assert(Snapshots.currentId(spark, root).contains(1))

    // day-2 publish: stage BOTH, but simulate a crash AFTER the staging
    // writes and BEFORE the commit — readers must still see day 1 on
    // both tables (the mixed state the per-table swap cannot prevent)
    val second = Snapshots.begin(spark, root)
    second.stage("a", Seq((1, "d2")).toDF("k", "day"))
    second.stage("b", Seq((1, "d2")).toDF("k", "day"))
    val mid = Snapshots.open(spark, root)
    assert(mid.id == 1)
    assert(mid.read(spark, "a").select("day").as[String].head() == "d1")
    assert(mid.read(spark, "b").select("day").as[String].head() == "d1")

    second.commit()
    val s2 = Snapshots.open(spark, root)
    assert(s2.id == 2)
    assert(s2.read(spark, "a").select("day").as[String].head() == "d2")
    assert(s2.read(spark, "b").select("day").as[String].head() == "d2")
  }

  test("Snapshot.read and Incremental.read start no Spark job") {
    val root = scratch("snap_jobs")
    val snap = publish(root, "t" -> Seq((1, "d1"), (2, "d2")).toDF("k", "day"))
    val incr = scratch("snap_jobs_incr")
    graft.ops.Incremental.refresh(Seq(("2024-01-01", "a", 150L)).toDF("d", "k", "c"),
      incr, col("d"), Seq("k"), col("c"))
    val jobs = Map(
      "Snapshot.read" -> jobsDuring(snap.read(spark, "t").schema),
      "Incremental.read" -> jobsDuring(graft.ops.Incremental.read(spark, incr).schema))
    assert(jobs.values.forall(_ == 0), s"jobs per read: $jobs")
    assert(jobsDuring(spark.read.parquet(snap.path("t")).schema) > 0,
      "the listener must see the inference job, or the 0 above proves nothing")
    assert(graft.ops.Incremental.read(spark, incr).count() == 1)
  }

  test("carry-forward: a table not re-staged keeps its parent version") {
    val root = scratch("snap_carry")
    publish(root, "facts" -> Seq(1, 2, 3).toDF("v"), "dims" -> Seq(10).toDF("v"))
    val published = publish(root, "facts" -> Seq(4, 5).toDF("v"))
    assert(published.tables == Map("facts" -> 2, "dims" -> 1))
    val s = Snapshots.open(spark, root)
    assert(s.read(spark, "facts").as[Int].collect().sorted.toSeq == Seq(4, 5))
    assert(s.read(spark, "dims").as[Int].head() == 10)
    // a dropped table leaves the next version and nothing else does;
    // once no retained snapshot names it, vacuum removes its directory
    val txn = Snapshots.begin(spark, root)
    txn.drop("dims")
    assert(txn.commit().tables == Map("facts" -> 2))
    Snapshots.vacuum(spark, root, keepLast = 1)
    assert(!new java.io.File(s"$root/dims").exists())
    assert(s.read(spark, "facts").count() == 2)
  }

  test("reader pinned at open time is isolated from later commits") {
    val root = scratch("snap_pin")
    publish(root, "t" -> Seq("old").toDF("v"))
    val pinned = Snapshots.open(spark, root)
    publish(root, "t" -> Seq("new").toDF("v"))
    // the pinned handle resolves to the immutable version-1 directory
    assert(pinned.read(spark, "t").as[String].head() == "old")
    assert(Snapshots.open(spark, root).read(spark, "t").as[String].head() == "new")
    // time travel re-opens snapshot 1 explicitly
    assert(Snapshots.open(spark, root, Some(1))
      .read(spark, "t").as[String].head() == "old")
  }

  test("monotone ids enforced; double commit rejected") {
    val root = scratch("snap_mono")
    val early = Snapshots.begin(spark, root)
    val txn = Snapshots.begin(spark, root)
    txn.stage("t", Seq(1).toDF("v"))
    assert(txn.commit().id == 1)
    // ids come from the log: the next writer continues it
    assert(Snapshots.begin(spark, root).id == 2)
    // the same id twice: a second commit of one writer, and a writer
    // that began before the commit, both lose id 1 — loudly
    val again = intercept[IllegalStateException](txn.commit())
    assert(again.getMessage.contains("snapshot 1 "))
    early.stage("t", Seq(2).toDF("v"))
    val stale = intercept[IllegalStateException](early.commit())
    assert(stale.getMessage.contains("snapshot 1 "))
    assert(Snapshots.open(spark, root).read(spark, "t").as[Int].collect().toSeq == Seq(1))
  }

  test("vacuum: drops old snapshots + unreferenced versions, keeps live ones") {
    val root = scratch("snap_vac")
    (1 to 3).foreach(i => publish(root, "t" -> Seq(i).toDF("v")))
    // a writer staging version 4, not yet committed: could be a crash's
    // orphan, could be in flight — vacuum cannot tell, so it must be
    // SPARED (reaping it would fail that writer's commit with its files
    // deleted under it)
    val inFlight = Snapshots.begin(spark, root)
    inFlight.stage("t", Seq(99).toDF("v"))
    val orphan = new java.io.File(inFlight.dir("t"))
    val (snaps, vers) = Snapshots.vacuum(spark, root, keepLast = 2)
    assert(snaps == 1, "s1 expired")
    assert(vers == 1, s"only version 1 (unreferenced, below current) reaped, got $vers")
    assert(orphan.exists(), "in-flight staging must survive vacuum")
    // retained snapshots still read
    assert(Snapshots.open(spark, root, Some(2)).read(spark, "t").as[Int].head() == 2)
    assert(Snapshots.open(spark, root).read(spark, "t").as[Int].head() == 3)
    intercept[Exception] { Snapshots.open(spark, root, Some(1)).read(spark, "t") }
    // that writer never commits (crashed); another takes id 4 — the
    // orphan is still spared beside the newest id — and once id 5
    // commits it is below current + unreferenced → reaped as garbage
    publish(root, "t" -> Seq(10).toDF("v"))
    assert(Snapshots.vacuum(spark, root, keepLast = 2)._2 == 1, "version 2 expired")
    assert(orphan.exists())
    publish(root, "t" -> Seq(11).toDF("v"))
    val (_, vers2) = Snapshots.vacuum(spark, root, keepLast = 2)
    assert(vers2 == 2, s"version 3 (expired) + the dead orphan reaped, got $vers2")
    assert(!orphan.exists())
  }

  test("a table literally named 'id' round-trips through the manifest") {
    val root = scratch("snap_id")
    val snap = publish(root, "id" -> Seq(7).toDF("v"), "tables" -> Seq(8).toDF("v"),
      "watermark" -> Seq(6).toDF("v"))
    assert(snap == Snapshots.open(spark, root))
    assert(snap.tables == Map("id" -> 1, "tables" -> 1, "watermark" -> 1))
    assert(snap.read(spark, "id").as[Int].head() == 7)
    assert(snap.read(spark, "tables").as[Int].head() == 8)
    assert(snap.watermark.isEmpty)
    // carry-forward keeps both under a later partial publish
    publish(root, "tables" -> Seq(9).toDF("v"))
    assert(Snapshots.open(spark, root).tables ==
      Map("id" -> 1, "tables" -> 2, "watermark" -> 1))
  }

  test("commit fails loudly on a staged dir the manifest cannot round-trip") {
    val root = scratch("snap_badname")
    val txn = Snapshots.begin(spark, root)
    txn.stage("good", Seq((1, "d1")).toDF("k", "day"))
    // a hyphenated name would publish a silently truncated entry that
    // reads back as a nonexistent path: the writer refuses to stage it
    val e = intercept[IllegalArgumentException](
      txn.stage("bad-name", Seq((1, "d1")).toDF("k", "day")))
    assert(e.getMessage.contains("bad-name"))
    // a directory made beside the root by hand is never published:
    // the commit carries only what its own writer staged
    Seq((1, "d1")).toDF("k", "day")
      .write.mode("overwrite").parquet(s"$root/other/v=1-0")
    assert(txn.commit().tables == Map("good" -> 1))
  }

  test("vacuum skips a stray non-numeric v= dir instead of aborting") {
    val root = scratch("snap_straydir")
    publish(root, "t" -> Seq((1, "d1")).toDF("k", "day"))
    val first = Snapshots.open(spark, root).path("t")
    publish(root, "t" -> Seq((1, "d2")).toDF("k", "day"))
    // tool-left junk dirs a version-id parse would throw on
    new java.io.File(s"$root/t/v=tmp").mkdirs()
    new java.io.File(s"$root/t/v=17179869184-0").mkdirs()
    val (snaps, vers) = Snapshots.vacuum(spark, root, keepLast = 1)
    assert(snaps == 1 && vers == 1, s"vacuum must still enforce retention: $snaps/$vers")
    assert(!new java.io.File(first).exists())
    assert(new java.io.File(s"$root/t/v=tmp").exists(), "junk dir is skipped, not deleted")
    assert(new java.io.File(s"$root/t/v=17179869184-0").exists())
  }

  test("the stream watermark rides the commit record and carries forward") {
    val root = scratch("snap_mark")
    val first = Snapshots.begin(spark, root)
    first.stage("t", Seq(1).toDF("v"))
    first.advance(4)
    first.advance(2) // a lower batch never moves it back
    assert(first.commit().watermark.contains(4L))
    publish(root, "t" -> Seq(2).toDF("v"))
    assert(Snapshots.open(spark, root).watermark.contains(4L))
    assert(Snapshots.begin(spark, root).watermark.contains(4L))
  }
}
