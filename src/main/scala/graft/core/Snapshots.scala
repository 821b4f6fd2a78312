package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** Cross-table ATOMIC publish on plain parquet — snapshot isolation for
  * the reference's daily multi-table rebuild, and the one commit
  * protocol of every versioned store in the engine
  * ([[graft.ops.Incremental]] partials, the IVF index of
  * [[graft.ops.Ann]], the build-once query caches and
  * [[graft.plans.ResultCache]] entries, the [[Warehouse]] catalog, and the
  * tables of every [[graft.streaming.Streams]] sink).
  *
  * The reference's `ProcessDaily.usql` publishes ~33 curated tables per
  * day as independent TRUNCATE+INSERTs (one per table, `:229-3650`); a
  * job that dies midway leaves the warehouse MIXED — some tables at day
  * N, the rest at day N−1 — and a reader joining across them sees a day
  * that never existed. Per-table atomicity cannot fix that: the gap is
  * cross-table. This module closes it with Delta Lake's log design,
  * re-expressed minimally on a plain filesystem:
  *
  *  - each table version is an immutable directory
  *    `root/<table>/v=<id>-<token>`, named by the ONE writer that staged
  *    it ([[Txn]]) — writers never mutate a published directory and
  *    never share a staging directory;
  *  - a SNAPSHOT is one record `root/_snapshots/s<%09d>.json` mapping
  *    every table to the directory that snapshot sees, plus the writer's
  *    stream watermark; tables not re-staged are carried forward from
  *    the parent snapshot unchanged;
  *  - COMMIT is a PUT-IF-ABSENT of record `id = parent + 1`: the record
  *    is written to a writer-private temp file and linked into place
  *    only if no record of that id exists (link(2) on local files; a
  *    rename onto an existing HDFS file fails the same way). Two writers
  *    that begin from the same parent race for one id and exactly one
  *    wins; the loser's [[Txn.commit]] throws naming the id it lost and
  *    removes its own staged directories. There is no retry: a stream
  *    restart replays its batch, and the watermark keeps that
  *    exactly-once. A crash before the link leaves only invisible
  *    staging dirs (reaped by [[vacuum]]) — ALL tables flip together or
  *    none do;
  *  - readers resolve the current snapshot ONCE (max numbered record)
  *    and hold the resolved table→directory map: commits that land later
  *    cannot shift any table under a running query — snapshot isolation
  *    without locks, because published directories are immutable.
  *
  * Scale: a record is O(tables) bytes and the commit is one link
  * regardless of data volume. Readers add one ≤KB JSON read per query
  * plan, no listing of data directories. Old versions stay readable
  * (time travel by snapshot id) until [[vacuum]] drops the versions no
  * retained snapshot references — the Iceberg `expire_snapshots`
  * contract.
  *
  * Determinism: ids are the log's own sequence (parent + 1), never a
  * wall clock.
  */
object Snapshots {

  private val SnapDir = "_snapshots"
  private val VersionDir = """v=(\d{1,9})-[0-9a-f]+""".r

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def snapName(id: Int): String = f"s$id%09d.json"

  /** Whether a directory NAME is a version a [[Txn]] staged
    * (`v=<id>-<token>`): a test of the name alone, no filesystem call. */
  def isVersionDir(name: String): Boolean = VersionDir.matches(name)

  /** One writer's pending snapshot `parent + 1` of `root`. Tables staged
    * through it land in directories only this writer names; [[commit]]
    * publishes exactly them, carries every other table of the parent
    * forward, and drops the tables [[drop]] named. */
  final class Txn private[Snapshots] (val spark: SparkSession, val root: String,
      val parent: Option[Snapshot]) {
    val id: Int = parent.fold(1)(_.id + 1)
    private val token = java.util.UUID.randomUUID().toString.replace("-", "")
    private var staged = Map.empty[String, String]
    private var dropped = Set.empty[String]
    private var mark: Option[Long] = parent.flatMap(_.watermark)
    private var committed = false

    /** The directory of `table`'s new version, for writers that lay the
      * files out themselves (a partitioned write, a zone-map synopsis
      * inside the version). */
    def dir(table: String): String = {
      requireIdent(table)
      staged += table -> s"v=$id-$token"
      dropped -= table
      s"$root/$table/${staged(table)}"
    }

    def stage(table: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(dir(table))

    /** Leave `table` out of this version (it stays readable in older
      * snapshots until [[vacuum]]). */
    def drop(table: String): Unit = { staged -= table; dropped += table }

    /** The highest folded stream batch this version records (Delta's
      * `txn` action); a commit carries its parent's forward. */
    def watermark: Option[Long] = mark
    def advance(batch: Long): Unit = mark = Some(mark.fold(batch)(_ max batch))

    /** Publish this version. Throws if another writer already committed
      * this id; the loser's staged directories are removed. */
    def commit(): Snapshot = {
      if (committed)
        throw new IllegalStateException(s"snapshot $id of $root is already committed")
      val tables = parent.fold(Map.empty[String, String])(_.dirs) -- dropped ++ staged
      require(tables.nonEmpty, s"commit($id): nothing staged and no parent snapshot to carry")
      val snap = Snapshot(root, id, tables, mark)
      val f = fs(spark, root)
      val log = new Path(root, SnapDir)
      f.mkdirs(log)
      val tmp = new Path(log, s".${snapName(id)}.$token")
      val out = f.create(tmp, false)
      try out.write(snap.json.getBytes("UTF-8")) finally out.close()
      if (!putIfAbsent(f, tmp, new Path(log, snapName(id)))) {
        staged.foreach { case (t, d) => f.delete(new Path(s"$root/$t/$d"), true) }
        throw new IllegalStateException(
          s"snapshot $id of $root was committed by another writer; this commit is lost")
      }
      committed = true
      snap
    }
  }

  /** Start the next version of `root` on top of its current snapshot. */
  def begin(spark: SparkSession, root: String): Txn =
    new Txn(spark, root, currentId(spark, root).map(load(spark, root, _)))

  /** The current snapshot, or `build` staged and committed as the first
    * one — a build-once store whose commit is its completion marker. A
    * build that loses its first commit to a concurrent build returns the
    * winner's snapshot; its own staged dirs are gone with the lost commit. */
  def openOrBuild(spark: SparkSession, root: String)(build: Txn => Unit): Snapshot = {
    val txn = begin(spark, root)
    txn.parent.getOrElse {
      build(txn)
      try txn.commit()
      catch { case _: IllegalStateException => open(spark, root, Some(txn.id)) }
    }
  }

  /** Publish `tmp` as `dst` only if `dst` does not exist yet. */
  private def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean =
    try f match {
      case local: LocalFileSystem =>
        java.nio.file.Files.createLink(local.pathToFile(dst).toPath,
          local.pathToFile(tmp).toPath)
        true
      case _ => f.rename(tmp, dst)
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally f.delete(tmp, false)

  /** Highest committed snapshot id, or None before the first commit.
    * One directory listing of O(snapshots) names — no data dirs touched. */
  def currentId(spark: SparkSession, root: String): Option[Int] =
    committedIds(fs(spark, root), root).lastOption

  /** Every committed snapshot id, ascending (empty before the first
    * commit or when the log dir does not exist). */
  private def committedIds(f: FileSystem, root: String): Seq[Int] = {
    val dir = new Path(root, SnapDir)
    if (!f.exists(dir)) Nil
    else Option(f.listStatus(dir)).toSeq.flatten
      .map(_.getPath.getName)
      .collect { case n if n.matches("s\\d{9}\\.json") =>
        n.substring(1, 10).toInt }
      .sorted
  }

  /** The snapshot record `id`. */
  private def load(spark: SparkSession, root: String, id: Int): Snapshot = {
    val in = fs(spark, root).open(new Path(new Path(root, SnapDir), snapName(id)))
    val txt = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
    // parse INSIDE the structural "tables":{...} object only, so a table
    // literally named "id" or "watermark" cannot shadow the header fields
    val at = txt.indexOf("\"tables\":{")
    val body = txt.substring(at + "\"tables\":{".length)
    val dirs = """"([A-Za-z0-9_]+)":"([^"]+)"""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toMap
    val mark = """"watermark":(-?\d+)""".r.findFirstMatchIn(txt.substring(0, at))
      .map(_.group(1).toLong)
    Snapshot(root, id, dirs, mark)
  }

  /** A pinned read view: the table→directory resolution is captured at
    * construction, so commits landing afterwards cannot move any table
    * under this handle — snapshot isolation by immutability. */
  final case class Snapshot(root: String, id: Int, dirs: Map[String, String],
      watermark: Option[Long]) {
    /** table → the snapshot id that published its version. */
    def tables: Map[String, Int] = dirs.map { case (t, d) =>
      t -> d.stripPrefix("v=").takeWhile(_.isDigit).toInt }

    def path(table: String): String = s"$root/$table/" + dirs.getOrElse(table,
      throw new IllegalArgumentException(
        s"snapshot $id of $root has no table '$table' " +
          s"(has: ${dirs.keys.toSeq.sorted.mkString(", ")})"))

    def read(spark: SparkSession, table: String): DataFrame =
      Tables.parquet(spark, path(table))

    private[Snapshots] def json: String =
      s"""{"id":$id,""" + watermark.fold("")(w => s""""watermark":$w,""") +
        dirs.toSeq.sortBy(_._1).map { case (t, d) => s""""$t":"$d"""" }
          .mkString(""""tables":{""", ",", "}}")
  }

  /** Open the current snapshot (or a specific `id` for time travel). */
  def open(spark: SparkSession, root: String, id: Option[Int] = None): Snapshot = {
    val sid = id.orElse(currentId(spark, root)).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    load(spark, root, sid)
  }

  /** Expire history: keep the newest `keepLast` snapshot records, delete
    * older ones, then drop every version dir no retained snapshot
    * references (including orphaned staging dirs from crashed writers).
    * O(snapshots + version dirs) metadata work, no data reads. Returns
    * (snapshots removed, version dirs removed).
    *
    * IN-FLIGHT SAFETY: only versions OLDER than the newest committed
    * snapshot are reaped. A version at or above it may be a writer still
    * staging (one that will commit next, or that lost the newest id and
    * must fail with that id named, not with its files deleted under it).
    * An orphan of a crashed writer is reaped once a later id commits.
    * With no committed snapshot at all, nothing is reaped. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val f = fs(spark, root)
    val ids = committedIds(f, root)
    val (drop, keep) = ids.splitAt(math.max(0, ids.length - keepLast))
    drop.foreach(i =>
      f.delete(new Path(new Path(root, SnapDir), snapName(i)), false))
    val live: Set[(String, String)] =
      keep.flatMap(i => load(spark, root, i).dirs.toSeq).toSet
    var reaped = 0
    keep.lastOption.foreach { newestCommitted =>
      Option(f.listStatus(new Path(root))).toSeq.flatten
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
        .foreach { t =>
          val table = t.getPath.getName
          val left = Option(f.listStatus(t.getPath)).toSeq.flatten.count { v =>
            // a stray dir of another shape (v=tmp, a bare number past
            // Int range) is skipped, never parsed into an abort
            v.getPath.getName match {
              case name @ VersionDir(ver) if v.isDirectory &&
                  ver.toInt < newestCommitted && !live.contains((table, name)) =>
                f.delete(v.getPath, true); reaped += 1; false
              case _ => true
            }
          }
          // a table no retained snapshot names (a folded IVF delta) leaves
          // no empty dir behind for every later vacuum to list
          if (left == 0 && !live.exists(_._1 == table)) removeIfEmpty(f, t.getPath)
        }
    }
    (drop.length, reaped)
  }

  /** rmdir: a writer staging into `dir` at this moment keeps its files. */
  private def removeIfEmpty(f: FileSystem, dir: Path): Unit =
    try f match {
      case local: LocalFileSystem => java.nio.file.Files.delete(local.pathToFile(dir).toPath)
      case _ => f.delete(dir, false)
    } catch { case _: java.io.IOException => }

  private def requireIdent(s: String): Unit =
    require(s.matches("[A-Za-z0-9_]+"), s"illegal table name: $s")
}
