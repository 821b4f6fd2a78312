package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Cross-table ATOMIC publish on plain parquet — snapshot isolation for
  * the reference's daily multi-table rebuild.
  *
  * The reference's `ProcessDaily.usql` publishes ~33 curated tables per
  * day as independent TRUNCATE+INSERTs (one per table, `:229-3650`); a
  * job that dies midway leaves the warehouse MIXED — some tables at day
  * N, the rest at day N−1 — and a reader joining across them sees a day
  * that never existed. Per-table atomicity (`Pipelines.overwriteCurated`'s
  * tmp+rename swap) cannot fix that: the gap is cross-table. This module
  * closes it with the log-of-snapshots idea (Iceberg/Delta's commit
  * protocol, re-expressed minimally on a plain filesystem):
  *
  *  - each table version is an immutable directory
  *    `root/<table>/v=<snapshotId>` — writers never mutate a published
  *    directory;
  *  - a SNAPSHOT is one metadata file `root/_snapshots/s<%09d>.json`
  *    mapping every table to the version that snapshot sees; tables not
  *    re-staged are carried forward from the parent snapshot unchanged;
  *  - COMMIT is a single temp-write + `rename` of the snapshot file —
  *    the one atomic primitive every Hadoop filesystem guarantees.
  *    Either the snapshot file exists completely or not at all; there is
  *    no pointer file to half-update. A crash anywhere before the rename
  *    leaves only invisible `v=` staging dirs (reaped by [[vacuum]]) and
  *    the previous snapshot fully intact — ALL tables flip together or
  *    none do;
  *  - ONE WRITER per root: [[commit]] checks that the id is new and then
  *    renames, and on the local filesystem `rename` replaces an existing
  *    file, so two concurrent committers of the same id are not
  *    excluded — both would "win". Exclusivity holds only under this
  *    single-writer contract, which every caller ([[graft.ops.Incremental]]
  *    included) keeps; readers are unrestricted;
  *  - readers resolve `currentSnapshot` ONCE (max numbered file) and
  *    hold the resolved table→directory map: commits that land later
  *    cannot shift any table under a running query — snapshot isolation
  *    without locks, because published directories are immutable.
  *
  * Scale: a snapshot file is O(tables) bytes and the commit is one
  * rename regardless of data volume — publishing 33 tables × 3 TB costs
  * the same metadata as 2 tables × 1 MB. Readers add one ≤KB JSON read
  * per query plan, no listing of data directories. Old versions stay
  * readable (time travel by snapshot id) until [[vacuum]] drops the
  * versions no retained snapshot references — exactly the
  * Iceberg `expire_snapshots` contract.
  *
  * Determinism discipline: snapshot ids are caller-supplied monotone
  * ints (the engine never reads a wall clock); [[stage]] rejects ids ≤
  * the current snapshot so history can only move forward.
  */
object Snapshots {

  private val SnapDir = "_snapshots"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def snapName(id: Int): String = f"s$id%09d.json"

  /** Stage one table's data for snapshot `id`: an immutable parquet
    * directory `root/<table>/v=<id>`. Invisible to every reader until
    * [[commit]] publishes snapshot `id`; re-staging the same (table, id)
    * before the commit overwrites the staging dir (retry-safe). */
  def stage(spark: SparkSession, root: String, table: String,
      df: DataFrame, id: Int): Unit = {
    requireIdent(table)
    val cur = currentId(spark, root)
    require(cur.forall(_ < id),
      s"snapshot id $id must exceed the current snapshot ${cur.get}")
    df.write.mode("overwrite").parquet(s"$root/$table/v=$id")
  }

  /** Publish snapshot `id`: every table staged under `v=<id>` becomes
    * visible at that version, every other table in the parent snapshot
    * is carried forward unchanged, and the flip is ATOMIC across all of
    * them (one rename). Returns the published table→version map. */
  def commit(spark: SparkSession, root: String, id: Int): Map[String, Int] = {
    val f = fs(spark, root)
    val cur = currentId(spark, root)
    require(cur.forall(_ < id),
      s"snapshot id $id must exceed the current snapshot ${cur.get}")
    val parent: Map[String, Int] =
      cur.map(c => readSnapshot(spark, root, c)).getOrElse(Map.empty)
    // staged = tables holding a v=<id> dir with a parquet _SUCCESS marker
    val staged = Option(f.listStatus(new Path(root))).toSeq.flatten
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName)
      .filter(t => f.exists(new Path(s"$root/$t/v=$id/_SUCCESS")))
    // fail LOUDLY on a staged dir whose name the manifest parser cannot
    // round-trip ([[readSnapshot]]'s [A-Za-z0-9_]+ regex): committing it
    // would publish a silently truncated name that resolves to a
    // nonexistent path on read. Only [[stage]] enforced this before, so
    // a directory created beside the root by hand slipped through.
    staged.foreach(requireIdent)
    require(staged.nonEmpty || parent.nonEmpty,
      s"commit($id): nothing staged and no parent snapshot to carry")
    val published = parent ++ staged.map(_ -> id).toMap
    val json = published.toSeq.sortBy(_._1)
      .map { case (t, v) => s""""$t":$v""" }
      .mkString(s"""{"id":$id,"tables":{""", ",", "}}")
    val dir = new Path(root, SnapDir)
    f.mkdirs(dir)
    val tmp = new Path(dir, s".${snapName(id)}.tmp")
    val dst = new Path(dir, snapName(id))
    require(!f.exists(dst), s"snapshot $id is already committed")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    require(f.rename(tmp, dst), s"atomic publish rename failed for $dst")
    published
  }

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

  /** The table→version map snapshot `id` published. */
  def readSnapshot(spark: SparkSession, root: String, id: Int): Map[String, Int] = {
    val p = new Path(new Path(root, SnapDir), snapName(id))
    val f = fs(spark, root)
    val in = f.open(p)
    val txt = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
    // parse INSIDE the structural "tables":{...} object only — filtering
    // the whole text by key name dropped a real table literally named
    // "id" (legal per requireIdent). Values are ints, so the structural
    // `"tables":{` cannot be shadowed by a table entry.
    val body = txt.substring(txt.indexOf("\"tables\":{") + "\"tables\":{".length)
    """"([A-Za-z0-9_]+)":(\d+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
  }

  /** A pinned read view: the table→directory resolution is captured at
    * construction, so commits landing afterwards cannot move any table
    * under this handle — snapshot isolation by immutability. */
  final case class Snapshot(root: String, id: Int, tables: Map[String, Int]) {
    def read(spark: SparkSession, table: String): DataFrame = {
      val v = tables.getOrElse(table,
        throw new IllegalArgumentException(
          s"snapshot $id of $root has no table '$table' " +
            s"(has: ${tables.keys.toSeq.sorted.mkString(", ")})"))
      Tables.parquet(spark, s"$root/$table/v=$v")
    }
  }

  /** Open the current snapshot (or a specific `id` for time travel). */
  def open(spark: SparkSession, root: String, id: Option[Int] = None): Snapshot = {
    val sid = id.orElse(currentId(spark, root)).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    Snapshot(root, sid, readSnapshot(spark, root, sid))
  }

  /** Expire history: keep the newest `keepLast` snapshot files, delete
    * older ones, then drop every `v=` directory no retained snapshot
    * references (including orphaned staging dirs from crashed publishes).
    * O(snapshots + version dirs) metadata work, no data reads. Returns
    * (snapshots removed, version dirs removed).
    *
    * IN-FLIGHT SAFETY: version dirs NEWER than the newest committed
    * snapshot are never touched — they are a concurrent writer's staged
    * (not yet committed) data, and reaping them would turn that writer's
    * subsequent commit into a silent partial publish. Orphans from a
    * crashed publish are reaped on the vacuum AFTER the next successful
    * commit (their version is then ≤ current and unreferenced). With no
    * committed snapshot at all, nothing is reaped — everything on disk
    * is potentially a first publish in flight. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val f = fs(spark, root)
    val ids = committedIds(f, root)
    val (drop, keep) = ids.splitAt(math.max(0, ids.length - keepLast))
    drop.foreach(i =>
      f.delete(new Path(new Path(root, SnapDir), snapName(i)), false))
    val live: Set[(String, Int)] = keep.flatMap(i =>
      readSnapshot(spark, root, i).toSeq).toSet
    var reaped = 0
    keep.lastOption.foreach { newestCommitted =>
      Option(f.listStatus(new Path(root))).toSeq.flatten
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
        .foreach { t =>
          Option(f.listStatus(t.getPath)).toSeq.flatten
            // bounded \d{1,9} match, not startsWith: a stray non-numeric
            // dir (v=tmp left by a tool) must not NumberFormatException-
            // abort the whole vacuum and leave retention unenforced — and
            // neither may a NUMERIC name past Int range (v=<epoch-millis>
            // overflows toInt), so the digit count is capped below 2^31
            .filter(v => v.isDirectory &&
              v.getPath.getName.matches("v=\\d{1,9}"))
            .foreach { v =>
              val ver = v.getPath.getName.stripPrefix("v=").toInt
              if (ver <= newestCommitted &&
                  !live.contains((t.getPath.getName, ver))) {
                f.delete(v.getPath, true); reaped += 1
              }
            }
        }
    }
    (drop.length, reaped)
  }

  private def requireIdent(s: String): Unit =
    require(s.matches("[A-Za-z0-9_]+"), s"illegal table name: $s")
}
