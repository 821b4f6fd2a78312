package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent catalog DDL — the reference's database/table surface (S9):
  * `CREATE DATABASE` / `CREATE TABLE` / `DROP TABLE` whose metadata
  * SURVIVES the Spark session (ref `CreateGitHubDataTable.usql:4-12`,
  * `CreateAndInitializeCommit.usql:47` — the U-SQL scripts create a
  * catalog database once and every later job resolves tables by name).
  *
  * Spark's default in-memory catalog loses metadata when the JVM exits,
  * so graft pairs the session catalog with a CATALOG table in the
  * [[Snapshots]] root `<root>/_catalog`: one row per table (db, name,
  * format, partition columns — locations are derived as
  * `<root>/<db>/<table>`, so the warehouse relocates wholesale) and per
  * view (its SQL), views in creation order. Every DDL call updates BOTH:
  * the session catalog for immediate `spark.sql("SELECT … FROM db.t")`
  * resolution, and the catalog table for the next session — [[open]]
  * replays it into any fresh session/JVM against the same root. Data and
  * catalog live through the Hadoop FileSystem API, so the warehouse root
  * works on HDFS/S3/ABFS exactly as on local disk.
  *
  * Each DDL is one put-if-absent commit of the next catalog version, so
  * a crash before the commit leaves the catalog as it was, and of two
  * DDLs that begin from one catalog version exactly one commits: the
  * other throws `IllegalStateException` instead of silently dropping the
  * winner's entry, and can be re-run.
  *
  * Tables are EXTERNAL (`spark.catalog.createTable` over the parquet
  * location): dropping the catalog entry never deletes data unless
  * `purge = true`. Partitioned tables register their partitions via
  * `recoverPartitions` (MSCK semantics), so partition pruning works
  * through the catalog exactly as through the path API.
  */
object Warehouse {

  final case class Entry(db: String, table: String, format: String,
      partitionCols: Seq[String]) {
    def qualified: String = s"$db.$table"
    def location(root: String): String = s"$root/$db/$table"
  }

  /** One catalog row: a table, or a view when `sql` is set. */
  private[graft] final case class Item(db: String, name: String, format: String,
      partitionCols: Seq[String], sql: Option[String]) {
    def key: (String, String, Boolean) = (db, name, sql.isDefined)
    def entry: Entry = Entry(db, name, format, partitionCols)
  }

  private val Catalog = "catalog"

  /** The [[Snapshots]] root of the catalog of warehouse `root`. */
  private[graft] def catalogRoot(root: String): String = s"$root/_catalog"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** CREATE DATABASE IF NOT EXISTS: a directory under the root plus a
    * session-catalog database so `db.table` names resolve in SQL. */
  def createDatabase(spark: SparkSession, root: String, db: String): Unit = {
    requireIdent(db)
    require(!db.startsWith("_"), s"database names starting with '_' are reserved, got '$db'")
    fs(spark, root).mkdirs(new Path(s"$root/$db"))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
  }

  /** CREATE TABLE AS SELECT: write `df` as parquet under
    * `<root>/<db>/<table>` (optionally partitioned), record it in the
    * catalog, and register it in the session catalog. `mode` is
    * "overwrite" (TRUNCATE+INSERT parity) or "append". */
  def saveTable(spark: SparkSession, root: String, db: String, name: String,
      df: DataFrame, partitionCols: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    requireIdent(db); requireIdent(name)
    createDatabase(spark, root, db)
    val e = Entry(db, name, "parquet", partitionCols)
    val w = df.write.mode(mode).format("parquet")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(e.location(root))
    ddl(spark, root)(put(Item(db, name, e.format, partitionCols, None)))
    register(spark, root, e)
  }

  /** Replay the catalog into THIS session's catalog — the cold-start
    * path: a brand-new session (or JVM) pointed at the same warehouse
    * root sees every table by `db.table` name, then every persisted VIEW
    * (replayed after tables, in creation order, so views over tables —
    * and views over earlier views — resolve). Returns qualified names
    * (tables then views). */
  def open(spark: SparkSession, root: String): Seq[String] = {
    val catalog = items(spark, root)
    val entries = tablesOf(catalog)
    entries.foreach(register(spark, root, _))
    // per-view isolation: a view broken by a later dropTable (its base
    // relation gone) must not abort the replay of every view AFTER it.
    // Broken views are skipped and named on the current trace span as
    // `view_skipped`; the rest of the catalog registers normally.
    val (registered, skipped) = viewsOf(catalog).partition { case (db, name, sql) =>
      try {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
        spark.sql(s"CREATE OR REPLACE VIEW `$db`.`$name` AS $sql")
        true
      } catch { case _: org.apache.spark.sql.AnalysisException => false }
    }
    if (skipped.nonEmpty)
      Trace.attr("view_skipped", skipped.map(v => s"${v._1}.${v._2}").mkString(","))
    entries.map(_.qualified) ++ registered.map(v => s"${v._1}.${v._2}")
  }

  /** CREATE VIEW that SURVIVES the session: the view SQL is validated by
    * creating it NOW, then persisted as a catalog row; [[open]] replays
    * views after tables in creation order. Views are
    * metadata-only — Catalyst inlines them, so predicates and pruning
    * push through a view exactly as through its definition (the
    * reference's U-SQL VIEW surface, e.g. a masked or filtered
    * projection published under a stable name).
    *
    * Redefining an EXISTING view replaces its SQL IN PLACE in the
    * catalog: [[open]] replays views in catalog order and validates
    * references at creation, so moving a redefined view after its
    * dependents (the old filterNot-then-append) would break cold-start
    * replay whenever a later view references it. Only a genuinely new
    * (db, name) appends. */
  def createView(spark: SparkSession, root: String, db: String,
      name: String, sql: String): Unit = {
    requireIdent(db); requireIdent(name)
    createDatabase(spark, root, db)
    spark.sql(s"CREATE OR REPLACE VIEW `$db`.`$name` AS $sql")
    ddl(spark, root)(put(Item(db, name, "view", Nil, Some(sql))))
  }

  /** DROP VIEW: session catalog + catalog row. */
  def dropView(spark: SparkSession, root: String, db: String,
      name: String): Unit = {
    requireIdent(db); requireIdent(name)
    spark.sql(s"DROP VIEW IF EXISTS `$db`.`$name`")
    ddl(spark, root)(_.filterNot(_.key == ((db, name, true))))
  }

  /** Persisted views as (db, name, sql), in creation order. */
  def listViews(spark: SparkSession, root: String): Seq[(String, String, String)] =
    viewsOf(items(spark, root))

  /** DROP TABLE: removes the catalog entry (session + catalog row);
    * `purge = true` also deletes the data directory. */
  def dropTable(spark: SparkSession, root: String, db: String, name: String,
      purge: Boolean = false): Unit = {
    requireIdent(db); requireIdent(name)
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$name`")
    ddl(spark, root)(_.filterNot(_.key == ((db, name, false))))
    if (purge)
      fs(spark, root).delete(new Path(s"$root/$db/$name"), true)
  }

  /** The catalog's current tables by name (empty on a fresh root). */
  def listTables(spark: SparkSession, root: String): Seq[Entry] =
    tablesOf(items(spark, root))

  /** ALTER TABLE ... ADD COLUMNS, the additive-evolution half: after new
    * files landed with a WIDER schema (e.g. `saveTable(mode = "append")`
    * with extra columns), re-bind the catalog entry to the
    * footer-merged union schema so `db.table` SQL sees the new columns —
    * old files surface them as nulls (the parquet reader fills missing
    * columns per file once the table schema declares them). Data files
    * are untouched; this is a metadata operation. Renames/retypes are
    * rewrites, not evolution ([[Layout.compact]]).
    *
    * Returns the merged schema. Call again after [[open]] in a fresh
    * session — the catalog stores layout, not schema, so evolution is
    * re-derived from footers (self-healing, never stale). */
  def evolveTable(spark: SparkSession, root: String, db: String,
      name: String): org.apache.spark.sql.types.StructType = {
    requireIdent(db); requireIdent(name)
    val e = listTables(spark, root)
      .find(x => x.db == db && x.table == name)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown table $db.$name"))
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(e.location(root)).schema
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$name`")
    spark.catalog.createTable(e.qualified, e.format, merged,
      Map("path" -> e.location(root)))
    if (e.partitionCols.nonEmpty)
      spark.catalog.recoverPartitions(e.qualified)
    merged
  }

  /** ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …] — feed the
    * cost-based optimizer. Table stats give Catalyst exact row counts
    * (file size alone over-estimates selective scans); column stats add
    * ndv/min/max/null counts, which is what CBO join reordering and
    * stats-based broadcast decisions consume
    * (`spark.sql.cbo.enabled` + `spark.sql.cbo.joinReorder.enabled`).
    * At 100 TB this is the difference between a planned broadcast and a
    * sort-merge join that shuffles the fact table because the planner
    * only had raw file bytes to size a filtered dimension with.
    *
    * Stats live in the catalog entry, so like schema evolution they are
    * per-session state over the catalog-replayed warehouse: re-run
    * after [[open]] in a fresh session (cheap — stats scans are
    * column-pruned aggregates, no shuffle). Returns the recorded
    * (rowCount, sizeInBytes). */
  def analyze(spark: SparkSession, db: String, name: String,
      columns: Seq[String] = Nil): (BigInt, BigInt) = {
    requireIdent(db); requireIdent(name)
    spark.sql(s"ANALYZE TABLE `$db`.`$name` COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE `$db`.`$name` COMPUTE STATISTICS " +
        s"FOR COLUMNS ${columns.map(c => s"`$c`").mkString(", ")}")
    val st = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        name, Some(db))).stats
      .getOrElse(throw new IllegalStateException(
        s"ANALYZE recorded no stats for $db.$name"))
    (st.rowCount.getOrElse(BigInt(-1)), st.sizeInBytes)
  }

  // ------------------------------------------------------------ internals

  private def register(spark: SparkSession, root: String, e: Entry): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${e.db}`")
    spark.sql(s"DROP TABLE IF EXISTS `${e.db}`.`${e.table}`")
    spark.catalog.createTable(e.qualified, e.location(root), e.format)
    if (e.partitionCols.nonEmpty)
      spark.catalog.recoverPartitions(e.qualified)
  }

  /** One DDL as one catalog commit: `edit` maps the current rows to the
    * next version's. */
  private def ddl(spark: SparkSession, root: String)(edit: Seq[Item] => Seq[Item]): Unit = {
    val txn = Snapshots.begin(spark, catalogRoot(root))
    stageCatalog(txn, edit)
    txn.commit()
    Snapshots.vacuum(spark, catalogRoot(root), keepLast = 2)
  }

  /** [[ddl]]'s staging half: the edited rows of `txn`'s parent catalog,
    * with their positions, as `txn`'s catalog table. */
  private[graft] def stageCatalog(txn: Snapshots.Txn, edit: Seq[Item] => Seq[Item]): Unit = {
    val spark = txn.spark
    import spark.implicits._
    val rows = edit(txn.parent.fold(Seq.empty[Item])(itemsOf(spark, _)))
    txn.stage(Catalog, rows.zipWithIndex.toDF("item", "pos").coalesce(1))
  }

  /** `item` in place of the row with its key, or appended. */
  private[graft] def put(item: Item)(rows: Seq[Item]): Seq[Item] =
    if (rows.exists(_.key == item.key)) rows.map(r => if (r.key == item.key) item else r)
    else rows :+ item

  private def itemsOf(spark: SparkSession, snap: Snapshots.Snapshot): Seq[Item] = {
    import spark.implicits._
    snap.read(spark, Catalog).as[(Item, Int)].collect().toSeq.sortBy(_._2).map(_._1)
  }

  /** The current catalog's rows in order (none on a fresh root). */
  private def items(spark: SparkSession, root: String): Seq[Item] =
    Snapshots.currentId(spark, catalogRoot(root)).fold(Seq.empty[Item])(id =>
      itemsOf(spark, Snapshots.open(spark, catalogRoot(root), Some(id))))

  private def tablesOf(rows: Seq[Item]): Seq[Entry] =
    rows.filter(_.sql.isEmpty).map(_.entry).sortBy(e => (e.db, e.table))

  private def viewsOf(rows: Seq[Item]): Seq[(String, String, String)] =
    rows.collect { case Item(db, name, _, _, Some(sql)) => (db, name, sql) }

  /** Identifiers flow into SQL and filesystem paths — restrict to the
    * safe charset rather than attempt quoting-based escape. */
  private def requireIdent(s: String): Unit =
    require(s.nonEmpty && s.forall(c => c.isLetterOrDigit || c == '_'),
      s"identifier must be [A-Za-z0-9_]+, got '$s'")
}
