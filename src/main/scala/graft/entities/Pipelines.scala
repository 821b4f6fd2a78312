package graft.entities

import graft.core.Tables
import graft.json.Docs._
import graft.ops.Merges
import graft.entities.Specs._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** The five generic merge executors (SURVEY.md §2.10 a–e) over declarative
  * [[Specs]]. Each takes one day's staging rows plus the current curated
  * table and produces the next curated snapshot — the whole of
  * `ProcessDaily.usql` as five functions.
  *
  * Scale shape per executor: one shuffle on the dedup key (the window), a
  * broadcast anti-join for collections, and narrow projection/explode
  * everywhere else. Curated tables are overwritten atomically (tmp + rename) —
  * the TRUNCATE+INSERT contract (/root/reference/USQL/ProcessDaily.usql:142-144)
  * without the read-overwrite hazard.
  */
object Pipelines {

  /** Standard promoted columns every curated row carries: provenance + the
    * merge-ordering timestamps (ProcessDaily.usql:100-103). */
  private def metaCols(ingestDate: Column): Seq[Column] = Seq(
    ingestDate.as("etl_ingest_date"),
    col("urn").as("etl_source_id"),
    col("fetched_at"),
    col("processed_at"),
    col("deleted_at")
  )

  private def typed(field: Field): Column = {
    val c = field.typ match {
      case "int"  => jint(col("data"), field.path)
      case "long" => jlong(col("data"), field.path)
      case "bool" => jbool(col("data"), field.path)
      case "ts"   => jts(col("data"), field.path)
      case _      => if (field.pii) jpii(col("data"), field.path) else jstr(col("data"), field.path)
    }
    c.as(field.name)
  }

  /** Typed column from the parse-once struct: nested field access +
    * `try_cast` — per-field null-on-mistype, identical to the
    * get_json_object spelling. */
  private def typedParsed(parsed: Column, field: Field): Column = {
    val leaf = field.path.split('.').foldLeft(parsed)(_.getField(_))
    val c = field.typ match {
      case "int"  => leaf.try_cast("int")
      case "long" => leaf.try_cast("long")
      case "bool" => leaf.try_cast("boolean")
      case "ts"   => leaf.try_cast("timestamp")
      case _ =>
        if (field.pii) {
          val meta = new org.apache.spark.sql.types.MetadataBuilder()
            .putBoolean("pii", true).build()
          leaf.as(field.name, meta)
        } else leaf
    }
    c.as(field.name)
  }

  /** The latest-wins ordering: effective timestamp desc (P6 ternary,
    * ProcessDaily.usql:139), ingest date as deterministic tiebreak.
    * Public: the merge-on-read view resolver applies the same order. */
  val mergeOrder: Seq[Column] = Seq(
    Merges.effectiveTs(col("deleted_at"), col("processed_at")).desc,
    col("etl_ingest_date").desc
  )

  /** Wide typed projection (P1): staging row → curated row.
    *
    * Parse-once: the field paths assemble into one pruned string-leaf
    * schema ([[graft.json.PathSchema]]) and the document parses with a
    * single `from_json` — the per-field `get_json_object` spelling costs
    * one full JSON parse PER FIELD per row, which for the widest entities
    * (Event 126, PullRequest 138 columns) dominates the whole ETL. Paths
    * shadowed by a longer path (leaf+branch conflicts — none in the
    * current specs) fall back to `get_json_object`. */
  def project(staged: DataFrame, fields: Seq[Field]): DataFrame = {
    val schema = graft.json.PathSchema.forPaths(fields.map(_.path))
    val parsed = from_json(col("data"), schema)
    val cols = fields.map { f =>
      if (graft.json.PathSchema.isLeaf(schema, f.path)) typedParsed(parsed, f)
      else typed(f)
    }
    staged.select(metaCols(col("ingest_date")) ++ cols: _*)
  }

  // -- storage ---------------------------------------------------------------

  def tablePath(curatedDir: String, table: String) = s"$curatedDir/$table"

  /** Read a curated table; absent table → empty with `like`'s schema
    * (bootstrap day — the CreateAndInitialize* CTAS scripts' role). */
  def readCurated(spark: SparkSession, curatedDir: String, table: String,
      like: DataFrame): DataFrame = {
    val p = new Path(tablePath(curatedDir, table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // [[overwriteCurated]]'s swap can die between its two renames — the
    // table path is then absent with the prior day stranded under
    // .{table}_old_<stamp>; re-adopt before concluding bootstrap-day
    graft.core.FsOps.reAdopt(fs, p, s".${table}_old_")
    if (fs.exists(p)) spark.read.schema(like.schema).parquet(p.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)
  }

  /** Overwrite via write-tmp + rename-swap — TRUNCATE+INSERT parity that
    * also lets the plan read the table it replaces. The old table is
    * renamed aside (not deleted) before the new one moves in, so a failure
    * at any single step leaves a complete copy on disk: if the final
    * rename fails the old table is restored. The only non-atomic window is
    * between the two renames (the table path is briefly absent); true
    * multi-writer atomicity needs a transactional table format, which is
    * out of scope here. */
  def overwriteCurated(df: DataFrame, curatedDir: String, table: String): Unit = {
    val spark = df.sparkSession
    val target = new Path(tablePath(curatedDir, table))
    val stamp = System.nanoTime()
    val tmp = new Path(s"$curatedDir/.${table}_staging_$stamp")
    df.write.mode("overwrite").parquet(tmp.toString)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"$curatedDir/.${table}_old_$stamp")
    graft.core.FsOps.atomicSwap(fs, tmp, target, old)
  }

  // -- §2.10(a) snapshot merge ----------------------------------------------

  /** One day's typed rows for a snapshot entity (shared by the full
    * rewrite and merge-on-read paths). */
  def freshSnapshot(stagedDay: DataFrame, spec: SnapshotSpec): DataFrame =
    project(stagedDay.where(spec.entityPred(col("entity_name"))), spec.fields)

  /** The next snapshot of one snapshot entity: `prior` merged with one
    * day's [[freshSnapshot]] rows — the executor shared by the
    * path-addressed [[runSnapshot]] and the streaming
    * [[graft.streaming.Streams.incrementalSnapshot]]. `truncate=false`
    * reproduces the CommitParent append quirk: rank-1 rows are appended
    * to the untruncated table (ProcessDaily.usql:409), so duplicates
    * accumulate — faithful mode. */
  def mergeSnapshot(prior: DataFrame, fresh: DataFrame, spec: SnapshotSpec): DataFrame = {
    val merged = Merges.snapshotMerge(prior, fresh, Seq("etl_source_id"), mergeOrder)
    if (spec.truncate) merged else prior.unionByName(merged)
  }

  /** One snapshot entity for one day, written over `curatedDir/<table>`.
    * Returns the new snapshot. */
  def runSnapshot(spark: SparkSession, stagedDay: DataFrame, curatedDir: String,
      spec: SnapshotSpec): DataFrame = {
    val fresh = freshSnapshot(stagedDay, spec)
    val prior = readCurated(spark, curatedDir, spec.table, fresh)
    overwriteCurated(mergeSnapshot(prior, fresh, spec), curatedDir, spec.table)
    Tables.parquet(spark, tablePath(curatedDir, spec.table))
  }

  // -- §2.10(c) array-child normalization -----------------------------------

  /** Array field → child table keyed (parent urn, element index)
    * (CommitFile exemplar, ProcessDaily.usql:277-351). Struct-first design:
    * `from_json` to ARRAY<STRUCT> + `posexplode` replaces the reference's
    * explode→path-split→MAP_AGG machinery (G1+F5+F6+A1) with two codegen'd
    * built-ins and no extra shuffle. */
  /** One day's exploded child rows for an array entity (shared by the
    * full rewrite and merge-on-read paths). */
  def freshArrayChild(stagedDay: DataFrame, spec: ArrayChildSpec): DataFrame = {
    val elemType = StructType.fromDDL(spec.elementSchema)
    val parent = stagedDay.where(spec.entityPred(col("entity_name")))
    // parse-once: the array subtree parses typed in a single from_json of
    // the document — not extract-array-text-then-reparse (two full parses)
    val schema = graft.json.PathSchema.forTypedPaths(
      Seq(spec.arrayPath -> ArrayType(elemType)))
    val exploded = parent
      .withColumn("__arr",
        graft.json.PathSchema.at(from_json(col("data"), schema), spec.arrayPath))
      .select(
        metaCols(col("ingest_date")) :+
          posexplode(col("__arr")).as(Seq("element_index", "__elem")): _*)
    exploded.select(
      (Seq("etl_ingest_date", "etl_source_id", "fetched_at", "processed_at",
        "deleted_at", "element_index").map(col) ++
        spec.fields.map(f => col(s"__elem.${f.path}").as(f.name))): _*)
  }

  def runArrayChild(spark: SparkSession, stagedDay: DataFrame, curatedDir: String,
      spec: ArrayChildSpec): DataFrame = {
    val fresh = freshArrayChild(stagedDay, spec)
    val prior = readCurated(spark, curatedDir, spec.table, fresh)
    val merged = Merges.snapshotMerge(prior, fresh,
      Seq("etl_source_id", "element_index"), mergeOrder)
    val result = if (spec.truncate) merged else prior.unionByName(merged)
    overwriteCurated(result, curatedDir, spec.table)
    Tables.parquet(spark, tablePath(curatedDir, spec.table))
  }

  // -- §2.10(b) collection replacement --------------------------------------

  /** Collection membership for one day (RepoCollaborators exemplar,
    * ProcessDaily.usql:25-91): latest crawl page-set per origin → explode
    * `resources.hrefs` → wholesale replacement of re-crawled origins,
    * carry-forward of the rest. */
  /** One day's resolved membership rows for a collection entity, carrying
    * `etl_ingest_date` (shared by the full rewrite and merge-on-read
    * paths — MOR's latest-day-wins resolution keys on the date). */
  def freshCollection(stagedDay: DataFrame, spec: CollectionSpec): DataFrame =
    freshCollectionImpl(stagedDay, spec, keepDate = true)

  private def freshCollectionImpl(stagedDay: DataFrame, spec: CollectionSpec,
      keepDate: Boolean): DataFrame = {
    // parse-once: every link path (origin, member hrefs array, org/team
    // extras) in one typed from_json of the document
    val linksSchema = graft.json.PathSchema.forTypedPaths(
      Seq("_metadata.links.origin.href" ->
          (org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType),
        "_metadata.links.resources.hrefs" ->
          ArrayType(org.apache.spark.sql.types.StringType)) ++
        (spec.extraLinks.map(_._1) ++ spec.requiredLink.toSeq).distinct
          .map(_ -> (org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType)))
    val parsed = from_json(col("data"), linksSchema)
    val raw = stagedDay
      .where(col("entity_name") === spec.entity)
      .where(spec.requiredLink.fold(lit(true))(l =>
        graft.json.PathSchema.at(parsed, l).isNotNull))
      .withColumn("__origin",
        graft.json.PathSchema.at(parsed, "_metadata.links.origin.href"))
      .where(col("__origin").isNotNull)
    // W4: most recent crawl per origin (ProcessDaily.usql:41-44)
    val latest = Merges.latestByKey(raw, Seq("__origin"),
      Seq(col("processed_at").desc, col("urn").desc))
    val extra = spec.extraLinks.map { case (p, n) =>
      graft.json.PathSchema.at(parsed, p).as(n) }
    val dateCol = if (keepDate) Seq(col("ingest_date").as("etl_ingest_date")) else Seq.empty
    latest
      .select(
        (dateCol :+ col("__origin").as(spec.originCol)) ++
          Seq(explode(graft.json.PathSchema.at(parsed, "_metadata.links.resources.hrefs"))
            .as(spec.memberCol))
          ++ extra: _*)
      .distinct()
  }

  def runCollection(spark: SparkSession, stagedDay: DataFrame, curatedDir: String,
      spec: CollectionSpec): DataFrame = {
    val fresh = freshCollectionImpl(stagedDay, spec, keepDate = false)
    val prior = readCurated(spark, curatedDir, spec.table, fresh)
    val merged = Merges.collectionMerge(prior, fresh, spec.originCol)
    overwriteCurated(merged, curatedDir, spec.table)
    Tables.parquet(spark, tablePath(curatedDir, spec.table))
  }

  // -- §2.10(d) traffic pivot -----------------------------------------------

  /** Traffic time-series for one day (ProcessDaily.usql:3227-3591).
    * `faithful=true` reproduces the reference's document-collapse: the
    * MAP_AGG grouped by document only (:3256-3274) leaves ONE surviving
    * element per doc (duplicate map keys resolve last-wins) — we take the
    * last array element. `faithful=false` is the corrected per-element mode.
    * For Referrers/Paths (`ordered=false`) the reference ranks with NO ORDER
    * BY (:3387,:3479 — nondeterministic); we substitute a deterministic
    * tiebreak and document the divergence. */
  /** One day's pivoted traffic rows (shared by the full rewrite and
    * merge-on-read paths). */
  def freshTraffic(stagedDay: DataFrame, spec: TrafficSpec,
      faithful: Boolean = true): DataFrame = {
    val elemType = StructType.fromDDL(spec.elementSchema)
    // parse-once: typed array subtree + repo link in one from_json
    val schema = graft.json.PathSchema.forTypedPaths(Seq(
      spec.arrayPath -> ArrayType(elemType),
      "_metadata.links.repo.href" -> org.apache.spark.sql.types.StringType))
    val parsed = from_json(col("data"), schema)
    val docs = stagedDay
      .where(col("entity_name") === spec.entity)
      .withColumn("__arr", graft.json.PathSchema.at(parsed, spec.arrayPath))
      .withColumn("repo_urn",
        graft.json.PathSchema.at(parsed, "_metadata.links.repo.href"))
    val elements =
      if (faithful)
        // try_element_at: null (then filtered) on an empty traffic array —
        // plain element_at throws under ANSI mode, crashing the whole job
        // on one inactive-repo doc like {"views":[]}, violating the
        // silent-skip corrupt-data policy used at ingest
        docs.withColumn("__elem", try_element_at(col("__arr"), lit(-1)))
          .where(col("__elem").isNotNull)
      else
        docs.select(col("*"),
            posexplode(col("__arr")).as(Seq("__idx", "__elem")))
    elements.select(
      metaCols(col("ingest_date")) ++ Seq(col("repo_urn")) ++
        spec.fields.map(f => col(s"__elem.${f.path}").as(f.name)): _*)
  }

  /** The traffic dedup order (W3/W5): processed_at for ordered entities, a
    * deterministic value tiebreak where the reference ranks unordered. */
  def trafficOrder(spec: TrafficSpec): Seq[Column] =
    if (spec.ordered) Seq(col("processed_at").desc, col("etl_ingest_date").desc)
    else spec.fields.map(f => col(f.name).desc) :+ col("etl_ingest_date").desc

  def runTraffic(spark: SparkSession, stagedDay: DataFrame, curatedDir: String,
      spec: TrafficSpec, faithful: Boolean = true): DataFrame = {
    val fresh = freshTraffic(stagedDay, spec, faithful)
    val prior = readCurated(spark, curatedDir, spec.table, fresh)
    val merged = Merges.snapshotMerge(prior, fresh, spec.dedupKeys, trafficOrder(spec))
    overwriteCurated(merged, curatedDir, spec.table)
    Tables.parquet(spark, tablePath(curatedDir, spec.table))
  }

  // -- §2.10(e) snapshot + log ----------------------------------------------

  /** Repo + RepoLog (ProcessDaily.usql:2507-2631): same projection, two
    * dedup grains — latest per urn, and one row per (urn, updated_at). */
  def runSnapshotLog(spark: SparkSession, stagedDay: DataFrame, curatedDir: String,
      spec: SnapshotLogSpec): (DataFrame, DataFrame) = {
    val fresh = project(stagedDay.where(spec.snapshot.entityPred(col("entity_name"))),
      spec.snapshot.fields)
    val priorSnap = readCurated(spark, curatedDir, spec.snapshot.table, fresh)
    val priorLog = readCurated(spark, curatedDir, spec.logTable, fresh)
    val (snap, log) = Merges.snapshotPlusLog(priorSnap, priorLog, fresh,
      Seq("etl_source_id"), spec.versionField, mergeOrder)
    overwriteCurated(snap, curatedDir, spec.snapshot.table)
    overwriteCurated(log, curatedDir, spec.logTable)
    (Tables.parquet(spark, tablePath(curatedDir, spec.snapshot.table)),
      Tables.parquet(spark, tablePath(curatedDir, spec.logTable)))
  }
}
