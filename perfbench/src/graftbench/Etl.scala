package graftbench

import graft.entities.{Pipelines, Specs}
import graft.ingest.Staging
import graft.jobs.ProcessDaily
import graft.ops.{Incremental, MergeOnRead}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.time.LocalDate
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The two ETL workloads: the paper's daily full rewrite at volume
  * (`etl_daily`), and many small merge-on-read days with analyst reads
  * beside them (`etl_mor_rw`). */
object Etl {

  /** Documents in the set-up day, in each timed day, and files per day. */
  final case class Shape(setupDocs: Int, dayDocs: Int, files: Int)

  val dailyShape = Shape(setupDocs = 2000, dayDocs = 8000, files = 4)
  val morShape = Shape(setupDocs = 1000, dayDocs = 1000, files = 2)
  /** Assumed shares, not measured on a real crawl: most documents are new
    * keys, so tables grow, and enough are updates, late versions and
    * tombstones that every merge path has rows to resolve. */
  val mix = Corpus.Mix(fresh = 0.55, update = 0.30, late = 0.10, tombstone = 0.05)
  /** etl_mor_rw compacts each table on every second day: the set-up day
    * compacts one half, the first timed day the other. */
  val compactEvery = 2
  val firstDay: LocalDate = LocalDate.parse("2024-01-01")

  /** The 33 curated tables. */
  val tables: Seq[String] =
    (Specs.snapshots :+ Specs.repo.snapshot).map(_.table) ++ Seq(Specs.repo.logTable) ++
      Specs.arrayChildren.map(_.table) ++ Specs.collections.map(_.table) ++
      Specs.traffic.map(_.table)

  /** Tables whose rows the corpus alone predicts: every latest-wins
    * snapshot (keyed by urn) and RepoLog (keyed by urn and version). */
  private val modelCols = Seq("etl_source_id", "processed_at", "deleted_at")

  /** etl_mor_rw's analyst reads: three snapshots (the two widest among
    * them), an array child, a collection and a traffic table. */
  val readTables = Seq("commit", "event", "issue", "commit_file", "repo_stargazers", "repo_views")
  /** Analysts reading after each day's write, one after the other, each
    * making every read and the rollup: two give each read two samples a
    * run. */
  val readers = 2

  private final class Stores(root: String) {
    val raw = s"$root/raw"
    val staging = s"$root/staging"
    val curated = s"$root/curated"
    val mor = s"$root/mor"
    val incr = s"$root/incr"
  }

  /** Corpus days written on demand; generation is never timed. */
  private final class Days(ctx: Ctx, s: Stores, shape: Shape) {
    val catalog: Corpus.Catalog = Corpus.catalog(ctx.spark)
    val corpus = new Corpus(catalog.entities, ctx.seed, mix)
    val dates = scala.collection.mutable.ArrayBuffer.empty[LocalDate]
    def next(docs: Int): (LocalDate, Int, Long) = {
      val d = firstDay.plusDays(dates.size.toLong)
      val (n, bytes) = corpus.writeDay(s.raw, d, dates.size, docs, shape.files)
      dates += d
      (d, n, bytes)
    }
  }

  def daily(ctx: Ctx, run: Run): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val s = new Stores(ctx.root)
    val shape = dailyShape
    val days = new Days(ctx, s, shape)
    run.phase("catalog")
    // set-up: the first day creates every table and warms the JIT
    val (d0, _, _) = days.next(shape.setupDocs)
    run.phase("generated")
    Staging.stageDay(spark, s.raw, s.staging, d0)
    run.phase("staged")
    ProcessDaily.run(spark, s.staging, s.curated, d0.toString)
    run.phase("merged")
    parallel(ctx.cores, tables)(tb => run.checks.check(s"day1_nonempty:$tb",
      spark.read.parquet(s"${s.curated}/$tb").head(1).nonEmpty, "empty after day 1"))
    run.startTiming()

    var docs = 0L
    while (run.more) {
      val (d, n, bytes) = days.next(shape.dayDocs)
      val t0 = t.nowMs
      val ok = run.op("day") {
        t.span("ingest.stage")(Staging.stageDay(spark, s.raw, s.staging, d))
        t.span("jobs.merge")(ProcessDaily.run(spark, s.staging, s.curated, d.toString))
      }
      if (ok) docs += n
      val (stFiles, stBytes) = Util.writtenSince(Seq(s.staging), t0)
      val (cuFiles, cuBytes) = Util.writtenSince(Seq(s.curated), t0)
      t.attr("ingest.stage", "files_written", stFiles.toDouble)
      t.attr("jobs.merge", "files_written", cuFiles.toDouble)
      run.sample("etl.write_amp", (stBytes + cuBytes).toDouble / bytes)
    }
    run.phase("timed")
    run.sample("etl.docs_per_s", docs / run.timedSoFar)

    // traced run: one more day with each pipeline family called serially
    if (t.on) {
      val (d, _, _) = days.next(shape.dayDocs)
      Staging.stageDay(spark, s.raw, s.staging, d)
      t.active = true
      serialFamilies(ctx, s, d)
      t.active = false
    }
    val (_, onDisk) = Util.du(ctx.root)
    run.sample("etl.space_amp", (onDisk - Util.du(s.raw)._2).toDouble / days.corpus.bytesWritten)

    if (ctx.inject == "drop_row") {
      val path = s"${s.curated}/commit"
      dropKey(ctx, path,
        spark.read.parquet(path).agg(min(col("etl_source_id"))).head().getString(0))
    }
    val curated = (tb: String) => spark.read.parquet(s"${s.curated}/$tb")
    parallel(ctx.cores, modelChecks(ctx, run, days, curated, "rewrite"))(_())
    run.phase("model_check")
    // the merge-on-read path over the same staged days
    days.dates.foreach(d => ProcessDaily.runMor(spark, s.staging, s.mor, d.toString))
    run.phase("mor_replay")
    morEqualsRewrite(ctx, run, s)
  }

  def morRw(ctx: Ctx, run: Run): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val s = new Stores(ctx.root)
    val shape = morShape
    val days = new Days(ctx, s, shape)
    run.phase("catalog")
    // set-up: a history day through the whole cycle, which also compiles
    // every code path the timed day runs
    val (d0, _, _) = days.next(shape.setupDocs)
    write(ctx, s, d0, 0)
    readTables.foreach(read(ctx, s, _))
    rollup(ctx, s)
    run.startTiming()

    var docs = 0L
    var writeS = 0.0
    while (run.more) {
      val (d, docsDay, bytes) = days.next(shape.dayDocs)
      val t0 = t.nowMs
      val share = (days.dates.size - 1) % compactEvery
      if (run.op("write")(write(ctx, s, d, share))) docs += docsDay
      writeS += run.ops.last.wallS
      val (_, written) = Util.writtenSince(Seq(s.staging, s.mor, s.incr), t0)
      run.sample("etl.write_amp", written.toDouble / bytes)
      t.attr("ingest.stage", "files_written", Util.writtenSince(Seq(s.staging), t0)._1.toDouble)
      t.attr("jobs.append", "files_written",
        Util.writtenSince(tables.map(tb => s"${s.mor}/$tb/delta"), t0)._1.toDouble)
      (1 to readers).foreach { _ =>
        readTables.foreach(tb => run.readOp(s"read:$tb")(read(ctx, s, tb)))
        run.readOp("rollup")(rollup(ctx, s))
      }
    }
    run.phase("timed")
    run.sample("etl.docs_per_s", docs / writeS)
    val (_, onDisk) = Util.du(ctx.root)
    run.sample("etl.space_amp", (onDisk - Util.du(s.raw)._2).toDouble / days.corpus.bytesWritten)

    val view = (tb: String) => ProcessDaily.morView(spark, s.mor, tb)
    if (ctx.inject == "drop_row") {
      val victim = view("commit").agg(min(col("etl_source_id"))).head().getString(0)
      Seq("base", "delta").map(l => s"${s.mor}/commit/$l").filter(Util.du(_)._1 > 0)
        .foreach(dropKey(ctx, _, victim))
    }
    // the model covers the snapshot tables; every other view is non-empty;
    // the incremental rollup equals the aggregate over every staged day
    val others = tables.filterNot(days.catalog.tableEntities.keySet + Specs.repo.logTable)
    parallel(ctx.cores, modelChecks(ctx, run, days, view, "merge_on_read") ++
      others.map(tb => () => run.checks.check(s"nonempty:$tb", view(tb).head(1).nonEmpty,
        "empty view")) :+ (() => rollupCheck(ctx, run, s)))(_())
    run.phase("checked_mor")

    // traced run: the full-rewrite path over the same staged days, day by
    // day (the last one with each pipeline family called serially); every
    // view must equal the rewritten table
    if (t.on) {
      t.active = true
      days.dates.init.foreach(d =>
        t.span("jobs.merge")(ProcessDaily.run(spark, s.staging, s.curated, d.toString)))
      serialFamilies(ctx, s, days.dates.last)
      t.active = false
      morEqualsRewrite(ctx, run, s)
    }
  }

  private def rollupCheck(ctx: Ctx, run: Run, s: Stores): Unit = {
    val spark = ctx.spark
    val rolled = Incremental.rollup(spark, s.incr, substring(col("part").cast("string"), 1, 7),
      Seq("entity_name"))
    val direct = spark.read.parquet(s.staging)
      .groupBy(substring(col("ingest_date").cast("string"), 1, 7).as("grain"),
        col("entity_name").cast("string").as("entity_name"))
      .agg(count(lit(1)).as("cnt"), sum(length(col("data")).cast("long")).as("sum_cents"),
        min(length(col("data")).cast("long")).as("min_cents"),
        max(length(col("data")).cast("long")).as("max_cents"))
    val cols = Seq("grain", "entity_name", "cnt", "sum_cents", "min_cents", "max_cents")
    val (ra, rb) = (Util.digestOf(rolled, cols), Util.digestOf(direct, cols))
    run.checks.check("rollup_equals_direct", ra == rb, s"rollup $ra, direct $rb")
  }

  /** One day merged into the curated tables with each pipeline family
    * called serially (ProcessDaily.run submits them concurrently), so that
    * the families' time and jobs separate. */
  private def serialFamilies(ctx: Ctx, s: Stores, d: LocalDate): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    t.span("entities.day") {
      val staged = Staging.readStaging(spark, s.staging, d.toString)
      staged.cache()
      try {
        t.span("entities.snapshot")(Specs.snapshots.foreach(sp =>
          Pipelines.runSnapshot(spark, staged, s.curated, sp)))
        t.span("entities.array_child")(Specs.arrayChildren.foreach(sp =>
          Pipelines.runArrayChild(spark, staged, s.curated, sp)))
        t.span("entities.collection")(Specs.collections.foreach(sp =>
          Pipelines.runCollection(spark, staged, s.curated, sp)))
        t.span("entities.traffic")(Specs.traffic.foreach(sp =>
          Pipelines.runTraffic(spark, staged, s.curated, sp)))
        t.span("entities.snapshot_log")(
          Pipelines.runSnapshotLog(spark, staged, s.curated, Specs.repo))
      } finally { staged.unpersist(); () }
    }
  }

  /** Every merge-on-read view equals the full-rewrite table on the same
    * staged days, apart from the two differences ProcessDaily.morView
    * documents: CommitParent's append-only duplicates (skipped) and the
    * collection views' extra `etl_ingest_date` column (not compared). */
  private def morEqualsRewrite(ctx: Ctx, run: Run, s: Stores): Unit = {
    val spark = ctx.spark
    parallel(ctx.cores, tables.filterNot(_ == Specs.commitParent.table)) { tb =>
      val rw = spark.read.parquet(s"${s.curated}/$tb")
      val cols = rw.columns.toSeq.sorted
      val a = Util.digestOf(rw, cols)
      val b = Util.digestOf(ProcessDaily.morView(spark, s.mor, tb), cols)
      run.checks.check(s"mor_equals_rewrite:$tb", a == b, s"rewrite $a, merge-on-read $b")
    }
  }

  /** The write side of one merge-on-read day: stage, append deltas,
    * refresh the incremental partials, and compact every table whose
    * index is `share` modulo [[compactEvery]]. */
  private def write(ctx: Ctx, s: Stores, d: LocalDate, share: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val day = d.toString
    t.span("ingest.stage")(Staging.stageDay(spark, s.raw, s.staging, d))
    t.span("jobs.append")(ProcessDaily.runMor(spark, s.staging, s.mor, day))
    t.span("ops.incr.refresh")(Incremental.refresh(Staging.readStaging(spark, s.staging, day),
      s.incr, col("ingest_date"), Seq("entity_name"), length(col("data")).cast("long")))
    val t0 = t.nowMs
    t.span("ops.mor.compact")(compact(ctx, s, share, compactEvery))
    t.attr("ops.mor.compact", "bytes_rewritten",
      Util.writtenSince(tables.map(tb => s"${s.mor}/$tb/base"), t0)._2.toDouble)
  }

  /** An analyst read: the table's live rows through its merge-on-read
    * view, every column hashed. */
  private def read(ctx: Ctx, s: Stores, tb: String): Unit = {
    val t = ctx.tracer
    t.span("ops.mor.read") {
      val view = ProcessDaily.morView(ctx.spark, s.mor, tb)
      val live = if (view.columns.contains("deleted_at")) view.where(col("deleted_at").isNull) else view
      t.span("ops.mor.plan")(live.queryExecution.executedPlan)
      Util.digest(live)
    }
    if (t.on && t.active)
      t.attr("ops.mor.read", "files", Util.writtenSince(Seq(s"${s.mor}/$tb"), 0)._1.toDouble)
  }

  /** The monthly rollup over the incremental partials. */
  private def rollup(ctx: Ctx, s: Stores): Unit = {
    val t = ctx.tracer
    val stamp = new java.io.File(s"${s.incr}/_compact/_GRAFT_SOURCE_STAMP")
    val before = stamp.lastModified()
    t.span("ops.incr.rollup")(Util.digest(Incremental.rollup(ctx.spark, s.incr,
      substring(col("part").cast("string"), 1, 7), Seq("entity_name"))))
    t.attr("ops.incr.rollup", "read_path_writes", if (stamp.lastModified() != before) 1 else 0)
  }

  /** Compact the latest-wins tables whose index is `i` modulo `n`, at
    * their merge grain (RepoLog's grain for Repo, so the log view keeps
    * every version), `cores` at a time. Collections have no compaction and
    * keep their deltas. */
  private def compact(ctx: Ctx, s: Stores, i: Int, n: Int): Unit = {
    val spark = ctx.spark
    val jobs: Seq[(String, Seq[String], Seq[org.apache.spark.sql.Column])] =
      Specs.snapshots.map(sp => (sp.table, Seq("etl_source_id"), Pipelines.mergeOrder)) ++
        Seq((Specs.repo.snapshot.table, Seq("etl_source_id", Specs.repo.versionField),
          Pipelines.mergeOrder)) ++
        Specs.arrayChildren.map(sp => (sp.table, Seq("etl_source_id", "element_index"),
          Pipelines.mergeOrder)) ++
        Specs.traffic.map(sp => (sp.table, sp.dedupKeys, Pipelines.trafficOrder(sp)))
    parallel(ctx.cores, jobs.zipWithIndex.collect { case (j, k) if k % n == i => j }) {
      case (tb, keys, order) =>
      MergeOnRead.compact(spark, s.mor, tb, keys, order)
    }
  }

  /** Count and digest of each snapshot table's (urn, processed_at,
    * deleted_at) against the winners the corpus predicts, one check per
    * table. */
  private def modelChecks(ctx: Ctx, run: Run, days: Days, read: String => DataFrame,
      label: String): Seq[() => Unit] = {
    val spark = ctx.spark
    import spark.implicits._
    val expected: Seq[(String, Seq[(String, Long, Long)])] =
      days.catalog.tableEntities.toSeq.map { case (tb, names) =>
        tb -> names.flatMap(days.corpus.winners)
      } :+ (Specs.repo.logTable -> days.corpus.allVersions("repo"))
    expected.map { case (tb, rows) => () =>
      val exp = rows.toDF("etl_source_id", "p", "d").select(col("etl_source_id"),
        timestamp_seconds(col("p")).as("processed_at"),
        when(col("d") > 0, timestamp_seconds(col("d"))).as("deleted_at"))
      val e = Util.digestOf(exp, modelCols)
      val a = Util.digestOf(read(tb), modelCols)
      run.checks.check(s"${label}_matches_corpus:$tb", a == e, s"expected $e, got $a")
    }
  }

  /** Fault injection for the benchmark's own tests: remove the rows of
    * key `victim` from one parquet directory in place, keeping its
    * `ingest_date` partitions. */
  private def dropKey(ctx: Ctx, path: String, victim: String): Unit = {
    val spark = ctx.spark
    val df = spark.read.parquet(path)
    val kept = df.where(col("etl_source_id") =!= lit(victim))
    val tmp = s"$path.inject"
    val w = kept.write.mode("overwrite")
    (if (df.columns.contains("ingest_date")) w.partitionBy("ingest_date") else w).parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path))
  }

  /** Run `f` over `items`, `n` at a time, on a pool whose threads inherit
    * the caller's Spark local properties (and so its span). */
  def parallel[A](n: Int, items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, n))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
    finally { pool.shutdown(); () }
  }
}
