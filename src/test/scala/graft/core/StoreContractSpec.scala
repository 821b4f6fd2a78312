package graft.core

import graft.SparkSpec
import graft.jobs.Maintain
import graft.ops.{Ann, Incremental}
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** The store contract every [[Snapshots]] store keeps, one row per
  * store: reads never write; a pinned reader survives a commit and the
  * vacuum after it, and readers beside a writer see only commits; a
  * crash before commit is invisible and the next writer commits; of two
  * writers racing for one id exactly one commits and the version reads
  * exactly its rows. */
class StoreContractSpec extends SparkSpec {
  import spark.implicits._

  /** One store under contract. `create` is its first commit, `write(root,
    * tag)` one write through its own API, `stage(txn, tag)` the staging
    * that write commits, `read` its reader (pinned when called) as sorted
    * rows, and `rows(tags)` what `read` returns after `create` and
    * `write` of each tag in order. `log(root)` is the store's
    * [[Snapshots]] root, when the store keeps it below its own root. */
  private case class Store(name: String, create: String => Unit,
      write: (String, Int) => Unit, stage: (Snapshots.Txn, Int) => Unit,
      read: String => DataFrame, rows: Seq[Int] => Seq[String],
      otherReads: String => Unit = _ => (), log: String => String = identity)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Begin, stage through `stage`, commit and keep two versions — the
    * write of the stores whose own API is the transaction. */
  private def commitWith(root: String)(stage: Snapshots.Txn => Unit): Unit = {
    val txn = Snapshots.begin(spark, root)
    stage(txn)
    txn.commit()
    Snapshots.vacuum(spark, root, keepLast = 2)
  }

  // q273's shape: a raw multi-table root, the second commit re-staging one table
  private val raw = {
    def lineRev(tag: Int) = Seq(("A", 100L + tag), ("R", 7L)).toDF("k", "val")
    def stage(txn: Snapshots.Txn, tag: Int) = txn.stage("line_rev", lineRev(tag))
    Store("raw multi-table root",
      create = root => commitWith(root) { txn =>
        stage(txn, 0)
        txn.stage("order_counts", Seq(("1-URGENT", 5L)).toDF("k", "val"))
      },
      write = (root, tag) => commitWith(root)(stage(_, tag)),
      stage = stage,
      read = root => {
        val s = Snapshots.open(spark, root)
        s.read(spark, "line_rev").withColumn("tbl", lit("line_rev"))
          .unionByName(s.read(spark, "order_counts").withColumn("tbl", lit("order_counts")))
      },
      rows = tags => sorted(lineRev(tags.lastOption.getOrElse(0)).withColumn("tbl", lit("line_rev"))
        .unionByName(Seq(("1-URGENT", 5L)).toDF("k", "val").withColumn("tbl", lit("order_counts")))))
  }

  // the Incremental row: a year of orders, history before a mid-year cut
  // day, then the cut day refreshed, its prices shifted by the writer's tag
  private val incremental = {
    def orders = spark.range(0, 2000).select(
      expr("cast(date_add(date'1997-01-01', cast(id % 365 as int)) as timestamp)")
        .as("o_orderdate"),
      concat((col("id") % 5 + 1).cast("string"), lit("-P")).as("o_orderpriority"),
      (col("id") * 37 % 100000 / 100.0 + 1.0).as("o_totalprice"))
    val cents = round(col("o_totalprice") * 100).cast("long")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    lazy val cut = orders.where(day >= "1997-06-15").select(min(day)).head().getString(0)
    def cutDay(tag: Int) = orders.where(day === cut)
      .withColumn("o_totalprice", col("o_totalprice") + tag)
    def monthly(df: DataFrame) = sorted(df
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("grain"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(cents).as("sum_cents"),
        min(cents).as("min_cents"), max(cents).as("max_cents")))
    Store("Incremental partials",
      create = root => Incremental.writePartials(
        Incremental.buildPartials(orders.where(day < cut), day, Seq("o_orderpriority"), cents), root),
      write = (root, tag) =>
        Incremental.refresh(cutDay(tag), root, day, Seq("o_orderpriority"), cents),
      stage = (txn, tag) => Incremental.stagePartials(txn,
        Incremental.buildPartials(cutDay(tag), day, Seq("o_orderpriority"), cents)),
      read = root => Incremental.rollup(spark, root, substring(col("part"), 1, 7),
        Seq("o_orderpriority")),
      rows = tags => monthly(tags.lastOption.fold(orders.where(day < cut))(t =>
        orders.where(day < cut).unionByName(cutDay(t)))))
  }

  // the IVF index: 40 vectors in two cells, each write one streamed batch
  // holding vector 1000 + tag
  private val ivf = {
    def vec(i: Long) = (i, Array(if (i % 2 == 0) 1f else 0f, if (i % 2 == 0) 0f else 1f,
      (i % 7).toFloat / 100f, 0f))
    val base = (0L until 40L).map(vec)
    def batch(tag: Int) = Seq(vec(1000L + tag)).toDF("vec_id", "vec")
    Store("IVF index",
      create = root => Ann.buildIvfIndex(base.toDF("vec_id", "vec"), "vec_id", "vec", 4, 2, root),
      write = (root, tag) => Ann.ivfDeltaAppend(spark, root, batch(tag), "vec_id", "vec", 4, tag),
      stage = (txn, tag) => Ann.stageDelta(txn, batch(tag), "vec_id", "vec", 4, Some(tag.toLong)),
      read = root => Ann.readIvfAssignments(spark, root).select(col("vec_id")),
      rows = tags => (base.map(_._1) ++ tags.map(1000L + _)).map(i => s"[$i]").sorted,
      otherReads = root => {
        Ann.queryIvfIndex(spark, root, batch(9), "vec_id", "vec", 4, 3, 1).collect()
        graft.jobs.Maintain.maintainIvf(spark, root, 4, 2, staleThreshold = 100.0).collect()
      })
  }

  // a zone-mapped build-once cache, as q263/q279/q281/q283 build it; a
  // later write rebuilds it at the next version
  private val zoned = {
    def data(tag: Int) = spark.range(0, 160).select(col("id"), (col("id") * 10 + tag).as("v"))
    def stage(txn: Snapshots.Txn, tag: Int) =
      graft.queries.Mining.stageZoned(txn, "clustered", data(tag), "id")
    Store("zone-mapped cache",
      create = root => Snapshots.openOrBuild(spark, root)(stage(_, 0)),
      write = (root, tag) => commitWith(root)(stage(_, tag)),
      stage = stage,
      read = root => Snapshots.open(spark, root).read(spark, "clustered")
        .where(col("id").between(20, 39)),
      rows = tags => sorted(data(tags.lastOption.getOrElse(0)).where(col("id").between(20, 39))))
  }

  // the streaming upsert sink's table: two keys from batch 0; batch `tag`
  // updates key 1 and inserts key 100 + tag
  private val upsert = {
    import graft.streaming.Streams
    def batch(tag: Int) = Seq((1L, tag.toLong, s"a$tag"), (100L + tag, tag.toLong, "new"))
      .toDF("id", "ver", "val")
    def merge(tag: Int) = Streams.upsertMerge(batch(tag), Seq("id"), Seq("ver"), None) _
    Store("streaming upsert sink",
      create = root => Streams.upsertBatch(root, "t", Seq("id"), Seq("ver"))(
        Seq((1L, 0L, "a0"), (2L, 0L, "b0")).toDF("id", "ver", "val"), 0L),
      write = (root, tag) => Streams.upsertBatch(root, "t", Seq("id"), Seq("ver"))(batch(tag), tag),
      stage = (txn, tag) => assert(Streams.stageBatch(txn, tag.toLong)(Streams.stageTable("t")(merge(tag)))),
      read = root => Snapshots.open(spark, root).read(spark, "t"),
      rows = tags => sorted((Seq((2L, 0L, "b0"),
          tags.lastOption.fold((1L, 0L, "a0"))(t => (1L, t.toLong, s"a$t"))) ++
        tags.map(t => (100L + t, t.toLong, "new"))).toDF("id", "ver", "val")))
  }

  // the streaming histogram sink: batch `tag` bins 100 · (tag + 1) values
  private val histogram = {
    import graft.streaming.Streams
    def batch(tag: Int) = spark.range(0, 100L * (tag + 1)).select((col("id") * 7 % 1000).as("v"))
    def sink(root: String, tag: Int) = Streams.histogramBatch(root, "v", 0L, 1000L, 10)(batch(tag), tag)
    Store("streaming histogram sink",
      create = sink(_, 0),
      write = sink,
      stage = (txn, tag) => assert(Streams.stageBatch(txn, tag.toLong)(
        Streams.stageHistogram(batch(tag), "v", 0L, 1000L, 10))),
      read = Streams.histogramState(spark, _),
      rows = tags => sorted(graft.ops.Sketches.histBuild((0 +: tags).map(batch).reduce(_ union _),
        col("v"), Nil, 0L, 1000L, 10)))
  }

  // the streaming near-dup sink: batch `tag` holds doc 100 + tag, one
  // text, so it pairs with the doc of every batch committed before it
  private val nearDup = {
    import graft.streaming.Streams
    def batch(tag: Int) = Seq((100L + tag, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    def sink(root: String, tag: Int) = Streams.nearDupBatch(root, "doc_id", "text")(batch(tag), tag)
    Store("streaming near-dup sink",
      create = sink(_, 0),
      write = sink,
      stage = (txn, tag) => assert(Streams.stageBatch(txn, tag.toLong)(
        Streams.stageNearDup(batch(tag), tag.toLong, "doc_id", "text", 3, 16, 4, 0.8))),
      read = Streams.nearDupState(spark, _, "pairs").select("doc_a", "doc_b"),
      rows = tags => {
        val ids = (0 +: tags).map(100L + _)
        ids.indices.flatMap(j => ids.take(j).map(a => s"[$a,${ids(j)}]")).sorted
      },
      otherReads = root => Seq("sigs", "docs").foreach(Streams.nearDupState(spark, root, _).collect()))
  }

  // the Warehouse catalog: table t0 and a view over it; write `tag` saves table t<tag>
  private val catalog = {
    val db = "contractwh"
    Store("Warehouse catalog",
      create = root => {
        Warehouse.saveTable(spark, root, db, "t0", spark.range(3).toDF("id"))
        Warehouse.createView(spark, root, db, "v0", s"SELECT * FROM $db.t0")
      },
      write = (root, tag) => Warehouse.saveTable(spark, root, db, s"t$tag", spark.range(tag).toDF("id")),
      stage = (txn, tag) => Warehouse.stageCatalog(txn,
        Warehouse.put(Warehouse.Item(db, s"t$tag", "parquet", Nil, None))),
      read = root => (Warehouse.listTables(spark, root).map(_.qualified) ++
        Warehouse.listViews(spark, root).map(v => s"${v._1}.${v._2}")).toDF("name"),
      rows = tags => (Seq("t0", "v0") ++ tags.map(t => s"t$t")).map(n => s"[$db.$n]").sorted,
      otherReads = root => Warehouse.open(spark.newSession(), root),
      log = Warehouse.catalogRoot)
  }

  /** (relative path, size, mtime) of every file and dir under `root`. */
  private def listing(root: String): Set[(String, Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map { p =>
        val f = p.toFile
        (base.relativize(p).toString, if (f.isFile) f.length() else 0L, f.lastModified())
      }.toSet
    } finally walk.close()
  }

  /** Version dirs on disk that no retained snapshot references. */
  private def unreferenced(root: String): Set[String] = {
    val live = new java.io.File(s"$root/_snapshots").list().toSeq
      .collect { case n if n.matches("s\\d{9}\\.json") => n.substring(1, 10).toInt }
      .flatMap(i => Snapshots.open(spark, root, Some(i)).dirs.map { case (t, d) => s"$t/$d" })
      .toSet
    new java.io.File(root).listFiles().filter(t => t.isDirectory && !t.getName.startsWith("_"))
      .flatMap(t => t.list().map(v => s"${t.getName}/$v")).toSet -- live
  }

  private def inParallel[T](bodies: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(bodies.map(b => Future(b()))), Duration.Inf)
    finally pool.shutdown()
  }

  for (store <- Seq(raw, incremental, ivf, zoned, upsert, histogram, nearDup, catalog)) {
    import store._

    test(s"$name: reads never write") {
      val root = scratch("contract_read")
      create(root)
      write(root, 1)
      val before = listing(root)
      assert(sorted(read(root)) == rows(Seq(1)))
      otherReads(root)
      assert(listing(root) == before)
    }

    test(s"$name: readers pinned or concurrent see only commits") {
      val root = scratch("contract_pin")
      create(root)
      val pinned = read(root)
      write(root, 1)
      assert(sorted(pinned) == rows(Nil), "the pinned version outlives one commit + vacuum")
      // two readers loop until one of their reads started after the
      // writer returned; every read is one committed version
      val (old, fresh) = (rows(Seq(1)), rows(Seq(1, 2)))
      assert(old != fresh)
      @volatile var writtenAt = Long.MaxValue
      def reader() = {
        val out = Seq.newBuilder[(Long, Seq[String])]
        var start = 0L
        while (start <= writtenAt) {
          start = System.nanoTime()
          out += (start -> sorted(read(root)))
        }
        out.result()
      }
      val results = inParallel(() => reader(), () => reader(),
        () => { Thread.sleep(200); write(root, 2); writtenAt = System.nanoTime(); Nil })
      val reads = results.take(2).flatten
      assert(reads.forall { case (_, r) => r == old || r == fresh })
      val late = reads.filter(_._1 > writtenAt)
      assert(late.nonEmpty && late.forall(_._2 == fresh))
    }

    test(s"$name: a crash before commit is invisible") {
      val root = scratch("contract_crash")
      create(root)
      val id = Snapshots.currentId(spark, log(root)).get
      // a writer that died after staging and before its commit
      val crashed = Snapshots.begin(spark, log(root))
      stage(crashed, 7)
      assert(Snapshots.currentId(spark, log(root)).contains(id))
      assert(sorted(read(root)) == rows(Nil))
      write(root, 1)
      assert(Snapshots.currentId(spark, log(root)).contains(id + 1))
      assert(sorted(read(root)) == rows(Seq(1)))
    }

    test(s"$name: two writers, one id: exactly one commits") {
      val root = scratch("contract_race")
      create(root)
      val id = Snapshots.currentId(spark, log(root)).get + 1
      val barrier = new CyclicBarrier(2)
      def writer(tag: Int) = () => {
        val txn = Snapshots.begin(spark, log(root))
        barrier.await(5, TimeUnit.MINUTES) // both begin from one parent
        stage(txn, tag)
        barrier.await(5, TimeUnit.MINUTES) // both staged: the commits race
        tag -> Try(txn.commit())
      }
      val outcomes = inParallel(writer(1), writer(2))
      val (won, lost) = outcomes.partition(_._2.isSuccess)
      assert(won.size == 1 && lost.size == 1, s"exactly one commit: $outcomes")
      assert(won.head._2.get.id == id)
      val e = lost.head._2.failed.get
      assert(e.isInstanceOf[IllegalStateException] && e.getMessage.contains(s"snapshot $id "), e)
      assert(Snapshots.currentId(spark, log(root)).contains(id))
      assert(sorted(read(root)) == rows(Seq(won.head._1)))
      assert(unreferenced(log(root)).isEmpty, "the loser removes its staged dirs")
    }
  }

  test("IVF index: ingest racing compaction loses and doubles no batch") {
    for (ingestWins <- Seq(true, false)) {
      val root = scratch("contract_ivf_race")
      ivf.create(root)
      ivf.write(root, 0)
      // both begin from the version holding batch 0
      val ingest = Snapshots.begin(spark, root)
      val compaction = Snapshots.begin(spark, root)
      ivf.stage(ingest, 1)
      Ann.stageCompaction(compaction)
      val (first, second) = if (ingestWins) (ingest, compaction) else (compaction, ingest)
      first.commit()
      intercept[IllegalStateException](second.commit())
      if (ingestWins) Ann.ivfCompactDeltas(spark, root) else ivf.write(root, 1)
      assert(sorted(ivf.read(root)) == ivf.rows(Seq(0, 1)), s"ingestWins=$ingestWins")
      Ann.ivfCompactDeltas(spark, root)
      assert(Snapshots.open(spark, root).watermark.contains(1L))
      // replays of both batches are no-ops once folded
      Seq(0, 1).foreach(ivf.write(root, _))
      assert(sorted(ivf.read(root)) == ivf.rows(Seq(0, 1)), s"ingestWins=$ingestWins")
    }
  }

  test("zone-mapped cache: a read of the committed version prunes") {
    val root = scratch("contract_zoned")
    zoned.create(root)
    withZoneRule {
      val banded = zoned.read(root)
      assert(banded.inputFiles.length < 16, s"scanned ${banded.inputFiles.length} of 16 files")
      assert(sorted(banded) == zoned.rows(Nil))
    }
  }

  // compaction as a second writer of the zone-mapped cache: Maintain.run
  // stages Layout.compact's rewrite and commits it

  test("zone-mapped cache: a compaction staged but not committed is invisible") {
    val root = scratch("contract_zoned_crash")
    zoned.create(root)
    val id = Snapshots.currentId(spark, root).get
    assert(Layout.compact(Snapshots.begin(spark, root), "clustered") == ((16, 1)))
    assert(Snapshots.currentId(spark, root).contains(id))
    withZoneRule {
      val banded = zoned.read(root)
      assert(banded.inputFiles.length < 16, "readers still prune on the old version")
      assert(sorted(banded) == zoned.rows(Nil))
    }
    val r = Maintain.run(spark, root, "clustered", maxFiles = 4).collect().head
    assert(r.getBoolean(3) && r.getLong(2) == 1L, s"$r")
    assert(Snapshots.currentId(spark, root).contains(id + 1))
    assert(sorted(zoned.read(root)) == zoned.rows(Nil))
  }

  test("zone-mapped cache: of two racing compactions exactly one commits") {
    val root = scratch("contract_zoned_race")
    zoned.create(root)
    val id = Snapshots.currentId(spark, root).get + 1
    val barrier = new CyclicBarrier(2)
    def compaction() = {
      val txn = Snapshots.begin(spark, root)
      barrier.await(5, TimeUnit.MINUTES) // both begin from one parent
      Layout.compact(txn, "clustered")
      barrier.await(5, TimeUnit.MINUTES) // both staged: the commits race
      Try(txn.commit())
    }
    val outcomes = inParallel(() => compaction(), () => compaction())
    assert(outcomes.count(_.isSuccess) == 1, s"exactly one commit: $outcomes")
    assert(outcomes.flatMap(_.failed.toOption).forall(e =>
      e.isInstanceOf[IllegalStateException] && e.getMessage.contains(s"snapshot $id ")))
    assert(Snapshots.currentId(spark, root).contains(id))
    assert(sorted(zoned.read(root)) == zoned.rows(Nil))
    assert(unreferenced(root).isEmpty, "the loser removes its staged dirs")
  }

  test("zone-mapped cache: a healthy table commits no version") {
    val root = scratch("contract_zoned_ok")
    zoned.create(root)
    val before = listing(root)
    val r = Maintain.run(spark, root, "clustered").collect().head
    assert(!r.getBoolean(3) && r.getLong(1) == 16L && r.getLong(2) == 16L, s"$r")
    assert(listing(root) == before)
  }

  private def withZoneRule[T](body: => T): T = {
    import graft.plans.ZoneMapRule
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ZoneMapRule
    try body finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == ZoneMapRule)
  }
}
