package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S9 persistent catalog: DDL registers tables in the session catalog AND
  * the warehouse root's catalog table; a brand-new session (fresh catalog)
  * replays it with [[Warehouse.open]] and resolves every table by
  * `db.table` name — the across-session persistence the reference's
  * U-SQL catalog provides (CreateGitHubDataTable.usql:4-12). */
class WarehouseSpec extends SparkSpec {

  test("createDatabase + saveTable: SQL resolves db.table; partitioned table prunes") {
    val root = scratch("wh-ddl")
    val region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    try {
      Warehouse.saveTable(spark, root, "whtest1", "region", region)
      Warehouse.saveTable(spark, root, "whtest1", "orders_bypri", orders,
        partitionCols = Seq("o_orderpriority"))

      assert(spark.sql("SELECT count(*) FROM whtest1.region").head().getLong(0)
        == region.count())
      val pri = orders.select("o_orderpriority").distinct()
        .head().getString(0)
      val got = spark.sql(
        s"SELECT count(*) FROM whtest1.orders_bypri WHERE o_orderpriority = '$pri'")
        .head().getLong(0)
      val want = orders.where(col("o_orderpriority") === pri).count()
      assert(got == want && got > 0)

      // the catalog records both tables with their partition columns
      val entries = Warehouse.listTables(spark, root)
        .map(e => e.qualified -> e.partitionCols).toMap
      assert(entries == Map(
        "whtest1.region" -> Nil,
        "whtest1.orders_bypri" -> Seq("o_orderpriority")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS whtest1.region")
      spark.sql("DROP TABLE IF EXISTS whtest1.orders_bypri")
      spark.sql("DROP DATABASE IF EXISTS whtest1")
    }
  }

  test("open replays the manifest into a session whose catalog has never seen the tables") {
    val root = scratch("wh-reopen")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    try {
      Warehouse.saveTable(spark, root, "whtest2", "nation", nation)
      // simulate a cold start: the ONLY registration state a new JVM has
      // is the warehouse root — drop everything from the live catalog
      spark.sql("DROP TABLE whtest2.nation")
      spark.sql("DROP DATABASE whtest2")
      val fresh = spark.newSession()
      assert(!fresh.catalog.databaseExists("whtest2"))
      val opened = Warehouse.open(fresh, root)
      assert(opened == Seq("whtest2.nation"))
      assert(fresh.sql("SELECT count(*) FROM whtest2.nation").head().getLong(0)
        == nation.count())
      // and the original session sees it too (shared external catalog)
      assert(spark.sql("SELECT count(*) FROM whtest2.nation").head().getLong(0)
        == nation.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS whtest2.nation")
      spark.sql("DROP DATABASE IF EXISTS whtest2")
    }
  }

  test("dropTable removes the entry; purge=false keeps data, purge=true deletes it") {
    val root = scratch("wh-drop")
    val region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    try {
      Warehouse.saveTable(spark, root, "whtest3", "keepme", region)
      Warehouse.saveTable(spark, root, "whtest3", "purgeme", region)

      Warehouse.dropTable(spark, root, "whtest3", "keepme")
      assert(!spark.catalog.tableExists("whtest3.keepme"))
      assert(new java.io.File(s"$root/whtest3/keepme").exists(),
        "purge=false must keep data")

      Warehouse.dropTable(spark, root, "whtest3", "purgeme", purge = true)
      assert(!new java.io.File(s"$root/whtest3/purgeme").exists(),
        "purge=true must delete data")

      assert(Warehouse.listTables(spark, root).isEmpty)
      // re-save over a dropped name works (DDL is idempotent)
      Warehouse.saveTable(spark, root, "whtest3", "keepme", region)
      assert(spark.sql("SELECT count(*) FROM whtest3.keepme").head().getLong(0)
        == region.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS whtest3.keepme")
      spark.sql("DROP TABLE IF EXISTS whtest3.purgeme")
      spark.sql("DROP DATABASE IF EXISTS whtest3")
    }
  }

  test("evolveTable: appended wider files surface via db.table, old rows null") {
    import spark.implicits._
    val root = scratch("wh-evolve")
    Warehouse.saveTable(spark, root, "lake", "ev",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // schema v2 lands via append with an extra column
    Warehouse.saveTable(spark, root, "lake", "ev",
      Seq((3L, "c", 7.5)).toDF("id", "name", "score"), mode = "append")
    val merged = Warehouse.evolveTable(spark, root, "lake", "ev")
    assert(merged.fieldNames.sorted.toSeq == Seq("id", "name", "score"))
    val got = spark.sql("SELECT id, score FROM lake.ev ORDER BY id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(1L -> None, 2L -> None, 3L -> Some(7.5)))
    // dropping the binding and re-deriving after open() is self-healing
    Warehouse.open(spark, root)
    Warehouse.evolveTable(spark, root, "lake", "ev")
    assert(spark.sql("SELECT count(score) FROM lake.ev").head().getLong(0) == 1)
  }

  test("analyze records exact row counts and column ndv for the CBO") {
    val root = scratch("wh-stats")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    try {
      Warehouse.saveTable(spark, root, "whstats", "nation", nation)
      val (rows, bytes) = Warehouse.analyze(spark, "whstats", "nation",
        columns = Seq("n_nationkey", "n_regionkey"))
      assert(rows == nation.count())
      assert(bytes > 0)
      // column stats are in the catalog (ndv for the join-reorder CBO)
      val desc = spark.sql(
        "DESCRIBE EXTENDED whstats.nation n_regionkey").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc("distinct_count").toLong == 5L)
      // with CBO on, the optimized plan carries the exact rowCount
      val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val st = spark.table("whstats.nation")
          .queryExecution.optimizedPlan.stats
        assert(st.rowCount.contains(BigInt(nation.count())))
      } finally spark.conf.set("spark.sql.cbo.enabled", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS whstats.nation")
      spark.sql("DROP DATABASE IF EXISTS whstats")
    }
  }

  test("identifiers are restricted to the safe charset") {
    val root = scratch("wh-ident")
    val region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    intercept[IllegalArgumentException] {
      Warehouse.saveTable(spark, root, "bad-db", "t", region)
    }
    intercept[IllegalArgumentException] {
      Warehouse.saveTable(spark, root, "db", "t; DROP TABLE x", region)
    }
  }

  test("createView persists; open replays table→view→view-on-view in order; dropView removes") {
    val root = scratch("wh-views")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    try {
      Warehouse.saveTable(spark, root, "whtest5", "nation", nation)
      Warehouse.createView(spark, root, "whtest5", "low_keys",
        "SELECT n_nationkey, n_name FROM whtest5.nation WHERE n_nationkey < 10")
      Warehouse.createView(spark, root, "whtest5", "low_count",
        "SELECT count(*) AS n FROM whtest5.low_keys")
      assert(spark.sql("SELECT n FROM whtest5.low_count").head().getLong(0)
        == 10L)
      // cold start: fresh catalog, only the root survives
      spark.sql("DROP VIEW whtest5.low_count")
      spark.sql("DROP VIEW whtest5.low_keys")
      spark.sql("DROP TABLE whtest5.nation")
      spark.sql("DROP DATABASE whtest5")
      val fresh = spark.newSession()
      val opened = Warehouse.open(fresh, root)
      assert(opened == Seq("whtest5.nation", "whtest5.low_keys",
        "whtest5.low_count"))
      assert(fresh.sql("SELECT n FROM whtest5.low_count").head().getLong(0)
        == 10L)
      // views are inlined: a filter through the view reaches the scan
      val plan = fresh.sql(
        "SELECT * FROM whtest5.low_keys WHERE n_nationkey = 3")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("n_nationkey"),
        s"filter did not push through the view:\n$plan")
      Warehouse.dropView(fresh, root, "whtest5", "low_count")
      assert(Warehouse.listViews(fresh, root).map(_._2) == Seq("low_keys"))
    } finally {
      spark.sql("DROP VIEW IF EXISTS whtest5.low_count")
      spark.sql("DROP VIEW IF EXISTS whtest5.low_keys")
      spark.sql("DROP TABLE IF EXISTS whtest5.nation")
      spark.sql("DROP DATABASE IF EXISTS whtest5")
    }
  }
  test("redefining an early view keeps manifest position; cold-start replay still resolves") {
    val root = scratch("wh-views-redef")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    try {
      Warehouse.saveTable(spark, root, "whtest6", "nation", nation)
      Warehouse.createView(spark, root, "whtest6", "base",
        "SELECT n_nationkey, n_name FROM whtest6.nation WHERE n_nationkey < 10")
      Warehouse.createView(spark, root, "whtest6", "derived",
        "SELECT count(*) AS n FROM whtest6.base")
      // redefine the EARLY view: must stay before its dependent in the catalog
      Warehouse.createView(spark, root, "whtest6", "base",
        "SELECT n_nationkey, n_name FROM whtest6.nation WHERE n_nationkey < 5")
      assert(Warehouse.listViews(spark, root).map(_._2) == Seq("base", "derived"),
        "redefinition moved the view after its dependent")
      spark.sql("DROP VIEW whtest6.derived")
      spark.sql("DROP VIEW whtest6.base")
      spark.sql("DROP TABLE whtest6.nation")
      spark.sql("DROP DATABASE whtest6")
      val fresh = spark.newSession()
      Warehouse.open(fresh, root) // throws if replay order is broken
      assert(fresh.sql("SELECT n FROM whtest6.derived").head().getLong(0) == 5L)
    } finally {
      spark.sql("DROP VIEW IF EXISTS whtest6.derived")
      spark.sql("DROP VIEW IF EXISTS whtest6.base")
      spark.sql("DROP TABLE IF EXISTS whtest6.nation")
      spark.sql("DROP DATABASE IF EXISTS whtest6")
    }
  }

  test("two DDLs from one catalog version: one commits, the other throws; open lists every committed entry") {
    val root = scratch("wh-race")
    Warehouse.saveTable(spark, root, "dbr", "t0", spark.range(3).toDF("id"))
    // two DDLs whose data is written and whose catalog commits race
    val ddls = Seq("t1", "t2").map { t =>
      spark.range(5).toDF("id").write.parquet(s"$root/dbr/$t")
      t -> Snapshots.begin(spark, Warehouse.catalogRoot(root))
    }
    ddls.foreach { case (t, txn) =>
      Warehouse.stageCatalog(txn, Warehouse.put(Warehouse.Item("dbr", t, "parquet", Nil, None)))
    }
    ddls.head._2.commit()
    val e = intercept[IllegalStateException](ddls(1)._2.commit())
    assert(e.getMessage.contains("committed by another writer"), e)
    assert(Warehouse.open(spark.newSession(), root) == Seq("dbr.t0", "dbr.t1"))
    // the losing DDL, re-run, commits on top of the winner's
    Warehouse.saveTable(spark, root, "dbr", "t2", spark.range(5).toDF("id"))
    val fresh = spark.newSession()
    assert(Warehouse.open(fresh, root) == Seq("dbr.t0", "dbr.t1", "dbr.t2"))
    assert(fresh.sql("SELECT count(*) FROM dbr.t1").head().getLong(0) == 5L)
  }

  test("a skipped broken view is named on the trace span as view_skipped") {
    val root = scratch("wh-skipped")
    Warehouse.saveTable(spark, root, "dbsk", "t1", spark.range(5).toDF("id"))
    Warehouse.createView(spark, root, "dbsk", "v_broken", "SELECT * FROM dbsk.t1")
    Warehouse.dropTable(spark, root, "dbsk", "t1")
    val (registered, report) = Trace.collect(spark)(Warehouse.open(spark, root))
    assert(registered.isEmpty)
    assert(report.root.attrs.toMap.get("view_skipped").contains("dbsk.v_broken"), report.root.attrs)
  }

  test("a broken view (dropped base) is skipped; later views still register") {
    val root = scratch("wh-brokenview")
    Warehouse.saveTable(spark, root, "dbv", "t1", spark.range(5).toDF("id"))
    Warehouse.saveTable(spark, root, "dbv", "t2", spark.range(7).toDF("id"))
    Warehouse.createView(spark, root, "dbv", "v_broken",
      "SELECT * FROM dbv.t1")
    Warehouse.createView(spark, root, "dbv", "v_ok",
      "SELECT * FROM dbv.t2")
    Warehouse.dropTable(spark, root, "dbv", "t1")
    // fresh-session replay: v_broken must be skipped, v_ok registered
    val registered = Warehouse.open(spark, root)
    assert(!registered.contains("dbv.v_broken"))
    assert(registered.contains("dbv.v_ok"))
    assert(spark.sql("SELECT count(*) FROM dbv.v_ok").head().getLong(0) == 7L)
  }
}
