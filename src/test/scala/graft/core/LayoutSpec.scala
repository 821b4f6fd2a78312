package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  test("writeRangeClustered: files own disjoint key ranges (footer-skippable)") {
    import spark.implicits._
    val out = scratch("range-clustered")
    // write keys shuffled so clustering is the writer's doing, not luck
    val df = (1 to 10000).map(i => (i * 2654435761L % 100000, s"p$i"))
      .toDF("k", "payload")
    Layout.writeRangeClustered(df, out, numFiles = 8, col("k"))
    val ranges = Layout.fileRanges(spark, out, "k")
    assert(ranges.size > 1, "expected multiple files")
    // disjoint and ordered: each file's min exceeds the previous file's max
    ranges.sliding(2).foreach {
      case Seq((_, _, prevMax), (f, mn, _)) =>
        assert(mn > prevMax, s"file $f overlaps previous (min $mn <= max $prevMax)")
      case _ =>
    }
    // content unchanged
    assert(spark.read.parquet(out).count() == 10000)
  }

  test("range clustering makes a key-range scan touch few files; random layout touches all") {
    import spark.implicits._
    val clustered = scratch("rc-pruned")
    val random = scratch("rc-random")
    val df = (1 to 20000).map(i => ((i * 48271) % 20000).toLong).toDF("k")
    Layout.writeRangeClustered(df, clustered, numFiles = 10, col("k"))
    df.repartition(10).write.mode("overwrite").parquet(random) // hash layout: every file spans the domain
    def filesHit(path: String): Long = {
      val hit = spark.read.parquet(path).where(col("k") between (0, 999))
        .select(input_file_name()).distinct().count()
      hit
    }
    assert(filesHit(clustered) <= 2, "clustered scan should touch ~1 file in 10")
    assert(filesHit(random) == 10, "random layout spans every file")
  }

  test("zorderValueN: N-dim interleave, 2-dim case matches zorderValue, 3-dim locality") {
    import spark.implicits._
    // N=2 must agree with the hand-checked 2-dim implementation
    val pairs = for { x <- 0 until 8; y <- 0 until 8 } yield (x.toLong, y.toLong)
    val agree = pairs.toDF("x", "y").select(
        (Layout.zorderValue(col("x"), col("y"), 3) ===
          Layout.zorderValueN(Seq(col("x"), col("y")), 3)).as("ok"))
      .agg(min(col("ok"))).head().getBoolean(0)
    assert(agree, "N=2 generalization must equal the 2-dim interleave")

    // 3-dim: sort a 16^3 grid by z, cut into 16 files' worth of ranges;
    // an 1/4-width slab on ANY dimension must skip at least half the files
    val grid = for { x <- 0 until 16; y <- 0 until 16; z <- 0 until 16 }
      yield (x.toLong, y.toLong, z.toLong)
    val out = scratch("zorder3")
    grid.toDF("x", "y", "z")
      .withColumn("__z", Layout.zorderValueN(
        Seq(col("x"), col("y"), col("z")), 4))
      .repartitionByRange(16, col("__z")).sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(out)
    def hit(c: String): Long =
      spark.read.parquet(out).where(col(c) between (0, 3))
        .select(input_file_name()).distinct().count()
    Seq("x", "y", "z").foreach { c =>
      assert(hit(c) <= 8, s"$c-slab hit ${hit(c)} of 16 files")
    }
  }

  test("zorderValue interleaves bits; locality beats single-key sort on the other dim") {
    import spark.implicits._
    // hand-checked interleave: x=0b11 (bits 0,2), y=0b10 (bit 3) -> 0b1101? compute:
    // x=3: bits x0=1->z0, x1=1->z2 ; y=2: y0=0->z1, y1=1->z3  => z=0b1101=13
    val z = spark.range(1).select(Layout.zorderValue(lit(3), lit(2), 2).as("z"))
      .head().getLong(0)
    assert(z == 13L)

    val grid = for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong)
    val df = grid.toDF("x", "y")
    val zout = scratch("zorder")
    Layout.writeZOrdered(df, zout, numFiles = 16, col("x"), col("y"), bitsPerDim = 6)
    def hit(path: String, c: String): Long =
      spark.read.parquet(path).where(col(c) between (0, 7))
        .select(input_file_name()).distinct().count()
    // an 1/8-width slab on EITHER dimension must skip most of the 16 files
    assert(hit(zout, "x") <= 8, s"x-slab hit ${hit(zout, "x")} files")
    assert(hit(zout, "y") <= 8, s"y-slab hit ${hit(zout, "y")} files")
    // contrast: clustering on x alone cannot skip anything for a y-predicate
    val xonly = scratch("xorder")
    Layout.writeRangeClustered(df, xonly, numFiles = 16, col("x"))
    assert(hit(xonly, "y") == 16, "x-clustered layout spans all files for a y-slab")
  }

  test("writeBloomFiltered: footers carry bloom filters; lookups stay exact") {
    import spark.implicits._
    // high-cardinality unsorted key: exactly what min/max stats can't skip
    val df = (1L to 5000L).map(i => (i * 2654435761L % 100000L, i))
      .toDF("k", "v")
    val out = scratch("bloom")
    Layout.writeBloomFiltered(df, out, Seq("k"), expectedNdv = 5000L,
      numFiles = 4)
    val perFile = Layout.bloomFilteredColumns(spark, out)
    assert(perFile.nonEmpty && perFile.forall(_._2.contains("k")),
      s"expected a bloom filter on k in every file, got $perFile")
    // and only on the requested column
    assert(perFile.forall(!_._2.contains("v")))
    // equality lookup through the filtered layout is exact
    val key = 3L * 2654435761L % 100000L
    val got = spark.read.parquet(out).where(col("k") === key)
      .select("v").as[Long].collect().toSet
    val want = df.where(col("k") === key).select("v").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // negative control: a plain write carries no bloom filters
    val plain = scratch("plain")
    df.repartition(4).write.mode("overwrite").parquet(plain)
    assert(Layout.bloomFilteredColumns(spark, plain).forall(_._2.isEmpty))
  }

  test("compact: many small files become few, rows identical, idempotent") {
    import spark.implicits._
    val root = scratch("compact")
    val df = (1 to 5000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val first = Snapshots.begin(spark, root)
    first.stage("t", df.repartition(40))
    first.commit()
    def rows = Snapshots.open(spark, root).read(spark, "t").as[(Long, String)].collect().toSet
    val rowsBefore = rows
    val txn = Snapshots.begin(spark, root)
    val (before, after) = Layout.compact(txn, "t", targetFileBytes = 1L << 20)
    assert(before == 40 && after < 40 && after >= 1)
    assert(rows == rowsBefore, "a staged compaction is invisible before its commit")
    txn.commit()
    assert(rows == rowsBefore)
    // already-compact table: a no-op that stages nothing
    val again = Snapshots.begin(spark, root)
    val (b2, a2) = Layout.compact(again, "t", targetFileBytes = 1L << 20)
    assert(b2 == after && a2 == after)
    assert(new java.io.File(s"$root/t").list().length == 2, "nothing staged")
  }
}
