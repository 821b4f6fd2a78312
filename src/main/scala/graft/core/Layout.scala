package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout for scan efficiency at scale — the writer-side
  * dual of predicate pushdown. The reference pins layout with clustered
  * indexes + hash distribution in its CTAS DDL
  * (`/root/reference/USQL/CreateAndInitializeCommit.usql:55` INTO 200,
  * `CreateGitHubDataTable.usql:23-26`); on a data lake the same lever is
  * how rows are arranged INSIDE and ACROSS parquet files:
  *
  *   - [[writeRangeClustered]] — global range-cluster on a sort key:
  *     each output file owns a disjoint key range, so parquet footer
  *     min/max stats let a filtered scan skip whole files (and row
  *     groups within them). The 100 TB effect: a point/range query on
  *     the cluster key touches O(selectivity) of the data, not all of
  *     it.
  *   - [[zorderValue]] — bit-interleaved composite key: sorting by it
  *     clusters BOTH dimensions at once, so either-dimension predicates
  *     skip most files (single-column range clustering only helps its
  *     own column). The classic multi-dimensional layout for
  *     (repo, date)-style access patterns.
  *
  * Both write plain parquet readable by any engine — layout is a
  * property of row order, not a table format.
  */
object Layout {

  /** Small-file compaction — the nightly maintenance op that keeps a
    * 100 TB table scannable: a table that accumulated thousands of tiny
    * files (streaming sinks, per-day appends) rereads into
    * `ceil(bytes / targetFileBytes)` right-sized files. Row-identical by
    * construction (read → repartition → write); sizing comes from the
    * file listing, not a data scan.
    *
    * `table`'s version in `txn`'s parent is rewritten as a new version
    * staged in `txn`; the caller commits it, so readers see the old
    * layout or the new one, never a mix, and the new files' footers are
    * the zones [[graft.plans.ZoneMapRule]] prunes with. An already-compact
    * table stages nothing. Returns (filesBefore, filesAfter). */
  def compact(txn: Snapshots.Txn, table: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val spark = txn.spark
    val src = txn.parent.getOrElse(throw new IllegalStateException(
      s"${txn.root} has no committed snapshot to compact")).path(table)
    val hadoop = spark.sessionState.newHadoopConf()
    val files = GraftSqlShim.dataFiles(src, hadoop).toSeq
    val totalBytes = files.map(_.getLen).sum
    val target = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (files.length <= target) return (files.length, files.length)
    txn.stage(table, Tables.parquet(spark, src).repartition(target))
    (files.length, GraftSqlShim.dataFiles(txn.dir(table), hadoop).size)
  }

  /** Write `df` range-clustered by `keys`: `repartitionByRange` samples
    * the key distribution and assigns each of `numFiles` partitions a
    * contiguous key range (skew-adaptive — equal ROWS per file, not
    * equal key-width), then an intra-partition sort makes row groups
    * internally ordered. One shuffle, then a streaming write — nothing
    * driver-side, so `numFiles` can be thousands. */
  def writeRangeClustered(df: DataFrame, path: String, numFiles: Int,
      keys: Column*): Unit =
    df.repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(path)

  /** Z-value of two non-negative int columns: interleaves the low
    * `bitsPerDim` bits of each (x in even positions, y in odd) into one
    * long. Computed with plain bitwise expressions — codegen-friendly,
    * no UDF. Callers with unbounded domains should first quantize to
    * `bitsPerDim`-bit rank space (e.g. `ntile` or epoch-day & mask). */
  def zorderValue(x: Column, y: Column, bitsPerDim: Int = 16): Column = {
    require(bitsPerDim >= 1 && bitsPerDim <= 31, s"bitsPerDim in [1,31], got $bitsPerDim")
    val mask = (1L << bitsPerDim) - 1L
    val xs = x.cast("long").bitwiseAND(lit(mask))
    val ys = y.cast("long").bitwiseAND(lit(mask))
    (0 until bitsPerDim).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** N-dimensional z-value: round-robin bit interleave of `dims.length`
    * non-negative int columns (dim j's bit i lands at position
    * `i * N + j`). Total bits `bitsPerDim * N` must fit a long. The 2-dim
    * [[zorderValue]] is the `N = 2` special case (kept for its hand-
    * checkable layout); use this one for (repo, date, actor)-style
    * three-way access patterns. */
  def zorderValueN(dims: Seq[Column], bitsPerDim: Int): Column = {
    val n = dims.length
    require(n >= 1, "zorderValueN needs at least one dimension")
    require(bitsPerDim >= 1 && bitsPerDim * n <= 63,
      s"bitsPerDim*dims must fit a long, got $bitsPerDim*$n")
    val mask = (1L << bitsPerDim) - 1L
    val masked = dims.map(_.cast("long").bitwiseAND(lit(mask)))
    (0 until bitsPerDim).foldLeft(lit(0L)) { (acc, i) =>
      masked.zipWithIndex.foldLeft(acc) { case (a, (d, j)) =>
        a.bitwiseOR(shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** Write z-order-clustered on two dimensions: range-cluster on the
    * interleaved z-value so each file owns a compact rectangle-ish region
    * of (x, y) space and predicates on EITHER dimension skip most files.
    * The z column is dropped from the stored schema — layout only. */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
      x: Column, y: Column, bitsPerDim: Int = 16): Unit =
    df.withColumn("__z", zorderValue(x, y, bitsPerDim))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Per-file [min, max] of `key` over a parquet directory — the same
    * stats a scan's file/row-group skipping consults, computed
    * distributedly via `input_file_name`. Dev/verification helper for asserting
    * layout quality (disjointness ⇒ skippability). */
  def fileRanges(spark: SparkSession, path: String, key: String)
      : Seq[(String, Long, Long)] = {
    import spark.implicits._
    Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).cast("long").as("mn"), max(col(key)).cast("long").as("mx"))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._2)
  }

  /** Write parquet with BLOOM FILTERS on `cols` — the layout lever for
    * point lookups on a column the file is NOT sorted by. Min/max footer
    * stats (range clustering, z-order) only skip files when the predicate
    * column correlates with row order; a bloom filter answers
    * "key definitely absent from this row group?" for ARBITRARY columns
    * at ~1 byte/distinct value, so a `WHERE unsorted_key = x` scan skips
    * row groups wholesale instead of decoding them. `expectedNdv` sizes
    * each filter (too low → saturated filter, no skipping — the
    * [[graft.ops.BloomJoin]] lesson at the file layout layer).
    *
    * Plain parquet feature flags — any parquet reader (Spark's vectorized
    * reader included) uses them transparently on equality predicates. */
  def writeBloomFiltered(df: DataFrame, path: String, cols: Seq[String],
      expectedNdv: Long, numFiles: Int = 0): Unit = {
    val out = if (numFiles > 0) df.repartition(numFiles) else df
    val w = cols.foldLeft(out.write.mode("overwrite")) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
    }
    w.parquet(path)
  }

  /** Which of `path`'s columns carry a bloom filter, per row group —
    * layout verification (reads footers only, no data pages). */
  def bloomFilteredColumns(spark: SparkSession, path: String)
      : Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    GraftSqlShim.parquetFooters(spark, path).map { case (f, footer) =>
      f.getPath.getName -> footer.getBlocks.asScala.flatMap(_.getColumns.asScala
        .filter(_.getBloomFilterOffset >= 0).map(_.getPath.toDotString)).distinct.toSeq
    }.toSeq
  }
}
