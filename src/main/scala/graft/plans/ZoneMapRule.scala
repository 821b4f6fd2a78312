package graft.plans

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Optimizer rule: automatic planning-time file pruning from the per-file
  * min/max that parquet already commits in every data file's footer — the
  * Delta Lake data-skipping idea on plain parquet, wired into the STANDARD
  * read path, and the engine's one pruning path. No build step and no
  * second copy of the statistics: a version directory never changes after
  * its [[graft.core.Snapshots]] commit, so its footers are as stable as a
  * log entry.
  *
  * When a `Filter` sits over a parquet scan whose one root is a committed
  * version directory, every range/equality/IN conjunct on a column with a
  * zone shrinks the scan's file list BEFORE the physical scan is planned.
  * `Snapshots.open(spark, root).read(spark, t).where(...)` gets
  * O(matching files) I/O with no API change.
  *
  * A column has a zone in a file only when every row group carries
  * min/max, or the column is all-null there. The stored values are read
  * as the Catalyst-internal value of the column's Spark type for these
  * shapes only: int/short/byte/date ← INT32, long ← INT64,
  * timestamp/timestamp_ntz ← INT64 TIMESTAMP(MICROS), string ← BINARY
  * STRING. Every other column is unknown (INT96, float/double, decimal,
  * nested, stats parquet-mr dropped, dates a file asks to rebase), and a
  * file with an unknown zone always survives.
  *
  * Correctness invariants (each spec-asserted):
  *  - the `Filter` is LEFT IN PLACE — straddling files re-filter, so the
  *    result is identical to the unpruned plan on any layout;
  *  - prunable conjuncts: `col {=,>,>=,<,<=} literal` (strict bounds
  *    prune as inclusive — a superset), `col IN (literals)` / `InSet`
  *    (a file survives when ANY value intersects its zone), and the
  *    same shapes through an ORDER-PRESERVING `Cast` of the column
  *    (integral widening, date→timestamp, timestamp→date: x ≤ y ⟹
  *    f(x) ≤ f(y), so the band compares against f(min)/f(max) of the
  *    zone — computed with the SAME timeZoneId the analyzed Cast
  *    carries, not the current session zone, which may have changed
  *    between analysis and execution). Also: `startsWith(prefix)` /
  *    the leading literal of a LIKE pattern as the byte-range band
  *    [prefix, prefix▲] (BETWEEN needs no special case — analysis
  *    already folds it to the two range conjuncts), and OR-of-bands
  *    (a file survives when ANY disjunct's zone intersects; one
  *    non-band disjunct disables the whole OR). Other casts,
  *    functions, nulls and unknown zones are ignored, never mis-pruned;
  *  - column matching follows `spark.sql.caseSensitive`: exact names
  *    when case-sensitive (two columns differing only in case must not
  *    read each other's zones), case-insensitive otherwise;
  *  - a multi-root scan is left untouched;
  *  - a failure inside the rewrite or the footer read leaves the plan
  *    untouched and records `zonemap_skipped` (the exception class) on
  *    the current [[graft.core.Trace]] span.
  *
  * Only a root NAMED like a version (`v=<id>-<token>`,
  * [[graft.core.Snapshots.isVersionDir]]) is probed — a test of the name,
  * so every other scan pays no filesystem call — and only once a band
  * extracts against the relation's own schema. Then the version's footers
  * are read on the driver (one listing, one footer read per file, no
  * Spark job) and cached for the process by the version directory, never
  * invalidated. The rule cannot re-fire on its own output: the rewritten
  * relation's root paths are the surviving FILES, which are not version
  * directories. */
object ZoneMapRule extends Rule[LogicalPlan] {

  private sealed trait Kind
  private case object Int32 extends Kind
  private case object Date32 extends Kind
  private case object Int64 extends Kind
  private case object Micros extends Kind
  private case object Utf8 extends Kind

  /** One column's zone in one file: min and max as parquet stored them
    * (strings as UTF8String); null bounds = every value is null. */
  private case class Zone(kind: Kind, min: Any, max: Any)

  /** The kind of a stored parquet column whose stats this rule reads. */
  private def kindOf(t: PrimitiveType): Option[Kind] = {
    import LogicalTypeAnnotation._
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT32, null) => Some(Int32)
      case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation) if i.isSigned => Some(Int32)
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => Some(Date32)
      case (PrimitiveTypeName.INT64, null) => Some(Int64)
      case (PrimitiveTypeName.INT64, i: IntLogicalTypeAnnotation) if i.isSigned => Some(Int64)
      case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation)
          if ts.getUnit == TimeUnit.MICROS => Some(Micros)
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) => Some(Utf8)
      case _ => None
    }
  }

  /** The Catalyst-internal value of a stored `kind` value read as Spark
    * type `dt`; None when `dt` does not read that kind as stored. */
  private def reader(dt: DataType, kind: Kind): Option[Any => Any] = (dt, kind) match {
    case (IntegerType, Int32) | (DateType, Date32) | (LongType, Int64) |
        (TimestampType | TimestampNTZType, Micros) | (StringType, Utf8) => Some(identity)
    case (ShortType, Int32) => Some(v => v.asInstanceOf[Int].toShort)
    case (ByteType, Int32) => Some(v => v.asInstanceOf[Int].toByte)
    case _ => None
  }

  private def zoneable(dt: DataType): Boolean =
    Seq(Int32, Date32, Int64, Micros, Utf8).exists(reader(dt, _).nonEmpty)

  /** One file's zones from its footer, by top-level column: per column the
    * row groups' statistics merged, kept only when every row group has
    * min/max or is all-null in it. A file asking Spark to rebase its
    * dates (`datesAsStored` false) has no date or timestamp zone. */
  private def fileZones(footer: ParquetMetadata, datesAsStored: Boolean): Map[String, Zone] = {
    val cols = footer.getFileMetaData.getSchema.getColumns.asScala.toSeq.flatMap { c =>
      kindOf(c.getPrimitiveType)
        .filter(k => c.getPath.length == 1 && (datesAsStored || (k != Date32 && k != Micros)))
        .map(k => c.getPath.head -> ((k, Statistics.createStats(c.getPrimitiveType))))
    }.toMap
    val unknown = scala.collection.mutable.Set.empty[String]
    footer.getBlocks.asScala.foreach { b =>
      val seen = b.getColumns.asScala.flatMap { ch =>
        val path = ch.getPath.toArray
        cols.get(path.head).filter(_ => path.length == 1).map { case (_, acc) =>
          val s = ch.getStatistics
          if (s != null && (s.hasNonNullValue ||
              (s.isNumNullsSet && s.getNumNulls == b.getRowCount))) acc.mergeStatistics(s)
          else unknown += path.head
          path.head
        }
      }.toSet
      unknown ++= cols.keySet -- seen
    }
    def value(v: Any): Any = v match {
      case b: Binary => UTF8String.fromBytes(b.getBytes)
      case other => other
    }
    cols.collect { case (name, (kind, acc)) if !unknown(name) =>
      name -> (if (acc.hasNonNullValue)
        Zone(kind, value(acc.genericGetMin), value(acc.genericGetMax))
      else Zone(kind, null, null))
    }
  }

  /** Per-version zone cache: normalized file path → that file's zones.
    * The optimizer may run this rule several times per query (two
    * operator-optimization batches + AQE replans); a version never
    * changes once committed, so its footers are read once per process.
    * O(files) entries on the driver — the same bounded class as the
    * survivor filtering the rewrite already performs. */
  private val zoneCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Map[String, Zone]]]()

  /** The zones of every data file under version directory `root`, from
    * the footers (no Spark job). get-then-putIfAbsent rather than
    * computeIfAbsent: the footer reads must not hold a map bin lock. A
    * failed read throws and caches nothing, so the next pass retries. */
  private def versionZones(spark: SparkSession, root: String): Map[String, Map[String, Zone]] = {
    val cached = zoneCache.get(root)
    if (cached != null) return cached
    val loaded = GraftSqlShim.parquetFooters(spark, root).map { case (f, footer) =>
      normalize(f.getPath.toString) ->
        fileZones(footer, GraftSqlShim.datetimesAsStored(spark, footer))
    }.toMap
    val prior = zoneCache.putIfAbsent(root, loaded)
    if (prior != null) prior else loaded
  }

  private def skipped(what: String, e: Exception): Unit = {
    logWarning(s"$what (pruning skipped this pass)", e)
    graft.core.Trace.attr("zonemap_skipped", e.getClass.getName)
  }

  private def normalize(uri: String): String =
    uri.replaceFirst("^file:/+", "/")

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def splitDisjuncts(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => splitDisjuncts(l) ++ splitDisjuncts(r)
    case other => Seq(other)
  }

  /** The monotone cast an extracted band carries: target type plus the
    * timeZoneId the ANALYZED Cast resolved with — zone stats must map
    * through the identical cast, or a session-timezone change between
    * analysis and execution mis-prunes date↔timestamp bands. */
  private case class CastSpec(to: DataType, tz: Option[String])

  /** A prunable conjunct, normalized: the column's RAW name, the
    * order-preserving cast applied to the column (identity = None), and
    * either a range band or an IN value set — all literal values are
    * Catalyst-internal, in the COMPARISON type (the cast's target).
    * [[OrBand]] is a disjunction of leaf bands (possibly on different
    * columns): a file is prunable under it only when EVERY disjunct's
    * zone test fails — one unevaluable disjunct makes the whole OR
    * unprunable, enforced at compile time in [[prune]]. */
  private sealed trait ZPred
  private sealed trait ZBand extends ZPred {
    def col: String; def castTo: Option[CastSpec]
  }
  private case class RangeBand(col: String, castTo: Option[CastSpec],
      lo: Option[Literal], hi: Option[Literal]) extends ZBand
  private case class InBand(col: String, castTo: Option[CastSpec],
      values: Seq[Literal]) extends ZBand
  private case class OrBand(disjuncts: Seq[ZBand]) extends ZPred

  /** The column side of a prunable conjunct: a bare attribute, or an
    * attribute under ONE order-preserving cast (monotone f: x ≤ y ⟹
    * f(x) ≤ f(y), so [min,max] of the column maps to [f(min),f(max)]
    * and band comparison against the casted stats is exact). */
  private def colSide(e: Expression): Option[(AttributeReference, Option[CastSpec])] =
    e match {
      case a: AttributeReference => Some((a, None))
      case Cast(a: AttributeReference, dt, tz, _) if monotoneCast(a.dataType, dt) =>
        Some((a, Some(CastSpec(dt, tz))))
      case _ => None
    }

  /** Order-preserving (monotone non-decreasing) casts this rule trusts:
    * integral widening and date↔timestamp. Timestamp→date is monotone
    * but not injective — fine, strict bounds are already compared
    * inclusively (a superset). Anything string-, float-format- or
    * overflow-adjacent stays out. */
  private def monotoneCast(from: DataType, to: DataType): Boolean = {
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3
      case LongType => 4; case _ => -1
    }
    (from, to) match {
      case (DateType, TimestampType) => true
      case (TimestampType, DateType) => true
      case _ => rank(from) > 0 && rank(to) >= rank(from)
    }
  }

  /** Top-level extraction: each conjunct yields a leaf band, or — new —
    * an [[OrBand]] when the conjunct is a disjunction whose EVERY branch
    * is itself a leaf band (`day < a OR day > b`, `k = 1 OR k = 9`). A
    * disjunct that doesn't extract (function, unmapped column, nested
    * AND) poisons the whole OR — it might match rows the bands don't
    * cover, so the conjunct is skipped, never mis-pruned. */
  private def bands(cond: Expression, mapped: String => Boolean): Seq[ZPred] =
    splitConjuncts(cond).flatMap { c =>
      leaf(c, mapped).orElse(c match {
        case o: Or =>
          val ds = splitDisjuncts(o).map(leaf(_, mapped))
          if (ds.exists(_.isEmpty)) None else Some(OrBand(ds.flatten))
        case _ => None
      })
    }

  private def leaf(c: Expression, mapped: String => Boolean): Option[ZBand] =
    c match {
      case EqualTo(e, l: Literal) => range(e, l, mapped, Some(l), Some(l))
      case EqualTo(l: Literal, e) => range(e, l, mapped, Some(l), Some(l))
      case GreaterThanOrEqual(e, l: Literal) => range(e, l, mapped, Some(l), None)
      case GreaterThan(e, l: Literal) => range(e, l, mapped, Some(l), None)
      case LessThanOrEqual(e, l: Literal) => range(e, l, mapped, None, Some(l))
      case LessThan(e, l: Literal) => range(e, l, mapped, None, Some(l))
      case GreaterThanOrEqual(l: Literal, e) => range(e, l, mapped, None, Some(l))
      case GreaterThan(l: Literal, e) => range(e, l, mapped, None, Some(l))
      case LessThanOrEqual(l: Literal, e) => range(e, l, mapped, Some(l), None)
      case LessThan(l: Literal, e) => range(e, l, mapped, Some(l), None)
      // LIKE 'prefix%...' family. The optimizer's LikeSimplification has
      // usually already rewritten the pure-prefix form to StartsWith
      // (and 'p%s' to StartsWith AND EndsWith, whose StartsWith conjunct
      // lands here via splitConjuncts); a raw Like survives only with
      // multiple inner wildcards, where the LEADING literal run is still
      // a sound prefix band (the retained Filter rechecks the rest).
      case StartsWith(e, Literal(p: org.apache.spark.unsafe.types.UTF8String, StringType))
          if p != null && p.numBytes > 0 =>
        prefixBand(e, p, mapped)
      case Like(e, Literal(pat: org.apache.spark.unsafe.types.UTF8String, StringType), esc)
          if pat != null =>
        likePrefix(pat.toString, esc).flatMap(pre =>
          prefixBand(e,
            org.apache.spark.unsafe.types.UTF8String.fromString(pre), mapped))
      case In(e, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val lits = vs.map(_.asInstanceOf[Literal]).filter(_.value != null)
        colSide(e).collect {
          case (a, c) if lits.nonEmpty && mapped(a.name) &&
              lits.head.dataType == cmpType(a, c) =>
            InBand(a.name, c, lits)
        }
      case InSet(e, hset) =>
        colSide(e).collect {
          case (a, c) if mapped(a.name) => (a, c)
        }.flatMap { case (a, c) =>
          val vs = hset.toSeq.filter(_ != null)
            .map(v => Literal(v, cmpType(a, c)))
          if (vs.nonEmpty) Some(InBand(a.name, c, vs)) else None
        }
      case _ => None
    }

  /** `startsWith(prefix)` as a range band: binary UTF8String order makes
    * every match sit in [prefix, prefixUpper] where prefixUpper is the
    * prefix with its last non-0xFF byte incremented (trailing 0xFF bytes
    * dropped). The hi compare is inclusive — a superset, only widens.
    * String columns only, never through a cast (no string cast is
    * order-preserving). */
  private def prefixBand(e: Expression,
      p: org.apache.spark.unsafe.types.UTF8String,
      mapped: String => Boolean): Option[ZBand] =
    colSide(e).collect {
      case (a, None) if mapped(a.name) && a.dataType == StringType =>
        RangeBand(a.name, None, Some(Literal(p, StringType)),
          prefixUpper(p).map(u => Literal(u, StringType)))
    }

  private def prefixUpper(prefix: org.apache.spark.unsafe.types.UTF8String)
      : Option[org.apache.spark.unsafe.types.UTF8String] = {
    val b = prefix.getBytes
    var i = b.length - 1
    while (i >= 0 && b(i) == -1) i -= 1
    if (i < 0) None // all-0xFF prefix: no finite upper bound, lo-only band
    else {
      val out = java.util.Arrays.copyOf(b, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(out))
    }
  }

  /** The leading literal run of a LIKE pattern (up to the first `%`/`_`),
    * usable as a prefix band. Patterns containing the escape char are
    * skipped outright — decoding escapes isn't worth the edge; the
    * Filter still applies the real LIKE either way. */
  private def likePrefix(pat: String, esc: Char): Option[String] = {
    if (pat.indexOf(esc) >= 0) return None
    val i = pat.indexWhere(ch => ch == '%' || ch == '_')
    val pre = if (i < 0) pat else pat.substring(0, i)
    if (pre.isEmpty) None else Some(pre)
  }

  /** The type band literals are compared in: the cast target when the
    * column sits under a monotone cast, the column's own type otherwise. */
  private def cmpType(a: AttributeReference, castTo: Option[CastSpec]): DataType =
    castTo.map(_.to).getOrElse(a.dataType)

  private def range(e: Expression, l: Literal, mapped: String => Boolean,
      lo: Option[Literal], hi: Option[Literal]): Option[ZBand] =
    colSide(e).collect {
      case (a, c) if l.value != null && mapped(a.name) &&
          l.dataType == cmpType(a, c) =>
        RangeBand(a.name, c, lo, hi)
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, lr: LogicalRelation) =>
        (lr.relation match {
          case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
            fs.location.rootPaths match {
              case Seq(root) if graft.core.Snapshots.isVersionDir(root.getName) =>
                // a data column a partition column shadows reads the
                // path's value, not the file's: it has no zone
                val parts = fs.partitionSchema.fieldNames.map(_.toLowerCase).toSet
                val types = fs.dataSchema.fields
                  .filterNot(c => parts(c.name.toLowerCase))
                  .map(c => c.name -> c.dataType).toMap
                val bs = bands(cond, types.get(_).exists(zoneable))
                if (bs.isEmpty) None
                else try prune(cond, lr, fs, root.toString, types, bs)
                catch { case e: Exception =>
                  skipped(s"zone-map pruning failed for $root", e); None }
              case _ => None
            }
          case _ => None
        }).getOrElse(f)
    }

  /** The zone of column `name` in one file's zones, under the session's
    * resolution rules (`spark.sql.caseSensitive`): exact when
    * case-sensitive — a filter on `orderkey` must NOT read `OrderKey`'s
    * zones when they are distinct columns — case-insensitive otherwise. */
  private def zoneFor(zs: Map[String, Zone], name: String): Option[Zone] =
    zs.get(name).orElse(
      if (conf.caseSensitiveAnalysis) None
      else zs.collect { case (c, z) if c.equalsIgnoreCase(name) => z }.toSeq match {
        case Seq(z) => Some(z)
        case _ => None
      })

  /** One band's evaluation machinery, hoisted out of the per-file loop:
    * the column's Spark type, the (optional) monotone-cast closure over
    * the stat value, and the comparison ordering — a cast band over a
    * 100k-file table must not allocate 100k Cast+Literal trees per
    * planning pass. */
  private sealed trait CompiledPred
  private case class BandEval(band: ZBand, dt: DataType,
      castFn: Any => Any, ord: Ordering[Any]) extends CompiledPred
  private case class OrEval(subs: Seq[BandEval]) extends CompiledPred

  private def prune(cond: Expression, lr: LogicalRelation, fsRel: HadoopFsRelation,
      root: String, types: Map[String, DataType], bs: Seq[ZPred]): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val zones = versionZones(spark, root)
    // evaluate the zone predicate driver-local (no job): per band, pass =
    // max >= lo && min <= hi with SQL null semantics (null stat → null
    // compare → fail → pruned, which is correct for range predicates: an
    // all-null file cannot match). Literal.value is the Catalyst-internal
    // representation (UTF8String, Int days, Long micros) — compare via
    // the type's ordering against the stats read as the column's own
    // type; a monotone cast band first maps the stat through the SAME
    // cast, with the timeZoneId the analyzed Cast carries.
    def compile(b: ZBand): BandEval = {
      val dt = types(b.col)
      val castFn: Any => Any = b.castTo match {
        case None => identity
        case Some(cs) =>
          val expr = Cast(BoundReference(0, dt, nullable = true),
            cs.to, cs.tz.orElse(Some(conf.sessionLocalTimeZone)))
          val row = new GenericInternalRow(1)
          (v: Any) => { row.update(0, v); expr.eval(row) }
      }
      val ord = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(b.castTo.map(_.to).getOrElse(dt))
        .asInstanceOf[Ordering[Any]]
      BandEval(b, dt, castFn, ord)
    }
    val evals: Seq[CompiledPred] = bs.map {
      case b: ZBand => compile(b)
      case OrBand(ds) => OrEval(ds.map(compile))
    }
    def cmp(e: BandEval, s: Any, l: Literal): Option[Int] =
      if (s == null) None else Some(e.ord.compare(s, l.value))
    // a file whose zone for the band's column is unknown passes it: an
    // OR with one such disjunct passes too, so it only ever widens
    def leafPass(e: BandEval, zs: Map[String, Zone]): Boolean =
      zoneFor(zs, e.band.col).flatMap(z => reader(e.dt, z.kind).map((z, _))) match {
        case None => true
        case Some((z, read)) =>
          def stat(v: Any): Any = if (v == null) null else e.castFn(read(v))
          val (mn, mx) = (stat(z.min), stat(z.max))
          e.band match {
            case RangeBand(_, _, lo, hi) =>
              lo.forall(l => cmp(e, mx, l).exists(_ >= 0)) &&
                hi.forall(l => cmp(e, mn, l).exists(_ <= 0))
            case InBand(_, _, vs) =>
              vs.exists(v => cmp(e, mx, v).exists(_ >= 0) &&
                cmp(e, mn, v).exists(_ <= 0))
          }
      }
    // live files the footer read did not see always survive
    val inputFiles = fsRel.location.inputFiles
    val survivors = inputFiles.filter { p =>
      zones.get(normalize(p)).forall(zs => evals.forall {
        case e: BandEval => leafPass(e, zs)
        case OrEval(subs) => subs.exists(leafPass(_, zs))
      })
    }
    if (survivors.length == inputFiles.length) return None // nothing to prune
    graft.core.Trace.attr("files_pruned", inputFiles.length - survivors.length)
    graft.core.Trace.attr("files_total", inputFiles.length)
    if (survivors.isEmpty) return Some(Filter(cond, LocalRelation(lr.output)))
    // no footer re-read; basePath re-derives partition columns from the
    // survivor paths
    val pruned = spark.read.schema(fsRel.dataSchema).option("basePath", root)
      .parquet(survivors.toIndexedSeq: _*)
      .queryExecution.analyzed.collectFirst { case l: LogicalRelation => l }
    pruned.flatMap { nl =>
      // the new relation must expose the SAME columns in the same order
      // (partition columns appended identically) or the exprId graft
      // below would mis-bind — bail out to the unpruned plan otherwise
      val same = nl.output.map(a => (a.name, a.dataType)) ==
        lr.output.map(a => (a.name, a.dataType))
      if (!same) None
      else Some(Filter(cond, nl.copy(output = lr.output)))
    }
  }
}
