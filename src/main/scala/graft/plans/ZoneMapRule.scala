package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Optimizer rule: automatic planning-time file pruning from an external
  * zone map — the Delta/Iceberg stats-in-log behavior on plain parquet,
  * wired into the STANDARD read path, and the engine's one pruning path.
  *
  * When a `Filter` sits over a parquet scan whose root is a committed
  * [[graft.core.Snapshots]] version carrying a `_zonemap` synopsis
  * ([[graft.core.ZoneMap.build]] — underscore-prefixed, so the data scan
  * never sees it), every range/equality/IN conjunct on a mapped column
  * shrinks the scan's file list BEFORE the physical scan is planned.
  * `Snapshots.open(spark, root).read(spark, t).where(...)` gets
  * O(matching files) I/O with no API change.
  *
  * Correctness invariants (each spec-asserted):
  *  - the `Filter` is LEFT IN PLACE — straddling files re-filter, so the
  *    result is identical to the unpruned plan on any layout;
  *  - an unmapped file cannot lose rows: survivors = (mapped files whose
  *    zones intersect every extracted band) ∪ (live files ABSENT from
  *    the map);
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
  *    functions, nulls and unmapped columns are ignored, never
  *    mis-pruned;
  *  - column matching follows `spark.sql.caseSensitive`: exact names
  *    when case-sensitive (two columns differing only in case must not
  *    read each other's zones), case-insensitive otherwise;
  *  - multi-root scans (`read.parquet(dirA, dirB)`) prune via the
  *    UNION of each root's synopsis; files under a root with no synopsis
  *    — or mapped under one root but not another — always survive.
  *    Multi-root relations with a partition schema are left untouched
  *    (rebuilding their partition discovery from a file list is not
  *    worth the edge);
  *  - a failure inside the rewrite or the synopsis load leaves the plan
  *    untouched and records `zonemap_skipped` (the exception class) on
  *    the current [[graft.core.Trace]] span.
  *
  * Scale: the synopsis read is O(files) metadata rows (the accepted
  * bounded class — same as compaction's listing); at 100 TB it replaces
  * millions of footer opens with one small parquet scan. The rule cannot
  * re-fire on its own output: the rewritten relation's root paths are
  * the surviving FILES, which are not version directories.
  *
  * Only a root NAMED like a version (`v=<id>-<token>`,
  * [[graft.core.Snapshots.isVersionDir]]) is probed — a test of the name,
  * so every other scan pays no filesystem call. A version never changes
  * once committed, so its synopsis (or its absence) is cached for the
  * process by the version directory and never invalidated. */
object ZoneMapRule extends Rule[LogicalPlan] {

  /** One root's collected synopsis plus the lookup structures every
    * planning pass needs: stat column indices keyed by the RAW base
    * name, a lowercase→raw alias for case-insensitive resolution, and
    * the normalized file→row map. */
  private case class Synopsis(
      cols: Map[String, (Int, Int, DataType)],
      lower: Map[String, String],
      byFile: Map[String, org.apache.spark.sql.Row])

  /** Stat lookup under the session's resolution rules
    * (`spark.sql.caseSensitive`): exact when case-sensitive — a filter
    * on `orderkey` must NOT read `OrderKey`'s zones when they are
    * distinct columns — case-insensitive otherwise. */
  private def colFor(syn: Synopsis, name: String): Option[(Int, Int, DataType)] =
    if (conf.caseSensitiveAnalysis) syn.cols.get(name)
    else syn.lower.get(name.toLowerCase).flatMap(syn.cols.get)

  /** Per-version synopsis cache: None = the version has no `_zonemap`.
    * The optimizer may run this rule several times per query (two
    * operator-optimization batches + AQE replans); re-reading the
    * synopsis parquet each pass paid footer opens and a collect job for
    * identical input. O(files) rows on the driver — the same bounded
    * class as the survivor filtering the rewrite already performs. */
  private val zoneCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Synopsis]]()

  private def zoneStats(root: org.apache.hadoop.fs.Path): Option[Synopsis] = {
    if (!graft.core.Snapshots.isVersionDir(root.getName)) return None
    // compute OUTSIDE the map's bin lock: the load runs a Spark job
    // (parquet read + collect), and computeIfAbsent would hold the
    // ConcurrentHashMap bin for its whole duration — blocking any
    // concurrent planning thread whose root hashes to the same bin, and
    // throwing IllegalStateException on a re-entrant same-key lookup.
    // get-then-putIfAbsent accepts a rare duplicate read instead.
    val key = root.toString
    val cached = zoneCache.get(key)
    if (cached != null) return cached
    val loaded: Option[Synopsis] =
      try {
        val spark = SparkSession.active
        val zp = new org.apache.hadoop.fs.Path(graft.core.ZoneMap.zonePath(key))
        val exists = zp.getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new org.apache.hadoop.fs.Path(zp, "_SUCCESS"))
        if (!exists) None
        else {
          val zone = graft.core.Tables.parquet(spark, zp.toString)
          val schema = zone.schema
          val idx = schema.fieldNames.zipWithIndex.toMap
          val cols = schema.fieldNames.filter(_.endsWith("__min")).flatMap { mn =>
            val base = mn.stripSuffix("__min")
            idx.get(s"${base}__max").map { mxI =>
              base -> ((idx(mn), mxI, schema(mn).dataType))
            }
          }.toMap
          val lower = cols.keys.map(k => k.toLowerCase -> k).toMap
          val fileIdx = schema.fieldIndex("file")
          val byFile = zone.collect()
            .map(r => normalize(r.getString(fileIdx)) -> r).toMap
          Some(Synopsis(cols, lower, byFile))
        }
      } catch { case e: Exception =>
        // performance-only (the Filter stays; pruning is just skipped),
        // but a transient read hiccup must not be indistinguishable from
        // "no synopsis": record it, and DON'T cache the negative — the
        // next planning pass retries
        skipped(s"zone synopsis read failed for $key", e)
        return None
      }
    val prior = zoneCache.putIfAbsent(key, loaded)
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
          case fs: HadoopFsRelation
              if fs.location.rootPaths.length == 1 || fs.partitionSchema.isEmpty =>
            val syns = fs.location.rootPaths.flatMap(zoneStats)
            if (syns.isEmpty) None
            else {
              try prune(cond, lr, fs, syns)
              catch { case e: Exception => skipped("zone-map pruning failed", e); None }
            }
          case _ => None
        }).getOrElse(f)
    }

  /** One band's evaluation machinery against ONE synopsis, hoisted out
    * of the per-file loop: stat indices, the (optional) monotone-cast
    * closure over the stat value, and the comparison ordering — a cast
    * band over a 100k-file table must not allocate 100k Cast+Literal
    * trees per planning pass. */
  private sealed trait CompiledPred
  private case class BandEval(band: ZBand, mnI: Int, mxI: Int,
      castFn: Any => Any, ord: Ordering[Any]) extends CompiledPred
  private case class OrEval(subs: Seq[BandEval]) extends CompiledPred

  private def prune(cond: Expression, lr: LogicalRelation,
      fsRel: HadoopFsRelation, syns: Seq[Synopsis]): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val roots = fsRel.location.rootPaths
    // a column prunes when ANY root maps it — files of a root that does
    // NOT map it skip that band (see verdict loop), which only widens
    val mapped: String => Boolean =
      name => syns.exists(colFor(_, name).nonEmpty)
    val bs = bands(cond, mapped)
    if (bs.isEmpty) return None
    // evaluate the zone predicate over the CACHED stat rows, driver-
    // local (no job): per band, pass = max >= lo && min <= hi with SQL
    // null semantics (null stat → null compare → fail → pruned, which
    // is correct for range predicates: an all-null file cannot match).
    // Literal.value is the Catalyst-internal representation (UTF8String,
    // Int days, Long micros) — compare via the type's ordering against
    // the stats, which ZoneMap wrote in the column's own type; a
    // monotone cast band first maps the stat through the SAME cast,
    // with the timeZoneId the analyzed Cast carries.
    def compileLeaf(syn: Synopsis, b: ZBand): Option[BandEval] =
      colFor(syn, b.col).map { case (mnI, mxI, statType) =>
        val castFn: Any => Any = b.castTo match {
          case None => identity
          case Some(cs) =>
            val expr = Cast(BoundReference(0, statType, nullable = true),
              cs.to, cs.tz.orElse(Some(conf.sessionLocalTimeZone)))
            val row = new GenericInternalRow(1)
            (v: Any) => { row.update(0, v); expr.eval(row) }
        }
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(
            b.castTo.map(_.to).getOrElse(statType))
          .asInstanceOf[Ordering[Any]]
        BandEval(b, mnI, mxI, castFn, ord)
      }
    def evalsFor(syn: Synopsis): Seq[CompiledPred] = bs.flatMap {
      case b: ZBand => compileLeaf(syn, b)
      // a column unmapped under THIS root has no BandEval — its files
      // simply skip that band, which only widens the survivor set. For
      // an OR, ONE unmapped disjunct poisons the whole predicate (rows
      // matching that disjunct could live anywhere) — skip it entirely.
      case OrBand(ds) =>
        val subs = ds.map(compileLeaf(syn, _))
        if (subs.exists(_.isEmpty)) None else Some(OrEval(subs.flatten))
    }
    def statVal(e: BandEval, r: org.apache.spark.sql.Row, idx: Int): Any = {
      val raw = r.get(idx)
      if (raw == null) null
      else e.castFn(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(raw))
    }
    def cmp(e: BandEval, s: Any, l: Literal): Option[Int] =
      if (s == null) None else Some(e.ord.compare(s, l.value))
    // per-file verdicts, unioned across roots: a file mapped by several
    // synopses (shouldn't happen — roots are distinct dirs) keeps the
    // FIRST verdict; files in no synopsis never enter the map → survive
    val verdicts = scala.collection.mutable.HashMap.empty[String, Boolean]
    syns.foreach { syn =>
      val evals = evalsFor(syn)
      def leafPass(e: BandEval, r: org.apache.spark.sql.Row): Boolean = {
        val mx = statVal(e, r, e.mxI)
        val mn = statVal(e, r, e.mnI)
        e.band match {
          case RangeBand(_, _, lo, hi) =>
            lo.forall(l => cmp(e, mx, l).exists(_ >= 0)) &&
              hi.forall(l => cmp(e, mn, l).exists(_ <= 0))
          case InBand(_, _, vs) =>
            vs.exists(v => cmp(e, mx, v).exists(_ >= 0) &&
              cmp(e, mn, v).exists(_ <= 0))
        }
      }
      syn.byFile.foreach { case (file, r) =>
        if (!verdicts.contains(file)) {
          val pass = evals.forall {
            case e: BandEval => leafPass(e, r)
            case OrEval(subs) => subs.exists(leafPass(_, r))
          }
          verdicts.put(file, pass)
        }
      }
    }
    // freshness-safe survivor set: unmapped live files ALWAYS survive
    val inputFiles = fsRel.location.inputFiles
    val survivors = inputFiles.filter { p =>
      verdicts.get(normalize(p)).forall(identity)
    }
    if (survivors.length == inputFiles.length) return None // nothing to prune
    graft.core.Trace.attr("files_pruned", inputFiles.length - survivors.length)
    graft.core.Trace.attr("files_total", inputFiles.length)
    if (survivors.isEmpty) return Some(Filter(cond, LocalRelation(lr.output)))
    val reader = spark.read.schema(fsRel.dataSchema) // no footer re-read
    // basePath re-derives partition columns from the survivor paths;
    // only meaningful (and only well-defined) for a single root — the
    // multi-root arm is gated to partitionSchema.isEmpty in apply()
    val withBase = if (roots.length == 1)
      reader.option("basePath", roots.head.toString) else reader
    val pruned = withBase.parquet(survivors.toIndexedSeq: _*)
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
