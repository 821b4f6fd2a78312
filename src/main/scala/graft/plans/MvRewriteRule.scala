package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Optimizer rule: answer aggregate queries over a registered FACT table
  * from its [[graft.ops.Incremental]] PARTIALS table — automatic
  * materialized-view rewrite for the mergeable-state summary this engine
  * maintains.
  *
  * A user (or BI tool) writes the natural query —
  * {{{
  *   Tables.parquet(spark, factPath)
  *     .groupBy(date_format($"o_orderdate", "yyyy-MM-dd"), $"o_orderpriority")
  *     .agg(count(lit(1)), sum(cents), min(cents), max(cents))
  * }}}
  * — and this rule replaces the O(history) fact scan with the O(partials)
  * summary read, re-aggregating the mergeable state (count→sum of cnt,
  * sum→sum of sum_cents, min→min of min_cents, max→max of max_cents).
  * Exactness is the partials' contract: integral cents and order-proof
  * merges, so the rewrite returns byte-identical results.
  *
  * Registration is by session conf (all five required; rule is inert
  * otherwise — the [[RangeJoinRule]] opt-in discipline):
  *   - `spark.graft.mv.fact`     fact parquet path
  *   - `spark.graft.mv.partials` partials store path (written by
  *     `Incremental.writePartials`, read through `Incremental.read`)
  *   - `spark.graft.mv.part`     the partition expression, as SQL over
  *     fact columns (e.g. `date_format(o_orderdate, 'yyyy-MM-dd')`)
  *   - `spark.graft.mv.keys`     comma-separated grouping key columns
  *   - `spark.graft.mv.measure`  the integral measure, as SQL over fact
  *     columns (e.g. `cast(round(o_totalprice * 100) as bigint)`)
  *
  * Scope guards (correctness first): fires only on an Aggregate whose
  * child is the fact scan (optionally through a column-pruning Project),
  * whose grouping expressions are each a registered key or the exact part
  * expression (a SUBSET of the MV's keys is fine — mergeable state
  * re-aggregates to any coarser grouping, including global), and whose
  * aggregates are each `count(<non-null literal>)` / `sum` / `min` /
  * `max` of exactly the registered measure — undistinct, unfiltered,
  * deterministic. Anything else (a WHERE between scan and aggregate, an
  * avg, a different measure) leaves the plan untouched. Expression
  * matching canonicalizes attribute references by name, so it is robust
  * to exprId differences between the user's plan and the registration.
  * The rewritten aggregate scans the partials path, not the fact path, so
  * the rule cannot re-fire on its own output (it runs inside the
  * operator-optimization fixed point).
  */
object MvRewriteRule extends Rule[LogicalPlan] {

  private val FactKey = "spark.graft.mv.fact"
  private val PartialsKey = "spark.graft.mv.partials"
  private val PartKey = "spark.graft.mv.part"
  private val KeysKey = "spark.graft.mv.keys"
  private val MeasureKey = "spark.graft.mv.measure"

  /** Structural comparison key: attribute references keyed by NAME (exprId
    * rewritten to a name hash — canonicalization erases names but keeps
    * ids, and the two sides of the comparison resolved independently), then
    * Catalyst-canonicalized. Attributes stay resolved throughout: `.canonicalized`
    * consults child dataTypes (e.g. `Cast.needsTimeZone`). */
  private def canon(e: Expression): Expression =
    e.transformUp {
      // fold constants first: the user's plan reaches this rule already
      // constant-folded (`cast(100 as double)` → `100.0`) while the
      // registration is only analyzed
      case f if f.foldable && !f.isInstanceOf[Literal] =>
        Literal.create(f.eval(null), f.dataType)
      case a: AttributeReference =>
        val n = a.name.toLowerCase
        AttributeReference(n, a.dataType, a.nullable)(
          exprId = ExprId(n.hashCode.toLong & 0x7fffffffL))
    }.canonicalized

  private def normPath(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")

  /** The fact scan, optionally through Projects of attributes and
    * deterministic aliases — the latter because `PullOutGroupingExpressions`
    * rewrites complex grouping expressions into a `_groupingexpression`
    * alias in a Project below the Aggregate before this rule runs. */
  private def isFactScan(plan: LogicalPlan, fact: String): Boolean = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.exists(rp => normPath(rp.toString) == normPath(fact))
      case _ => false
    }
    case Project(projList, child) if projList.forall {
          case _: AttributeReference => true
          case al: Alias => al.deterministic
          case _ => false
        } =>
      isFactScan(child, fact)
    case _ => false
  }

  /** Substitute Project-alias outputs (e.g. `_groupingexpression#N`) back
    * into `e` so matching sees the original fact-column expressions. */
  private def inlineProjects(e: Expression, child: LogicalPlan): Expression =
    child match {
      case Project(projList, grandchild) =>
        val m = projList.collect { case al: Alias => al.exprId -> al.child }.toMap
        inlineProjects(e.transform {
          case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
        }, grandchild)
      case _ => e
    }

  /** All-or-nothing sequence. */
  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] =
    xs.foldLeft(Option(Vector.empty[B])) { (acc, x) =>
      acc.flatMap(v => f(x).map(v :+ _))
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    def get(k: String) = Option(conf.getConfString(k, null)).filter(_.nonEmpty)
    (get(FactKey), get(PartialsKey), get(PartKey), get(KeysKey), get(MeasureKey)) match {
      case (Some(fact), Some(partials), Some(partSql), Some(keysCsv), Some(measureSql)) =>
        // cheap pre-check before paying for expression resolution
        val candidate = plan.exists {
          case Aggregate(_, _, child, _) => isFactScan(child, fact)
          case _ => false
        }
        if (!candidate) plan
        else plan.transformUp {
          case agg @ Aggregate(ge, ae, child, _) if isFactScan(child, fact) =>
            try rewrite(ge.map(inlineProjects(_, child)),
              ae.map(x => inlineProjects(x, child) match {
                case n: NamedExpression => n
                case other => Alias(other, x.name)(exprId = x.exprId)
              }),
              fact, partials, partSql,
              keysCsv.split(",").map(_.trim.toLowerCase).toSet, measureSql)
              .getOrElse(agg)
            catch { case e: Exception =>
              logWarning(s"mv rewrite skipped: $e"); agg } // never fail the query over a rewrite
        }
      case _ => plan
    }
  }

  private def rewrite(ge: Seq[Expression], ae: Seq[NamedExpression],
      fact: String, partials: String, partSql: String, keys: Set[String],
      measureSql: String): Option[LogicalPlan] = {
    if (ae.exists(!_.deterministic)) return None
    val spark = SparkSession.active

    // resolve the registered expressions against the fact schema so the
    // comparison sees ANALYZED trees (implicit casts, resolved functions)
    val factDf = graft.core.Tables.parquet(spark, fact)
    def resolved(sql: String): Expression =
      factDf.select(org.apache.spark.sql.functions.expr(sql))
        .queryExecution.analyzed.asInstanceOf[Project]
        .projectList.head match {
          case Alias(c, _) => c
          case other => other
        }
    val partCanon = canon(resolved(partSql))
    val measureCanon = canon(resolved(measureSql))

    // a FRESH partials relation per rewrite: attribute ids must be unique
    // within the rewritten plan
    val partialsPlan = graft.ops.Incremental.read(spark, partials)
      .queryExecution.analyzed
    def pAttr(name: String): Option[AttributeReference] =
      partialsPlan.output.find(_.name.equalsIgnoreCase(name))
        .collect { case a: AttributeReference => a }

    def stripAlias(e: Expression): Expression = e match {
      case Alias(c, _) => c
      case other => other
    }
    // map one fact-side grouping expression to its partials-side dual
    def mapGroup(e: Expression): Option[Expression] = stripAlias(e) match {
      case a: AttributeReference if keys.contains(a.name.toLowerCase) =>
        pAttr(a.name)
      case other if canon(other) == partCanon => pAttr("part")
      case _ => None
    }

    // map one aggregate function over fact rows to its merge over
    // partials: (post-wrap, merged function)
    def mapAgg(af: AggregateFunction)
        : Option[(Expression => Expression, AggregateFunction)] = af match {
      case Count(Seq(l: Literal)) if l.value != null =>
        // count over rows = sum of partial counts; coalesce keeps the
        // original non-nullable output contract
        pAttr("cnt").map(a => ((e: Expression) => Coalesce(Seq(e, Literal(0L))), Sum(a)))
      case Sum(e, _) if canon(e) == measureCanon =>
        pAttr("sum_cents").map(a => ((e: Expression) => e, Sum(a)))
      case Min(e) if canon(e) == measureCanon =>
        pAttr("min_cents").map(a => ((e: Expression) => e, Min(a)))
      case Max(e) if canon(e) == measureCanon =>
        pAttr("max_cents").map(a => ((e: Expression) => e, Max(a)))
      case _ => None
    }

    for {
      newGroups <- traverse(ge)(mapGroup)
      newAggExprs <- traverse[NamedExpression, NamedExpression](ae) {
        case a: AttributeReference if keys.contains(a.name.toLowerCase) =>
          pAttr(a.name).map(p => Alias(p, a.name)(exprId = a.exprId))
        case al @ Alias(AggregateExpression(af, _, false, None, _), name) =>
          mapAgg(af).map { case (wrap, newAf) =>
            Alias(wrap(AggregateExpression(newAf, Complete, isDistinct = false)),
              name)(exprId = al.exprId)
          }
        case al @ Alias(c, name) =>
          mapGroup(c).map(m => Alias(m, name)(exprId = al.exprId))
        case _ => None
      }
    } yield Aggregate(newGroups, newAggExprs, partialsPlan)
  }
}
