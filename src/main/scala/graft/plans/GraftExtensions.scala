package graft.plans

import graft.functions.{BpeTokenCount, CharClassRunCount, FlatJsonMap, FloatVecDot, Int8Pack, Int8VecDot, JaroWinkler, NGramShingles, TokenSetCount, TopKByScore}
import org.apache.spark.sql.{GraftSqlShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * registers graft's native expressions with the Catalyst function registry
  * so they are first-class in SQL text as well as the Column API —
  *
  * {{{
  *   SELECT vec_dot(a.embedding, b.embedding) FROM ...
  *   SELECT ngram_shingles(split(text, ' '), 3) FROM documents
  * }}}
  *
  * — and injects [[RangeJoinRule]], a `Rule[LogicalPlan]` that rewrites
  * inequality-only interval joins (BroadcastNestedLoopJoin territory) into
  * binned equi-joins automatically when
  * `spark.graft.rangejoin.binwidth` is set. (SURVEY.md §4: every rewrite
  * the REFERENCE relies on is stock Catalyst; the rule covers the
  * range-join shape the reference never hits but a telemetry warehouse
  * does.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // inequality-only interval joins → binned equi-joins (opt-in via
    // spark.graft.rangejoin.binwidth; inert otherwise)
    ext.injectOptimizerRule(_ => RangeJoinRule)
    // fact-table aggregates → Incremental partials reads (opt-in via the
    // spark.graft.mv.* conf set; inert otherwise)
    ext.injectOptimizerRule(_ => MvRewriteRule)
    // banded scans over committed Snapshots versions → file lists pruned
    // by the files' footer min/max (inert for every other scan)
    ext.injectOptimizerRule(_ => ZoneMapRule)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e.eval(null) match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, info, builder) for every engine function. */
  val functions: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "vec_dot(a, b) takes two array<float> args")
        FloatVecDot(es.head, es(1))
      }),
    ("ngram_shingles",
      new ExpressionInfo(classOf[NGramShingles].getName, "ngram_shingles"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "ngram_shingles(words, n) takes two args")
        NGramShingles(es.head, intArg(es(1), "ngram_shingles n"))
      }),
    ("ngram_shingle_hashes",
      new ExpressionInfo(classOf[NGramShingles].getName, "ngram_shingle_hashes"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "ngram_shingle_hashes(words, n) takes two args")
        NGramShingles(es.head, intArg(es(1), "ngram_shingle_hashes n"),
          hashed = true)
      }),
    ("topk_by_score",
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (es: Seq[Expression]) => {
        require(es.length == 3,
          "topk_by_score(score, id, k) takes three args")
        TopKByScore(es.head, es(1), intArg(es(2), "topk_by_score k"))
      }),
    ("int8_pack",
      new ExpressionInfo(classOf[Int8Pack].getName, "int8_pack"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "int8_pack(vec, scale) takes two args")
        Int8Pack(es.head, es(1))
      }),
    ("int8_dot",
      new ExpressionInfo(classOf[Int8VecDot].getName, "int8_dot"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "int8_dot(a, b) takes two binary args")
        Int8VecDot(es.head, es(1))
      }),
    ("flat_json",
      new ExpressionInfo(classOf[FlatJsonMap].getName, "flat_json"),
      (es: Seq[Expression]) => {
        require(es.length == 1, "flat_json(json) takes one string arg")
        FlatJsonMap(es.head)
      }),
    ("jaro_winkler",
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (es: Seq[Expression]) => {
        require(es.length == 2, "jaro_winkler(a, b) takes two string args")
        JaroWinkler(es.head, es(1))
      }),
    ("bpe_token_count",
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      (es: Seq[Expression]) => {
        require(es.length == 1, "bpe_token_count(text) takes one string arg")
        BpeTokenCount(es.head)
      }),
    ("token_set_count",
      new ExpressionInfo(classOf[TokenSetCount].getName, "token_set_count"),
      (es: Seq[Expression]) => {
        require(es.length >= 2,
          "token_set_count(text, word, ...) takes a text arg plus word literals")
        val words = es.tail.map { e =>
          // foldable gate BEFORE eval: eval(null) on a non-literal (e.g.
          // a column reference) dies with an internal unbound-attribute
          // error instead of this function's contract message
          if (!e.foldable) throw new IllegalArgumentException(
            s"token_set_count words must be string literals, got $e")
          e.eval(null) match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case other => throw new IllegalArgumentException(
              s"token_set_count words must be string literals, got $other")
          }
        }
        TokenSetCount(es.head, words)
      }),
    ("char_class_run_count",
      new ExpressionInfo(classOf[CharClassRunCount].getName,
        "char_class_run_count"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          "char_class_run_count(text, chars) takes a text arg plus an ASCII class literal")
        // same foldable gate as token_set_count: a column reference here
        // must raise the contract error, not an internal eval failure
        if (!es(1).foldable) throw new IllegalArgumentException(
          s"char_class_run_count chars must be a string literal, got ${es(1)}")
        val chars = es(1).eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"char_class_run_count chars must be a string literal, got $other")
        }
        CharClassRunCount(es.head, chars)
      })
  )

  /** Same registrations applied to an already-running session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      GraftSqlShim.registerFunction(spark, name, builder)
    }
}
