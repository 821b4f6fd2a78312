package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

/** Native Catalyst expression for float-vector dot products.
  *
  * Why an Expression and not `functions`: the composable alternatives are
  * (a) a 64-term unrolled `a[i]*b[i]` tree — interpreted at ~15 µs/row when
  * the enclosing stage (e.g. a BroadcastNestedLoopJoin) falls outside
  * whole-stage codegen, and enormous generated code when inside it; or
  * (b) `aggregate(zip_with(...))` higher-order functions — ~5 µs/row with
  * per-element lambda dispatch and array allocation. This expression is a
  * tight primitive loop over the columnar `ArrayData` (no boxing, no
  * allocation) in BOTH codegen and interpreted modes: ~0.1 µs/row, and it
  * works for any dimension without exploding the plan.
  *
  * Summation is left-associated ascending-index double accumulation — the
  * exact order the engine's DuckDB oracles replay, so scores hash-match
  * bit-for-bit.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  // locals via freshName: two instances of the same expression can share
  // one whole-stage-codegen class, and fixed names collide there (janino
  // "Redefinition of local variable" → silent interpreted fallback)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Pack a float vector into int8 codes (symmetric linear quantization):
  * `codes[i] = clamp(rint(v[i] / scale), -127, 127)` as one byte each.
  * With `scale = maxAbs/127` this is the standard 4×-memory-reduction
  * embedding layout — 100 TB of float32 embeddings become 25 TB, and the
  * int dot product below runs on cheap integer ALUs. `rint` (round
  * half-even) is pinned so results are bit-stable across JVMs. */
case class Int8Pack(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "int8_pack"

  override protected def nullSafeEval(v: Any, s: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val scale = s.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val q = if (scale > 0) Math.rint(x.getFloat(i) / scale) else 0.0
      out(i) = Math.max(-127.0, Math.min(127.0, q)).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val q = ctx.freshName("q")
      s"""
         |int $n = $v.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $q = ($s > 0) ? java.lang.Math.rint($v.getFloat($i) / $s) : 0.0;
         |  $out[$i] = (byte) java.lang.Math.max(-127.0, java.lang.Math.min(127.0, $q));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two int8 code vectors: Σ a[i]·b[i] as a long —
  * EXACT (no float accumulation at all; 64-dim worst case is 64·127² ≪
  * 2⁶³). The approximate float dot is `int8_dot(a,b) · scaleA · scaleB`. */
case class Int8VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "int8_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var s = 0L
    var i = 0
    while (i < n) { s += x(i).toLong * y(i).toLong; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (long) $a[$i] * (long) $b[$i];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** PQ encoding against a literal codebook — `m` per-subspace argmin codes
  * plus their 4-bit packing, as ONE codegen expression.
  *
  * Why an Expression: the composable spelling — per subspace, `array_min`
  * over k literal `(dist², cid)` structs, each carrying a `slice` and two
  * dot products — inlines m·k (=128 at dim 64) subexpressions into the
  * generated projection. That blows janino's 64 KB method limit and the
  * WHOLE stage silently falls back to interpreted eval — on the CORPUS
  * side of PQ, the exact hot path the codes exist to make cheap (the
  * 17 `Failed to compile ... grows beyond 64 KB` errors in the round-5
  * logs were this). Codebooks are k·dim floats — plan-literal bounded,
  * the [[NearestCentroidIdx]] class — so the whole encode is one fused
  * m×k×(dim/m) loop per row: no slices materialized, no struct churn,
  * and the generated code is one reference call.
  *
  * Bit-for-bit replay of the composable spelling (the DuckDB oracles
  * replay THAT): per subspace j over components [j·sub, j·sub+sub),
  * dist² = (ss − 2.0·dot) + cc with every dot left-associated
  * ascending-index double accumulation ([[FloatVecDot]]'s order, which
  * `slice`+vec_dot produced), argmin keeps the LOWEST cid on exact ties
  * (candidates are scanned in ascending-cid order with a strict
  * NaN-greatest compare — `array_min`'s struct ordering), and packed =
  * Σ code_j·2^(4j) exactly as the old integer fold. Short vectors clamp
  * the loops the way `slice` + vec_dot's min-length clamp did.
  *
  * `cents(j)(t)`/`cids(j)(t)`/`ccs(j)(t)`: subspace j's t-th candidate
  * subvector, its code id (ascending per subspace), and its |c|². */
case class PqEncodeCodes(child: Expression,
    cents: Array[Array[Array[Float]]], cids: Array[Array[Int]],
    ccs: Array[Array[Double]], sub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

  require(cents.nonEmpty && cents.forall(_.nonEmpty),
    "PQ codebook must cover every subspace with at least one codeword")

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("packed", org.apache.spark.sql.types.LongType,
      nullable = false)))
  override def prettyName: String = "pq_encode"

  /** One row's encode: m fused subspace argmins, zero allocation beyond
    * the output. */
  def encode(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val m = cents.length
    val codes = new Array[Int](m)
    var packed = 0L
    var j = 0
    while (j < m) {
      val off = j * sub
      val lim = math.max(0, math.min(sub, n - off)) // slice's clamp
      var ss = 0.0
      var i = 0
      while (i < lim) {
        val x = v.getFloat(off + i).toDouble; ss += x * x; i += 1
      }
      val cj = cents(j)
      var best = 0.0
      var bestIdx = -1
      var t = 0
      while (t < cj.length) {
        val cv = cj(t)
        val dl = math.min(lim, cv.length) // vec_dot's min-length clamp
        var d = 0.0
        var p = 0
        while (p < dl) {
          d += v.getFloat(off + p).toDouble * cv(p).toDouble; p += 1
        }
        val dist = (ss - 2.0 * d) + ccs(j)(t)
        if (bestIdx < 0 || java.lang.Double.compare(dist, best) < 0) {
          best = dist; bestIdx = t
        }
        t += 1
      }
      codes(j) = cids(j)(bestIdx)
      packed += codes(j).toLong << (4 * j)
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes), packed)
  }

  override protected def nullSafeEval(a: Any): Any = encode(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this,
      classOf[PqEncodeCodes].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.encode($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmax-cosine nearest-centroid INDEX over a literal centroid matrix —
  * the expression that makes IVF assignment a pure PROJECTION.
  *
  * The composable spelling (crossJoin(broadcast(centroids)) + argmax) is
  * a row EXPANSION: every vector becomes K rows each carrying the full
  * dim-float payload, and the argmax — window or aggregate — degenerates
  * to a sort of K·N wide rows because neither a row_number window nor an
  * array-carrying `first`/struct-keyed `max_by` buffer is hash-aggregable
  * (measured at the 100× probe: 45.7 s for K=256 × 200k vectors, vs
  * 5.8 s for K=16 — the GRANULARITY DIAL made assignment slower, inverted
  * from the algorithm's intent). Centroid sets are K·dim floats — plan-
  * literal-sized, the same bounded class as the PQ codebooks — so the
  * matrix is baked into the expression and the whole assignment is one
  * tight K×dim loop per row: no join, no expansion, no shuffle, and cost
  * that scales with K in FLOPs only.
  *
  * Scoring replays the composable spelling bit-for-bit: sim_j =
  * dot(v, c_j) / (‖v‖ · ‖c_j‖), every dot left-associated ascending-index
  * double accumulation (the [[FloatVecDot]] order the DuckDB oracles
  * replay), centroid norms precomputed in that same order. The argmax
  * keeps the LOWEST index on ties via a strict `>` compare, and
  * `Double.compare` semantics (NaN greatest — Spark's sort order) make
  * zero-norm edge cases match the window spelling. Rows are scored
  * against centroids sorted ascending by id (the caller's contract), so
  * lowest index ≡ lowest centroid id. */
case class NearestCentroidIdx(child: Expression, cents: Array[Array[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.IntegerType

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid_idx"

  // ‖c_j‖ once, in the FloatVecDot summation order (same IEEE bits as
  // sqrt(vec_dot(c, c)) would produce in-plan)
  @transient private lazy val norms: Array[Double] = cents.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i).toDouble * c(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** One row's assignment: K fused dot/compare passes, zero allocation. */
  def pick(a: Any): Int = {
    val v = a.asInstanceOf[ArrayData]
    var s = 0.0; var i = 0; val nv0 = v.numElements()
    while (i < nv0) { val x = v.getFloat(i).toDouble; s += x * x; i += 1 }
    val nv = math.sqrt(s)
    var best = java.lang.Double.NEGATIVE_INFINITY
    var bestIdx = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(nv0, c.length)
      var d = 0.0; var k = 0
      while (k < n) { d += v.getFloat(k).toDouble * c(k).toDouble; k += 1 }
      val sim = d / (nv * norms(j))
      if (j == 0 || java.lang.Double.compare(sim, best) > 0) {
        best = sim; bestIdx = j
      }
      j += 1
    }
    bestIdx
  }

  override protected def nullSafeEval(a: Any): Any = pick(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroidIdx].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.pick($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API for the vector expressions. */
object VectorFunctions {

  /** Σ a[i]·b[i] in doubles, fixed ascending order (null if either side
    * is null; length mismatch truncates to the shorter vector). */
  def vecDot(a: Column, b: Column): Column =
    GraftSqlShim.column(FloatVecDot(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))

  /** 0-based index of the argmax-cosine centroid in `cents` (rows scored
    * against the literal matrix — see [[NearestCentroidIdx]]). */
  def nearestCentroidIdx(v: Column, cents: Array[Array[Float]]): Column =
    GraftSqlShim.column(NearestCentroidIdx(GraftSqlShim.expression(v), cents))

  /** struct(codes array<int>, packed long) — PQ codes against the literal
    * codebook (see [[PqEncodeCodes]]). `cb` in [[graft.ops.Ann.pqCodebook]]
    * layout: (subspace, cid, subvector, |c|²). */
  def pqEncodeCodes(v: Column, cb: Seq[(Int, Int, Array[Float], Double)],
      m: Int, sub: Int): Column = {
    val byJ = (0 until m).map(j => cb.filter(_._1 == j).sortBy(_._2))
    GraftSqlShim.column(PqEncodeCodes(GraftSqlShim.expression(v),
      byJ.map(_.map(_._3).toArray).toArray,
      byJ.map(_.map(_._2).toArray).toArray,
      byJ.map(_.map(_._4).toArray).toArray, sub))
  }

  /** Cosine similarity from precomputed norms — callers should compute
    * norms once per vector, not once per pair. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    vecDot(a, b) / (normA * normB)

  /** Symmetric per-vector quantization scale: max |v[i]| / 127 (0 for the
    * zero vector). Computed once per vector at index-build time. */
  def int8Scale(v: Column): Column = {
    import org.apache.spark.sql.functions.{abs => fabs, array_max, coalesce, lit, transform}
    coalesce(array_max(transform(v, x => fabs(x))), lit(0.0f))
      .cast("double") / 127.0
  }

  /** v → int8 codes under `scale` (one byte per element — 4× smaller
    * than float32, 8× than the array<double> Spark would default to). */
  def int8Pack(v: Column, scale: Column): Column =
    GraftSqlShim.column(Int8Pack(
      GraftSqlShim.expression(v), GraftSqlShim.expression(scale.cast("double"))))

  /** Exact integer Σ a[i]·b[i] over int8 codes (long). */
  def int8Dot(a: Column, b: Column): Column =
    GraftSqlShim.column(Int8VecDot(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))

  /** Approximate cosine from int8 codes + per-vector scales and true
    * norms: (dot·sa·sb) / (na·nb). Error is the quantization error only
    * (≲1% at int8 for unit-ish vectors). */
  def int8Cosine(a: Column, b: Column, scaleA: Column, scaleB: Column,
      normA: Column, normB: Column): Column =
    int8Dot(a, b).cast("double") * scaleA * scaleB / (normA * normB)
}
