package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.graftshim.SparkShims.AbstractDataType
import org.apache.spark.sql.types._

/** Runtime errors shared by interpreted + generated code paths. */
object VectorErrors {
  /** Dimension-mismatch error with DuckDB cast-error parity
    * (reference: model/search/vector.py:176 casts `::DOUBLE[n]`; DuckDB raises
    * "Cannot cast list with length L to array with length N" on mismatch).
    */
  def dimMismatch(l: Int, r: Int): RuntimeException =
    new IllegalArgumentException(
      s"Cannot compute vector operation: dimension mismatch ($l vs $r); " +
        s"mirrors DuckDB 'Cannot cast list with length $l to array with length $r'")
}

/** Base for binary vector->double expressions over array<float|double>.
  *
  * Mirrors the reference's single SQL surface
  * `array_cosine_distance(embedding::DOUBLE[1024], <query>::DOUBLE[1024])`
  * (reference: model/search/vector.py:173-180): float32 embeddings widen to
  * double (reference widens via .tolist() at vector.py:134 and casts to DOUBLE
  * at vector.py:176), all accumulation is in double, dimension mismatch raises.
  *
  * Designed for whole-stage codegen: `doGenCode` makes one call per row into
  * the primitive [[VectorLoop]] over `ArrayData`, with no boxing — this is
  * the hot path of the brute-force scan, executed once per (row x query) at
  * 100 TB scale.
  */
trait VectorBinaryOp extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Fold (dot, normA, normB) into the scalar result (interpreted path). */
  protected def finish(dot: Double, na: Double, nb: Double): Double

  /** Java source computing the result from accumulators (codegen path). */
  protected def finishCode(dot: String, na: String, nb: String): String

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorLoop.eval(l.asInstanceOf[ArrayData], leftIsFloat,
      r.asInstanceOf[ArrayData], rightIsFloat, finish)

  // one call per row into the shared loop (see VectorLoop)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acc = ctx.addMutableState("double[]", "acc", v => s"$v = new double[3];")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
        |if (graft.functions.VectorLoop.accumulate($a, $leftIsFloat, $b, $rightIsFloat, $acc)) {
        |  ${ev.value} = ${finishCode(s"$acc[0]", s"$acc[1]", s"$acc[2]")};
        |} else {
        |  ${ev.isNull} = true;
        |}
      """.stripMargin)
  }
}

/** The one (dot, |a|², |b|²) loop behind [[VectorBinaryOp]],
  * [[CosineArgmin]] and [[CosineTopK]], interpreted and generated code
  * alike, plus the cosine-distance finish they share — so the three
  * distances cannot drift. A dimension mismatch throws before any element
  * is read; a NULL element makes the result NULL.
  *
  * Generated code calls it once per row instead of inlining the loop: a
  * JVM method stays JIT-compiled for the life of the process, while a
  * generated loop lives in a class each new session compiles again and
  * runs cold until the JIT catches up (measured: the in-bucket kNN stage
  * of a search-corpus graph build took 1.55 s of CPU inline, 0.25 s here).
  */
private[graft] object VectorLoop {

  /** Stores (dot, |a|², |b|²) in `acc`; false on a NULL element. */
  def accumulate(a: ArrayData, af: Boolean, b: ArrayData, bf: Boolean,
      acc: Array[Double]): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) throw VectorErrors.dimMismatch(n, b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    acc(0) = dot; acc(1) = na; acc(2) = nb
    true
  }

  def eval(a: ArrayData, af: Boolean, b: ArrayData, bf: Boolean,
      finish: (Double, Double, Double) => Double): Any = {
    val acc = new Array[Double](3)
    if (accumulate(a, af, b, bf, acc)) finish(acc(0), acc(1), acc(2)) else null
  }

  /** [[cosineDistance]] of two non-null double vectors, on the driver:
    * the same accumulation as [[accumulate]], over primitive arrays.
    */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    if (a.length != b.length) throw VectorErrors.dimMismatch(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    cosineDistance(dot, na, nb)
  }

  /** [[cosineDistance]] of `a` and `b` into `acc(0)`; false on a NULL
    * element.
    */
  def cosine(a: ArrayData, af: Boolean, b: ArrayData, bf: Boolean,
      acc: Array[Double]): Boolean =
    if (!accumulate(a, af, b, bf, acc)) false
    else { acc(0) = cosineDistance(acc(0), acc(1), acc(2)); true }

  /** Cosine distance: a zero vector gives 2.0, and the similarity is
    * clamped to [-1, 1] before 1 - x (float drift can push the ratio one
    * ULP past 1 on self-similarity; the DuckDB 1.0 oracle clamps).
    */
  def cosineDistance(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 2.0
    else 1.0 - math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb))))

  def cosineDistanceCode(dot: String, na: String, nb: String): String =
    s"(($na == 0.0 || $nb == 0.0) ? 2.0 : 1.0 - java.lang.Math.max(-1.0, " +
      s"java.lang.Math.min(1.0, $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)))))"
}

/** `array_cosine_distance(a, b)` = 1 - cos_sim; zero vector -> 2.0 and NULL -> NULL,
  * pinned to the DuckDB 1.0 oracle (`1 - array_cosine_similarity`, similarity of a
  * zero vector = -1.0 — verified locally; see repo FIXTURES.md §C).
  */
case class CosineDistance(left: Expression, right: Expression) extends VectorBinaryOp {
  override def prettyName: String = "array_cosine_distance"
  // clamped (verified: DuckDB self-similarity returns exactly 1.0, not
  // 1.0000000000000002); see VectorLoop.cosineDistance
  override protected def finish(dot: Double, na: Double, nb: Double): Double =
    VectorLoop.cosineDistance(dot, na, nb)
  override protected def finishCode(dot: String, na: String, nb: String): String =
    VectorLoop.cosineDistanceCode(dot, na, nb)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `array_cosine_similarity(a, b)`; zero vector -> -1.0 (DuckDB 1.0 parity). */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryOp {
  override def prettyName: String = "array_cosine_similarity"
  override protected def finish(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) -1.0
    else math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb))))
  override protected def finishCode(dot: String, na: String, nb: String): String =
    s"(($na == 0.0 || $nb == 0.0) ? -1.0 : java.lang.Math.max(-1.0, " +
      s"java.lang.Math.min(1.0, $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)))))"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `array_inner_product(a, b)` — plain dot product in double. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryOp {
  override def prettyName: String = "array_inner_product"
  override protected def finish(dot: Double, na: Double, nb: Double): Double = dot
  override protected def finishCode(dot: String, na: String, nb: String): String = dot
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `array_distance(a, b)` — Euclidean (L2) distance in double. */
case class L2Distance(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_distance"

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) throw VectorErrors.dimMismatch(n, b.numElements())
    var acc = 0.0
    var i = 0
    val lf = leftIsFloat; val rf = rightIsFloat
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getL = if (leftIsFloat) (a: String, i: String) => s"(double) $a.getFloat($i)"
               else (a: String, i: String) => s"$a.getDouble($i)"
    val getR = if (rightIsFloat) (b: String, i: String) => s"(double) $b.getFloat($i)"
               else (b: String, i: String) => s"$b.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  throw graft.functions.VectorErrors.dimMismatch($n, $b.numElements());
        |}
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |  final double $d = ${getL(a, i)} - ${getR(b, i)};
        |  $acc += $d * $d;
        |}
        |if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($acc); }
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `array_int8_codes(v)` — symmetric per-vector int8 quantization codes:
  * `round(x * 127/max|x|)` (half away from zero, exactly Spark `round` /
  * DuckDB `round` semantics via BigDecimal), all-zero vectors pass through
  * as all-zero codes. ONE pass over the array computes the scale, a second
  * emits the codes — the higher-order-function encoding this replaces
  * (`transform(v, x -> round(x * scaleOf(v)))`) inlines the scale
  * subexpression into the per-element lambda and re-derives max|x| for
  * EVERY element: O(dim^2) traversals plus an allocation per element
  * (measured 0.65 s for 2000x64 at sf0.1; this expression: one job floor).
  */
case class Int8Codes(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "array_int8_codes"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    Int8Codes.compute(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Int8Codes.compute($c, $isFloat)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Int8Codes {
  /** Shared by interpreted eval and generated code (one static call per row
    * keeps the operator inside the whole-stage-codegen span).
    */
  def compute(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        // non-finite elements don't participate in the scale and code to
        // null below (BigDecimal.valueOf throws on NaN/Inf; Inf as the max
        // would collapse every finite code to 0)
        if (java.lang.Double.isFinite(x)) {
          val ax = math.abs(x)
          if (ax > mx) mx = ax
        }
      }
      i += 1
    }
    val s = if (mx > 0) 127.0 / mx else 1.0
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        if (java.lang.Double.isFinite(x)) {
          out(i) = java.math.BigDecimal.valueOf(x * s)
            .setScale(0, java.math.RoundingMode.HALF_UP).intValue()
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `array_int8_cosine_distance(a, b)` — cosine distance over quantized
  * integer code arrays (graft.ops.Quantize): dot and norms accumulate
  * EXACTLY in long (int8 codes can't overflow: 2^53 headroom holds to
  * ~5·10^8 dims), then one double division. NULL when either vector
  * quantized to all zeros. This is the hot loop of a quantized brute-force
  * scan — a higher-order-function encoding (zip_with + aggregate) stays
  * interpreted and allocates per row; this compiles into the stage.
  */
case class Int8CosineDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_int8_cosine_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) throw VectorErrors.dimMismatch(n, b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getInt(i).toLong
      val y = b.getInt(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
    if (denom > 0) 1.0 - dot.toDouble / denom else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  throw graft.functions.VectorErrors.dimMismatch($n, $b.numElements());
        |}
        |long $dot = 0L; long $na = 0L; long $nb = 0L;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |  final long $x = (long) $a.getInt($i);
        |  final long $y = (long) $b.getInt($i);
        |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        |}
        |if (!${ev.isNull}) {
        |  final double $denom = java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb);
        |  if ($denom > 0) { ${ev.value} = 1.0 - ((double) $dot) / $denom; }
        |  else { ${ev.isNull} = true; }
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `array_l2_norm(a)` — Euclidean norm in double. */
case class L2Norm(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_l2_norm"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    val f = isFloat
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (f) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) (a: String, i: String) => s"(double) $a.getFloat($i)"
              else (a: String, i: String) => s"$a.getDouble($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val x = ctx.freshName("x")
      s"""
        |final int $n = $a.numElements();
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
        |  final double $x = ${get(a, i)};
        |  $acc += $x * $x;
        |}
        |if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($acc); }
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `cosine_argmin(v, cids, cvecs)` — the candidate id minimizing
  * `(array_cosine_distance(v, cvec), cid)`: a whole bucket's assignment
  * argmin as ONE codegen'd expression over index-aligned candidate arrays.
  *
  * This is the scalable middle ground between the two shapes that fail at
  * bucketed-assignment scale: `min(struct(d, cid))` after an explosion
  * join falls to SortAggregate over candidate-many wide rows (measured:
  * 4× the exact build), and `array_min(transform(...))` is a higher-order
  * function — CodegenFallback, interpreted per element (measured: just as
  * bad). Here the row stays inside whole-stage codegen and makes one call
  * into [[CosineArgmin.argmin]] (a JVM method, see [[VectorLoop]]): no
  * row explosion and no aggregate at all.
  *
  * Distance semantics are EXACTLY [[CosineDistance]] (zero vector → 2.0,
  * similarity clamped); ties break to the lowest cid — the
  * `min(struct(d, cid))` ordering. NaN distances are never selected
  * (NaN-largest, matching struct-min); if every candidate is NaN the
  * result is NULL. NULL vector/array/element → NULL. The two candidate
  * arrays must be index-aligned and equal-length (built by two
  * `collect_list`s in one aggregate — same row stream, same order).
  */
case class CosineArgmin(vec: Expression, ids: Expression, vecs: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def first: Expression = vec
  override def second: Expression = ids
  override def third: Expression = vecs
  override def prettyName: String = "cosine_argmin"

  override def inputTypes: Seq[AbstractDataType] = Seq(
    SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    ArrayType(LongType),
    SparkShims.typeCollection(ArrayType(ArrayType(FloatType)),
      ArrayType(ArrayType(DoubleType))))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def candIsFloat: Boolean =
    vecs.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any, cids: Any, cvecs: Any): Any =
    CosineArgmin.argmin(v.asInstanceOf[ArrayData], vecIsFloat,
      cids.asInstanceOf[ArrayData], cvecs.asInstanceOf[ArrayData], candIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, cids, cvecs) => {
      val r = ctx.freshName("argmin")
      s"""
        |final java.lang.Long $r = graft.functions.CosineArgmin.argmin(
        |  $a, $vecIsFloat, $cids, $cvecs, $candIsFloat);
        |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(vec = f, ids = s, vecs = t)
}

object CosineArgmin {
  /** The argmin shared by interpreted and generated code; NULL as `null`. */
  def argmin(a: ArrayData, vf: Boolean, cids: ArrayData, cvecs: ArrayData,
      cf: Boolean): java.lang.Long = {
    val m = cids.numElements()
    if (m != cvecs.numElements()) throw new IllegalArgumentException(
      s"cosine_argmin: ${m} ids vs ${cvecs.numElements()} vectors")
    val acc = new Array[Double](3)
    var found = false
    var bestD = 0.0
    var bestId = 0L
    var j = 0
    while (j < m) {
      if (cids.isNullAt(j) || cvecs.isNullAt(j) ||
          !VectorLoop.cosine(a, vf, cvecs.getArray(j), cf, acc)) return null
      val d = acc(0)
      val cid = cids.getLong(j)
      // d == d skips NaN candidates (NaN-largest, struct-min ordering);
      // an all-NaN candidate set leaves found=false → NULL.
      if (d == d && (!found || d < bestD || (d == bestD && cid < bestId))) {
        found = true; bestD = d; bestId = cid
      }
      j += 1
    }
    if (found) bestId else null
  }
}

/** `cosine_topk(v, self_id, ids, vecs, k)` — the `k` candidates nearest `v`
  * as `array<struct<dst: long, idx: int>>` in rank order, where `idx` is
  * the candidate's position in the index-aligned `ids`/`vecs` arrays: a
  * whole bucket's in-bucket kNN for one member as ONE expression on the
  * whole-stage-codegen path, with no pair explosion, no sort and no
  * shuffle. Its generated code makes one call per row into the task's
  * [[TopKSelector]] (a JVM method, see [[VectorLoop]]).
  *
  * It returns exactly what a `candidate.id =!= self_id` filter, a
  * `Window.partitionBy(self).orderBy(d.asc_nulls_last, id.asc)` and
  * `row_number <= k` return over the same candidates, `d` being
  * [[CosineDistance]] (zero vector → 2.0, similarity clamped):
  *   - numbers rank first, then NaN, then NULL (a NULL `v`, candidate
  *     vector or element gives a NULL distance — it ranks last, it is not
  *     dropped);
  *   - equal distances tie to the lowest id;
  *   - a NULL candidate id never matches, so it is skipped;
  *   - fewer than `k` candidates return them all.
  * A NULL `self_id`, `ids` or `vecs` gives NULL. Unequal `ids`/`vecs`
  * lengths and a candidate whose dimension differs from `v` raise errors.
  */
case class CosineTopK(vec: Expression, self: Expression, ids: Expression,
    vecs: Expression, k: Int) extends QuaternaryExpression with ExpectsInputTypes {
  override def first: Expression = vec
  override def second: Expression = self
  override def third: Expression = ids
  override def fourth: Expression = vecs
  override def prettyName: String = "cosine_topk"

  override def inputTypes: Seq[AbstractDataType] = Seq(
    SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    LongType,
    ArrayType(LongType),
    SparkShims.typeCollection(ArrayType(ArrayType(FloatType)),
      ArrayType(ArrayType(DoubleType))))
  override def dataType: DataType = CosineTopK.ResultType
  override def nullable: Boolean = true

  private def vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def candIsFloat: Boolean =
    vecs.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val selector = new TopKSelector(k, vecIsFloat, candIsFloat)

  // not null-safe in `vec`: a NULL query vector still ranks its candidates
  // (all distances NULL, so by id)
  override def eval(input: InternalRow): Any = {
    val s = self.eval(input)
    if (s == null) return null
    val c = ids.eval(input)
    if (c == null) return null
    val w = vecs.eval(input)
    if (w == null) return null
    selector.select(vec.eval(input).asInstanceOf[ArrayData], s.asInstanceOf[Long],
      c.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selClass = classOf[TopKSelector].getName
    val sel = ctx.addMutableState(selClass, "topk",
      v => s"$v = new $selClass($k, $vecIsFloat, $candIsFloat);")
    val v = vec.genCode(ctx); val s = self.genCode(ctx)
    val c = ids.genCode(ctx); val w = vecs.genCode(ctx)
    ev.copy(code = code"""
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |${s.code}
      |if (!${s.isNull}) {
      |  ${c.code}
      |  if (!${c.isNull}) {
      |    ${w.code}
      |    if (!${w.isNull}) {
      |      ${v.code}
      |      ${ev.isNull} = false;
      |      ${ev.value} = $sel.select(${v.isNull} ? null : ${v.value}, ${s.value},
      |        ${c.value}, ${w.value});
      |    }
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, u: Expression): Expression =
    copy(vec = f, self = s, ids = t, vecs = u)
}

object CosineTopK {
  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("dst", LongType, nullable = false),
    StructField("idx", IntegerType, nullable = false))), containsNull = false)
}

/** The selection behind [[CosineTopK]], shared by interpreted and
  * generated code: keeps the `k` smallest `(class, distance, id)` keys of
  * a row's candidates, class 0 being a number, 1 NaN and 2 NULL. Ties keep
  * the earlier candidate first. One instance per task (generated code) or
  * per expression (interpreted). The buffers hold min(k, candidates) and
  * grow with the largest row seen, so a `k` far above any row's candidate
  * count costs nothing.
  */
final class TopKSelector(k: Int, vecIsFloat: Boolean, candIsFloat: Boolean) {
  private var cap = 0
  private var cls = new Array[Int](0)
  private var dist = new Array[Double](0)
  private var ids = new Array[Long](0)
  private var idxs = new Array[Int](0)
  private val acc = new Array[Double](3)
  private var size = 0

  /** The top `k` of `cids`/`cvecs` for `v` (NULL allowed), `self` skipped. */
  def select(v: ArrayData, self: Long, cids: ArrayData, cvecs: ArrayData): ArrayData = {
    val m = cids.numElements()
    if (m != cvecs.numElements()) throw new IllegalArgumentException(
      s"cosine_topk: $m ids vs ${cvecs.numElements()} vectors")
    cap = math.max(math.min(k, m), 0)
    if (cls.length < cap) {
      cls = new Array[Int](cap); dist = new Array[Double](cap)
      ids = new Array[Long](cap); idxs = new Array[Int](cap)
    }
    size = 0
    var j = 0
    while (j < m) {
      if (!cids.isNullAt(j) && cids.getLong(j) != self) {
        val id = cids.getLong(j)
        if (v == null || cvecs.isNullAt(j) ||
            !VectorLoop.cosine(v, vecIsFloat, cvecs.getArray(j), candIsFloat, acc))
          offer(TopKSelector.Null, 0.0, id, j)
        else {
          val d = acc(0)
          offer(if (d != d) TopKSelector.NaN else TopKSelector.Number, d, id, j)
        }
      }
      j += 1
    }
    result()
  }

  private def offer(c: Int, d: Double, id: Long, idx: Int): Unit = {
    if (cap == 0 || (size == cap && !before(c, d, id, cap - 1))) return
    var p = if (size < cap) { size += 1; size - 1 } else cap - 1
    while (p > 0 && before(c, d, id, p - 1)) {
      cls(p) = cls(p - 1); dist(p) = dist(p - 1)
      ids(p) = ids(p - 1); idxs(p) = idxs(p - 1)
      p -= 1
    }
    cls(p) = c; dist(p) = d; ids(p) = id; idxs(p) = idx
  }

  private def before(c: Int, d: Double, id: Long, p: Int): Boolean =
    if (c != cls(p)) c < cls(p)
    else if (c == TopKSelector.Number && d != dist(p)) d < dist(p)
    else id < ids(p)

  private def result(): ArrayData = {
    val out = new Array[Any](size)
    var i = 0
    while (i < size) {
      out(i) = new GenericInternalRow(Array[Any](ids(i), idxs(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object TopKSelector {
  val Number = 0
  val NaN = 1
  val Null = 2
}

/** `cosine_distances(v, queries)` — `array_cosine_distance(v, q)` for every
  * `q` of `queries`, in order, as one `array<double>`: a whole batch of
  * query distances for a row in one expression. Element `j` is EXACTLY
  * [[CosineDistance]] of `v` and `queries[j]`, NULL when the query is NULL
  * or holds a NULL element; a dimension mismatch raises. A NULL `v` or
  * `queries`, or a `v` holding a NULL element (every distance NULL), gives
  * NULL — so a caller whose queries hold no NULL gets an array without
  * NULL elements or no array at all.
  *
  * Its generated code makes one call per row into the task's
  * [[DistanceScorer]], which reads `v` once and scores each query in a loop
  * over primitive arrays, in [[VectorLoop.accumulate]]'s order of
  * operations, so each distance is bit-identical to the per-pair loop at a
  * fraction of its cost: as 256 `array_cosine_distance` columns, 4.2M
  * distances of 64 dimensions took 1.1–1.2 s on 4 cores, most of a graph
  * probe's wall (`plans/r22/graph_probe_ab.md`).
  */
case class CosineDistances(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "cosine_distances"

  override def inputTypes: Seq[AbstractDataType] = Seq(
    SparkShims.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    SparkShims.typeCollection(ArrayType(ArrayType(FloatType)),
      ArrayType(ArrayType(DoubleType))))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def queriesAreFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val scorer =
    new DistanceScorer(vecIsFloat, queriesAreFloat, right.foldable)

  override def nullSafeEval(v: Any, qs: Any): Any =
    scorer.score(v.asInstanceOf[ArrayData], qs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[DistanceScorer].getName
    val sc = ctx.addMutableState(cls, "scorer",
      s => s"$s = new $cls($vecIsFloat, $queriesAreFloat, ${right.foldable});")
    nullSafeCodeGen(ctx, ev, (v, qs) => s"""
      |${ev.value} = $sc.score($v, $qs);
      |${ev.isNull} = ${ev.value} == null;
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The scorer behind [[CosineDistances]], shared by interpreted and
  * generated code; one instance per task (generated) or per expression
  * (interpreted). Constant `queries` (a literal) are unpacked into
  * primitive arrays once, with each query's |q|²; others on every row.
  * Each element follows [[VectorLoop.accumulate]]: dimensions are checked
  * before any element is read, x = v's element widened to double, y = the
  * query's, and dot, |v|² and |q|² each sum in index order — so hoisting
  * |v|² and |q|² out of the per-query loop changes no bit.
  */
final class DistanceScorer(vecIsFloat: Boolean, queriesAreFloat: Boolean,
    constantQueries: Boolean) {
  private var loaded = false
  private var lens = new Array[Int](0)             // -1: a NULL query
  private var qs = new Array[Array[Double]](0)     // null: a NULL element
  private var qn = new Array[Double](0)
  private var vs = new Array[Double](0)

  private def load(queries: ArrayData): Unit = {
    val m = queries.numElements()
    lens = new Array[Int](m); qs = new Array[Array[Double]](m); qn = new Array[Double](m)
    var j = 0
    while (j < m) {
      if (queries.isNullAt(j)) lens(j) = -1
      else {
        val q = queries.getArray(j)
        val n = q.numElements()
        lens(j) = n
        val y = new Array[Double](n)
        var norm = 0.0
        var complete = true
        var i = 0
        while (i < n && complete) {
          if (q.isNullAt(i)) complete = false
          else {
            y(i) = if (queriesAreFloat) q.getFloat(i).toDouble else q.getDouble(i)
            norm += y(i) * y(i)
          }
          i += 1
        }
        if (complete) { qs(j) = y; qn(j) = norm }
      }
      j += 1
    }
    loaded = constantQueries
  }

  /** The distances, or null when `v` holds a NULL element. */
  def score(v: ArrayData, queries: ArrayData): ArrayData = {
    if (!loaded) load(queries)
    val n = v.numElements()
    val m = lens.length
    var j = 0
    while (j < m) {
      if (lens(j) >= 0 && lens(j) != n) throw VectorErrors.dimMismatch(n, lens(j))
      j += 1
    }
    if (vs.length < n) vs = new Array[Double](n)
    var na = 0.0
    var vNull = false
    var i = 0
    while (i < n && !vNull) {
      if (v.isNullAt(i)) vNull = true
      else {
        val x = if (vecIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
        vs(i) = x; na += x * x
      }
      i += 1
    }
    if (vNull) return null
    val out = new Array[Double](m)
    var nulls = false
    j = 0
    while (j < m) {
      val y = qs(j)
      if (y == null) nulls = true
      else {
        var dot = 0.0
        i = 0
        while (i < n) { dot += vs(i) * y(i); i += 1 }
        out(j) = VectorLoop.cosineDistance(dot, na, qn(j))
      }
      j += 1
    }
    if (!nulls) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](m)(j =>
      if (qs(j) == null) null else out(j)))
  }
}
