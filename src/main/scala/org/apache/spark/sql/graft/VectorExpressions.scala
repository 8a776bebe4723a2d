package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ExpectsInputTypes, LeafExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the vector hot path (SURVEY.md §2.10's
  * "optional codegen'd Expression if zip_with profiling disappoints").
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a,b,*), 0d, +)`) allocates an intermediate array per
  * row per pair — on an O(N²) near-dup scan that is the dominant cost. These
  * expressions compute dot/cosine/L2 in ONE fused loop over the two
  * `ArrayData`, no allocation, with full whole-stage codegen.
  *
  * Semantics match VectorFunctions exactly (same left-to-right double
  * accumulation, cosine = dot / (sqrt(na) * sqrt(nb))), so results are
  * bit-identical and the DuckDB oracle discipline is unaffected.
  * Length-mismatched or null inputs yield null (like zip_with + aggregate).
  */
object VectorKernels {
  /** mode: 0 = dot, 1 = cosine, 2 = l2 */
  def compute(mode: Int, a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    mode match {
      case 0 =>
        while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
        dot
      case 1 =>
        while (i < n) {
          val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val d = math.sqrt(na) * math.sqrt(nb)
        if (d == 0.0) null else dot / d
      case 2 =>
        while (i < n) {
          val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
          val diff = x - y; dot += diff * diff; i += 1
        }
        math.sqrt(dot)
    }
  }
}

abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  def mode: Int
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(FloatType, containsNull = false), ArrayType(FloatType, containsNull = false))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.compute(mode, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      val body = mode match {
        case 0 =>
          s"""
             |double $dot = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $dot += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
             |}
             |${ev.value} = $dot;
           """.stripMargin
        case 1 =>
          s"""
             |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $x = (double) $a.getFloat($i);
             |  double $y = (double) $b.getFloat($i);
             |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
             |}
             |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
             |if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
           """.stripMargin
        case 2 =>
          s"""
             |double $dot = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $x = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
             |  $dot += $x * $x;
             |}
             |${ev.value} = java.lang.Math.sqrt($dot);
           """.stripMargin
      }
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $body
         |}
       """.stripMargin
    })
}

case class DotProductExpr(left: Expression, right: Expression) extends VectorBinaryExpression {
  def mode = 0
  override def prettyName: String = "graft_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class CosineSimilarityExpr(left: Expression, right: Expression) extends VectorBinaryExpression {
  def mode = 1
  override def prettyName: String = "graft_cosine"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class L2DistanceExpr(left: Expression, right: Expression) extends VectorBinaryExpression {
  def mode = 2
  override def prettyName: String = "graft_l2"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Nearest-centroid argmax as ONE codegen'd expression: index (0-based)
  * of the centroid in `right` (a broadcast-literal `array<array<float>>`)
  * with the highest cosine similarity to `left`. Ties break to the
  * SMALLEST index; pairs whose cosine is undefined (length mismatch or a
  * zero-norm side — the cases the binary kernel yields null for) never
  * win, and if NO centroid yields a defined similarity the result is
  * index 0 — exactly the decisions of the reference formulation
  * `row_number over (partition by id order by sim desc_nulls_last, cid
  * asc)` when the centroid array is sorted by cid ascending.
  *
  * This replaces crossJoin(broadcast(centroids)) + window argmax (VERDICT
  * r10 item 1): the window forced a hash exchange of n×k rows still
  * carrying the full embedding — ~k× the corpus's vector bytes through
  * one shuffle. Here the k similarities fold inside ONE whole-stage-
  * codegen'd loop per row: zero exchange, zero row duplication, same
  * left-to-right double accumulation as [[CosineSimilarityExpr]] so the
  * argmax decisions are bit-identical.
  */
case class NearestCentroidExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(FloatType, containsNull = false),
    ArrayType(ArrayType(FloatType, containsNull = false), containsNull = false))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(v: Any, cs: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val k = cents.numElements()
    var best = Double.NegativeInfinity
    var bestIdx = 0
    var c = 0
    while (c < k) {
      val sim = VectorKernels.compute(1, vec, cents.getArray(c))
      if (sim != null && sim.asInstanceOf[Double] > best) {
        best = sim.asInstanceOf[Double]
        bestIdx = c
      }
      c += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val cv = ctx.freshName("cv")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      val sim = ctx.freshName("sim")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      s"""
         |int $k = $cs.numElements();
         |int $n = $v.numElements();
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestIdx = 0;
         |for (int $c = 0; $c < $k; $c++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $cs.getArray($c);
         |  if ($cv.numElements() != $n) continue;
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $v.getFloat($i);
         |    double $y = (double) $cv.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) continue;
         |  double $sim = $dot / $denom;
         |  if ($sim > $best) { $best = $sim; $bestIdx = $c; }
         |}
         |${ev.value} = $bestIdx;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dense matrix·vector product as ONE codegen'd expression:
  * `out[r] = (float) Σ_j (double)vec[j] · (double)matrix[r][j]` — the OPQ
  * rotation kernel (`Search.rotateCol`). `left` is the vector
  * (`array<float>`), `right` the matrix (`array<array<float>>`, normally a
  * broadcast literal).
  *
  * WHY one expression instead of `array(dot(vec, row_0), …, dot(vec,
  * row_{d-1}))`: the composed form emits d independent dot kernels into
  * one generated projection method — at the reference's default width
  * (768) that is 768 loops plus 768 literal references, the method blows
  * janino's 64 KB bytecode limit, and whole-stage codegen silently
  * re-executes the rotation INTERPRETED (caught by the round-17 live
  * fallback census: the only janino failures in the whole build were this
  * site at dim 768). Here the generated code is one nested loop whose
  * SIZE is independent of the dimension, so the hot OPQ encode path stays
  * inside whole-stage codegen at any width.
  *
  * Bit-identical to the composed form on well-formed input: same
  * left-to-right double accumulation per output element, same operand
  * order ((double)v[j] · (double)row[j]), same final (float) cast —
  * VectorExprSpec pins the equivalence element-for-element at dims 4 and
  * 768. Edge semantics differ ONLY off the contract: a row whose length
  * mismatches the vector nulls the WHOLE result (the composed form
  * nulled that element), unreachable for the square rotations
  * [[graft.operators.Search.OpqModel]] enforces. Null ELEMENTS inside
  * the arrays are likewise off the contract: Spark's input type check
  * ignores `containsNull`, so a null element is accepted and read as
  * 0.0f (UnsafeArrayData's null slot) — same precondition as every
  * other kernel in this file; OpqModel only ever feeds non-null floats.
  */
case class MatVecFloatExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(FloatType, containsNull = false),
    ArrayType(ArrayType(FloatType, containsNull = false), containsNull = false))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_matvec"

  override def nullSafeEval(v: Any, m: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val mat = m.asInstanceOf[ArrayData]
    val n = vec.numElements()
    val rows = mat.numElements()
    val out = new Array[Float](rows)
    var r = 0
    while (r < rows) {
      val row = mat.getArray(r)
      if (row.numElements() != n) return null
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += vec.getFloat(j).toDouble * row.getFloat(j).toDouble
        j += 1
      }
      out(r) = acc.toFloat
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val n = ctx.freshName("n")
      val rows = ctx.freshName("rows")
      val out = ctx.freshName("out")
      val r = ctx.freshName("r")
      val row = ctx.freshName("row")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val ok = ctx.freshName("ok")
      s"""
         |int $n = $v.numElements();
         |int $rows = $m.numElements();
         |float[] $out = new float[$rows];
         |boolean $ok = true;
         |for (int $r = 0; $ok && $r < $rows; $r++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $m.getArray($r);
         |  if ($row.numElements() != $n) { $ok = false; break; }
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $acc += ((double) $v.getFloat($j)) * ((double) $row.getFloat($j));
         |  }
         |  $out[$r] = (float) $acc;
         |}
         |if (!$ok) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** A dense float matrix as a plan leaf (`array<array<float>>`) held as
  * ONE primitive row-major array — the OPQ rotation's operand for
  * [[MatVecFloatExpr]]. As a `typedLit` the d×d rotation was d² boxed
  * floats in every plan: at d = 768 each job's plan-info rendering spent
  * its time in `Literal.toString` and each task deserialized 590k boxed
  * objects. Here a task deserializes one float array, and the plan
  * prints a short `float_matrix(rows x cols)`.
  *
  * Not foldable: constant folding would turn it back into a boxed
  * literal.
  */
case class FloatMatrixExpr(rows: Int, cols: Int, values: Array[Float])
    extends LeafExpression {
  override def dataType: DataType = ArrayType(
    ArrayType(FloatType, containsNull = false), containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  @transient private lazy val matrix: ArrayData = new GenericArrayData(
    Array.tabulate[Any](rows)(r => UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOfRange(values, r * cols, (r + 1) * cols))))

  override def eval(input: InternalRow): Any = matrix

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("floatMatrix", matrix, classOf[ArrayData].getName)
    ev.copy(code = code"final ${classOf[ArrayData].getName} ${ev.value} = $m;",
      isNull = FalseLiteral)
  }

  override def toString: String = s"float_matrix(${rows}x$cols)"
}

/** Column ⇄ Expression bridge for the DataFrame API (ExpressionUtils is
  * private[sql], hence this package).
  */
object VectorColumns {
  private def toCol(e: Expression): Column = ExpressionUtils.column(e)
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)
  def dotFast(a: Column, b: Column): Column = toCol(DotProductExpr(ex(a), ex(b)))
  def cosineFast(a: Column, b: Column): Column = toCol(CosineSimilarityExpr(ex(a), ex(b)))
  def l2Fast(a: Column, b: Column): Column = toCol(L2DistanceExpr(ex(a), ex(b)))
  def nearestCentroidIdx(vec: Column, centroids: Column): Column =
    toCol(NearestCentroidExpr(ex(vec), ex(centroids)))
  def matVecFloat(vec: Column, matrix: Column): Column =
    toCol(MatVecFloatExpr(ex(vec), ex(matrix)))
  def floatMatrix(rows: IndexedSeq[Array[Float]]): Column = {
    val cols = rows.headOption.fold(0)(_.length)
    require(rows.forall(_.length == cols), "matrix rows must share one length")
    toCol(FloatMatrixExpr(rows.size, cols, Array.concat(rows: _*)))
  }
}
