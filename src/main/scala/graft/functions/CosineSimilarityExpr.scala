package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd cosine similarity over two `array<float>` (or `array<double>`)
  * columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) walks
  * a lambda interpreter per element — microseconds per row; this expression
  * compiles to a tight fused loop inside whole-stage codegen. The
  * accumulation order (per-accumulator sequential left-to-right, products in
  * double) is exactly the HOF formula's, so results are bitwise identical —
  * VectorFunctionsSpec asserts that.
  *
  * Nulls: null array on either side → null result (BinaryExpression default);
  * MISMATCHED lengths → null as well, matching the HOF formulation (zip_with
  * null-pads the shorter array and the null poisons the aggregate) — on
  * malformed embedding data a visible NULL beats a silently-truncated finite
  * score. A null ELEMENT also yields null (the HOF's product chain would),
  * and so does a ZERO-NORM side: cosine is undefined there, and legacy-mode
  * SQL division by zero is NULL — raw Java NaN would diverge from the HOF
  * formulation this expression substitutes for. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // nullable even for non-null children: length mismatch yields null (and
  // codegen needs an assignable isNull slot for that branch)
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => other
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity needs array<float|double> inputs, " +
        s"got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val (ta, tb) = (elemType(left), elemType(right))
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, ta); val y = get(b, i, tb)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) return null
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    def getter(v: String, i: String, t: DataType): String = t match {
      case FloatType => s"(double) $v.getFloat($i)"
      case _ => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ta, tb) = (elemType(left), elemType(right))
      val (dot, na, nb, n, i) = (ctx.freshName("dot"), ctx.freshName("na"),
        ctx.freshName("nb"), ctx.freshName("n"), ctx.freshName("i"))
      // every generated local through freshName: a bare `x`/`y` would be
      // illegal Java shadowing if this block ever nests inside another
      // generated scope that declared the same name
      val (x, y) = (ctx.freshName("x"), ctx.freshName("y"))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $x = ${getter(a, i, ta)};
         |    double $y = ${getter(b, i, tb)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot /
         |        (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
