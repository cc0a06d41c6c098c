package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product Σ aᵢ·bᵢ over two `array<float|double>` columns —
  * the fused-loop twin of `VectorFunctions.dot`'s HOF formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`), with identical
  * left-to-right double accumulation, so results are bitwise equal.
  *
  * Nulls: null array → null (BinaryExpression default); MISMATCHED lengths
  * → null, matching zip_with's null-padding poisoning the aggregate; a
  * null ELEMENT on either side → null as well (the HOF's x*y goes null and
  * the + chain propagates it). Built by `VectorFunctions.dot`;
  * VectorFunctionsSpec pins it bitwise to `dotHof`, null outcomes
  * included.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // length mismatch yields null even for non-null children
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
      s"dot_product needs array<float|double> inputs, " +
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
    var dot = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    def getter(v: String, i: String, t: DataType): String = t match {
      case FloatType => s"(double) $v.getFloat($i)"
      case _ => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ta, tb) = (elemType(left), elemType(right))
      val (dot, n, i) =
        (ctx.freshName("dot"), ctx.freshName("n"), ctx.freshName("i"))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $dot += ${getter(a, i, ta)} * ${getter(b, i, tb)};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
