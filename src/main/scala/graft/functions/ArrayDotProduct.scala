package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Sequential dot product of two `array<double>` columns — the native
  * codegen form of the `zip_with` + `aggregate` fold
  * (`VectorFunctions.dotFold`), which sits in the O(pairs) loop of
  * every cosine scan (q44/q46/q53) and pays an intermediate zipped
  * array plus two higher-order-function frames per pair.
  *
  * Determinism contract (the whole point of the fold): the result is
  * the IEEE-754 sequential left fold `((0.0 + a0*b0) + a1*b1) + …` —
  * bit-identical to DuckDB's unrolled `a[1]*b[1] + a[2]*b[2] + …`
  * (`VectorFunctions.dotSql`; the two differ only in the sign of a zero
  * total), so `floor(sim*1e6)` quantizations stay hash-stable.
  * The loop below performs exactly that operation sequence (no FMA, no
  * reassociation).
  *
  * Null semantics mirror the fold exactly: any null element or a
  * length mismatch (zip_with pads with null) poisons the accumulator —
  * result null; two empty arrays give 0.0.
  *
  * Registered as SQL function `array_dot` by
  * [[graft.plans.GraftExtensions]].
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "array_dot requires two array<double> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
