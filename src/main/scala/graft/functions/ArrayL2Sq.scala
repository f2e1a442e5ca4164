package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Integer squared-L2 distance of two `array<long>` columns — the
  * native codegen form of the `zip_with` + `aggregate` fold in
  * [[graft.operators.IvfKmeans.distL2]], which sits in the O(pairs)
  * loop of every quantized-vector scan (q113/q114/q117 training,
  * assignment, and search; q118/q119 spill assignment). The HOF fold
  * materializes a zipped intermediate array and pays two lambda
  * frames per pair; this is one fused long loop inside whole-stage
  * codegen (~8× measured on the q117 sf1 candidate scan).
  *
  * Exactness contract: BIGINT `Σ (a_i - b_i)²` with Java long
  * arithmetic — integer math has no accumulation-order sensitivity,
  * so the result is bit-identical to the HOF fold AND to the DuckDB
  * mirror ([[graft.operators.IvfKmeans.distSql]]); every existing
  * hash gate is unchanged by construction. Quantized coordinates are
  * |x| ≲ 10⁴ fixed-point units, so the 64-dim sum is ≲ 10¹⁰ — no
  * overflow headroom concern.
  *
  * Null semantics mirror the fold exactly: any null element or a
  * length mismatch (zip_with pads with null) poisons the result to
  * null; two empty arrays give 0.
  *
  * Registered as SQL function `array_l2sq` by
  * [[graft.plans.GraftExtensions]].
  */
case class ArrayL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "array_l2sq requires two array<bigint> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
