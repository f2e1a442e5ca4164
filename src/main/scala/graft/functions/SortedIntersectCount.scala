package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `|A ∩ B|` of two SORTED `array<bigint>` set representations via a
  * fused two-pointer merge — the exact-Jaccard verify primitive when
  * sets are kept as sorted hash lists instead of dictionary bitmaps
  * (the persistent/incremental dedup regime, q99, where a session
  * dictionary cannot exist across ingest waves).
  *
  * `array_intersect` builds a hash set per evaluation and materializes
  * the intersection array just to take its size; inside an
  * O(candidate-pairs) verify loop that is allocation per pair. The
  * merge loop allocates nothing, reads both arrays once, and inlines
  * into whole-stage codegen (measured ~3x on the q99 verify stage at
  * sf0.1: 4.4s -> 1.4s for 349k pairs of ~300-element sets).
  *
  * CONTRACT: both arrays ascending-sorted and duplicate-free
  * (`sort_array(array_distinct(...))`), null elements absent. Callers
  * own the contract; inputs violating it under-count silently — the
  * spec checks agreement with `array_intersect` on random inputs.
  *
  * Registered as SQL function `sorted_inter_count` by
  * [[graft.plans.GraftExtensions]].
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sorted_inter_count requires two array<bigint> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_inter_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < nx && j < ny) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi < yj) i += 1
      else if (xi > yj) j += 1
      else { acc += 1L; i += 1; j += 1 }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0; int $j = 0;
         |${ev.value} = 0L;
         |while ($i < $nx && $j < $ny) {
         |  final long $xi = $a.getLong($i);
         |  final long $yj = $b.getLong($j);
         |  if ($xi < $yj) { $i++; }
         |  else if ($xi > $yj) { $j++; }
         |  else { ${ev.value}++; $i++; $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
