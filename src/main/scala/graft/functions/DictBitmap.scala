package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row dictionary bitmap: for each element of `elements`, find its
  * rank in the SORTED `universe` array (binary search) and set that
  * bit; returns the fixed-length `array<long>` bitmap
  * (`nWords = ceil(|universe|/64)` words).
  *
  * This is the map-only replacement for the dataflow bitmap build in
  * `SetSimJoin.withBitmap` (explode → broadcast dictionary join →
  * bit_or groupBy → word-map groupBy → join back: one broadcast and
  * THREE corpus-wide data movements just to attach a per-row value).
  * The sorted universe rides along as an array literal — the same
  * smallness contract as the broadcast dictionary it replaces — and
  * the bitmap becomes a projection: zero shuffles, zero joins,
  * evaluated inside whole-stage codegen.
  *
  * Bit assignment (rank in the sorted universe) is identical to the
  * dataflow form's `row_number over (order by element)` dictionary, so
  * downstream popcount math is bit-for-bit unchanged. Supports string
  * (UTF8String binary order — Spark's own sort order for strings) and
  * long element types (the two shingle representations used by the
  * dedup family). Null elements and elements absent from the universe
  * set no bit (the join form dropped them identically).
  *
  * Registered as SQL function `dict_bitmap` by
  * [[graft.plans.GraftExtensions]].
  */
case class DictBitmap(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "dict_bitmap requires (array<string>, array<string>, int) or " +
          s"(array<bigint>, array<bigint>, int), got ${a.catalogString}, " +
          s"${b.catalogString}, ${c.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dict_bitmap"

  private def isString: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == StringType

  override protected def nullSafeEval(e: Any, u: Any, n: Any): Any =
    if (isString)
      DictBitmap.computeString(e.asInstanceOf[ArrayData],
        u.asInstanceOf[ArrayData], n.asInstanceOf[Int])
    else
      DictBitmap.computeLong(e.asInstanceOf[ArrayData],
        u.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isString) "computeString" else "computeLong"
    nullSafeCodeGen(ctx, ev, (e, u, n) =>
      s"${ev.value} = graft.functions.DictBitmap.$m($e, $u, $n);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object DictBitmap {

  private def checkCapacity(un: Int, nWords: Int): Unit =
    if (un > nWords.toLong * 64)
      throw new IllegalArgumentException(
        s"dict_bitmap: universe has $un elements but nWords=$nWords holds " +
          s"only ${nWords.toLong * 64} bits; pass nWords >= ceil(|universe|/64)")

  def computeString(elems: ArrayData, universe: ArrayData, nWords: Int): GenericArrayData = {
    val words = new Array[Long](nWords)
    val n = elems.numElements()
    val un = universe.numElements()
    checkCapacity(un, nWords)
    var i = 0
    while (i < n) {
      if (!elems.isNullAt(i)) {
        val e = elems.getUTF8String(i)
        // binary search over the sorted universe (UTF8String binary
        // order == Spark's string sort order)
        var lo = 0
        var hi = un - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val c = universe.getUTF8String(mid).compareTo(e)
          if (c < 0) lo = mid + 1
          else if (c > 0) hi = mid - 1
          else { words(mid >> 6) |= 1L << (mid & 63); lo = hi + 1 }
        }
      }
      i += 1
    }
    new GenericArrayData(words)
  }

  def computeLong(elems: ArrayData, universe: ArrayData, nWords: Int): GenericArrayData = {
    val words = new Array[Long](nWords)
    val n = elems.numElements()
    val un = universe.numElements()
    checkCapacity(un, nWords)
    var i = 0
    while (i < n) {
      if (!elems.isNullAt(i)) {
        val e = elems.getLong(i)
        var lo = 0
        var hi = un - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val v = universe.getLong(mid)
          if (v < e) lo = mid + 1
          else if (v > e) hi = mid - 1
          else { words(mid >> 6) |= 1L << (mid & 63); lo = hi + 1 }
        }
      }
      i += 1
    }
    new GenericArrayData(words)
  }
}
