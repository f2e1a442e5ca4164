package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** MinHash signature of an `array<long>` of element hashes, as one
  * fused loop — the native codegen form of
  * `array((0 until k).map(i => array_min(transform(hl, h => (a_i*h +
  * b_i) % MP))))` ([[TextFunctions.minhashSignature]]), which pays k
  * interpreted higher-order-function passes (k·|hl| closure frames and
  * k intermediate arrays) per row.
  *
  * Exactness contract: sig[i] = min over non-null h of
  * `(minhashA(i)*h + minhashB(i)) % 2147483647` — the identical
  * integer arithmetic of the SQL form and of the DuckDB oracle; null
  * elements are skipped exactly as `array_min` skips them, and an
  * empty / all-null input yields an array of k nulls (what k
  * `array_min` calls produce). All inputs are hashes in [0, 1e9+7), so
  * `a*h+b` stays far below 2^63 and Java `%` equals the SQL `%`.
  *
  * Registered as SQL function `minhash_sig` by
  * [[graft.plans.GraftExtensions]]; `k` must be a foldable int.
  */
case class MinhashSignature(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if right.foldable =>
        // k is session-wide SQL surface (`minhash_sig(hl, k)`): reject
        // null/zero/negative here rather than throwing
        // NegativeArraySizeException at eval / emitting `new long[-1]`
        right.eval() match {
          case kv: Int if kv > 0 => TypeCheckResult.TypeCheckSuccess
          case kv => TypeCheckResult.TypeCheckFailure(
            s"minhash_sig requires a positive signature length k, got $kv")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        "minhash_sig requires (array<bigint>, foldable int), got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  private lazy val k: Int = right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(h: Any, kv: Any): Any = {
    val arr = h.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        seen = true
        val hv = arr.getLong(j)
        var i = 0
        while (i < k) {
          val v = (TextFunctions.minhashA(i) * hv + TextFunctions.minhashB(i)) % TextFunctions.MinhashPrime
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](k)
    if (seen) { var i = 0; while (i < k) { out(i) = mins(i); i += 1 } }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val hv = ctx.freshName("hv")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val seen = ctx.freshName("seen")
      val out = ctx.freshName("out")
      val mp = TextFunctions.MinhashPrime
      // seed constants come from TextFunctions.minhashA/minhashB — the
      // single source of truth shared with nullSafeEval and the DuckDB
      // oracle SQL; a seed retune can't silently diverge the two paths
      val aSeeds = ctx.addReferenceObj("minhashA",
        Array.tabulate(k)(TextFunctions.minhashA), "long[]")
      val bSeeds = ctx.addReferenceObj("minhashB",
        Array.tabulate(k)(TextFunctions.minhashB), "long[]")
      s"""
         |final int $n = $a.numElements();
         |final long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    $seen = true;
         |    final long $hv = $a.getLong($j);
         |    for (int $i = 0; $i < $k; $i++) {
         |      final long $v = ($aSeeds[$i] * $hv + $bSeeds[$i]) % ${mp}L;
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |}
         |final Object[] $out = new Object[$k];
         |if ($seen) { for (int $i = 0; $i < $k; $i++) $out[$i] = $mins[$i]; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
