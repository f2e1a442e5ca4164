package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashes of the DISTINCT character 3-gram shingles of a string, in
  * first-occurrence order — the fused form of
  * `transform(shingles(text, 3), s => shingleHash3(s))`
  * ([[TextFunctions.shingles]] + [[TextFunctions.shingleHash3]]).
  *
  * The composed built-ins materialize one UTF8String per shingle
  * position, `array_distinct` them, then re-walk each 3-char string
  * with three `substring`+`ascii` expression trees. Over a corpus
  * that is ~3 allocations and ~6 expression evaluations per input
  * character — and shingling is the first full-corpus map stage of
  * the whole dedup family. This expression makes ONE pass over the
  * decoded code points: dedupe by the packed (c0,c1,c2) triple
  * (21 bits each — identical to dedupe by shingle string), hash as
  * `((c0*31 + c1)*31 + c2) % HashMod` exactly like `shingleHash3`
  * (ascii() = full code point, '' = 0), including the sub-3-char
  * edge where `shingles` yields the whole string and absent
  * characters hash as 0. Hash DUPLICATES across distinct shingles
  * are kept, so the output is element-for-element the composed
  * form's (spec: random strings, both paths, plus codegen parity).
  *
  * Registered as SQL function `shingle_hashes` by
  * [[graft.plans.GraftExtensions]]. Callers pass `lower(text)`
  * themselves (mirrors `shingles`' lowercasing call sites).
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string argument, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the per-row work lives in one compiled helper; codegen just
    // avoids the interpreted-projection wrapper per row
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val P = TextFunctions.HashMod

  /** One-pass distinct-shingle hash array; see class doc for the
    * exact contract. Static so generated code can call it. */
  def compute(s: UTF8String): GenericArrayData = {
    val str = s.toString
    // decode once to code points (ascii()/substring() semantics)
    val n = str.codePointCount(0, str.length)
    val cp = new Array[Int](n)
    var ci = 0
    var off = 0
    while (ci < n) {
      val c = str.codePointAt(off)
      cp(ci) = c
      off += Character.charCount(c)
      ci += 1
    }
    if (n < 3) {
      val c0 = if (n >= 1) cp(0).toLong else 0L
      val c1 = if (n >= 2) cp(1).toLong else 0L
      // shingles() yields the whole string; shingleHash3 reads absent
      // chars as ascii('') = 0
      return new GenericArrayData(Array(((c0 * 31 + c1) * 31 + 0) % P))
    }
    val seen = new java.util.HashSet[Long](n * 2)
    val out = new Array[Long](n - 2)
    var m = 0
    var i = 0
    while (i <= n - 3) {
      val key = (cp(i).toLong << 42) | (cp(i + 1).toLong << 21) | cp(i + 2).toLong
      if (seen.add(key)) {
        out(m) = ((cp(i).toLong * 31 + cp(i + 1)) * 31 + cp(i + 2)) % P
        m += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
}
