package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math as pure `Column` expressions over
  * `array<float>` / `array<double>` columns.
  *
  * Determinism contract: every reduction is a sequential left fold
  * (`aggregate` over the array in element order), so a DuckDB oracle
  * computing the same fold (`list_reduce` after `list_prepend(0.0)`, or
  * the dot's unrolled sum, [[dotSql]]) produces bit-identical IEEE-754
  * doubles — which makes integer
  * quantizations like `floor(sim * 1e6)` hash-stable across engines.
  *
  * Scale notes (100 TB): these are codegen'd expressions, so a
  * brute-force top-k scan runs at full columnar speed; the LSH
  * bucketing below turns the O(n·q) scan into an equi-join on
  * (bucket) that shuffles instead of broadcasting when the query
  * side is large.
  */
object VectorFunctions {

  /** Cast an array<float> embedding to array<double> for exact math. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential dot product of two equal-length double arrays — the
    * native `array_dot` codegen expression
    * ([[graft.functions.ArrayDotProduct]], registered by
    * `GraftExtensions`); same IEEE-754 operation sequence as
    * [[dotFold]]. */
  def dot(a: Column, b: Column): Column =
    call_function("array_dot", a, b)

  /** Built-ins-only dot product (`zip_with` + `aggregate` fold); works
    * without `GraftExtensions`, used to cross-check [[dot]]. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Sequential-fold squared L2 norm: exactly `dot(a, a)` — the
    * accumulate order `acc + a(i)*a(i)` is the same operation
    * sequence. */
  def normSq(a: Column): Column = dot(a, a)

  /** L2 norm: sqrt of the [[normSq]] fold. [[normSql]] is its twin. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity, computed as dot/(sqrt(na)*sqrt(nb)) — keep this
    * exact expression shape in any oracle SQL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** The multimodal stand-in for an image/audio encoder: the 8-bin
    * histogram of the high nibble of each character's code
    * (`ascii(c) div 16`), as array<double>. Exact in both engines on
    * ASCII text. [[byteHistSql]] is its twin. */
  def byteHist(txt: Column): Column =
    // the single-element transform binds the code list to a lambda
    // variable, so it is built once per row, not once per bin
    element_at(transform(array(TextFunctions.asciiCodes(txt)),
      codes => array((0 until 8).map(b => size(filter(codes,
        c => call_function("div", c, lit(16)) === b))): _*)), 1)
      .cast("array<double>")

  /** Bins of [[wordBigramHist]] (prime, so case-shifted bigrams never
    * share a bin). */
  val WordBigramBins = 61

  /** The word-bigram histogram: [[WordBigramBins]] counts of
    * `(polyHash(tok_i) * 31 + polyHash(tok_i+1)) % 61` over the
    * whitespace tokens of the lower-cased text, as array<double>; null
    * for a text of fewer than two tokens. [[wordBigramHistSql]] is its
    * twin. */
  def wordBigramHist(txt: Column): Column =
    // single-element transforms bind the tokens and the bigram list
    // once per row, as in byteHist
    element_at(transform(array(TextFunctions.tokens(lower(txt))), t =>
      when(size(t) >= 2, element_at(transform(
        array(TextFunctions.adjacentPairs(t)((a, b) =>
          (TextFunctions.polyHash(a) * 31 + TextFunctions.polyHash(b)) % WordBigramBins)),
        bg => array((0 until WordBigramBins).map(b => size(filter(bg, x => x === b))): _*)),
        1))), 1)
      .cast("array<double>")

  // Note (measured, sf0.1, local[32]): an "unrolled" dot product —
  // 64 element_at products summed as a flat expression tree — is ~3x
  // SLOWER than this fold form (72s vs 26s for the 12.5M-pair scan):
  // per-index element_at pays a bounds check per access and the giant
  // expression tree defeats codegen, while zip_with+aggregate evaluate
  // as one tight loop over the array. Keep the folds.

  /** floor(x * 1e6) as a hash-stable integer quantization. */
  def quantize1e6(x: Column): Column = floor(x * 1e6).cast("long")

  /** Deterministic integer hyperplane weight for LSH: plane j,
    * dimension i (0-based) -> ((1009*j + 2003*i) % 97) - 48, as double.
    * Pseudo-random signs centered on 0; identical formula goes in the
    * oracle SQL. */
  def lshWeight(j: Int, i: Column): Column =
    (((lit(1009 * j) + lit(2003) * i) % 97) - 48).cast("double")

  /** Signed projection of `v` (array<double>) onto hyperplane j:
    * sequential fold of v[i] * w(j,i). */
  def lshProjection(v: Column, j: Int, dim: Int): Column =
    aggregate(
      zip_with(v, sequence(lit(0), lit(dim - 1)),
        (x, i) => x * lshWeight(j, i)),
      lit(0.0), (acc, x) => acc + x)

  /** Random-hyperplane LSH bucket id from `nPlanes` sign bits:
    * bit j set iff projection_j > 0. */
  def lshBucket(v: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { j =>
      when(lshProjection(v, j, dim) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  // ---- DuckDB twins: each emits the SQL of the expression above it
  // in the same fold order, so the oracle computes identical doubles.

  /** Twin of [[dot]] for list refs of length `dim`, unrolled to
    * `a[1]*b[1] + … + a[dim]*b[dim]`: the same left-to-right sum as a
    * fold from 0.0 (`0.0 + x == x`; only a `-0.0` total can differ in
    * sign, which `floor(…)` and every comparison read as 0). DuckDB
    * runs it faster per pair than a list comprehension + reduce (0.31 vs
    * 0.44 s over sf0.01's 250k embedding pairs), but the expression is
    * `dim` terms long: a CTE that DuckDB inlines at many references
    * re-plans it at each (see `SemanticIndex.acceptWaveCtes`). */
  def dotSql(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")

  /** Twin of [[normSq]]. */
  def normSqSql(a: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  [x * x FOR x IN $a]), (x, y) -> x + y)""".stripMargin

  /** Twin of [[norm]]. */
  def normSql(a: String): String = s"sqrt(${normSqSql(a)})"

  /** Twin of [[byteHist]]: a DOUBLE list of 8 bin counts of `txt`. */
  def byteHistSql(txt: String): String = {
    val codes = TextFunctions.asciiCodesSql(txt)
    (0 until 8).map(b =>
      s"CAST(len(list_filter($codes, c -> c // 16 = $b)) AS DOUBLE)")
      .mkString("[", ",\n    ", "]")
  }

  /** Twin of [[wordBigramHist]]: a DOUBLE list of [[WordBigramBins]]
    * counts of `txt`, NULL for fewer than two tokens. */
  def wordBigramHistSql(txt: String): String = {
    val hash = TextFunctions.polyHashSql("t")
    val counts = (0 until WordBigramBins)
      .map(b => s"CAST(len(list_filter(bg, x -> x = $b)) AS DOUBLE)")
    s"""list_transform([list_transform(${TextFunctions.tokensSql(s"lower($txt)")}, t -> $hash)],
       |  h -> CASE WHEN len(h) >= 2 THEN list_transform(
       |    [${TextFunctions.adjacentPairsSql("h")((a, b) => s"($a * 31 + $b) % $WordBigramBins")}],
       |    bg -> [${counts.mkString(", ")}])[1] END)[1]""".stripMargin
  }
}
