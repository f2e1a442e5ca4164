package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines:
  * token counting, language ID, quality scoring, fingerprinting.
  * All pure `Column` expressions (codegen'd; no UDFs), so they scan
  * 100 TB of documents at parquet-read speed. Each text rule the gates
  * read has its DuckDB twin (`...Sql`) beside it, and every oracle
  * calls the twin rather than restating the rule. The twins are
  * DuckDB dialect (Spark SQL reads the literal `'\S+'` as `'S+'`).
  */
object TextFunctions {

  /** Whitespace tokenization: the space-trimmed text split on runs of
    * whitespace; a blank text has no tokens, NULL stays NULL. `trim`
    * drops spaces only, so a tab-leading text keeps a leading `''`
    * token in both engines. [[tokensSql]] is its twin. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Twin of [[tokens]]. The blank guard is load-bearing: DuckDB splits
    * `''` and `'   '` into `['']`, one token. */
  def tokensSql(text: String): String =
    s"CASE WHEN length(trim($text)) = 0 THEN []::VARCHAR[] " +
      s"ELSE string_split_regex(trim($text), '\\s+') END"

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Twin of [[tokenCount]]. */
  def tokenCountSql(text: String): String = s"len(${tokensSql(text)})"

  /** `f(x_i, x_i+1)` over the adjacent elements of `arr`, NULL below
    * two elements. The size guard is load-bearing, not defensive:
    * `sequence(1, 0)` counts DOWN to `[1, 0]`, and `element_at(arr, 0)`
    * always throws. [[adjacentPairsSql]] is its twin. */
  def adjacentPairs(arr: Column)(f: (Column, Column) => Column): Column =
    when(size(arr) >= 2, transform(sequence(lit(1), size(arr) - 1),
      i => f(element_at(arr, i), element_at(arr, i + 1))))

  /** Twin of [[adjacentPairs]] over the list reference `arr`, empty
    * below two elements (`generate_series(1, 0)` is empty in DuckDB). */
  def adjacentPairsSql(arr: String)(f: (String, String) => String): String =
    s"[${f(s"$arr[i]", s"$arr[i + 1]")} FOR i IN generate_series(1, len($arr) - 1)]"

  /** Word bigrams `t_i <sep> t_i+1`, empty below two tokens.
    * [[wordBigramsSql]] is its twin. */
  def wordBigrams(toks: Column, sep: String): Column =
    coalesce(adjacentPairs(toks)((a, b) => concat(a, lit(sep), b)),
      array().cast("array<string>"))

  /** Twin of [[wordBigrams]] over the token-list reference `toks`. */
  def wordBigramsSql(toks: String, sep: String): String =
    adjacentPairsSql(toks)((a, b) => s"$a || '$sep' || $b")

  /** Mean token length ×100, floored; 0 for no tokens. The `.cast`
    * is load-bearing: Spark's `/` on longs is DOUBLE division, and the
    * truncating cast makes it the floor the twin's `//` computes.
    * [[meanTokLenX100Sql]] is its twin. */
  def meanTokLenX100(toks: Column): Column =
    when(size(toks) > 0,
      (aggregate(toks, lit(0L), (acc, t) => acc + length(t)) * 100 / size(toks)).cast("long"))
      .otherwise(0L)

  /** Twin of [[meanTokLenX100]] over the token-list reference `toks`. */
  def meanTokLenX100Sql(toks: String): String =
    s"CAST(CASE WHEN len($toks) > 0 THEN " +
      s"list_sum(list_transform($toks, t -> length(t))) * 100 // len($toks) ELSE 0 END AS BIGINT)"

  private val SubTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  private val NonPunctRe = "[A-Za-z0-9\\s]"

  /** BPE-ish sub-token count: runs of letters, runs of digits, or single
    * non-alphanumeric chars — a cheap proxy for tokenizer load. */
  def subTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(SubTokenRe), lit(0)))

  /** Count of punctuation / non-alphanumeric, non-space chars. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, NonPunctRe, ""))

  /** Language marker words used by the n-gram-free heuristic language ID.
    * Tiny on purpose: the point is the operator shape (scored argmax over
    * per-language token matches), not linguistic accuracy. */
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "de", "que", "es"))

  private val Langs: Seq[String] = LangMarkers.keys.toSeq.sorted

  private def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(markers)))

  private def markerHitsSql(toks: String, markers: Seq[String]): String =
    s"len(list_filter($toks, t -> t IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  /** Heuristic language ID: argmax of marker-token hits with
    * deterministic alphabetical tiebreak; "und" (undetermined) when no
    * marker hits at all. [[langIdSql]] is its twin. */
  def langId(text: Column): Column = {
    val scored = Langs.map(lang => (lang, markerHits(text, LangMarkers(lang))))
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // first (alphabetical) language reaching the max score
    scored.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Twin of [[langId]]: the tokens and the hit list `h` are each bound
    * once per row by a one-element `list_transform`. */
  def langIdSql(text: String): String = {
    val hits = Langs.map(l => markerHitsSql("tk", LangMarkers(l))).mkString(", ")
    val pick = Langs.zipWithIndex.map { case (l, i) =>
      s"WHEN h[${i + 1}] = list_max(h) AND list_max(h) > 0 THEN '$l'"
    }.mkString(" ")
    s"list_transform([${tokensSql(s"lower($text)")}], tk -> list_transform([[$hits]], " +
      s"h -> CASE $pick ELSE 'und' END)[1])[1]"
  }

  /** Stopword ratio numerator: tokens that are English stopwords. */
  def stopwordCount(text: Column): Column =
    markerHits(text, LangMarkers("en"))

  /** Document quality heuristics as a struct of exact-integer metrics
    * (ratios are left to the caller so results stay hash-stable):
    * n_chars, n_tokens, n_subtokens, n_punct, n_stopwords, mean token
    * length ×100 (integer). [[qualityMetricsSql]] is its twin. */
  def qualityMetrics(text: Column): Column = {
    val toks = tokens(text)
    struct(
      length(text).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      subTokenCount(text).cast("long").as("n_subtokens"),
      punctCount(text).cast("long").as("n_punct"),
      stopwordCount(text).cast("long").as("n_stopwords"),
      meanTokLenX100(toks).as("mean_tok_len_x100"))
  }

  /** Twin of [[qualityMetrics]]: the same fields as a DuckDB struct. */
  def qualityMetricsSql(text: String): String =
    s"""list_transform([${tokensSql(text)}], tk -> {
       |  'n_chars': CAST(length($text) AS BIGINT),
       |  'n_tokens': CAST(len(tk) AS BIGINT),
       |  'n_subtokens': CAST(len(regexp_extract_all($text, '$SubTokenRe')) AS BIGINT),
       |  'n_punct': CAST(length(regexp_replace($text, '$NonPunctRe', '', 'g')) AS BIGINT),
       |  'n_stopwords': CAST(
       |    ${markerHitsSql(tokensSql(s"lower($text)"), LangMarkers("en"))} AS BIGINT),
       |  'mean_tok_len_x100': ${meanTokLenX100Sql("tk")}})[1]""".stripMargin

  /** The deterministic 80/10/10 train/val/test split of a document id:
    * an LCG bucket (q55's) in [0, 100) with no RNG state, so the split
    * is the same on any engine and partitioning, and new ids never move
    * old ones. [[dataSplitSql]] is its twin. */
  def dataSplit(id: Column): Column = {
    val b = ((id * 1103515245L + 12345L) % 2147483647L) % 100
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** Twin of [[dataSplit]]. */
  def dataSplitSql(id: String): String = {
    val b = s"((($id * 1103515245 + 12345) % 2147483647) % 100)"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
  }

  /** The PII patterns of the redaction pass, one regex each for both
    * engines (Java and RE2 read them alike). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Character n-gram shingles (distinct), the input to MinHash/Jaccard
    * dedup. */
  def shingles(text: Column, n: Int = 3): Column =
    // the single-element transform binds lower(text) to a lambda
    // variable so it is evaluated ONCE per row — inlining it would
    // re-lowercase the whole text for every shingle position (measured
    // ~4x slower over the documents table)
    element_at(transform(array(lower(text)), t =>
      when(length(t) < n, array(t))
        .otherwise(array_distinct(transform(
          sequence(lit(1), length(t) - (n - 1)),
          i => t.substr(i, lit(n)))))), 1)

  /** Per-row frequency stats over a STRING array's equal elements,
    * without a (row, element) shuffle and without the quadratic
    * count-each-distinct-element scan: `array_sort` + one linear
    * run-length pass, O(n log n) per row. Returns
    * `struct(top_c, n_singleton)` — the occurrence count of the most
    * frequent element and the number of elements whose value occurs
    * exactly once (so duplicate mass = `size(arr) - n_singleton`).
    * Empty array → (0, 0). Null elements unsupported (the null `prev`
    * sentinel marks run starts). Feeds the Gopher-style repetition
    * filters (q94) and the cleaning funnel (q100). */
  def elementCountStats(arr: Column): Column = {
    def step(acc: Column, x: Column): Column = {
      val isNew = not(x <=> acc.getField("prev"))
      val cur = when(isNew, lit(1L)).otherwise(acc.getField("cur") + 1L)
      struct(x.as("prev"), cur.as("cur"),
        greatest(acc.getField("best"), cur).as("best"),
        (acc.getField("single") +
          when(isNew && acc.getField("cur") === 1L, 1L).otherwise(0L))
          .as("single"))
    }
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("cur"),
        lit(0L).as("best"), lit(0L).as("single")),
      step,
      acc => struct(acc.getField("best").as("top_c"),
        (acc.getField("single") +
          when(acc.getField("cur") === 1L, 1L).otherwise(0L))
          .as("n_singleton")))
  }

  /** Twin of [[elementCountStats]] over the STRING list reference
    * `arr`, from DuckDB's per-list histogram (NULL for an empty list,
    * hence the `coalesce`). */
  def elementCountStatsSql(arr: String): String =
    s"""list_transform([coalesce(map_values(list_aggregate($arr, 'histogram')), [])], c -> {
       |  'top_c': CAST(coalesce(list_max(c), 0) AS BIGINT),
       |  'n_singleton': CAST(len(list_filter(c, x -> x = 1)) AS BIGINT)})[1]""".stripMargin

  /** Deterministic polynomial rolling hash of a whole string (a text
    * fingerprint, a token or shingle hash): h = fold(h*31 + ascii(char))
    * mod [[HashMod]]. Engine-independent (pure integer arithmetic),
    * unlike xxhash/murmur which differ per engine. */
  def polyHash(s: Column): Column =
    aggregate(split(s, ""), lit(0L), (acc, ch) => (acc * 31 + ascii(ch)) % HashMod)

  /** DuckDB twin of [[polyHash]]. */
  def polyHashSql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), ${asciiCodesSql(s)}), " +
      s"(acc, x) -> (acc * 31 + x) % $HashMod)"

  /** The ascii code of each char of `s`. [[asciiCodesSql]] is its twin. */
  def asciiCodes(s: Column): Column = transform(split(s, ""), c => ascii(c))

  /** Twin of [[asciiCodes]], as a BIGINT list. */
  def asciiCodesSql(s: String): String =
    s"list_transform(string_split_regex($s, ''), c -> CAST(ascii(c) AS BIGINT))"

  // ---- MinHash + LSH dedup primitives ---------------------------------
  // Pipeline (shingle -> minhash -> band -> bucket-join) per the classic
  // Broder construction. All integer arithmetic stays < 2^63 and is
  // reproduced verbatim in the DuckDB oracle SQL, so signatures are
  // engine-independent.

  val HashMod = 1000000007L
  val MinhashPrime = 2147483647L

  /** Direct hash of a 3-char shingle:
    * ((a*31 + b)*31 + c) % HashMod over the ascii codes. */
  def shingleHash3(s: Column): Column =
    ((ascii(substring(s, 1, 1)) * 31L + ascii(substring(s, 2, 1))) * 31L
      + ascii(substring(s, 3, 1))) % HashMod

  /** Fused `transform(shingles(text, 3), shingleHash3)` as the native
    * one-pass expression [[ShingleHashes]] (`shingle_hashes`,
    * registered by `GraftExtensions`) — no per-shingle string
    * materialization; element-for-element identical output
    * (spec-checked). The first full-corpus map stage of the dedup
    * family, so the allocation win is proportional to corpus bytes. */
  def shingleHashes(text: Column): Column =
    call_function("shingle_hashes", lower(text))

  /** Per-function minhash seeds: a_i = 2i+1, b_i = 7919i+123. */
  def minhashA(i: Int): Long = 2L * i + 1
  def minhashB(i: Int): Long = 7919L * i + 123

  /** MinHash signature (array of k longs) over an array of shingle
    * hashes: sig[i] = min over h of (a_i*h + b_i) % MinhashPrime. */
  def minhashSignature(shingleHashes: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingleHashes,
        h => (lit(minhashA(i)) * h + lit(minhashB(i))) % MinhashPrime))
    }: _*)

  /** [[minhashSignature]] as the native fused-loop codegen expression
    * `minhash_sig` ([[MinhashSignature]], registered by
    * `GraftExtensions`) — one pass over the hash array instead of k
    * interpreted higher-order-function passes; bit-identical output
    * (spec-checked against the SQL form). */
  def minhashSignatureNative(shingleHashes: Column, k: Int): Column =
    call_function("minhash_sig", shingleHashes, lit(k))

  /** LSH band key: polynomial combine of `rowsPerBand` consecutive
    * signature entries of band `bandIdx` (0-based). Max value
    * ~ 2^31 * 31^3 < 2^63, no mod needed. */
  def bandKey(sig: Column, bandIdx: Int, rowsPerBand: Int): Column =
    (0 until rowsPerBand).map { r =>
      element_at(sig, bandIdx * rowsPerBand + r + 1)
    }.reduce((acc, m) => acc * 31L + m)

  /** 16-bit SimHash over an array of (token) hashes: bit b is set iff
    * sum over tokens of (2*((h>>b)&1) - 1) >= 0. */
  def simhash16(tokenHashes: Column): Column =
    (0 until 16).map { b =>
      val bitSum = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b) % 2) * 2 - 1)
      when(bitSum >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
}
