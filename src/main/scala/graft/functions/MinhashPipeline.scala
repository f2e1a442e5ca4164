package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.functions.DedupConfig.{K, Bands, Rpb, JaccThreshold, sizeRatioOk, sizeRatioOkSql}
import graft.operators.SetSimJoin

/** The near-duplicate pair path of the text-dedup family — the MinHash
  * gates (q41/q88 char 3-grams, q108/q127/q135 word bigrams, q121's
  * hot-capped self-join) and the persistent-index lifecycle
  * (q99/q109/q110/q112/q138) — each step defined once, beside the
  * DuckDB twin its oracles replay, so a retune (K, band layout, hash
  * constants, threshold) can never make the engine and its oracles
  * drift apart. Tuning constants live in [[DedupConfig]]; the native
  * expressions in [[TextFunctions]]; the class collapse and its
  * re-expansion in [[graft.operators.SetSimJoin]].
  *
  * Steps: corpus ([[copyCorpus]]) → shingles and hashes
  * ([[signedDocs]], [[signedDocsWord]], [[bitmapSignedDocs]]) →
  * min-hash bands ([[bandKeysOf]], optionally [[capBands]]) →
  * candidate pairs ([[bandPairs]], [[cappedCandidates]]) → exact verify
  * (the sorted kernel [[sortedJacc]]/[[verifyPairs]] for hashed lists,
  * the bitmap kernel `SetSimJoin.jaccardX1000` for the char-3-gram
  * universe). Which kernel a gate uses follows from its element
  * representation.
  *
  * Reference anchor: the verify-before-insert upsert contract of
  * `VariantLoad3.saveVariants:479-589` is what these indexes model at
  * corpus scale (candidate lookup + exact verify + insert-novel-only).
  */
object MinhashPipeline {

  /** The planted-copy corpus of q40/q88/q121/q127/q135: `d` plus an
    * exact copy of every 7th doc under doc_id + 100000, so the dedup
    * has known duplicates to find. [[copyCorpusSql]] is the twin. */
  def copyCorpus(d: DataFrame): DataFrame =
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))

  /** Twin of [[copyCorpus]] over `documents`; `cols` are the columns
    * after doc_id. */
  def copyCorpusSql(cols: String): String =
    s"""SELECT doc_id, $cols FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, $cols FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Sorted shingle-hash list + MinHash signature for a
    * (doc_id, lang, text) frame. `hl` is kept SORTED so verify is the
    * native allocation-free two-pointer `sorted_inter_count`;
    * shingling is the native one-pass `shingle_hashes` (no shingle
    * strings, no bitmap dictionary). */
  def signedDocs(df: DataFrame): DataFrame = df
    .select(col("doc_id"), col("lang"),
      sort_array(array_distinct(TF.shingleHashes(col("text")))).as("hl"))
    .withColumn("sz", size(col("hl")).cast("long"))
    .filter(col("sz") > 0)
    .withColumn("sig", TF.minhashSignatureNative(col("hl"), K))

  /** Word-bigram signing — the PRODUCTION shingle granularity (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better":
    * shingle on word n-grams; char 3-grams keep inter-document Jaccard
    * high on ANY corpus because real text shares the common trigrams).
    * Elements are hashed `tok tok` bigram strings (q92's scheme); `hl`
    * is kept SORTED for `sorted_inter_count`. Output (doc_id,
    * <passthru>, hl, sz, sig) — [[signedDocs]]'s shape minus `lang`, so
    * [[bandKeysOf]]/[[capBands]] compose unchanged. `passthru` names
    * extra input columns to carry through (q108 carries its class doc-id
    * list). [[wordDocsSql]] is the twin of the element lists. */
  def signedDocsWord(df: DataFrame, passthru: Seq[String] = Nil): DataFrame = {
    val keep = (col("doc_id") +: passthru.map(col)) :+
      TF.tokens(lower(col("text"))).as("t")
    val kept = col("doc_id") +: passthru.map(col)
    df.select(keep: _*)
      .filter(size(col("t")) >= 2)
      .select(kept :+ sort_array(wordHashes(col("t"))).as("hl"): _*)
      .withColumn("sz", size(col("hl")).cast("long"))
      .withColumn("sig", TF.minhashSignatureNative(col("hl"), K))
  }

  /** The distinct hashed `tok tok` word bigrams of a token list, the
    * element set of the word-granularity dedup (unsorted). */
  def wordHashes(toks: Column): Column =
    array_distinct(transform(TF.wordBigrams(toks, " "), b => TF.polyHash(b)))

  /** Char-3-gram signing with the verification bitmap, for the small
    * shingle universe (q41/q88): one frame carries the signature AND
    * the `SetSimJoin` bitmap, so the band self-join verifies inline and
    * never joins back to fetch sets. Input (doc_id, <carry>, text);
    * output (doc_id, <carry>, sz, bm, sig), materialized once because
    * both sides of the band self-join read it (and callers re-read it
    * for class member lists). */
  def bitmapSignedDocs(df: DataFrame): DataFrame =
    SetSimJoin.withBitmap(df.withColumn("sh", TF.shingles(col("text"), 3)),
        "doc_id", "sh")
      .withColumn("sig", TF.minhashSignatureNative(TF.shingleHashes(col("text")), K))
      .drop("text", "sh")
      .localCheckpoint(true)

  /** Exploded LSH band keys combined into ONE collision-free long
    * (band_key < 2^31 * 31^3, so `* Bands + band_idx` is injective):
    * single-column bucket spec == single-column join key. Input needs
    * a `sig` column (from [[signedDocs]]); output (doc_id, <passthru>,
    * bkey). [[sigBandCtes]] is the twin. */
  def bandKeysOf(df: DataFrame, passthru: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: passthru.map(col)
    df.select(keep :+ posexplode(array((0 until Bands).map(b =>
        TF.bandKey(col("sig"), b, Rpb)): _*)).as(Seq("band_idx", "band_key")): _*)
      .select(keep :+ (col("band_key") * Bands + col("band_idx")).as("bkey"): _*)
  }

  /** The uncapped band self-join: every (a, b), a.doc_id < b.doc_id,
    * sharing a band key and passing the size-ratio cut. `bands` carries
    * `sz` (from [[bandKeysOf]]'s passthru); the caller verifies the
    * joined `a.*`/`b.*` columns inline. A pair colliding in several
    * bands appears once per band: verifying per collision and taking
    * `distinct` of the survivors is cheaper than a full shuffle dedup
    * of the candidate stream. Band keys are uniform min-hash outputs,
    * so the one shuffle stays balanced at any scale. */
  def bandPairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
      col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id") &&
        sizeRatioOk(col("a.sz"), col("b.sz")))

  /** [[bandPairs]] verified by the bitmap kernel over
    * [[bitmapSignedDocs]] rows: (ra, rb, jacc_x1000) per surviving
    * band collision. The band frame keeps the doc-level row width (id,
    * sz, bm, bkey): class member lists re-attach to survivors only
    * (carrying `dids` through this join doubled q41). */
  def bitmapBandPairs(sig: DataFrame): DataFrame =
    bandPairs(bandKeysOf(sig, passthru = Seq("sz", "bm")))
      .withColumn("jacc_x1000", SetSimJoin.jaccardX1000(
        col("a.bm"), col("b.bm"), col("a.sz"), col("b.sz")))
      .filter(col("jacc_x1000") >= JaccThreshold)
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"), col("jacc_x1000"))

  /** The sorted kernel: adds `inter` (native two-pointer
    * `sorted_inter_count` of the sorted lists `hl_a`/`hl_b`) and
    * `jacc_x1000` = floor(1000·J) from the sizes `sz_a`/`sz_b`, and
    * keeps the rows at or above [[DedupConfig.JaccThreshold]]. The
    * size-ratio cut is the caller's: in its join condition
    * ([[bandPairs]]) or in [[verifyPairs]]. [[verifySql]] is the
    * twin. */
  def sortedJacc(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("inter", call_function("sorted_inter_count", col("hl_a"), col("hl_b")))
      .withColumn("jacc_x1000", expr("inter * 1000 DIV (sz_a + sz_b - inter)"))
      .filter(col("jacc_x1000") >= JaccThreshold)

  /** The sorted-list pair verify: candidate pairs `cand` (ids in
    * columns `a`, `b`) fetch their lists from `left`/`right`
    * (doc_id, hl, sz — `hl` sorted), pass the size-ratio necessary
    * condition BEFORE any intersection, then [[sortedJacc]]. Returns
    * (a, b, jacc_x1000); [[verifySql]] is the twin. Callers `distinct`
    * the candidates first so each pair pays one intersect. Two empty
    * lists would divide 0 by 0 (an error under ANSI): the signing steps
    * drop empty sets before any verify. */
  def verifyPairs(cand: DataFrame, a: String, b: String,
                  left: DataFrame, right: DataFrame): DataFrame =
    sortedJacc(cand
      .join(left.select(col("doc_id").as(a), col("hl").as("hl_a"), col("sz").as("sz_a")), a)
      .join(right.select(col("doc_id").as(b), col("hl").as("hl_b"), col("sz").as("sz_b")), b)
      .filter(sizeRatioOk(col("sz_a"), col("sz_b"))))
      .select(col(a), col(b), col("jacc_x1000"))

  /** HOT-BUCKET CONTROL for the LSH band self-join: a band bucket of
    * m docs contributes m·(m-1)/2 candidate pairs, and on
    * boilerplate-dense content m explodes (q41 engine-only sf1:
    * 891 s from ~20.5M candidates, artifacts/r9_engine_sf1.json —
    * and at 100 TB boilerplate shards ARE that pathology). Naive
    * truncation is the wrong fix: the hot buckets are exactly where
    * exact-copy families land, so cutting them cuts the true
    * duplicates. (Splitting by MINHASH-SIGNATURE hash fails the same
    * way on degenerate content: measured on the sf0.01 corpus, 572
    * docs share 8 distinct full signatures — a signature cannot
    * split what it cannot distinguish.) Instead, a bucket exceeding
    * `cap` members is SPLIT by CONTENT FINGERPRINT (`sg`,
    * [[contentFp]] of the sorted shingle-hash list `hl`): docs with an
    * identical shingle SET — exact copies and J=1.0 rewrites — stay
    * co-grouped and their pairs survive; everything else in the hot
    * bucket is separated and generates no candidates. An over-cap
    * bucket thus degrades gracefully from NEAR-dup to EXACT(-set)-dup
    * detection — the production tradeoff: boilerplate buckets are
    * dominated by literal copies, and the sub-1.0 pairs that only ever
    * collide in hot bands are the measured recall cost
    * (artifacts/r10_hotcap_quality.json). Each (bucket, group) is
    * additionally capped at the `cap` lowest doc_ids (deterministic
    * tie-break, replayed by [[capBandsCte]]) as the hard bound for
    * monster copy-families, so a hot bucket's candidates are
    * O(m·cap) instead of O(m²). Output (doc_id, bkey, grp):
    * self-join on (bkey, grp). 100 TB: both windows partition by
    * bkey(, grp) — the band join's own shuffle key — so candidate
    * generation still costs ONE exchange. */
  def capBands(wsig: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = bandKeysOf(wsig.withColumn("sg", contentFp(col("hl"))),
      passthru = Seq("sg"))
    val hot = count(lit(1)).over(Window.partitionBy(col("bkey"))) > cap
    bands
      .withColumn("grp", when(hot, col("sg")).otherwise(lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bkey"), col("grp")).orderBy(col("doc_id"))))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("bkey"), col("grp"))
  }

  /** The hot-capped candidate self-join: [[capBands]] (materialized
    * once — both sides of the join read it; the window pipeline would
    * otherwise run twice), joined on (bkey, grp), DISTINCT before any
    * verify. Returns (doc_a, doc_b), doc_a < doc_b; its twin is the
    * `{out}cand` CTE of [[hotCapPairsCtes]]. */
  def cappedCandidates(sig: DataFrame, cap: Int): DataFrame = {
    val capped = capBands(sig, cap).localCheckpoint(true)
    capped.as("a").join(capped.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.grp") === col("b.grp") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Verified near-dup pairs through the hot-capped self-join
    * (q121/q127): (doc_a, doc_b, jacc_x1000). `sig` (from
    * [[signedDocs]] or [[signedDocsWord]]) feeds banding and both
    * verify sides, so the caller materializes it. [[hotCapPairsCtes]]
    * is the twin. */
  def hotCapPairs(sig: DataFrame, cap: Int): DataFrame =
    verifyPairs(cappedCandidates(sig, cap), "doc_a", "doc_b", sig, sig)

  /** Content fingerprint of a list: the left fold
    * `(acc * 31 + x) % HashMod` from 0, in list order, so equal lists
    * share it and differing ones almost surely don't. A caller that
    * wants a SET fingerprint sorts first (shingle sets: exact copies
    * and J=1.0 rewrites; [[signedDocs]]' `hl` is sorted by
    * construction). The hot-bucket split key of [[capBands]],
    * [[verifiedDupPairsCapped]] and `IvfKmeans.capCells`, and the
    * token-gram and chunk fingerprints of q77, q93 and q104.
    * [[contentFpSql]] is the twin. */
  def contentFp(list: Column): Column =
    aggregate(list, lit(0L), (a, x) => (a * 31 + x) % TF.HashMod)

  /** Twin of [[contentFp]] over a DuckDB list expression; the caller
    * passes `list_sort(hl)` for the oracles' unsorted shingle lists. */
  def contentFpSql(list: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $list), (a, x) -> (a * 31 + x) % ${TF.HashMod})"

  /** Verified near-duplicate PAIRS of a signed wave against the
    * persistent bucketed index — the ENGINE side of the
    * verify-before-insert contract, one definition for the whole index
    * lifecycle (q99 build, q109 stream, q110 compact, q112 retract).
    * Shape: band-key equi-join for candidates (the index side enters
    * exchange-free from its bucketed scan), then [[verifyPairs]].
    * Returns (idx_id, w_id, jacc_x1000); [[verifiedDupPairsSql]] is the
    * twin.
    *
    * `wsig` must come from [[signedDocs]] (sorted `hl`) and should be
    * materialized by the caller (localCheckpoint) — it feeds both the
    * banding and the verify join here, plus whatever the caller does
    * with the result. */
  def verifiedDupPairs(wsig: DataFrame, docTable: String,
                       bandTable: String): DataFrame = {
    val ss = wsig.sparkSession
    val cand = bandKeysOf(wsig).withColumnRenamed("doc_id", "w_id")
      .join(ss.table(bandTable), "bkey") // index side exchange-free
      .select(col("w_id"), col("doc_id").as("idx_id"))
      .distinct()
    verifyPairs(cand, "idx_id", "w_id", ss.table(docTable), wsig)
  }

  /** HOT-BUCKET CONTROL for the wave-vs-INDEX candidate join — the
    * production form of [[verifiedDupPairs]] for copy-dense corpora.
    *
    * The scaling study (artifacts/r16_scaling_study.md) measured
    * the uncapped wave-vs-index band join as the LAST super-linear
    * candidate generator in the engine: a band bucket holding m index
    * docs pairs EVERY colliding wave doc with all m, so when exact-copy
    * families grow with the corpus (boilerplate at 100 TB; the gen_sf
    * scale-ups by construction), candidates grow ∝ family², and
    * q109/q110 measured walls ∝ scale^1.3 where their capped siblings
    * (q121/q127) hold ~linear. Same cure as [[capBands]], adapted to
    * the two-sided join:
    *
    *  - the INDEX side of a bucket whose occupancy exceeds `cap` is
    *    SPLIT by content fingerprint ([[contentFp]]) and each
    *    (bkey, grp) group kept to the `cap` lowest doc_ids — exact-copy
    *    families stay findable (any member represents the family),
    *    differing-content boilerplate collisions stop pairing;
    *  - each WAVE row computes the same group key — its own fp when
    *    the bucket is hot (from an index-side occupancy count), else 0
    *    — so the equi-join key becomes (bkey, grp) and a hot bucket's
    *    candidates are O(wave·cap), never O(wave·m);
    *  - a wave doc in a hot bucket therefore matches only its own
    *    exact-set family there — the measured degrade-to-exact-dup
    *    tradeoff of [[capBands]], priced by the q138 gate.
    *
    * Scale shape: the band table (bucketed on bkey) feeds BOTH the
    * occupancy count and the windowed cap EXCHANGE-FREE (window/agg
    * partition keys = the bucket key); the wave pays its one bkey
    * shuffle, which the (bkey, grp) join then reuses (bkey alone
    * co-locates every (bkey, grp) key). Requires the band table to
    * carry an `sg` = [[contentFp]] column (write band rows via
    * `bandKeysOf(sig.withColumn("sg", contentFp($"hl")), Seq("sg"))`).
    * [[verifiedDupCappedCte]] is the oracle mirror. */
  def verifiedDupPairsCapped(wsig: DataFrame, docTable: String,
                             bandTable: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ss = wsig.sparkSession
    val ib = ss.table(bandTable) // (doc_id, bkey, sg), bucketed on bkey
    val hot = count(lit(1)).over(Window.partitionBy(col("bkey"))) > cap
    val idx = ib
      .withColumn("grp", when(hot, col("sg")).otherwise(lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bkey"), col("grp")).orderBy(col("doc_id"))))
      .filter(col("rn") <= cap)
      .select(col("doc_id").as("idx_id"), col("bkey"), col("grp"))
    val occ = ib.groupBy(col("bkey")).agg(count(lit(1)).as("occ"))
    val wb = bandKeysOf(wsig.withColumn("sg", contentFp(col("hl"))),
        passthru = Seq("sg"))
      .withColumnRenamed("doc_id", "w_id")
      .join(occ, Seq("bkey")) // inner: a bkey absent from the index has no candidates
      .withColumn("grp", when(col("occ") > cap, col("sg")).otherwise(lit(0L)))
      .select(col("w_id"), col("bkey"), col("grp"))
    val cand = wb.join(idx, Seq("bkey", "grp"))
      .select(col("w_id"), col("idx_id")).distinct()
    verifyPairs(cand, "idx_id", "w_id", ss.table(docTable), wsig)
  }

  /** The ACCEPT side of the capped contract — [[acceptAgainstIndex]]
    * with [[verifiedDupPairsCapped]] as the candidate generator. */
  def acceptAgainstIndexCapped(wsig: DataFrame, docTable: String,
                               bandTable: String, cap: Int): DataFrame =
    wsig.join(
      verifiedDupPairsCapped(wsig, docTable, bandTable, cap)
        .select(col("w_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** The ACCEPT side of the contract: wave docs with no verified match
    * in the index (these are what an epoch commit appends). Anti-join
    * keeps every `wsig` column, so staged novelties carry their
    * signature through to the commit. */
  def acceptAgainstIndex(wsig: DataFrame, docTable: String,
                         bandTable: String): DataFrame =
    wsig.join(
      verifiedDupPairs(wsig, docTable, bandTable)
        .select(col("w_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  // ---- DuckDB twins ----------------------------------------------------

  /** Twin of `TF.shingles(text, 3)`: `name(<keep>, sh)`, the distinct
    * char 3-grams of lower(text) over `src`. A text shorter than 3
    * characters is its own single shingle (the empty text too), as in
    * the engine; [[shingleHashesSql]] then reads its missing characters
    * as ascii('') = 0, which is the native `shingle_hashes` rule. */
  def shinglesCte(name: String, keep: String, src: String): String =
    s"""$name AS (
       |  SELECT $keep, list_distinct(CASE WHEN len(t) < 3 THEN [t]
       |    ELSE [substr(t, i, 3) FOR i IN generate_series(1, len(t) - 2)] END) AS sh
       |  FROM (SELECT $keep, lower(text) AS t FROM $src))""".stripMargin

  /** Twin of `TF.shingleHash3` over a shingle list `sh`. */
  def shingleHashesSql(sh: String): String =
    s"""list_transform($sh, s ->
       |    CAST(((ascii(substr(s, 1, 1)) * 31 + ascii(substr(s, 2, 1))) * 31
       |          + ascii(substr(s, 3, 1))) % ${TF.HashMod} AS BIGINT))""".stripMargin

  /** Twin of [[signedDocsWord]]'s element lists: `SELECT <keep>, hl,
    * sz` over `src` (carrying <keep> and `text`), docs with >= 2
    * tokens, `hl` the distinct hashed word bigrams (unsorted). */
  def wordDocsSql(keep: String, src: String): String =
    s"""SELECT $keep, hl, CAST(len(hl) AS BIGINT) AS sz FROM (
       |    SELECT $keep, list_distinct(list_transform(
       |      ${TF.wordBigramsSql("t", " ")}, s -> ${TF.polyHashSql("s")})) AS hl
       |    FROM (SELECT $keep, ${TF.tokensSql("lower(text)")} AS t FROM $src)
       |    WHERE len(t) >= 2)""".stripMargin

  /** Twin of the K-column min-hash signature and [[bandKeysOf]]:
    * `{prefix}sig` over the `hl` lists of `lists` (keyed by `id`) and
    * `{prefix}bands(id, bkey)`. */
  def sigBandCtes(prefix: String, id: String, lists: String): String = {
    val sigCols = (0 until K).map(i =>
      s"list_min(list_transform(hl, h -> (${TF.minhashA(i)} * h + ${TF.minhashB(i)}) % ${TF.MinhashPrime})) AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until Rpb).map(r => s"m${b * Rpb + r}")
        .reduce((acc, m) => s"($acc * 31 + $m)")
      s"SELECT $id, ($key) * $Bands + $b AS bkey FROM ${prefix}sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""${prefix}sig AS (SELECT $id, $sigCols FROM $lists),
       |${prefix}bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** Distinct band-collision candidates `(ra, rb)`, ra < rb, over
    * `{prefix}bands` keyed by `id` — the uncapped candidate set of
    * [[bandPairs]] before its size-ratio cut (which [[verifySql]]
    * applies). */
  def bandCandidatesSql(prefix: String, id: String): String =
    s"""SELECT DISTINCT a.$id AS ra, b.$id AS rb
       |  FROM ${prefix}bands a JOIN ${prefix}bands b
       |    ON a.bkey = b.bkey AND a.$id < b.$id""".stripMargin

  /** The oracles' exact shingle dictionary: `shdict` maps every shingle
    * of `src`'s `sh` lists to a dense id (collision-free by
    * construction), and `name(key, <carry>, ids, sz)` holds each row's
    * sorted id list — so the per-pair intersect runs on sorted INT
    * lists, not VARCHAR lists, and union = sz_a + sz_b - inter.
    * MATERIALIZED: the verify reads it for both sides of every pair. */
  def shingleDictCtes(name: String, src: String, key: String,
                      carry: Seq[String]): String = {
    val anyv = carry.map(c => s"any_value(u.$c) AS $c, ").mkString
    val sel = carry.map(c => s", $c").mkString
    s"""shdict AS (SELECT s, row_number() OVER (ORDER BY s) AS sid
       |           FROM (SELECT DISTINCT unnest(sh) AS s FROM $src)),
       |$name AS MATERIALIZED (
       |  SELECT u.$key, ${anyv}list_sort(list(d.sid)) AS ids, count(*) AS sz
       |  FROM (SELECT $key$sel, unnest(sh) AS s FROM $src) u
       |  JOIN shdict d ON d.s = u.s
       |  GROUP BY u.$key)""".stripMargin
  }

  /** DuckDB CTE block replaying shingle → minhash → band derivation
    * for `src` (doc_id, lang, text) under `prefix` — the twin of
    * [[signedDocs]]/[[bandKeysOf]], shared by the index-family and q121
    * oracles. Emits `{prefix}docs(doc_id, lang, hl, sz)` and
    * `{prefix}bands(doc_id, bkey)`. */
  def minhashCtes(prefix: String, src: String): String =
    s"""${shinglesCte(s"${prefix}sh", "doc_id, lang", src)},
       |${prefix}docs AS (
       |  SELECT doc_id, lang, hl, CAST(len(hl) AS BIGINT) AS sz FROM (
       |    SELECT doc_id, lang, list_distinct(${shingleHashesSql("sh")}) AS hl
       |    FROM ${prefix}sh)
       |  WHERE len(hl) > 0),
       |${sigBandCtes(prefix, "doc_id", s"${prefix}docs")}""".stripMargin

  /** DuckDB CTE block replaying the WORD-BIGRAM derivation of
    * [[signedDocsWord]] + [[bandKeysOf]] for `src` (doc_id, text) under
    * `prefix` — emits `{prefix}docs(doc_id, hl, sz)` and
    * `{prefix}bands(doc_id, bkey)`, the same contract as
    * [[minhashCtes]], so [[capBandsCte]] composes on either
    * granularity. */
  def minhashWordCtes(prefix: String, src: String): String =
    s"""${prefix}docs AS (
       |  ${wordDocsSql("doc_id", src)}),
       |${sigBandCtes(prefix, "doc_id", s"${prefix}docs")}""".stripMargin

  /** CLASS-level variant of [[minhashWordCtes]]: signatures, band keys
    * and Jaccard depend only on a document's TEXT, so docs with
    * identical text form one class (`{prefix}dt`, the twin of
    * `SetSimJoin.textClasses`) and the band self-join runs over class
    * representatives. Emits `{prefix}cls(rid, dids, hl, sz)` (one row
    * per distinct text passing the >= 2-token filter; `rid` = min
    * doc_id, `dids` = sorted doc ids) and `{prefix}bands(rid, bkey)`. */
  def minhashWordClassCtes(prefix: String, src: String): String =
    s"""${prefix}dt AS MATERIALIZED (
       |  SELECT text, list_sort(list(doc_id)) AS dids, min(doc_id) AS rid
       |  FROM $src GROUP BY text),
       |${prefix}cls AS MATERIALIZED (
       |  ${wordDocsSql("rid, dids", s"${prefix}dt")}),
       |${sigBandCtes(prefix, "rid", s"${prefix}cls")}""".stripMargin

  /** Twin of the sorted verify ([[verifyPairs]]/[[sortedJacc]]) and of
    * the bitmap kernel's result: over `from`, a FROM clause binding the
    * pair's two list rows as `x` and `y` (each with element list
    * `elems` and size `sz`), keeps the pairs passing the size-ratio cut
    * whose floor(1000·J) reaches [[DedupConfig.JaccThreshold]].
    * Returns the `keep` columns plus `jacc_x1000`. The intersect is
    * `list_intersect` over dictionary ids or hashed lists — the
    * oracles' own algorithm. */
  def verifySql(keep: String, from: String, elems: String): String =
    s"""SELECT * EXCLUDE (inter, szsum) FROM (
       |    SELECT *, inter * 1000 // (szsum - inter) AS jacc_x1000 FROM (
       |      SELECT $keep,
       |        CAST(len(list_intersect(x.$elems, y.$elems)) AS BIGINT) AS inter,
       |        x.sz + y.sz AS szsum
       |      FROM $from
       |      WHERE ${sizeRatioOkSql("x.sz", "y.sz")}))
       |  WHERE jacc_x1000 >= $JaccThreshold""".stripMargin

  /** Oracle mirror of [[capBands]] over `{prefix}bands`/`{prefix}docs`
    * (from [[minhashCtes]]) — emits `{out}cap(doc_id, bkey, grp)`
    * (`out` defaults to `prefix`; a non-default `out` lets several cap
    * rungs share ONE band/doc derivation — the q135 ladder). The
    * fingerprint folds the SORTED hl (the engine's `hl` is sorted by
    * construction; minhashCtes' is distinct-but-unsorted). */
  def capBandsCte(prefix: String, cap: Int, out: String = ""): String = {
    val o = if (out.isEmpty) prefix else out
    s"""${o}sg AS (SELECT doc_id, ${contentFpSql("list_sort(hl)")} AS sg FROM ${prefix}docs),
       |${o}cap AS (
       |  SELECT doc_id, bkey, grp FROM (
       |    SELECT doc_id, bkey, grp,
       |      row_number() OVER (PARTITION BY bkey, grp ORDER BY doc_id) AS rn
       |    FROM (
       |      SELECT b.doc_id, b.bkey,
       |        CASE WHEN count(*) OVER (PARTITION BY b.bkey) > $cap
       |             THEN s.sg ELSE 0 END AS grp
       |      FROM ${prefix}bands b JOIN ${o}sg s USING (doc_id)))
       |  WHERE rn <= $cap)""".stripMargin
  }

  /** Twin of [[hotCapPairs]]: [[capBandsCte]], `{out}cand(doc_a,
    * doc_b)` (the twin of [[cappedCandidates]]) and `{out}pairs(doc_a,
    * doc_b, jacc_x1000)` verified against `{prefix}docs`. */
  def hotCapPairsCtes(prefix: String, cap: Int, out: String = ""): String = {
    val o = if (out.isEmpty) prefix else out
    s"""${capBandsCte(prefix, cap, out)},
       |${o}cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${o}cap a JOIN ${o}cap b
       |    ON a.bkey = b.bkey AND a.grp = b.grp AND a.doc_id < b.doc_id),
       |${o}pairs AS (
       |  ${verifySql("c.doc_a, c.doc_b",
           s"${o}cand c JOIN ${prefix}docs x ON x.doc_id = c.doc_a " +
             s"JOIN ${prefix}docs y ON y.doc_id = c.doc_b", "hl")})""".stripMargin
  }

  /** Twin of [[verifiedDupPairs]]: (w_id, idx_id, jacc_x1000) for the
    * wave `{wPfx}docs`/`{wPfx}bands` (from [[minhashCtes]]) against
    * the index `idxDocs`/`idxBands`. */
  def verifiedDupPairsSql(wPfx: String, idxDocs: String, idxBands: String): String =
    verifySql("c.w_id, c.idx_id",
      s"""(SELECT DISTINCT w.doc_id AS w_id, i.doc_id AS idx_id
         |        FROM ${wPfx}bands w JOIN $idxBands i ON w.bkey = i.bkey) c
         |      JOIN ${wPfx}docs x ON x.doc_id = c.w_id
         |      JOIN $idxDocs y ON y.doc_id = c.idx_id""".stripMargin, "hl")

  /** The distinct wave docs of [[verifiedDupPairsSql]] — the dup side
    * of [[acceptAgainstIndex]]. */
  def verifiedDupCte(wPfx: String, idxDocs: String, idxBands: String): String =
    s"SELECT DISTINCT w_id FROM (${verifiedDupPairsSql(wPfx, idxDocs, idxBands)})"

  /** Oracle mirror of [[verifiedDupPairsCapped]] +
    * [[acceptAgainstIndexCapped]]'s dup side: distinct wave docs with
    * a verified match through the HOT-BUCKET-CAPPED candidate join.
    * Index-side hot buckets (occupancy > cap) split by the content
    * fingerprint and keep the `cap` lowest doc_ids per (bkey, grp);
    * wave rows compute the same group key from the index occupancy.
    * The fold list_sorts `hl` because [[minhashCtes]]' lists are
    * distinct-but-unsorted (the engine's are sorted already) — same
    * convention as [[capBandsCte]]. */
  def verifiedDupCappedCte(wPfx: String, idxDocs: String,
                           idxBands: String, cap: Int): String = {
    val fp = contentFpSql("list_sort(hl)")
    val cand =
      s"""(
         |      SELECT DISTINCT w.w_id, i.idx_id FROM (
         |        SELECT wb.doc_id AS w_id, wb.bkey,
         |          CASE WHEN o.occ > $cap THEN ws.sg ELSE 0 END AS grp
         |        FROM ${wPfx}bands wb
         |        JOIN (SELECT doc_id, $fp AS sg
         |              FROM ${wPfx}docs) ws ON ws.doc_id = wb.doc_id
         |        JOIN (SELECT bkey, count(*) AS occ
         |              FROM $idxBands GROUP BY 1) o ON o.bkey = wb.bkey
         |      ) w JOIN (
         |        SELECT doc_id AS idx_id, bkey, grp FROM (
         |          SELECT doc_id, bkey, grp,
         |            row_number() OVER (PARTITION BY bkey, grp ORDER BY doc_id) AS rn
         |          FROM (
         |            SELECT ib.doc_id, ib.bkey,
         |              CASE WHEN count(*) OVER (PARTITION BY ib.bkey) > $cap
         |                   THEN s.sg ELSE 0 END AS grp
         |            FROM $idxBands ib
         |            JOIN (SELECT doc_id, $fp AS sg
         |                  FROM $idxDocs) s ON s.doc_id = ib.doc_id))
         |        WHERE rn <= $cap
         |      ) i ON i.bkey = w.bkey AND i.grp = w.grp) c
         |      JOIN ${wPfx}docs x ON x.doc_id = c.w_id
         |      JOIN $idxDocs y ON y.doc_id = c.idx_id""".stripMargin
    s"SELECT DISTINCT w_id FROM (${verifySql("c.w_id, c.idx_id", cand, "hl")})"
  }
}
