package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.functions.DedupConfig.{K, Bands, Rpb, JaccThreshold, sizeRatioOk}

/** The quadratic dedup baselines (q41/q43/q52/q92/q108) are
  * class-blocked on the ENGINE side (SetSimJoin.textClasses /
  * expandClassPairs — the oracles' class collapse, mirrored). The
  * oracles pin equivalence on the
  * driver corpora; this spec pins it against the RETAINED doc-level
  * forms (reproduced verbatim below) on two corpora: the sf0.001
  * driver corpus, and an edge corpus exercising exactly the cases the
  * re-expansion guards reason about — empty texts (NULL jaccard in the
  * doc form), sub-shingle-length texts, single-token texts (excluded
  * by the word-granularity filter), identical texts across languages
  * (lang-blocking), copy families, and DIFFERENT texts with the SAME
  * shingle set (cross-class J=1000 through the verify, not the
  * within-class expansion). */
class ClassBlockingEquivalenceSpec extends SparkSpec {

  private lazy val edgeDir: String = {
    val dir = s"${graft.queries.Fixtures.scratchRoot}/clsblock_edge"
    graft.queries.Fixtures.rmrf(new java.io.File(dir))
    import spark.implicits._
    val near = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (4L,  "en", ""),                          // empty text, class of 3
      (8L,  "en", ""),
      (12L, "de", ""),                          // empty text, other lang
      (16L, "en", "ab"),                        // < 3 chars: empty char-shingle set
      (20L, "en", "ab"),
      (24L, "en", "hello"),                     // 1 token: word-level excluded
      (28L, "en", "hello"),
      (32L, "en", near),                        // copy family of 4
      (36L, "en", near),
      (40L, "en", near),
      (44L, "en", near),
      (48L, "de", near),                        // same text, other lang
      (52L, "en", near + " x"),                 // near-dup of the family
      (56L, "en", "abcabc"),                    // same char-shingle SET as 60,
      (60L, "en", "bcabca"),                    //   different text (cross-class J=1000)
      (64L, "en", "x y"),                       // same token list as 68,
      (68L, "en", "x  y")                       //   different text (word-level J=1000)
    ).toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$dir")
    dir
  }

  // edge corpus is written once and read as `documents.parquet` via a
  // view of the directory layout the queries expect
  private lazy val edgeSfDir: String = {
    val dir = s"${graft.queries.Fixtures.scratchRoot}/clsblock_sf"
    graft.queries.Fixtures.rmrf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val src = spark.read.parquet(edgeDir)
    src.coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val extra = got.exceptAll(want)
    val missing = want.exceptAll(got)
    assert(extra.isEmpty && missing.isEmpty,
      s"$what drifted: extra=${extra.collect().take(5).toSeq} " +
        s"missing=${missing.collect().take(5).toSeq}")
  }

  // ---- doc-level reference forms (pre-r16 engine bodies, verbatim) ----

  private def docLsh(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), col("text"), TF.shingles(col("text"), 3).as("sh"))
    val bmdf = graft.operators.SetSimJoin.withBitmap(sh, "doc_id", "sh")
    val sig = bmdf
      .withColumn("hl", TF.shingleHashes(col("text")))
      .withColumn("sig", TF.minhashSignatureNative(col("hl"), K))
      .drop("text", "hl")
      .localCheckpoint(true)
    val bands = sig.select(col("doc_id"), col("sz"), col("bm"),
      posexplode(array((0 until Bands).map(b =>
        TF.bandKey(col("sig"), b, Rpb)): _*)).as(Seq("band_idx", "band_key")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id") &&
          sizeRatioOk(col("a.sz"), col("b.sz")))
      .withColumn("jacc_x1000", graft.operators.SetSimJoin.jaccardX1000(
        col("a.bm"), col("b.bm"), col("a.sz"), col("b.sz")))
      .filter(col("jacc_x1000") >= JaccThreshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("jacc_x1000"))
      .distinct()
  }

  private def docJaccardPairs(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), col("lang"), TF.shingles(col("text"), 3).as("sh"))
    val bm = graft.operators.SetSimJoin.withBitmap(sh, "doc_id", "sh")
      .select(col("doc_id"), col("lang"), col("sz"), col("bm"))
      .localCheckpoint(true)
    bm.as("a").join(broadcast(bm.as("b")),
        col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          sizeRatioOk(col("a.sz"), col("b.sz")))
      .withColumn("jacc_x1000", graft.operators.SetSimJoin.jaccardX1000(
        col("a.bm"), col("b.bm"), col("a.sz"), col("b.sz")))
      .filter(col("jacc_x1000") >= JaccThreshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("jacc_x1000"))
  }

  private def docWordLsh(docs: DataFrame): DataFrame = {
    val base = graft.functions.MinhashPipeline.signedDocsWord(docs)
      .localCheckpoint(true)
    val bands = graft.functions.MinhashPipeline.bandKeysOf(base, passthru = Seq("sz", "hl"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id") &&
          sizeRatioOk(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"),
        call_function("sorted_inter_count",
          col("a.hl"), col("b.hl")).as("inter"))
      .withColumn("jacc_x1000", expr("inter * 1000 DIV (sz_a + sz_b - inter)"))
      .filter(col("jacc_x1000") >= JaccThreshold)
      .select(col("doc_a"), col("doc_b"), col("jacc_x1000"))
      .distinct()
  }

  private def docPrefix(docs: DataFrame): DataFrame = {
    val bg = docs
      .filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), TF.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(1), size(col("t")) - 1),
          i => TF.polyHash(concat(element_at(col("t"), i), lit(" "),
            element_at(col("t"), i + 1))))).as("sh"))
    graft.operators.SetSimJoin.prefixFilterJoin(bg, "doc_id", "sh", 700)
  }

  private def corpora = Seq(
    "sf0.001" -> s"${graft.queries.Fixtures.testdataRoot}/sf0.001",
    "edge"    -> edgeSfDir)

  for ((name, dir) <- corpora) {
    lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text")

    test(s"q41 class-blocked == doc-level LSH pairs ($name corpus)") {
      val got = SparkEntry.queries("q41_dedup_minhash_lsh")(spark, dir)
      assertSameRows(got, docLsh(docs), "q41")
    }

    test(s"q43 class-blocked == doc-level bitmap pairs ($name corpus)") {
      val got = SparkEntry.queries("q43_dedup_ngram_jaccard")(spark, dir)
      assertSameRows(got, docJaccardPairs(docs), "q43")
    }

    test(s"q108 class-blocked == doc-level word-LSH pairs ($name corpus)") {
      val got = SparkEntry.queries("q108_dedup_minhash_word")(spark, dir)
      assertSameRows(got, docWordLsh(docs), "q108")
    }

    test(s"q92 class-blocked == doc-level prefix-filter pairs ($name corpus)") {
      val got = SparkEntry.queries("q92_dedup_prefix_filter")(spark, dir)
      assertSameRows(got,
        docPrefix(docs).select(col("id_a"), col("id_b"), col("jacc_x1000")), "q92")
    }
  }

  test("edge corpus exercises the guards non-vacuously") {
    val dir = edgeSfDir
    // the copy family must produce within-class pairs...
    val q41 = SparkEntry.queries("q41_dedup_minhash_lsh")(spark, dir)
    assert(q41.filter(col("jacc_x1000") === 1000).count() >= 6, "no J=1000 pairs")
    // ...the empty-text class pairs within itself at J=1000 (TF.shingles
    // maps sub-n texts to the singleton [text], so all empties share the
    // set {""} — engine semantics since r1, preserved by the collapse)
    // and nothing outside the class pairs with it
    assert(q41.filter(col("doc_a").isin(4L, 8L, 12L) ||
      col("doc_b").isin(4L, 8L, 12L)).count() === 3,
      "empty-text class must pair exactly within itself")
    // different texts with the same shingle set pair at J=1000
    assert(q41.filter(col("doc_a") === 56L && col("doc_b") === 60L).count() === 1,
      "same-set different-text pair missing")
  }
}
