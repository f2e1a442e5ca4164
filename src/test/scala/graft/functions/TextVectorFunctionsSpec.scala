package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextVectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens / counts / punct on hand cases") {
    val r = Seq("  the quick, brown fox!  ").toDF("t")
      .select(TextFunctions.tokenCount($"t").as("n"),
        TextFunctions.punctCount($"t").as("p"),
        TextFunctions.subTokenCount($"t").as("s"))
      .collect().head
    assert(r.getInt(0) == 4)
    assert(r.getInt(1) == 2) // ',' and '!'
    assert(r.getInt(2) == 6) // the, quick, ',', brown, fox, '!'
  }

  test("whitespace rule: blank, NULL, one-token and tab-leading texts") {
    // trim drops spaces only: the tab-leading text keeps a leading '' token
    val texts = Seq("", "   ", null, "Tok", "\tx")
    val got = texts.toDF("t")
      .select(TextFunctions.tokens($"t").as("toks"),
        TextFunctions.tokenCount($"t").as("n"),
        TextFunctions.wordBigrams(TextFunctions.tokens($"t"), "_").as("bg"),
        TextFunctions.qualityMetrics($"t").as("m"),
        TextFunctions.langId($"t").as("lang"))
      .collect()
    def opt[A](r: org.apache.spark.sql.Row, f: String): Option[A] =
      Option(r.getAs[A](f))
    def list(r: org.apache.spark.sql.Row, f: String): Option[Seq[String]] =
      opt[collection.Seq[String]](r, f).map(_.toSeq)
    assert(got.map(list(_, "toks")).toSeq ==
      Seq(Some(Nil), Some(Nil), None, Some(Seq("Tok")), Some(Seq("", "x"))))
    assert(got.map(r => opt[Int](r, "n")).toSeq == Seq(Some(0), Some(0), None, Some(1), Some(2)))
    assert(got.map(list(_, "bg")).toSeq ==
      Seq(Some(Nil), Some(Nil), Some(Nil), Some(Nil), Some(Seq("_x"))))
    val m = got.map(_.getAs[org.apache.spark.sql.Row]("m"))
    assert(m.map(r => opt[Long](r, "n_tokens")).toSeq ==
      Seq(Some(0L), Some(0L), None, Some(1L), Some(2L)))
    // ('' + 'x') * 100 / 2 tokens; no tokens -> 0
    assert(m.map(_.getAs[Long]("mean_tok_len_x100")).toSeq == Seq(0L, 0L, 0L, 300L, 50L))
    assert(got.map(_.getAs[String]("lang")).toSeq == Seq.fill(5)("und"))
  }

  test("elementCountStats: run-length scan equals brute-force counts") {
    val cases = Seq(
      (Seq.empty[String], 0L, 0L),            // empty -> (0, 0)
      (Seq("a"), 1L, 1L),                     // single element
      (Seq("a", "a", "a"), 3L, 0L),           // all same
      (Seq("a", "b", "c"), 1L, 3L),           // all distinct
      (Seq("b", "a", "b", "c", "a", "b"), 3L, 1L)) // mixed, unsorted
    val got = cases.map(_._1).toDF("arr")
      .select(TextFunctions.elementCountStats($"arr").as("s"))
      .select($"s.top_c", $"s.n_singleton").collect()
    cases.zip(got).foreach { case ((arr, top, single), r) =>
      assert(r.getLong(0) == top, s"top_c of $arr")
      assert(r.getLong(1) == single, s"n_singleton of $arr")
      // dup mass identity used by q94
      val dupMass = arr.groupBy(identity).values.filter(_.size >= 2).map(_.size).sum
      assert(arr.size - r.getLong(1) == dupMass, s"dup_mass of $arr")
    }
  }

  test("fingerprint equals the JVM-side polynomial fold") {
    val s = "hello world"
    val expect = s.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toInt) % 1000000007L)
    val got = Seq(s).toDF("t")
      .select(TextFunctions.polyHash($"t")).collect().head.getLong(0)
    assert(got == expect)
  }

  test("shingles are distinct lowercase n-grams") {
    val got = Seq("ABAB").toDF("t")
      .select(TextFunctions.shingles($"t", 2).as("sh"))
      .collect().head.getSeq[String](0)
    assert(got.toSet == Set("ab", "ba"))
  }

  test("identical texts share minhash signatures; disjoint texts do not") {
    val df = Seq("the cat sat on the mat today", "the cat sat on the mat today",
      "zq xv wk pj rn bl mm ggg")
      .toDF("t")
      .withColumn("sh", TextFunctions.shingles($"t", 3))
      .withColumn("hl", transform($"sh", s => TextFunctions.shingleHash3(s)))
      .withColumn("sig", TextFunctions.minhashSignature($"hl", 16))
    val sigs = df.select("sig").collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
    assert(sigs(0).length == 16)
  }

  test("simhash of identical token sets match and fit in 16 bits") {
    val df = Seq("alpha beta gamma", "gamma beta alpha", "delta epsilon zeta")
      .toDF("t")
      .withColumn("hs", transform(array_distinct(TextFunctions.tokens(lower($"t"))),
        tk => TextFunctions.polyHash(tk)))
      .select(TextFunctions.simhash16($"hs").as("sh"))
    val vals = df.collect().map(_.getLong(0))
    assert(vals(0) == vals(1)) // order-independent
    assert(vals.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("langId picks the marker-majority language, und when none") {
    val r = Seq("the cat and the dog is here",
      "der hund und die katze ist das",
      "xyzzy plugh")
      .toDF("t").select(TextFunctions.langId($"t").as("l"))
      .collect().map(_.getString(0))
    assert(r.toSeq == Seq("en", "de", "und"))
    // equal marker hits break alphabetically; markers match lower-cased tokens
    val ties = Seq("THE Der", "la the", "el la the and").toDF("t")
      .select(TextFunctions.langId($"t")).collect().map(_.getString(0))
    assert(ties.toSeq == Seq("de", "en", "en"))
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0; quantization stable") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 0.0, 0.0), Array(0.0, 5.0, 0.0)))
      .toDF("a", "b")
      .select(VectorFunctions.cosine($"a", $"b").as("c"))
    val vals = df.collect().map(_.getDouble(0))
    assert(math.abs(vals(0) - 1.0) < 1e-12)
    assert(vals(1) == 0.0)
  }

  test("native array_dot bit-matches the fold, incl. null/length/empty semantics") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 300).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1), Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // repartition defeats ConvertToLocalRelation: the comparison must
      // run through generated code
      val df = rows.toDF("id", "x", "y").repartition(3)
        .select(
          VectorFunctions.dot($"x", $"y").as("native"),
          VectorFunctions.dotFold($"x", $"y").as("fold"))
      // bit-identical, not approximately equal — the oracle hash
      // depends on it
      assert(df.filter($"native" =!= $"fold" ||
        $"native".isNull =!= $"fold".isNull).count() == 0)
      // fold semantics at the edges: length mismatch and null element
      // poison the result; empty arrays give 0.0
      val edges = spark.sql(
        """SELECT array_dot(array(1.0D, 2.0D), array(3.0D)) AS mismatch,
          |  array_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D)) AS withnull,
          |  array_dot(CAST(array() AS ARRAY<DOUBLE>),
          |            CAST(array() AS ARRAY<DOUBLE>)) AS empty""".stripMargin).head()
      assert(edges.isNullAt(0) && edges.isNullAt(1))
      assert(edges.getDouble(2) == 0.0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("native minhash_sig bit-matches the k-fold SQL form, incl. null/empty") {
    val rnd = new scala.util.Random(47)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(50) + 1)(rnd.nextLong().abs % 1000000007L))
    }
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = rows.toDF("id", "hl").repartition(3)
        .select(
          TextFunctions.minhashSignatureNative($"hl", 16).as("native"),
          TextFunctions.minhashSignature($"hl", 16).as("fold"))
      assert(df.filter(not($"native" <=> $"fold")).count() == 0)
      // edge semantics mirror k x array_min: null elements skipped,
      // empty / all-null input -> array of k nulls
      val edges = spark.sql(
        """SELECT minhash_sig(array(CAST(5 AS BIGINT), CAST(NULL AS BIGINT)), 4) AS skipnull,
          |  minhash_sig(CAST(array() AS ARRAY<BIGINT>), 4) AS empty,
          |  minhash_sig(array(CAST(NULL AS BIGINT)), 4) AS allnull""".stripMargin).head()
      val skipnull = edges.getSeq[Any](0)
      val viaFold = Seq.tabulate(4)(i =>
        (TextFunctions.minhashA(i) * 5L + TextFunctions.minhashB(i)) % TextFunctions.MinhashPrime)
      assert(skipnull == viaFold)
      assert(edges.getSeq[Any](1) == Seq(null, null, null, null))
      assert(edges.getSeq[Any](2) == Seq(null, null, null, null))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("lshBucket is deterministic and within [0, 2^planes)") {
    val v = Array.tabulate(64)(i => math.sin(i + 1))
    val df = Seq(v, v).toDF("v")
      .select(VectorFunctions.lshBucket($"v", 8, 64).as("b"))
    val got = df.collect().map(_.getLong(0))
    assert(got(0) == got(1))
    assert(got(0) >= 0 && got(0) < 256)
  }
}
