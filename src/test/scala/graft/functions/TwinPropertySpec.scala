package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Every scalar `...Sql` twin of the variant, zygosity and DNA rules,
  * evaluated by Spark's SQL parser, equals its Column function on
  * seeded inputs that include NULL, '', '-', N and lower case — inputs
  * the synthetic corpus never produces, so the DuckDB oracles alone
  * cannot pin them. The twins use only constructs Spark SQL and DuckDB
  * share; the oracles run the same text in DuckDB on the corpus. */
class TwinPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(14)

  /** Hand-picked alleles: absent, empty, the '-' placeholder, N, lower
    * case, and the indel and multi-base shapes. */
  private val EdgeAlleles: Seq[String] =
    Seq(null, "", "-", "N", "n", "A", "a", "AT", "at", "ACG", "-A", "A-", "NAT", "AC", "GT", "ACGT")

  private def randomAllele(): String =
    if (rnd.nextInt(8) == 0) null
    else Seq.fill(rnd.nextInt(5))("ACGTNacgtn-"(rnd.nextInt(11))).mkString

  /** Asserts each (name, Column function, SQL twin) agrees null-safely
    * on every row of `df`, naming up to three disagreeing rows of each
    * twin that does not. */
  private def agree(df: DataFrame)(twins: (String, Column, String)*): Unit = {
    val both = df.select(col("*") +: twins.flatMap { case (n, c, sql) =>
      Seq(c.as(s"${n}__col"), expr(sql).as(s"${n}__sql")) }: _*).cache()
    try {
      val diffs = both.agg(count(lit(1)).as("rows"), twins.map { case (n, _, _) =>
        sum(when(!(col(s"${n}__col") <=> col(s"${n}__sql")), 1L).otherwise(0L)).as(n) }: _*)
        .head()
      assert(diffs.getLong(0) > 0L)
      val failed = twins.map(_._1).filter(n => diffs.getAs[Long](n) > 0L).map { n =>
        val rows = both.filter(!(col(s"${n}__col") <=> col(s"${n}__sql")))
          .select(df.columns.map(col) :+ col(s"${n}__col") :+ col(s"${n}__sql"): _*)
          .limit(3).collect()
        s"$n: Column and SQL twin differ on ${rows.mkString("; ")}"
      }
      if (failed.nonEmpty) fail(failed.mkString("\n"))
    } finally both.unpersist()
  }

  test("variant typing, end position, frameshift and indel padding twins equal their Column functions") {
    import VariantFunctions._
    val pairs = (for (r <- EdgeAlleles; v <- EdgeAlleles) yield (r, v)) ++
      Seq.fill(400)((randomAllele(), randomAllele()))
    val df = pairs.zipWithIndex.map { case ((r, v), i) =>
      (r, v, if (i % 11 == 0) None else Some(1L + rnd.nextInt(3000000)))
    }.toDF("r", "v", "pos")
    val (r, v, pos) = (col("r"), col("v"), col("pos"))
    val adj = adjustForIndels(pos, r, v)
    agree(df)(Seq(
      ("variantType", variantType(r, v), variantTypeSql("r", "v")),
      ("variantTypeFixup", variantTypeFixup(r, v), variantTypeFixupSql("r", "v")),
      ("endPos", endPos(pos, r, v), endPosSql("pos", "r", "v")),
      ("frameshiftFlag", frameshiftFlag(r, v), frameshiftFlagSql("r", "v"))) ++
      adjustForIndelsSql("pos", "r", "v").map { case (f, sql) =>
        (s"adjustForIndels_$f", adj.getField(f), sql) }: _*)
  }

  test("quality-score twin equals its Column function on NULL, zero, negative and large depths") {
    val depths: Seq[Option[Int]] = None +:
      Seq(0, 1, 2, 3, 7, 99, 100, -1, -2, -7, -100, 1000000, Int.MaxValue / 100, Int.MaxValue)
        .map(Some(_))
    // pairs whose score fits an INT (a larger one overflows the cast in both)
    val pairs = for (r <- depths; t <- depths
      if !r.zip(t).exists { case (r, t) => t > 0 && ((100L * r + t / 2) / t).abs > Int.MaxValue })
      yield (r, t)
    agree(pairs.toDF("rd", "td"))(
      ("qualityScore", VariantFunctions.qualityScore(col("rd"), col("td")),
        VariantFunctions.qualityScoreSql("rd", "td")))
  }

  test("synonymous-status twin equals its Column function") {
    val aas = Seq(null, "", "X", "x", "M", "m", "K", "*", "skipped")
    agree((for (a <- aas; b <- aas) yield (a, b)).toDF("a", "b"))(
      ("synStatus", VariantFunctions.synStatus(col("a"), col("b")),
        VariantFunctions.synStatusSql("a", "b")))
  }

  test("zygosity twins equal their Column functions on PAR bounds, genders and percent thresholds") {
    import ZygosityFunctions._
    val chrs = Seq(null, "X", "Y", "x", "1", "")
    val bounds = Par.flatMap(_._2).flatMap { case (lo, hi) => Seq(lo - 1, lo, lo + 1, hi - 1, hi, hi + 1) }
    val poss: Seq[Option[Long]] = None +: (bounds ++ Seq(0L, 5000000L, 100000000L)).distinct.map(Some(_))
    val genders = Seq(null, "M", "P", "F", "m", "")
    val pcts: Seq[Option[Double]] =
      None +: Seq(0.0, 14.9, 15.0, 15.0001, 50.0, 84.999, 85.0, 99.99, 100.0, 100.5).map(Some(_))
    val df = (for (c <- chrs; p <- poss; g <- genders) yield (c, p, g, pcts(rnd.nextInt(pcts.size))))
      .toDF("chr", "pos", "gender", "pct")
    val (chr, pos, gender, pct) = (col("chr"), col("pos"), col("gender"), col("pct"))
    agree(df)(
      ("inPar", inPar(chr, pos), inParSql("chr", "pos")),
      ("zygosityStatus", zygosityStatus(pct, chr, pos, gender),
        zygosityStatusSql("pct", "chr", "pos", "gender")),
      ("inPseudoFlag", inPseudoFlag(chr, pos, gender), inPseudoFlagSql("chr", "pos", "gender")),
      ("statusLadder", statusLadder(pct), statusLadderSql("pct")),
      ("possibleErrorFlag", possibleErrorFlag(pct), possibleErrorFlagSql("pct")),
      ("percentInt", percentInt(pct), percentIntSql("pct")))
  }

  test("read-count twins equal their Column functions, including NULL and zero counts") {
    import ZygosityFunctions._
    def cnt(): Option[Int] = rnd.nextInt(6) match {
      case 0 => None
      case 1 => Some(0)
      case _ => Some(rnd.nextInt(40))
    }
    val refs = Seq(null, "", "-", "N", "A", "C", "G", "T", "a", "t", "AC")
    val df = Seq.fill(400)((refs(rnd.nextInt(refs.size)), cnt(), cnt(), cnt(), cnt()))
      .toDF("ref", "a", "c", "g", "t")
    val Seq(a, c, g, t) = Seq("a", "c", "g", "t").map(col)
    agree(df)(
      ("percentRead", percentRead(a, c), percentReadSql("a", "c")),
      ("refAlleleFlag", refAlleleFlag(col("ref"), a, c, g, t),
        refAlleleFlagSql("ref", "a", "c", "g", "t")),
      ("numAllele", numAllele(a, c, g, t), numAlleleSql("a", "c", "g", "t")))
  }

  test("codon translation and reverse-complement twins equal their Column functions") {
    val codons = DnaFunctions.CodonTable.keys.toSeq
    val dna = codons ++ codons.map(_.toLowerCase) ++ EdgeAlleles ++
      Seq("NNN", "AT-", "ATGC") ++ Seq.fill(300)(randomAllele())
    val d = col("dna")
    agree(dna.toDF("dna"))(
      ("translateCodon", DnaFunctions.translateCodon(d), DnaFunctions.translateCodonSql("dna")),
      ("reverseComplement", DnaFunctions.reverseComplement(d),
        DnaFunctions.reverseComplementSql("dna")))
  }

  test("wave content-rule twins equal their Column functions, NULL and '' included") {
    import graft.queries.Waves.{Reversed, Same, TextUpper, Upper}
    val texts = Seq(null, "", " ", "a", "Ab", "abc def", "MiXeD case 42!", "tab\tend") ++
      Seq.fill(50)(Seq.fill(rnd.nextInt(12))("aZ 9.-"(rnd.nextInt(6))).mkString)
    val t = col("text")
    agree(texts.toDF("text"))(Seq(Same, Reversed, Upper, TextUpper).map(c =>
      (c.toString, c.col(t), c.sql("text"))): _*)
  }
}
