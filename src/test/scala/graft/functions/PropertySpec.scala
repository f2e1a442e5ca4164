package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Model-based property checks (SURVEY §5.2): each Column expression is
  * compared against an independent plain-Scala model over ScalaCheck-
  * generated inputs, evaluated in a single DataFrame pass per property.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val dnaGen: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf("A", "C", "G", "T", "N")).map(_.mkString))

  test("property: reverseComplement is an involution and preserves length") {
    val inputs = sample(dnaGen, 300)
    val rows = inputs.toDF("dna")
      .select($"dna",
        DnaFunctions.reverseComplement(DnaFunctions.reverseComplement($"dna")).as("rc2"),
        length(DnaFunctions.reverseComplement($"dna")).as("rclen"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(0).toUpperCase)
      assert(r.getInt(2) == r.getString(0).length)
    }
  }

  test("property: translateDna output length == len/3 and matches per-codon model") {
    val model = (dna: String) => dna.toUpperCase.grouped(3).filter(_.length == 3)
      .map(c => DnaFunctions.CodonTable.getOrElse(c, "X")).mkString
    val inputs = sample(dnaGen, 300)
    val rows = inputs.toDF("dna")
      .select($"dna", DnaFunctions.translateDna($"dna").as("p")).collect()
    rows.foreach { r =>
      val (dna, p) = (r.getString(0), r.getString(1))
      assert(p.length == dna.length / 3, s"len for $dna")
      assert(p == model(dna), s"model mismatch for $dna")
    }
  }

  test("property: zygosity percent in [0,100], num_allele in [0,4], score >= 0") {
    val cnt = Gen.chooseNum(0, 200)
    val gen = for { a <- cnt; c <- cnt; g <- cnt; t <- cnt } yield (a, c, g, t)
    val inputs = sample(gen, 300)
    val rows = inputs.toDF("a", "c", "g", "t")
      .select(ZygosityFunctions.zygositySnv(
        lit("A"), lit("C"), lit("1"), lit(1000L), lit("F"),
        $"a", $"c", $"g", $"t").as("z"))
      .select("z.zygosity_percent_read", "z.zygosity_num_allele", "z.score")
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 100)
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 4)
      assert(r.getInt(2) >= 0)
    }
  }

  test("property: qualityScore matches the integer model (100*rd + td/2)/td") {
    val gen = for { rd <- Gen.chooseNum(0, 500); td <- Gen.chooseNum(0, 500) } yield (rd, td)
    val inputs = sample(gen, 400)
    val rows = inputs.toDF("rd", "td")
      .select($"rd", $"td", VariantFunctions.qualityScore($"rd", $"td").as("q"))
      .collect()
    rows.foreach { r =>
      val (rd, td, q) = (r.getInt(0), r.getInt(1), r.getInt(2))
      val model = if (td > 0) ((100L * rd + td / 2) / td).toInt else 0
      assert(q == model, s"rd=$rd td=$td")
    }
  }

  test("property: fingerprint matches the JVM fold model on arbitrary ascii") {
    val txt = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(32.toChar, 126.toChar)).map(_.mkString))
    val inputs = sample(txt, 300).distinct
    val rows = inputs.toDF("t")
      .select($"t", TextFunctions.polyHash($"t").as("fp")).collect()
    rows.foreach { r =>
      val model = r.getString(0).foldLeft(0L)((acc, ch) => (acc * 31 + ch.toInt) % 1000000007L)
      assert(r.getLong(1) == model, s"text='${r.getString(0)}'")
    }
  }

  test("property: variantType/endPos are total and consistent on indel encodings") {
    val nuc = Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("A", "C", "G", "T")).map(_.mkString))
    val gen = for { r <- nuc; v <- nuc; p <- Gen.chooseNum(1L, 1000000L) } yield (r, v, p)
    val inputs = sample(gen, 300)
    val rows = inputs.toDF("r", "v", "p")
      .select($"r", $"v", $"p",
        VariantFunctions.variantType($"r", $"v").as("t"),
        VariantFunctions.endPos($"p", $"r", $"v").as("e"))
      .collect()
    rows.foreach { row =>
      val (r, v, p, t, e) = (row.getString(0), row.getString(1), row.getLong(2),
        row.getString(3), row.getLong(4))
      val tModel = if (r.nonEmpty && v.nonEmpty) "snv" else if (r.isEmpty) "ins" else "del"
      val eModel = tModel match {
        case "snv" => p + 1
        case "ins" => p
        case _ => p + r.length
      }
      assert(t == tModel && e == eModel, s"r=$r v=$v")
    }
  }
}
