package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PolyPhen loader semantics (S15/F12/J11,
  * `PolyphenLoader.java:97-180`): 55-col schema with trimming,
  * swapped-AA rejection, first-match-consumed positional pairing, and
  * the S16 log scraper. The pairing cases here are hand-computed
  * against the reference's list-walk semantics (duplicate keys consume
  * info lines in file order; a rejected result shifts later ranks). */
class PolyphenSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("read declares all 55 columns and trims padded values") {
    val dir = tmp("pph-read")
    val fields = Polyphen.schema.fieldNames
    val row = fields.map {
      case "o_acc" => "  NP_001  "
      case "o_pos" => " 42"
      case "prediction" => "benign "
      case other => other + "_v"
    }.mkString("\t")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/r.polyphen"),
      "#" + fields.mkString("\t") + "\n" + row + "\n")
    val df = Polyphen.read(spark, s"$dir/r.polyphen")
    assert(df.columns.toSeq == fields.toSeq)
    val r = df.collect().head
    assert(r.getAs[String]("o_acc") == "NP_001")
    assert(r.getAs[String]("o_pos") == "42")
    assert(r.getAs[String]("prediction") == "benign")
  }

  test("read: a result row missing its trailing columns reads NULL there") {
    val dir = tmp("pph-short")
    val fields = Polyphen.schema.fieldNames
    val row = fields.map(_ + "_v")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/r.polyphen"),
      Seq("#" + fields.mkString("\t"), row.mkString("\t"), row.take(12).mkString("\t"))
        .mkString("\n") + "\n")
    val got = Polyphen.read(spark, s"$dir/r.polyphen").orderBy(col("based_on").asc_nulls_first)
      .collect().map(_.toSeq)
    assert(got.toSeq == Seq((row.take(12) ++ Seq.fill(fields.length - 12)(null)).toSeq, row.toSeq))
  }

  test("swappedAA rejects exactly the (o_aa1,o_aa2)=(aa2,aa1) rows") {
    val df = Seq(
      ("R", "H", "R", "H"), // aligned -> keep
      ("H", "R", "R", "H"), // swapped -> reject
      ("R", "R", "R", "R")  // degenerate equal pair: swap == aligned -> reject
    ).toDF("o_aa1", "o_aa2", "aa1", "aa2")
    val kept = df.filter(!Polyphen.swappedAA).collect().map(r => r.getString(0))
    assert(kept.toSeq == Seq("R"))
    assert(df.filter(Polyphen.swappedAA).count() == 2)
  }

  test("pairWithInfo consumes duplicate keys positionally in file order") {
    // two results and two info lines share one 4-part key; order columns
    // encode file order. Reference walk: result#1 takes info#1 (vid 10),
    // result#2 takes info#2 (vid 20); the third result has no info.
    val results = Seq(
      ("NP_1", "5", "A", "G", "rs100"),
      ("NP_1", "5", "A", "G", "rs200"),
      ("NP_2", "9", "C", "T", "rs300")
    ).toDF("o_acc", "o_pos", "o_aa1", "o_aa2", "rsid")
    val info = Seq(
      (10L, "NP_1", "5", "A", "G"),
      (20L, "NP_1", "5", "A", "G")
    ).toDF("variant_id", "protein_acc_id", "i_pos", "ref_aa", "var_aa")
    val paired = Polyphen.pairWithInfo(results, info, col("rsid"), col("variant_id"))
      .select(col("rsid"), col("variant_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(paired == Set(("rs100", 10L), ("rs200", 20L)))
  }

  test("pairWithInfo re-ranks after a gap: missing first info pairs survivor with next") {
    // reference: result rs1 finds no info#1 (absent) so it consumes the
    // first PRESENT matching line; the second result then goes unmatched.
    val results = Seq(
      ("NP_1", "5", "A", "G", "rs1"),
      ("NP_1", "5", "A", "G", "rs2")
    ).toDF("o_acc", "o_pos", "o_aa1", "o_aa2", "rsid")
    val info = Seq(
      (77L, "NP_1", "5", "A", "G")
    ).toDF("variant_id", "protein_acc_id", "i_pos", "ref_aa", "var_aa")
    val paired = Polyphen.pairWithInfo(results, info, col("rsid"), col("variant_id"))
      .select(col("rsid"), col("variant_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(paired == Set(("rs1", 77L)))
  }

  test("pairWithInfo normalizes positions numerically ('042' pairs with '42')") {
    // the reference round-trips o_pos through Integer.parseInt before
    // matching (`PolyphenLoader.java:200-214`); a non-numeric position
    // unpairs instead of throwing (deliberate deviation, doc'd)
    val results = Seq(
      ("NP_1", "042", "A", "G", "rs1"),
      ("NP_2", "xx", "C", "T", "rs2")
    ).toDF("o_acc", "o_pos", "o_aa1", "o_aa2", "rsid")
    val info = Seq(
      (10L, "NP_1", "42", "A", "G"),
      (20L, "NP_2", "7", "C", "T")
    ).toDF("variant_id", "protein_acc_id", "i_pos", "ref_aa", "var_aa")
    val paired = Polyphen.pairWithInfo(results, info, col("rsid"), col("variant_id"))
      .select(col("rsid"), col("variant_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(paired == Set(("rs1", 10L)))
  }

  test("unmatchedResults surfaces exactly the results pairWithInfo drops") {
    val results = Seq(
      ("NP_1", "5", "A", "G", "rs1"),
      ("NP_1", "5", "A", "G", "rs2"), // second duplicate: no info partner
      ("NP_9", "8", "C", "T", "rs3")  // key absent from info entirely
    ).toDF("o_acc", "o_pos", "o_aa1", "o_aa2", "rsid")
    val info = Seq(
      (77L, "NP_1", "5", "A", "G")
    ).toDF("variant_id", "protein_acc_id", "i_pos", "ref_aa", "var_aa")
    val un = Polyphen.unmatchedResults(results, info, col("rsid"), col("variant_id"))
    assert(un.select(col("rsid")).collect().map(_.getString(0)).toSet
      == Set("rs2", "rs3"))
    // matched + unmatched partition the result rows
    val m = Polyphen.pairWithInfo(results, info, col("rsid"), col("variant_id"))
    assert(m.count() + un.count() == 3)
  }

  test("scrapeMissingProteins extracts the distinct acc set, prefix-exact") {
    val dir = tmp("pph-log")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/run.log"),
      Seq(
        "ERROR: Unable to locate protein entry NP_7 for map key 372",
        "ERROR: Unable to locate protein entry NP_7 for map key 372", // dup
        "ERROR: Unable to locate protein entry NP_8 retry",
        "WARN: Unable to locate protein entry NP_9 ignored", // wrong prefix
        "ERROR: something else entirely",
        "INFO: done"
      ).mkString("\n") + "\n")
    val accs = Polyphen.scrapeMissingProteins(spark, s"$dir/run.log")
      .collect().map(_.getString(0)).toSet
    assert(accs == Set("NP_7", "NP_8"))
  }
}
