package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VariantFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("variantType: snv / ins / del per the empty-side encoding") {
    // AC -> GT (an MNV) is "snv" under the reference's three-way rule,
    // which the strain loader (q84) applies (see COVERAGE.md)
    val rows = Seq(("A", "C"), ("", "AC"), ("AC", ""), ("ACG", "T"), ("AC", "GT"))
      .toDF("ref", "var")
      .select(VariantFunctions.variantType($"ref", $"var").as("t"))
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("snv", "ins", "del", "snv", "snv"))
  }

  test("variantTypeFixup follows the reference's branch order exactly") {
    // '-' anywhere wins (del, even a '-' ref); then length comparison;
    // 1/1 snv; equal-length multi-base is unknown -> null
    val rows = Seq(("-", "AC"), ("AC", "-"), ("A", "C"), ("AC", "GT"),
        ("A", "ACG"), ("ACG", "A"), ("", "AC"), ("AC", ""))
      .toDF("ref", "var")
      .select(VariantFunctions.variantTypeFixup($"ref", $"var").as("t"))
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("del", "del", "snv", null,
      "ins", "del", "ins", "del"))
  }

  test("endPos: snv start+1, ins start, del start+len(ref)") {
    val rows = Seq((100L, "A", "C"), (100L, "", "ACG"), (100L, "ACGT", ""))
      .toDF("pos", "ref", "var")
      .select(VariantFunctions.endPos($"pos", $"ref", $"var").as("e"))
      .collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(101L, 100L, 104L))
  }

  test("qualityScore uses the reference's integer rounding (100*rd + td/2)/td") {
    // (100*1 + 3/2)/3 = 101/3 = 33 (int division), (100*2 + 3/2)/3 = 67
    val rows = Seq((1, 3), (2, 3), (1, 2), (0, 5), (7, 0))
      .toDF("rd", "td")
      .select(VariantFunctions.qualityScore($"rd", $"td").as("q"))
      .collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(33, 67, 50, 0, 0))
  }

  test("alleleIsValid accepts only ACGTN-") {
    val rows = Seq("ACGT", "N-", "ACXGT", "acgt", "")
      .toDF("a").select(VariantFunctions.alleleIsValid($"a").as("ok"))
      .collect().map(_.getBoolean(0))
    assert(rows.toSeq == Seq(true, true, false, false, true))
  }

  test("frameshiftFlag: length delta not divisible by 3 (with '-' as 0)") {
    val rows = Seq(("A", "AC"), ("A", "ACG"), ("A", "ACGT"), ("-", "ACG"), ("ACG", "-"), ("A", "C"))
      .toDF("ref", "var")
      .select(VariantFunctions.frameshiftFlag($"ref", $"var").as("f"))
      .collect().map(_.getString(0))
    // deltas: 1 -> T, 2 -> T, 3 -> F (in-frame), '-' counts as len 0 -> delta 3 -> F
    assert(rows.toSeq == Seq("T", "T", "F", "F", "F", "F"))
  }

  test("synStatus: equal, different, and X-unassignable") {
    val rows = Seq(("K", "K"), ("K", "R"), ("X", "K"), ("K", "X"))
      .toDF("r", "v")
      .select(VariantFunctions.synStatus($"r", $"v").as("s"))
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("synonymous", "nonsynonymous", "unassignable", "unassignable"))
  }

  test("adjustForIndels: padding-base stripping per CommonFormat2Line doc block") {
    val df = Seq(
      (100L, "A", "C"),     // snv: unchanged
      (100L, "A", "ACG"),   // insertion with shared base: pos+1, ref null, var "CG"
      (100L, "ACG", "A"),   // deletion with shared base: pos+1, ref "CG", var null
      (100L, "AC", "GT"))   // no shared base: not ok
      .toDF("pos", "ref", "var")
      .select(VariantFunctions.adjustForIndels($"pos", $"ref", $"var").as("a"))
      .select("a.pos", "a.ref_nuc", "a.var_nuc", "a.padding_base", "a.ok")
    val rows = df.collect()
    assert(rows(0).getLong(0) == 100L && rows(0).getString(1) == "A" && rows(0).getString(2) == "C"
      && rows(0).isNullAt(3) && rows(0).getBoolean(4))
    assert(rows(1).getLong(0) == 101L && rows(1).isNullAt(1) && rows(1).getString(2) == "CG"
      && rows(1).getString(3) == "A" && rows(1).getBoolean(4))
    assert(rows(2).getLong(0) == 101L && rows(2).getString(1) == "CG" && rows(2).isNullAt(2)
      && rows(2).getString(3) == "A" && rows(2).getBoolean(4))
    assert(!rows(3).getBoolean(4))
  }

  test("numAllele counts bases with reads") {
    val rows = Seq((0, 0, 0, 0), (1, 0, 2, 0), (5, 5, 5, 5))
      .toDF("a", "c", "g", "t")
      .select(ZygosityFunctions.numAllele($"a", $"c", $"g", $"t").as("n"))
      .collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(0, 2, 4))
  }
}
