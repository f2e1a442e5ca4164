package graft.operators

import graft.SparkSpec
import graft.functions.DnaFunctions
import org.apache.spark.sql.functions._
import scala.util.Random

class CdsAssemblySkewSpec extends SparkSpec {
  import spark.implicits._
  import CdsAssembly._

  test("OrderedConcat aggregator assembles chunks in index order regardless of arrival") {
    val chunks = Seq(
      ExonChunk(1L, 2, "GGG"), ExonChunk(1L, 0, "AAA"), ExonChunk(1L, 1, "CCC"),
      ExonChunk(2L, 1, "TT"), ExonChunk(2L, 0, "AC"))
    val got = chunks.toDS()
      .repartition(4) // scatter chunks across partitions
      .groupByKey(_.tid)
      .agg(OrderedConcat.toColumn.name("cds"))
      .collect().toMap
    assert(got(1L) == "AAACCCGGG")
    assert(got(2L) == "ACTT")
  }

  test("OrderedConcat matches the collect_list+sort_array form on random data") {
    val rnd = new Random(3)
    val chunks = for {
      tid <- 0L until 30L
      idx <- 0 until (2 + rnd.nextInt(5))
    } yield ExonChunk(tid, idx, rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)
    val ds = rnd.shuffle(chunks).toDS().repartition(8)
    val typed = ds.groupByKey(_.tid).agg(OrderedConcat.toColumn.name("cds"))
      .collect().toMap
    val untyped = ds.toDF()
      .groupBy($"tid")
      .agg(array_join(transform(
        sort_array(collect_list(struct($"exon_idx", $"dna"))), x => x("dna")), "").as("cds"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(typed == untyped)
  }

  test("assemble: prior exon length and CDS in exon_idx order") {
    val exons = Seq((1L, "+", 1, "GG"), (1L, "+", 0, "AAA"), (1L, "+", 2, "T"), (2L, "-", 0, "C"))
      .toDF("tid", "strand", "exon_idx", "dna").repartition(3)
    val asm = assemble(exons)
    val prior = asm.exons.select($"tid", $"exon_idx", $"prior_len").as[(Long, Int, Long)]
      .collect().toSet
    assert(prior == Set((1L, 0, 0L), (1L, 1, 3L), (1L, 2, 5L), (2L, 0, 0L)))
    assert(asm.cds.as[(Long, String, String)].collect().toSet ==
      Set((1L, "+", "AAAGGT"), (2L, "-", "C")))
  }

  test("codonEffect golden rows: +/- SNV, truncated tail, stop codon, N base") {
    // ATG GCC TAA read on '+'; TTAGGCCAT is the same CDS stored for '-'
    val rows = Seq(
      ("+", "ATGGCCTAA", 6L, "T"), // GCC -> GCT
      ("-", "TTAGGCCAT", 5L, "T"), // coding pos 5: GCC -> GAC
      ("+", "ATGGCCTAAG", 10L, "C"), // past the codon multiple
      ("+", "ATGGCCTAA", 9L, "C"), // TAA -> TAC
      ("+", "ATGGCCTAA", 4L, "N")) // NCC
      .toDF("strand", "cds", "rel_pos", "var_base")
    val got = codonEffect(rows)
      .select($"rel2", $"triplet_error", $"aa_pos", $"ref_codon", $"var_codon",
        $"ref_aa", $"var_aa", $"syn_status")
      .as[(Long, String, Long, String, String, String, String, String)].collect().toSeq
    assert(got == Seq(
      (6L, "F", 2L, "GCC", "GCT", "A", "A", "synonymous"),
      (5L, "F", 2L, "GCC", "GAC", "A", "D", "nonsynonymous"),
      (10L, "T", 0L, "", "", "skipped", "skipped", "skipped"),
      (9L, "F", 3L, "TAA", "TAC", "*", "Y", "nonsynonymous"),
      (4L, "F", 2L, "GCC", "NCC", "A", "X", "unassignable")))
  }

  test("codonEffect matches full-CDS translation on random cases") {
    val rnd = new Random(11)
    def dna(n: Int) = Seq.fill(n)("ACGT"(rnd.nextInt(4))).mkString
    val cases = Seq.fill(200) {
      val cds = dna(3 + rnd.nextInt(28))
      val pos = 1 + rnd.nextInt(cds.length)
      val base = dna(1)
      val strand = if (rnd.nextBoolean()) "+" else "-"
      (strand, cds, pos.toLong, base,
        cds.substring(0, pos - 1) + base + cds.substring(pos))
    }
    val coding = (c: String) => when($"strand" === "-",
      DnaFunctions.reverseComplement(col(c))).otherwise(col(c))
    val got = codonEffect(cases.toDF("strand", "cds", "rel_pos", "var_base", "var_cds"))
      .select($"strand", $"cds", $"rel_pos", $"triplet_error", $"aa_pos", $"ref_aa", $"var_aa",
        DnaFunctions.translateDna(coding("cds")).as("ref_prot"),
        DnaFunctions.translateDna(coding("var_cds")).as("var_prot"))
      .as[(String, String, Long, String, Long, String, String, String, String)].collect()
    assert(got.length == 200)
    got.foreach { case (strand, cds, pos, err, aaPos, refAa, varAa, refProt, varProt) =>
      val rel2 = if (strand == "-") cds.length - pos + 1 else pos
      if (rel2 > cds.length / 3 * 3) assert(err == "T" && aaPos == 0L && refAa == "skipped")
      else {
        assert(err == "F" && aaPos == (rel2 + 2) / 3)
        assert(refAa == refProt.substring(aaPos.toInt - 1, aaPos.toInt), (strand, cds, pos))
        assert(varAa == varProt.substring(aaPos.toInt - 1, aaPos.toInt), (strand, cds, pos))
      }
    }
  }

  test("salted two-phase aggregation equals plain groupBy on skewed data") {
    val rnd = new Random(5)
    // 90% of rows share one key
    val rows = (0 until 5000).map { i =>
      val k = if (rnd.nextInt(10) < 9) "hot" else s"k${rnd.nextInt(5)}"
      (k, i.toLong % 97, (i % 13).toLong)
    }
    val df = rows.toDF("k", "a", "b")
    val salted = SkewSalt.saltedSumCount(df, Seq("k"), Seq(col("a"), col("b")), salts = 8,
        sums = Seq("a", "b"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("a").as("sum_a"), sum("b").as("sum_b"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(salted.toSeq == plain.toSeq)
  }
}
