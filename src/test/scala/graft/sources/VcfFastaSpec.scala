package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class VcfFastaSpec extends SparkSpec {
  import spark.implicits._

  private def writeTemp(name: String, content: String): String = {
    val dir = Files.createTempDirectory(name)
    val f = dir.resolve("data.txt")
    Files.writeString(f, content)
    f.toString
  }

  test("VCF read: strains from header, ## skipped, one row per (line, strain)") {
    val vcf =
      """##fileformat=VCFv4.2
        |##contig=<ID=1>
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	strainA	strainB
        |1	100	rs1	A	C	50	PASS	DP=10	GT:AD	0/1:3,7	1/1:0,9
        |2	200	.	G	T	60	PASS	DP=20	GT:AD	0/0:8,0	./.:.
        |""".stripMargin
    val path = writeTemp("vcf", vcf)
    assert(Vcf.strainNames(spark, path) == Seq("strainA", "strainB"))
    val df = Vcf.read(spark, path)
    assert(df.count() == 4)
    val r = df.filter($"pos" === 100L && $"strain" === "strainB").collect().head
    assert(r.getAs[String]("gt") == "1/1:0,9")
    assert(r.getAs[String]("ref") == "A" && r.getAs[String]("alt") == "C")
    // genotype filter downstream (F4)
    val kept = df.withColumn("g", split($"gt", ":")(0))
      .filter(!$"g".isin("./.", "0/0", "."))
    assert(kept.count() == 2)
  }

  test("VCF read: a cell starting with a quote and a CRLF file read as raw tab-split cells") {
    val hdr = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tA\tB"
    val quoted = "1\t100\t\"rs1\tA\tC\t50\tPASS\tDP=10\tGT\t\"0/1\t1/1"
    val plain = "2\t200\trs2\tG\tT\t60\tPASS\tDP=20\tGT\t0/0\t./."
    def cells(content: String) = Vcf.read(spark, writeTemp("vcf", content))
      .select($"pos", $"id", $"strain", $"gt").as[(Long, String, String, String)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    // no quoting: the quote stays in the cell and the tab after it splits
    assert(cells(Seq(hdr, quoted).mkString("\n") + "\n") ==
      Seq((100L, "\"rs1", "A", "\"0/1"), (100L, "\"rs1", "B", "1/1")))
    // CRLF line ends: the last cell of each line carries no \r
    val crlf = cells(Seq("##fileformat=VCFv4.2", hdr, plain).mkString("\r\n") + "\r\n")
    assert(crlf == Seq((200L, "rs2", "A", "0/0"), (200L, "rs2", "B", "./.")))
    assert(Vcf.strainNames(spark, writeTemp("vcf", Seq(hdr, plain).mkString("\r\n"))) ==
      Seq("A", "B"))
  }

  test("VCF read: a line short of the 9 fixed fields reads NULL cells, not an error") {
    val hdr = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tA\tB"
    val short = "3\t300\trs3\tA\tC"
    val plain = "2\t200\trs2\tG\tT\t60\tPASS\tDP=20\tGT\t0/0\t./."
    val rows = Vcf.read(spark, writeTemp("vcf", Seq(hdr, short, plain).mkString("\n") + "\n"))
      .select($"pos", $"alt", $"qual", $"format", $"strain", $"gt")
      .as[(Long, String, String, String, String, String)]
      .collect().sortBy(r => (r._1, r._5)).toSeq
    assert(rows == Seq((200L, "T", "60", "GT", "A", "0/0"), (200L, "T", "60", "GT", "B", "./."),
      (300L, "C", null, null, "A", null), (300L, "C", null, null, "B", null)))
  }

  test("VCF writeSorted: header first, then numeric (chr, pos, id) order") {
    val lines = Seq(
      ("2", 5L, "b", "2\t5\tb\t..."),
      ("1", 100L, "a", "1\t100\ta\t..."),
      ("1", 20L, "Z", "1\t20\tZ\t..."))
      .toDF("chrom", "pos", "id", "line")
    val dir = Files.createTempDirectory("vcfout").toString + "/out"
    Vcf.writeSorted(spark, lines, Seq("##fileformat=VCFv4.2", "#CHROM\tPOS"), dir)
    val out = spark.read.text(dir).collect().map(_.getString(0))
    assert(out.take(2).toSeq == Seq("##fileformat=VCFv4.2", "#CHROM\tPOS"))
    assert(out.drop(2).toSeq == Seq("1\t20\tZ\t...", "1\t100\ta\t...", "2\t5\tb\t..."))
  }

  test("FASTA parse + chunk + random access across chunk borders") {
    // chr1: 26 bases (alphabet), lines of 10; chr2: 8 bases
    val lines = Seq(
      (0L, ">chr1"),
      (1L, "ABCDEFGHIJ"),
      (2L, "KLMNOPQRST"),
      (3L, "UVWXYZ"),
      (10L, "> chr2"),
      (11L, "ACGTACGT"))
      .toDF("line_id", "line")
    val parsed = Fasta.parseLines(lines)
    val offs = parsed.filter($"chr" === "chr1").orderBy("start_off")
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(offs.toSeq == Seq((0L, "ABCDEFGHIJ"), (10L, "KLMNOPQRST"), (20L, "UVWXYZ")))
    val chunks = Fasta.toChunks(parsed, width = 8)
    val c1 = chunks.filter($"chr" === "chr1").orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getString(2)))
    assert(c1.toSeq == Seq((0, "ABCDEFGH"), (1, "IJKLMNOP"), (2, "QRSTUVWX"), (3, "YZ")))
    // per-row intervals, 1-based inclusive: two borders (8, 16) crossed,
    // inside one chunk, starting on a border, on chr2, and a single
    // interval read from its covering chunks only
    val iv = Seq((1, "chr1", 6L, 19L), (2, "chr1", 2L, 5L), (3, "chr1", 17L, 26L),
        (4, "chr2", 3L, 6L))
      .toDF("id", "chr", "start", "stop")
    val fetched = Fasta.fetch(iv, chunks, width = 8)
      .select($"id", $"chr", $"start", $"stop", $"dna").as[(Int, String, Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(fetched == Seq((1, "chr1", 6L, 19L, "FGHIJKLMNOPQRS"), (2, "chr1", 2L, 5L, "BCDE"),
      (3, "chr1", 17L, 26L, "QRSTUVWXYZ"), (4, "chr2", 3L, 6L, "GTAC")))
    val one = Fasta.fetch(Seq(("chr1", 6L, 19L)).toDF("chr", "start", "stop"),
        chunks.filter($"chr" === "chr1" && $"chunk_idx".between(0, 2)), width = 8)
      .select($"dna").as[String].collect().toSeq
    assert(one == Seq("FGHIJKLMNOPQRS"))
  }
}
