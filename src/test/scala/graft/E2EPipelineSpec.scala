package graft

import graft.functions.{VariantFunctions => VarF, ZygosityFunctions => Zyg}
import graft.operators.RangeJoin
import graft.sources.{Cf2, Vcf}
import org.apache.spark.sql.functions._

/** Golden end-to-end slice (SURVEY §5 strategy item 3): tiny VCF →
  * converter semantics (multi-allelic skip F3, genotype filter F4,
  * FORMAT/AD parse X9, indel normalization X7) → CF2 file → reload →
  * typing/end-pos/quality (X4-X6) → zygosity (X3) → genic-status
  * interval join (J1) — compared row for row against hand-computed
  * golden tuples. Every stage is the library's own surface; this is
  * the composition a user of the reference pipeline would run.
  */
class E2EPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("VCF -> CF2 -> variant annotations matches hand-computed golden rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val vcf =
      """##fileformat=VCFv4.2
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	S1	S2
        |chr1	100	.	A	G	50	PASS	DP=25	GT:AD:DP	0/1:10,10:25	0/0:20,0:20
        |chr2	200	rs7	C	T	60	PASS	DP=30	GT:AD:DP	1/1:0,30:30	./.
        |chr1	300	.	G	A,T	60	PASS	.	GT:AD:DP	0/1:5,5,0:10	0/1:5,0,5:10
        |chr3	400	.	TA	T	70	PASS	.	GT:AD:DP	1/1:2,28:30	0/1:15,15:30
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.vcf"), vcf)

    // ---- convert stage: VCF long format -> CF2 rows ----
    val adIdx = array_position(split(col("format"), ":"), "AD")
    val dpIdx = array_position(split(col("format"), ":"), "DP")
    val converted = Vcf.read(spark, s"$dir/in.vcf")
      .filter(!col("alt").contains(","))                    // F3 multi-allelic skip
      .filter(!col("gt").startsWith("./.") &&               // F4 genotype filters
        !col("gt").startsWith("0/0") && col("gt") =!= ".")
      .withColumn("ad", split(element_at(split(col("gt"), ":"), adIdx.cast("int")), ","))
      .withColumn("allele_depth", element_at(col("ad"), 2).cast("int")) // single-ALT depth
      .withColumn("read_depth",                             // A5: sum over AD
        aggregate(col("ad"), lit(0), (acc, x) => acc + x.cast("int")))
      .withColumn("total_depth",
        element_at(split(col("gt"), ":"), dpIdx.cast("int")).cast("int"))
      .withColumn("chromosome", regexp_replace(col("chrom"), "^chr", "")) // F2
      .withColumn("adj", VarF.adjustForIndels(col("pos"), col("ref"), col("alt"))) // X7
      .filter(col("adj.ok"))
      .select(
        col("chromosome"), col("adj.pos").as("position"),
        col("adj.ref_nuc").as("ref_nuc"), col("adj.var_nuc").as("var_nuc"),
        when(col("id") === ".", lit(null)).otherwise(col("id")).as("rs_id"),
        // ref/alt depths land on their nucleotide count columns
        when(col("ref") === "A", element_at(col("ad"), 1))
          .when(col("alt") === "A", element_at(col("ad"), 2)).otherwise(lit(0))
          .cast("int").as("reads_a"),
        when(col("ref") === "C", element_at(col("ad"), 1))
          .when(col("alt") === "C", element_at(col("ad"), 2)).otherwise(lit(0))
          .cast("int").as("reads_c"),
        when(col("ref") === "G", element_at(col("ad"), 1))
          .when(col("alt") === "G", element_at(col("ad"), 2)).otherwise(lit(0))
          .cast("int").as("reads_g"),
        when(col("ref") === "T", element_at(col("ad"), 1))
          .when(col("alt") === "T", element_at(col("ad"), 2)).otherwise(lit(0))
          .cast("int").as("reads_t"),
        col("total_depth"),
        lit(null).cast("string").as("hgvs_name"),
        lit(null).cast("int").as("rgd_id"),
        col("allele_depth"),
        lit(1).as("allele_count"),
        col("read_depth"),
        col("adj.padding_base").as("padding_base"),
        col("strain"))

    // ---- CF2 round trip (per-strain fan-out like the reference) ----
    Cf2.write(converted.filter(col("strain") === "S1").drop("strain"), s"$dir/cf2/S1")
    Cf2.write(converted.filter(col("strain") === "S2").drop("strain"), s"$dir/cf2/S2")
    val loaded = Cf2.read(spark, s"$dir/cf2/S1").withColumn("strain", lit("S1"))
      .unionByName(Cf2.read(spark, s"$dir/cf2/S2").withColumn("strain", lit("S2")))

    // ---- load stage: typing, quality, zygosity, genic status ----
    val isSnv = VarF.variantType(col("ref_nuc"), col("var_nuc")) === "snv"
    val zyg = when(isSnv,
      Zyg.zygositySnv(col("ref_nuc"), col("var_nuc"), col("chromosome"),
        col("position"), lit("F"), col("reads_a"), col("reads_c"),
        col("reads_g"), col("reads_t")).getField("zygosity_status"))
      .otherwise(
        Zyg.zygosityIndel(col("allele_depth"), col("read_depth"),
          col("chromosome"), col("position"), lit("F")).getField("zygosity_status"))
    val typed = loaded
      .withColumn("variant_type", VarF.variantType(col("ref_nuc"), col("var_nuc")))
      .withColumn("end_pos", VarF.endPos(col("position"), col("ref_nuc"), col("var_nuc")))
      .withColumn("quality", VarF.qualityScore(col("read_depth"), col("total_depth")))
      .withColumn("zygosity", zyg)
    val genes = Seq(("1", 9001L, 50L, 150L)).toDF("g_chr", "gene_id", "g_start", "g_stop")
    val annotated = RangeJoin.covered(typed, genes, Seq("chromosome"), Seq("g_chr"),
        "position", "g_start", "g_stop")
      .withColumn("genic", VarF.genicStatus(col("covered")))

    val got = annotated.select("strain", "chromosome", "position", "ref_nuc",
        "var_nuc", "variant_type", "end_pos", "quality", "zygosity", "genic")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
        Option(r.getString(4)).getOrElse(""), r.getString(5), r.getLong(6),
        r.getInt(7), r.getString(8), r.getString(9)))
      .sortBy(t => (t._1, t._2, t._3))

    // hand-computed: S2 line1 (hom-ref) and S2 line2 (missing) dropped;
    // chr1:300 multi-allelic dropped; TA->T normalizes to pos 401,
    // ref "A", var empty, padding "T"; quality uses the reference's
    // integer rounding ((100*rd + td/2) / td)
    val golden = Seq(
      ("S1", "1", 100L, "A", "G", "snv", 101L, 80, "heterozygous", "GENIC"),
      ("S1", "2", 200L, "C", "T", "snv", 201L, 100, "homozygous", "INTERGENIC"),
      ("S1", "3", 401L, "A", "", "del", 402L, 100, "possibly homozygous", "INTERGENIC"),
      ("S2", "3", 401L, "A", "", "del", 402L, 100, "heterozygous", "INTERGENIC"))
    assert(got.toSeq == golden)
  }
}
