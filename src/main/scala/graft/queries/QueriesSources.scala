package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.functions.{VariantFunctions, ZygosityFunctions}
import graft.operators.{CdsAssembly, RangeJoin, StrainLoader}
import graft.sources.{Cf2, Fasta, Jdbc, Polyphen, Tsv, Vcf}

/** File-format source queries — the reference pipeline's *front door*
  * (S1-S3/K1): real text files written to disk, read back through the
  * graft readers, and hash-compared against a DuckDB oracle that reads
  * the very same files through the readers' `...Sql` twins.
  *
  * Fixture files live under a fixed path so the static oracle SQL can
  * reference them; each query (re)writes its fixture when invoked, so
  * the oracle — which the harness always runs *after* the Spark dump —
  * reads exactly what the reader read.
  */
object QueriesSources {

  /** Fixture root (inside the repo; harness runs on one machine). */
  val FixtureDir = s"${Fixtures.scratchRoot}/filegate"

  // ---------------------------------------------------------------- q78
  // S1/S2: VCF text reader (`VcfToCommonFormat2Converter.run:109-147`):
  // ## meta lines dropped, strain names from the #CHROM header row,
  // one output row per (line, strain) via posexplode.

  private val VcfStrains = Seq("BN", "SHR", "WKY", "F344")
  private val VcfGts = Array("0/0", "0/1", "1/1", "0/1", "./.")
  private val VcfPath = s"$FixtureDir/sample.vcf"
  private val VcfLines = 600
  private val VcfHeader = (Vcf.FixedCols.map(_.toUpperCase).updated(0, "#CHROM") ++ VcfStrains).mkString(Tsv.Tab)

  /** Write `lines` to `path`, each ended by a newline. */
  private def writeLines(path: String, lines: Seq[String]): Unit = {
    val f = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, lines.asJava)
  }

  /** Deterministic VCF fixture: pure function of the line index — the
    * file IS the input under test (the reference's VCFs arrive from
    * sequencing pipelines); generation is driver-side by design. */
  private def writeVcfFixture(): Unit = writeLines(VcfPath, Seq(
    "##fileformat=VCFv4.2", "##source=graft-filegate",
    VcfHeader) ++
    (0 until VcfLines).map { i =>
      val bases = "ACGT"
      (Seq(((i % 5) + 1).toString, (1000 + i * 13 + (i % 7)).toString, "rs" + (100000 + i * 3),
        bases.charAt(i % 4).toString, bases.charAt((i + 1 + i % 3) % 4).toString,
        (i % 60).toString, if (i % 10 == 0) "q10" else "PASS", "DP=" + (20 + i % 80), "GT") ++
        VcfStrains.indices.map(s => VcfGts((i * 7 + s * 3) % 5))).mkString(Tsv.Tab)
    })

  private val vcfOracle: String =
    s"""SELECT chrom, strain,
       |  count(*) AS n_rows,
       |  CAST(sum(CASE WHEN gt <> './.' THEN 1 ELSE 0 END) AS BIGINT) AS n_called,
       |  CAST(sum(CASE WHEN gt = '0/1' THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
       |  CAST(sum(CASE WHEN gt = '1/1' THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_alt,
       |  CAST(sum(pos) AS BIGINT) AS sum_pos,
       |  CAST(sum(CAST(substr(info, 4) AS BIGINT)) AS BIGINT) AS sum_dp
       |FROM (${Vcf.readSql(VcfPath, VcfStrains)})
       |GROUP BY chrom, strain ORDER BY chrom, strain""".stripMargin

  // ---------------------------------------------------------------- q79
  // K1+S3: CF2 writer/reader round trip (16-col gzip TSV,
  // `CommonFormat2Writer.java:57`, positional read
  // `VariantLoad3.java:225-296`): rows derived from the synthetic
  // variants are written as .csv.gz through Cf2.write, read back with
  // the declared schema, and aggregated; the oracle reads the same
  // gzip files.

  private val Cf2Path = s"$FixtureDir/cf2"
  private val Cf2FanPath = s"$FixtureDir/cf2_fanout"

  /** The CF2 columns q79 and q107 write, from the synthetic SNV rows
    * (`kind >= 2`: ins/del rows' empty alleles would read back as NULL). */
  private val Cf2FixtureCols: Seq[String] = Seq(
    "chromosome",
    "CAST(start_pos AS BIGINT) AS position",
    "ref_nuc", "var_nuc",
    "concat('rs', CAST(vid AS STRING)) AS rs_id",
    "CAST(count_a AS INT) AS reads_a",
    "CAST(count_c AS INT) AS reads_c",
    "CAST(count_g AS INT) AS reads_g",
    "CAST(count_t AS INT) AS reads_t",
    "CAST(total_depth AS INT) AS total_depth",
    "concat(chromosome, ':', CAST(start_pos AS STRING)) AS hgvs_name",
    "CAST(vid % 1000000 AS INT) AS rgd_id",
    "CAST(allele_depth AS INT) AS allele_depth",
    "CAST(allele_depth % 5 AS INT) AS allele_count",
    "CAST(read_depth AS INT) AS read_depth",
    "'N' AS padding_base")

  // q107 (K1 per-strain fan-out): unlike q79's oracle (which re-reads
  // the written .gz files to gate FORMAT interop), this oracle
  // reconstructs the per-strain expectation from the SOURCE rows — a
  // row fanned into the wrong strain directory, dropped by the
  // partitioned write, or corrupted in flight shifts a per-strain
  // aggregate and fails the hash.
  private val cf2FanoutOracle: String =
    s"""WITH variants AS (${Synthetic.variantsSql})
       |SELECT CASE CAST(sample_id % 3 AS INT)
       |    WHEN 0 THEN 'BN' WHEN 1 THEN 'SHR_OLA' ELSE 'WKY' END AS strain,
       |  count(*) AS n,
       |  CAST(sum(start_pos) AS BIGINT) AS sum_pos,
       |  CAST(sum(total_depth) AS BIGINT) AS sum_depth,
       |  CAST(sum(count_a + count_c + count_g + count_t) AS BIGINT) AS sum_reads,
       |  CAST(count(DISTINCT vid) AS BIGINT) AS n_rs
       |FROM variants WHERE kind >= 2
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val cf2Oracle: String =
    s"""SELECT chromosome, count(*) AS n,
       |  CAST(sum(position) AS BIGINT) AS sum_pos,
       |  CAST(sum(total_depth) AS BIGINT) AS sum_depth,
       |  CAST(sum(reads_a + reads_c + reads_g + reads_t) AS BIGINT) AS sum_reads,
       |  CAST(count(DISTINCT rs_id) AS BIGINT) AS n_rs
       |FROM (${Cf2.readSql(s"$Cf2Path/*.csv.gz")})
       |GROUP BY chromosome ORDER BY chromosome""".stripMargin

  // ---------------------------------------------------------------- q80
  // S15+F12+J11: PolyPhen results loader (`PolyphenLoader.java:97-180`):
  // 55-col positional TSV, every value trimmed, swapped-AA rows
  // rejected, survivors paired with the run's .info file on the 4-part
  // key with duplicates consumed positionally in file order (the o_pos
  // fix, `changes.txt:41-43`). The fixture bakes monotone rsid /
  // variant_id so "file order" is a sortable column on both sides; the
  // row_number pairing then reproduces the reference's
  // first-match-consumed list walk exactly (including rn re-ranking
  // after rejected results and absent info lines shift the pairing).

  private val PolyphenPath = s"$FixtureDir/sample.polyphen"
  private val PolyphenInfoPath = s"$FixtureDir/sample.info"
  private val PolyphenRows = 500
  private val AAs = "ARNDCQEGHILKMFPSTWYV"

  /** Deterministic PolyPhen fixture: 500 result lines (every 11th has
    * its o_aa pair swapped → rejected; keys repeat with period 200 →
    * genuine positional-pairing work) + an .info file missing every
    * 13th line (→ unmatched results dropped, and the positional rank
    * of later duplicates shifts, which the oracle must reproduce). */
  private def writePolyphenFixture(): Unit = {
    val rows = (0 until PolyphenRows).map { i =>
      val prot = "NP_" + (1000 + i % 40)
      val pos = (100 + (i % 25) * 3).toString
      val refAA = AAs.charAt(i % 20).toString
      val varAA = AAs.charAt((i + 7) % 20).toString
      val (o1, o2) = if (i % 11 == 0) (varAA, refAA) else (refAA, varAA) // swapped: rejected
      val pred = Seq("benign", "possibly damaging", "probably damaging")(i % 3)
      val prob = (i % 64).toDouble / 64.0 // binary-exact → exact sums
      val byName = Map(
        "o_acc" -> ("  " + prot), // space-padded: the reader must trim
        // every 17th o_pos is zero-padded: the pairing must normalize
        // positions numerically ('042' == '42'), as the reference's
        // Integer.parseInt round-trip does
        "o_pos" -> (if (i % 17 == 0) "0" + pos else pos),
        "o_aa1" -> o1, "o_aa2" -> o2,
        "rsid" -> ("rs" + (500000 + i)), // monotone == file order
        "acc" -> prot, "pos" -> pos,
        "aa1" -> refAA, "aa2" -> varAA,
        "nt1" -> "A", "nt2" -> "G",
        "prediction" -> (pred + " "), // trailing pad: trim again
        "based_on" -> "alignment", "effect" -> ".",
        "pph2_class" -> (if (prob > 0.5) "deleterious" else "neutral"),
        "pph2_prob" -> prob.toString)
      (Polyphen.schema.fieldNames.map(n => byName.getOrElse(n, ".")).mkString(Tsv.Tab),
        Option.when(i % 13 != 0)(Seq((9000000 + i).toString, "Gene" + (i % 30), prot,
          pos, refAA, varAA, if (i % 2 == 0) "+" else "-", (70000 + i % 50).toString)
          .mkString(Tsv.Tab)))
    }
    writeLines(PolyphenPath, ("#" + Polyphen.schema.fieldNames.mkString(Tsv.Tab)) +: rows.map(_._1))
    writeLines(PolyphenInfoPath,
      ("#" + Polyphen.infoSchema.fieldNames.mkString(Tsv.Tab)) +: rows.flatMap(_._2))
  }

  private val polyphenOracle: String =
    s"""WITH res AS (
       |  SELECT * FROM (${Polyphen.readSql(PolyphenPath)}) WHERE NOT (${Polyphen.SwappedAASql})),
       |inf AS (${Polyphen.readInfoSql(PolyphenInfoPath)})
       |SELECT prediction, count(*) AS n,
       |  round(sum(CAST(pph2_prob AS DOUBLE)), 6) AS sum_prob,
       |  CAST(count(DISTINCT gene_symbol) AS BIGINT) AS n_genes,
       |  CAST(sum(variant_id) AS BIGINT) AS sum_vid
       |FROM (${Polyphen.pairWithInfoSql("res", "inf", "rsid", "variant_id")})
       |GROUP BY prediction
       |UNION ALL
       |SELECT '__unmatched', count(*), round(CAST(0 AS DOUBLE), 6),
       |  CAST(count(DISTINCT o_acc) AS BIGINT), CAST(0 AS BIGINT)
       |FROM (${Polyphen.unmatchedResultsSql("res", "inf", "rsid", "variant_id")})
       |ORDER BY prediction""".stripMargin

  // ---------------------------------------------------------------- q83
  // S16: PolyPhen log scraper (`PolyphenFasta.readProteinAccIds:
  // 128-151`) — "ERROR: Unable to locate protein entry <acc> ..." lines
  // yield a distinct acc-id set, here joined back against the .info
  // file's protein ids to split known/unknown (the reference uses the
  // set to re-drive FASTA extraction for the missing ids).

  private val LogPath = s"$FixtureDir/polyphen_run.log"
  private val LogLines = 400

  private def writeLogFixture(): Unit = writeLines(LogPath, (0 until LogLines).map { i =>
    (i % 7) match {
      case 0 => s"ERROR: Unable to locate protein entry NP_${1000 + i % 60} for map key 372"
      case 1 => "ERROR: transcript mapping failed downstream"
      case 2 => "WARN: Unable to locate protein entry NP_9999 ignored"
      case _ => s"INFO: processed chunk $i"
    }
  })

  private val logOracle: String =
    s"""SELECT (k.protein_acc_id IS NOT NULL) AS in_info,
       |  count(*) AS n_accs,
       |  min(m.protein_acc_id) AS first_acc,
       |  max(m.protein_acc_id) AS last_acc
       |FROM (${Polyphen.scrapeMissingProteinsSql(LogPath)}) m
       |LEFT JOIN (SELECT DISTINCT protein_acc_id FROM (${Polyphen.readInfoSql(PolyphenInfoPath)})) k
       |  ON m.protein_acc_id = k.protein_acc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q84
  // The reference's production flow end to end over one input
  // (`run_converter.sh` -> `run_varload.sh` -> `run_varpostprocessing.sh`,
  // SURVEY §3): one `StrainLoader` pass over a multi-sample VCF with
  // multi-allelic sites, indels and short lines, into the loader's
  // tables, output files and an embedded Derby VARIANT table. The gate
  // aggregates every span's written output and the pass's counters; the
  // DuckDB oracle derives them from the same files under the reference's
  // convert, load and post-processing rules.

  private val ChainRoot = new java.io.File(s"$FixtureDir/chain")
  private val ChainChrs = 5
  private val ChainGenomeLines = 450 // 40-base lines: 18 kb per chromosome
  private val ChainSample = 19       // 1 in 19 synthetic variants is a VCF line
  private val ChainGenders = Map("BN" -> "F", "SHR" -> "M", "WKY" -> "F", "F344" -> "M")

  /** One VCF genotype cell (GT:AD:DP) of strain `s`, from integer
    * columns of the line: ~20 % hom-ref, ~10 % missing, ~40 % het with
    * the alt read share spread over 0..100 % (so the possible-error
    * rule bites), ~30 % hom-alt; multi-allelic lines also call 0/2,
    * 1/2 and 2/2. */
  private def chainCell(s: Int): String = {
    val h = s"(CAST(vid DIV $ChainSample AS INT) + count_a + $s * (3 + count_c)) % 10"
    val dp = s"(8 + (total_depth + ${13 * s}) % 50)"
    val x = s"(allele_depth + ${11 * s}) % ($dp + 1)" // alt reads of a het
    val y = s"($dp - (vid + $s) % 2)"                 // alt reads of a hom-alt
    def ad(gt: String, r: String, a1: String, a2: String) =
      s"concat('$gt:', $r, ',', $a1, CASE WHEN multi THEN concat(',', $a2) ELSE '' END, ':', $dp)"
    s"""CASE WHEN $h < 2 THEN ${ad("0/0", dp, "0", "0")}
       |  WHEN $h = 2 THEN './.:.:.'
       |  WHEN multi AND $h = 4 THEN ${ad("0/2", s"$dp - $x", "0", x)}
       |  WHEN multi AND $h = 5 THEN ${ad("1/2", "0", x, s"$dp - $x")}
       |  WHEN $h < 7 THEN ${ad("0/1", s"$dp - $x", x, "0")}
       |  WHEN multi AND $h = 9 THEN ${ad("2/2", s"$dp - $y", "0", y)}
       |  ELSE ${ad("1/1", s"$dp - $y", y, "0")} END""".stripMargin
  }

  /** q84's inputs in the loader's layout (`StrainLoader.Paths`): the
    * synthetic genome (chromosomes 1-5), transcripts and exons from
    * `part` (2-3 coding exons of 24-56 bp each), and `in/wave1.vcf`, one
    * line per sampled synthetic variant (about 3k lines at sf0.01, ten
    * times that at sf0.1). Sites on chromosomes 1-5 fold into the
    * genome's span; the rest keep their position (intergenic, and on X/Y
    * mostly outside the pseudo-autosomal region). Line shapes by `kind`:
    * insertion and deletion with a padding base (every third deletion an
    * equal-length substitution instead), SNV, and two-allele SNV; every
    * 97th line lacks the last strain's cell. */
  private def writeChainFixture(spark: SparkSession, dir: String): StrainLoader.Paths = {
    val p = StrainLoader.Paths(ChainRoot)
    Jdbc.shutdownEmbeddedDerby(p.derby)
    Fixtures.rmrf(p.root)
    Synthetic.genomeLines(table(spark, dir, "nation").filter(col("n_nationkey") < ChainChrs)
        .select((col("n_nationkey") + 1).as("c")), ChainGenomeLines, prefix = "")
      .orderBy("line_id").select("line").coalesce(1).write.text(p.in("genome.fa"))
    val ex = table(spark, dir, "part").filter(col("p_partkey") % 25 < ChainChrs)
      .select(col("p_partkey").cast("int").as("tid"),
        (col("p_partkey") % 25 + 1).cast("string").as("e_chr"),
        when(col("p_partkey") % 2 === 1, "-").otherwise("+").as("strand"),
        explode(sequence(lit(0), (col("p_partkey") % 2 + 1).cast("int"))).as("exon_idx"))
      .withColumn("e_start",
        (lit(37) + col("exon_idx") * 2500 + (col("tid") * 53) % 2300).cast("long"))
      .withColumn("e_stop", col("e_start") + (col("tid") * 7 + col("exon_idx") * 13) % 33 + 23)
    def tsv(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.option("sep", "\t").csv(p.in(name))
    tsv(ex.groupBy("tid", "e_chr", "strand").agg(min("e_start"), max("e_stop")), "transcripts.tsv")
    tsv(ex.select("tid", "exon_idx", "e_chr", "e_start", "e_stop"), "exons.tsv")
    val span = ChainGenomeLines * 40
    val genomeChrs = (1 to ChainChrs).map(c => s"'$c'").mkString(", ")
    val lines = Synthetic.variants(spark, dir).filter(col("vid") % ChainSample === 0)
      .selectExpr("*", "kind = 3 AS multi",
        s"CASE WHEN chromosome IN ($genomeChrs) THEN start_pos % $span + 1 " +
          "ELSE start_pos END AS pos",
        "substr('ACGT', CAST(vid % 4 AS INT) + 1, 1) AS pad")
      .selectExpr("chromosome AS chrom", "CAST(pos AS BIGINT) AS pos",
        "concat('rs', CAST(vid AS STRING)) AS id",
        s"""concat_ws('${Tsv.Tab}', chromosome, CAST(pos AS STRING), concat('rs', CAST(vid AS STRING)),
           |  CASE WHEN kind = 0 THEN pad WHEN kind = 1 AND vid % 3 = 0 THEN ref_nuc
           |       WHEN kind = 1 THEN concat(pad, ref_nuc) ELSE ref_nuc END,
           |  CASE WHEN kind = 0 THEN concat(pad, var_nuc)
           |       WHEN kind = 1 AND vid % 3 = 0 THEN reverse(ref_nuc)
           |       WHEN kind = 1 THEN pad
           |       WHEN multi THEN concat(var_nuc, ',', substr(replace(replace('ACGT',
           |         ref_nuc, ''), var_nuc, ''), CAST(vid % 2 AS INT) + 1, 1))
           |       ELSE var_nuc END,
           |  CAST(vid % 60 AS STRING), 'PASS', concat('DP=', CAST(total_depth AS STRING)),
           |  'GT:AD:DP', ${VcfStrains.indices.init.map(chainCell).mkString(",\n")},
           |  CASE WHEN vid % 97 <> 0 THEN ${chainCell(VcfStrains.size - 1)} END) AS line"""
          .stripMargin)
    Vcf.writeSorted(spark, lines, Seq("##fileformat=VCFv4.2", "##source=graft-chain",
      "##FORMAT=<ID=GT,Number=1,Type=String>", "##FORMAT=<ID=AD,Number=R,Type=Integer>",
      "##FORMAT=<ID=DP,Number=1,Type=Integer>",
      VcfHeader),
      p.in("wave1.vcf"))
    p
  }

  /** The gate's result columns after the grouping keys. */
  private val ChainAggs =
    Seq("cnt", "n_vars", "sum_id", "sum_samples", "sum_het", "sum_aa_pos", "n_frameshift")

  private val chainOracle: String = {
    val p = StrainLoader.Paths(ChainRoot)
    def in(name: String) = p.in(name) + "/part-*"
    val gender = ChainGenders.map { case (s, g) => s"WHEN '$s' THEN '$g'" }
      .mkString("CASE strain ", " ", " END")
    val adj = VariantFunctions.adjustForIndelsSql("pos", "ref", "va").toMap
    val status = ZygosityFunctions.zygosityStatusSql("pct", "chromosome", "position", "gender")
    val genic = RangeJoin.coveredSql("tx", Seq("v.chromosome"), Seq("t_chr"), "v.position",
      "t_start", "t_stop")
    val facts = Seq(
      "rowsIn" -> "SELECT count(*) FROM parsed",
      "homRef" -> "SELECT count(*) FROM parsed WHERE call = '0/0'",
      "missing" -> "SELECT count(*) FROM parsed WHERE call = './.'",
      "short" -> "SELECT count(*) FROM parsed WHERE gt IS NULL",
      "called" -> "SELECT count(*) FROM parsed WHERE gt IS NOT NULL AND call NOT IN ('0/0', './.')",
      "alleleRows" -> "SELECT count(*) FROM al",
      "possibleError" -> "SELECT count(*) FROM al WHERE pct <= 15",
      "cf2Rows" -> "SELECT count(*) FROM conv",
      "waveKeys" -> "SELECT count(*) FROM vars",
      "newKeys" -> "SELECT count(*) FROM vars",
      "maxSeedId" -> "SELECT 0",
      "mergeAffected" -> "SELECT -1",
      "polyphenRecords" -> "SELECT count(*) FROM vt WHERE syn_status = 'nonsynonymous'",
      "derbyRows" -> "SELECT count(*) FROM vars")
      .map { case (n, q) =>
        s"SELECT '~pass', '$n', '', CAST(($q) AS BIGINT)${", 0" * (ChainAggs.size - 1)}"
      }.mkString("\nUNION ALL ")
    // MATERIALIZED: several facts read parsed and al, which DuckDB would rescan per reference
    s"""WITH parsed AS MATERIALIZED (${StrainLoader.genotypeCellsSql(
         s"(SELECT chrom, pos, ref, alt, gt, $gender AS gender FROM (${Vcf.readSql(in("wave1.vcf"), VcfStrains)}))")}),
       |al AS MATERIALIZED (
       |  SELECT *, ${ZygosityFunctions.percentReadSql("allele_depth", "dp")} AS pct
       |  FROM (${StrainLoader.calledAllelesSql("parsed")})),
       |conv AS (
       |  SELECT chrom AS chromosome, gender, pct, ${adj("pos")} AS position,
       |    coalesce(${adj("ref_nuc")}, '') AS ref_nuc, coalesce(${adj("var_nuc")}, '') AS var_nuc
       |  FROM al WHERE ${ZygosityFunctions.possibleErrorFlagSql("pct")} = 'N'),
       |vars AS (
       |  SELECT chromosome, position, ref_nuc, var_nuc,
       |    max(${VariantFunctions.variantTypeSql("ref_nuc", "var_nuc")}) AS variant_type,
       |    count(*) AS n_samples,
       |    sum(CASE WHEN $status = '${ZygosityFunctions.Heterozygous}' THEN 1 ELSE 0 END) AS n_het,
       |    row_number() OVER (ORDER BY chromosome, position, ref_nuc, var_nuc) AS rgd_id
       |  FROM conv GROUP BY 1, 2, 3, 4),
       |${Synthetic.genomeSql(s"SELECT n_nationkey + 1 AS c FROM nation WHERE n_nationkey < $ChainChrs", ChainGenomeLines)},
       |tx AS (${Tsv.readSql(in("transcripts.tsv"), StrainLoader.TranscriptsSchema)}),
       |exn AS (
       |  SELECT e.*, t.strand,
       |    substr(cs.seq, CAST(e.e_start AS INT), CAST(e.e_stop - e.e_start + 1 AS INT)) AS dna
       |  FROM (${Tsv.readSql(in("exons.tsv"), StrainLoader.ExonsSchema)}) e
       |  JOIN tx t USING (tid) JOIN chrseq cs ON CAST(cs.c AS VARCHAR) = e.e_chr),
       |${CdsAssembly.assembleSql("exn")},
       |${CdsAssembly.exonHitsSql("vars", "chromosome", "e_chr", "position")},
       |asm AS (
       |  SELECT h.rgd_id, h.tid, c.strand, c.cds, h.rel_pos, h.var_nuc AS var_base
       |  FROM hits h JOIN cds c USING (tid)),
       |${CdsAssembly.codonEffectSql("asm", Seq("rgd_id", "tid"))},
       |vt AS (
       |  SELECT h.rgd_id, c.aa_pos,
       |    CASE WHEN length(h.ref_nuc) = 1 AND length(h.var_nuc) = 1 THEN c.syn_status
       |         END AS syn_status,
       |    ${VariantFunctions.frameshiftFlagSql("h.ref_nuc", "h.var_nuc")} AS frameshift
       |  FROM hits h JOIN codon c USING (rgd_id, tid)),
       |base AS (
       |  SELECT v.variant_type, ${VariantFunctions.genicStatusSql(genic)} AS genic_status,
       |    coalesce(t.syn_status, 'none') AS syn_status,
       |    v.rgd_id, v.n_samples, v.n_het, t.aa_pos, t.frameshift
       |  FROM vars v LEFT JOIN vt t USING (rgd_id))
       |SELECT variant_type, genic_status, syn_status,
       |  count(*) AS cnt,
       |  CAST(count(DISTINCT rgd_id) AS BIGINT) AS n_vars,
       |  CAST(sum(rgd_id) AS BIGINT) AS sum_id,
       |  CAST(sum(n_samples) AS BIGINT) AS sum_samples,
       |  CAST(sum(n_het) AS BIGINT) AS sum_het,
       |  CAST(coalesce(sum(aa_pos), 0) AS BIGINT) AS sum_aa_pos,
       |  CAST(count(*) FILTER (WHERE frameshift = 'T') AS BIGINT) AS n_frameshift
       |FROM base GROUP BY 1, 2, 3
       |UNION ALL $facts""".stripMargin
  }

  // ---------------------------------------------------------------- q85
  // K6/O1: sorted VCF writer (`ClinVar2Vcf.sortInMemory:148-202` +
  // `writeVcfLine:270-310` — the reference's only ordered file sink:
  // whole-file in-memory sort by chr asc, numeric pos, case-insensitive
  // id, header block on top). Gate: Vcf.writeSorted produces the file;
  // Spark reads it back in line order (zipWithIndex — deterministic for
  // text input splits); the oracle reconstructs the EXPECTED byte
  // content independently from the same synthetic rows. Full-content
  // hash equality fails on any sort, tie-break, header-placement or
  // formatting break. Mixed-case ids + (chr,pos) collisions make the
  // case-insensitive tie-break load-bearing.

  private val SortedVcfPath = s"$FixtureDir/sorted_vcf"
  private val SortedVcfHeaders = Seq(
    "##fileformat=VCFv4.2",
    "##source=graft-sortgate",
    Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO").mkString("\t"))

  private val sortedVcfOracle: String = {
    val headerExpr = SortedVcfHeaders
      .map(h => "'" + h.replace("\t", "' || chr(9) || '") + "'")
      .mkString(" || chr(10) || ")
    s"""WITH v AS (SELECT * FROM (${Synthetic.variantsSql}) WHERE kind >= 2),
       |lines AS (
       |  SELECT chromosome AS chrom,
       |    CAST(start_pos % 1000 + 1 AS BIGINT) AS pos,
       |    (CASE WHEN vid % 2 = 0 THEN 'rcv' ELSE 'RCV' END)
       |      || CAST(vid AS VARCHAR) AS id,
       |    ref_nuc AS ref, var_nuc AS var
       |  FROM v),
       |data AS (
       |  SELECT chrom || chr(9) || CAST(pos AS VARCHAR) || chr(9) || id
       |      || chr(9) || ref || chr(9) || var || chr(9) || '.' || chr(9)
       |      || '.' || chr(9) || 'SRC=graft' AS line,
       |    chrom, pos, lower(id) AS lid
       |  FROM lines)
       |SELECT $headerExpr || chr(10)
       |    || string_agg(line, chr(10) ORDER BY chrom, pos, lid) AS content,
       |  count(*) + ${SortedVcfHeaders.size} AS n_lines
       |FROM data""".stripMargin
  }

  val all: Seq[Q] = Seq(

    Q("q78_vcf_file_read",
      (spark, dir) => {
        writeVcfFixture()
        Vcf.read(spark, VcfPath)
          .groupBy(col("chrom"), col("strain"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("gt") =!= "./.", 1L).otherwise(0L)).as("n_called"),
            sum(when(col("gt") === "0/1", 1L).otherwise(0L)).as("n_het"),
            sum(when(col("gt") === "1/1", 1L).otherwise(0L)).as("n_hom_alt"),
            sum(col("pos")).as("sum_pos"),
            sum(expr("CAST(substr(info, 4) AS BIGINT)")).as("sum_dp"))
          .orderBy(col("chrom"), col("strain"))
      },
      Some(vcfOracle)),

    Q("q79_cf2_roundtrip",
      (spark, dir) => {
        // SNV rows only: empty-string ref/var (ins/del) round-trip as
        // NULL through csv, which the depth aggregates don't touch but
        // DuckDB's reader also nulls — keep the fixture empty-free so
        // the gate tests the format machinery, not empty-vs-null lore
        val cf2 = Synthetic.variants(spark, dir)
          .filter(col("kind") >= 2)
          .selectExpr(Cf2FixtureCols: _*)
        Cf2.write(cf2, Cf2Path, compression = "gzip")
        Cf2.read(spark, Cf2Path)
          .groupBy(col("chromosome"))
          .agg(count(lit(1)).as("n"),
            sum(col("position")).as("sum_pos"),
            sum(col("total_depth")).cast("long").as("sum_depth"),
            sum(col("reads_a") + col("reads_c") + col("reads_g") + col("reads_t"))
              .cast("long").as("sum_reads"),
            countDistinct(col("rs_id")).as("n_rs"))
          .orderBy(col("chromosome"))
      },
      Some(cf2Oracle)),

    // K1's per-strain fan-out: the reference converter keeps one open
    // CF2 writer per strain and routes each line by strain name
    // (`VcfToCommonFormat2Converter.getOutputFile:393-405`). Spark-first
    // that's one partitioned write — `partitionBy(strain)` fans the
    // frame into strain=<name>/ directories in a single pass (no
    // per-strain job, no open-file map bounded by one JVM). The gate
    // reads EACH strain directory back independently, tags rows with
    // the directory literal, and compares per-strain aggregates against
    // a source-side reconstruction. Directory naming: Spark encodes the
    // partition VALUE in the path; the reference's '/'→'_' filename
    // mangling is unnecessary here because the fixture strains carry no
    // separator (documented deviation — path escaping, not semantics).
    Q("q107_cf2_fanout",
      (spark, dir) => {
        val strains = Seq("BN", "SHR_OLA", "WKY")
        val cf2 = Synthetic.variants(spark, dir)
          .filter(col("kind") >= 2) // SNVs: empty-string-free fixture (q79's rule)
          .selectExpr(Cf2FixtureCols :+ ("CASE CAST(sample_id % 3 AS INT) WHEN 0 THEN 'BN' " +
            "WHEN 1 THEN 'SHR_OLA' ELSE 'WKY' END AS strain"): _*)
        Cf2.write(cf2, Cf2FanPath, partitionBy = Seq("strain"),
          compression = "gzip")
        strains.map { s =>
          Cf2.read(spark, s"$Cf2FanPath/strain=$s")
            .withColumn("strain", lit(s))
        }.reduce(_ unionByName _)
          .groupBy(col("strain"))
          .agg(count(lit(1)).as("n"),
            sum(col("position")).as("sum_pos"),
            sum(col("total_depth")).cast("long").as("sum_depth"),
            sum(col("reads_a") + col("reads_c") + col("reads_g") + col("reads_t"))
              .cast("long").as("sum_reads"),
            countDistinct(col("rs_id")).as("n_rs"))
          .orderBy(col("strain"))
      },
      Some(cf2FanoutOracle)),

    Q("q80_polyphen_load",
      (spark, dir) => {
        writePolyphenFixture()
        val res = Polyphen.read(spark, PolyphenPath)
          .filter(!Polyphen.swappedAA)
        val inf = Polyphen.readInfo(spark, PolyphenInfoPath)
        val matched = Polyphen.pairWithInfo(res, inf, col("rsid"), col("variant_id"))
          .groupBy(col("prediction"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("pph2_prob").cast("double")), 6).as("sum_prob"),
            countDistinct(col("gene_symbol")).as("n_genes"),
            sum(col("variant_id")).as("sum_vid"))
        // K9 QC row: the reference counts results that pair with no
        // info line as errors (`PolyphenLoader.java:216-230`)
        val qc = Polyphen.unmatchedResults(res, inf, col("rsid"), col("variant_id"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("o_acc")).as("n_genes"))
          .select(lit("__unmatched").as("prediction"), col("n"),
            lit(0.0).as("sum_prob"), col("n_genes"), lit(0L).as("sum_vid"))
        matched.unionByName(qc).orderBy(col("prediction"))
      },
      Some(polyphenOracle)),

    Q("q85_vcf_sorted_write",
      (spark, dir) => {
        import spark.implicits._
        val lines = Synthetic.variants(spark, dir)
          .filter(col("kind") >= 2)
          .select(col("chromosome").as("chrom"),
            (col("start_pos") % 1000 + 1).cast("long").as("pos"),
            concat(when(col("vid") % 2 === 0, "rcv").otherwise("RCV"),
              col("vid").cast("string")).as("id"),
            col("ref_nuc").as("ref"), col("var_nuc").as("var"))
          .withColumn("line", concat_ws("\t",
            col("chrom"), col("pos").cast("string"), col("id"), col("ref"),
            col("var"), lit("."), lit("."), lit("SRC=graft")))
        Vcf.writeSorted(spark, lines, SortedVcfHeaders, SortedVcfPath)
        // read the PRODUCED file back in physical line order
        // (zipWithIndex: splits ordered by offset, lines by position)
        val read = spark.sparkContext.textFile(SortedVcfPath)
          .zipWithIndex.toDF("line", "idx")
        read.agg(
          array_join(transform(
            sort_array(collect_list(struct(col("idx"), col("line")))),
            x => x("line")), "\n").as("content"),
          count(lit(1)).as("n_lines"))
      },
      Some(sortedVcfOracle)),

    Q("q84_pipeline_chain",
      (spark, dir) => {
        System.setProperty("derby.stream.error.file", s"$FixtureDir/derby.log")
        val p = writeChainFixture(spark, dir)
        val out = StrainLoader.Out(new java.io.File(ChainRoot, "out").getPath)
        StrainLoader.setup(spark, p)
        val c = StrainLoader.pass(spark, p.in("wave1.vcf"), out, p, ChainGenders,
          rewave = false).counters()
        val facts = c.productElementNames.zip(c.productIterator.map(_.asInstanceOf[Long]))
          .toSeq ++ Seq(
          "polyphenRecords" ->
            spark.read.text(out.polyphen).filter(col("value").startsWith(">")).count(),
          "derbyRows" -> StrainLoader.derbyCount(p))
        Jdbc.shutdownEmbeddedDerby(p.derby)
        val perKey = spark.read.parquet(out.wave)
          .join(spark.read.parquet(out.genic).select("rgd_id", "genic_status"), Seq("rgd_id"),
            "left_outer")
          .join(spark.read.parquet(out.vt), Seq("rgd_id"), "left_outer")
          .groupBy(col("variant_type"), col("genic_status"),
            coalesce(col("syn_status"), lit("none")).as("syn_status"))
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("rgd_id")).as("n_vars"),
            sum(col("rgd_id")).as("sum_id"),
            sum(col("n_samples")).as("sum_samples"),
            sum(col("n_het")).as("sum_het"),
            coalesce(sum(col("aa_pos")), lit(0L)).as("sum_aa_pos"),
            sum(when(col("frameshift") === "T", 1L).otherwise(0L)).as("n_frameshift"))
        import spark.implicits._
        perKey.unionByName(facts.toDF("genic_status", "cnt")
            .select(Seq(lit("~pass").as("variant_type"), col("genic_status"),
              lit("").as("syn_status"), col("cnt")) ++
              ChainAggs.tail.map(lit(0L).as(_)): _*))
          .orderBy(col("variant_type"), col("genic_status"), col("syn_status"))
      },
      Some(chainOracle)),

    Q("q83_log_scrape",
      (spark, dir) => {
        writePolyphenFixture()
        writeLogFixture()
        val missing = Polyphen.scrapeMissingProteins(spark, LogPath)
        val known = Polyphen.readInfo(spark, PolyphenInfoPath)
          .select(col("protein_acc_id")).distinct()
          .withColumn("known", lit(1))
        missing.join(known, Seq("protein_acc_id"), "left_outer")
          .groupBy(col("known").isNotNull.as("in_info"))
          .agg(count(lit(1)).as("n_accs"),
            min(col("protein_acc_id")).as("first_acc"),
            max(col("protein_acc_id")).as("last_acc"))
          .orderBy(col("in_info"))
      },
      Some(logOracle)),

    // ---------------------------------------------------------------- q87
    // K10: the audit sink through the gate. The reference appends one
    // SYSTEM_LOG row per pipeline event with the event's record count
    // (`VariantProcessingBase.insertSystemLogMessage:64-75`, called from
    // each run_*.sh stage). Here three stage events log their counts —
    // the counts are data-derived (the synthetic variants table), so a
    // broken sink OR a broken count breaks the hash. The scalar
    // `.count()`s are the audited aggregates themselves (the reference
    // logs exactly such counts); the audit dir is cleared per run so
    // the append-mode sink yields a deterministic table. event_date is
    // excluded from the gate (wall-clock, like the reference's SYSDATE).
    Q("q87_audit_log",
      (spark, dir) => {
        val path = s"$FixtureDir/audit_log"
        val d = new java.io.File(path)
        if (d.exists()) {
          d.listFiles().foreach(_.delete()); d.delete()
        }
        val v = Synthetic.variants(spark, dir)
        val converted = v.count()
        val loaded = v.select(col("chromosome"), col("start_pos"),
          col("ref_nuc"), col("var_nuc")).distinct().count()
        val snvs = v.filter(col("kind") >= 2).count()
        graft.sources.Audit.logMessage(spark, path,
          "vcf-converter", "rows converted", converted.toDouble)
        graft.sources.Audit.logMessage(spark, path,
          "variant-loader", "distinct variants loaded", loaded.toDouble)
        graft.sources.Audit.logMessage(spark, path,
          "variant-postprocessing", "snv rows annotated", snvs.toDouble)
        graft.sources.Audit.read(spark, path)
          .select(col("system_component"), col("log_level"),
            col("string_value"), col("float_value").cast("long").as("n"))
          .orderBy(col("system_component"))
      },
      Some {
        s"""WITH v AS (${Synthetic.variantsSql})
           |SELECT * FROM (
           |  SELECT 'vcf-converter' AS system_component, 'Info' AS log_level,
           |    'rows converted' AS string_value, count(*) AS n FROM v
           |  UNION ALL
           |  SELECT 'variant-loader', 'Info', 'distinct variants loaded',
           |    count(*) FROM (SELECT DISTINCT chromosome, start_pos,
           |      ref_nuc, var_nuc FROM v)
           |  UNION ALL
           |  SELECT 'variant-postprocessing', 'Info', 'snv rows annotated',
           |    count(*) FROM v WHERE kind >= 2)
           |ORDER BY system_component""".stripMargin
      }),

    // ---------------------------------------------------------------- q89
    // K7/X15: the PolyPhen protein-FASTA input writer
    // (`Polyphen.writeFastaFile:357-372` — 70-col wrapped sequence under
    // a `>acc` header, one file, records in accession order) through the
    // gate. Round trip: Polyphen.writeFasta produces the file from
    // synthetic proteins; the Fasta source parses it back; sequences are
    // reassembled from the wrapped lines. The oracle reconstructs the
    // EXPECTED per-protein stats and full sequence independently from
    // the same `part`-derived derivation, so a wrap, ordering, header or
    // reassembly break fails the hash. Line-length stats make the
    // 70-col contract load-bearing (max body line must be exactly 70
    // for any sequence longer than the width).
    Q("q89_polyphen_fasta_write",
      (spark, dir) => {
        import spark.implicits._
        val aa = "ARNDCQEGHILKMFPSTWYV"
        val path = s"$FixtureDir/polyphen_fasta"
        val prot = table(spark, dir, "part")
          .filter(col("p_partkey") % 20 === 0)
          .selectExpr(
            "concat('NP_', lpad(CAST(p_partkey AS STRING), 6, '0')) AS acc",
            s"""array_join(transform(
               |  sequence(1, CAST(40 + p_partkey % 150 AS INT)),
               |  j -> substr('$aa', CAST((p_partkey * 7 + j * 11) % 20 AS INT) + 1, 1)),
               |  '') AS seq""".stripMargin)
        Polyphen.writeFasta(spark, prot, path)
        val lines = spark.sparkContext.textFile(path)
          .zipWithIndex.toDF("line", "line_id")
        Fasta.parseLines(lines)
          .groupBy(col("chr").as("acc"))
          .agg(count(lit(1)).as("n_body_lines"),
            max(length(col("seq"))).cast("long").as("max_line_len"),
            array_join(transform(
              sort_array(collect_list(struct(col("start_off"), col("seq")))),
              x => x("seq")), "").as("sequence"))
          .withColumn("seq_len", length(col("sequence")).cast("long"))
          .orderBy(col("acc"))
      },
      Some {
        val aa = "ARNDCQEGHILKMFPSTWYV"
        s"""WITH prot AS (
           |  SELECT 'NP_' || lpad(CAST(p_partkey AS VARCHAR), 6, '0') AS acc,
           |    array_to_string([substr('$aa',
           |        CAST((p_partkey * 7 + j * 11) % 20 AS INT) + 1, 1)
           |      FOR j IN generate_series(1, CAST(40 + p_partkey % 150 AS INT))],
           |      '') AS seq
           |  FROM part WHERE p_partkey % 20 = 0)
           |SELECT acc,
           |  CAST((length(seq) + 69) // 70 AS BIGINT) AS n_body_lines,
           |  CAST(least(length(seq), 70) AS BIGINT) AS max_line_len,
           |  seq AS sequence,
           |  CAST(length(seq) AS BIGINT) AS seq_len
           |FROM prot ORDER BY acc""".stripMargin
      }),

    // ---------------------------------------------------------------- q69
    // Gzipped JSONL round trip — the corpus interchange format (every
    // public text dump ships as *.jsonl.gz). The documents table is
    // written as compressed newline-delimited JSON with a NESTED
    // metadata struct, read back through an explicit schema (never
    // inferSchema at 100 TB — schema inference is a full extra pass),
    // and aggregated; the DuckDB oracle parses the very same .gz files
    // with its own JSON reader, so a dropped row/field, mangled nested
    // struct, type drift, or string-escaping break diverges the hash.
    Q("q69_jsonl_roundtrip",
      (spark, dir) => {
        val path = s"$FixtureDir/docs_jsonl"
        table(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"),
            struct(col("source"), col("n_chars")).as("meta"))
          .write.mode("overwrite").option("compression", "gzip").json(path)
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, text STRING, " +
            "meta STRUCT<source: STRING, n_chars: BIGINT>")
        spark.read.schema(schema).json(path)
          .groupBy(col("lang"), col("meta.source").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("doc_id")).as("n_ids"),
            sum(col("meta.n_chars")).as("sum_meta_chars"),
            sum(length(col("text")).cast("long")).as("sum_text_chars"))
          .orderBy(col("lang"), col("source"))
      },
      Some(
        s"""SELECT lang, meta.source AS source, count(*) AS n_docs,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
           |  CAST(sum(meta.n_chars) AS BIGINT) AS sum_meta_chars,
           |  CAST(sum(length(text)) AS BIGINT) AS sum_text_chars
           |FROM read_json('$FixtureDir/docs_jsonl/*.json.gz',
           |  format='newline_delimited',
           |  columns={'doc_id':'BIGINT','lang':'VARCHAR','text':'VARCHAR',
           |           'meta':'STRUCT(source VARCHAR, n_chars BIGINT)'})
           |GROUP BY lang, meta.source ORDER BY lang, source""".stripMargin)),

    // ---------------------------------------------------------------- q97
    // Partition-pruned layout: the 100 TB table layout primitive. The
    // corpus is written hive-partitioned by `lang`
    // (`partitionBy(lang)`) and read back with a partition-key filter —
    // Catalyst prunes the scan to the matching directories BEFORE
    // listing file contents (`PartitionFilters` on the scan; at scale,
    // the difference between touching 2/5 of the corpus and all of it).
    // The gate's oracle reads the SAME written dataset via DuckDB's
    // hive_partitioning, so a partition-placement bug (row in the wrong
    // lang dir), a dropped partition, or a value-mangled partition key
    // fails the hash — not just the plan shape, which
    // `PartitionPruneSpec` asserts separately.
    Q("q97_partitioned_prune",
      (spark, dir) => {
        val path = s"$FixtureDir/docs_by_lang"
        table(spark, dir, "documents")
          .write.mode("overwrite").partitionBy("lang").parquet(path)
        spark.read.parquet(path)
          .filter(col("lang").isin("de", "fr"))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("doc_id")).as("n_ids"))
          .orderBy(col("lang"), col("source"))
      },
      Some(
        s"""SELECT lang, source, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids
           |FROM read_parquet('$FixtureDir/docs_by_lang/*/*.parquet',
           |                  hive_partitioning=1)
           |WHERE lang IN ('de', 'fr')
           |GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // ---------------------------------------------------------------- q98
    // Bucketed co-located join: the amortized-shuffle layout for the
    // reference's dominant repeated join (new-vs-existing variants on
    // the natural key, `VariantLoad3.saveVariants:483-532`; scaladoc on
    // `sources/Bucketed`). Both sides are written hash-bucketed and
    // sorted on the join key; the sort-merge join over `spark.table`
    // then plans with NO Exchange on either side (`BucketedJoinSpec`
    // asserts the zero-exchange plan) — at 100 TB the per-load-wave
    // shuffle of the persistent side disappears. The oracle computes
    // the same join from the RAW parquet tables, so a row lost,
    // duplicated, or mis-bucketed by the bucketed write fails the hash.
    Q("q98_bucketed_join",
      (spark, dir) => {
        // one store of both sides, seeded from a clean slate: `seed`
        // drops the catalog entries and directories first and refreshes
        // the paths after (an overwritten external-table path can
        // otherwise leave a stale file-status entry behind — observed
        // once as FILE_NOT_EXIST on the just-written table)
        graft.sources.Bucketed.EpochStore(spark, FixtureDir, Seq(
            "graft_q98_orders" -> Seq("o_orderkey"),
            "graft_q98_lineitem" -> Seq("l_orderkey")))
          .seed(8,
            table(spark, dir, "orders")
              .select(col("o_orderkey"), col("o_orderpriority")),
            table(spark, dir, "lineitem")
              .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")))
        spark.table("graft_q98_lineitem")
          .join(spark.table("graft_q98_orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            countDistinct(col("o_orderkey")).as("n_orders"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
          .orderBy(col("o_orderpriority"))
      },
      Some(
        """SELECT o_orderpriority, count(*) AS n_items,
          |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |  round(sum(l_extendedprice), 2) AS sum_price
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)))
}
