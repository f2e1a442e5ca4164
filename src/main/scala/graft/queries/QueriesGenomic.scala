package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.functions.{DnaFunctions, VariantFunctions, ZygosityFunctions}
import graft.functions.DnaFunctions.{reverseComplementSql, translateCodonSql, translateDnaSql}
import graft.functions.VariantFunctions.{frameshiftFlagSql, synStatusSql}
import graft.functions.ZygosityFunctions._
import graft.operators.RangeJoin

/** Genomic operator coverage over the synthetic variant/gene tables
  * (see [[Synthetic]]): variant typing, end-pos, quality, zygosity,
  * interval joins (genic status, splice-site), translation, indel
  * normalization, frameshift/syn-status — SURVEY §2.4/§2.9.
  */
object QueriesGenomic {

  private val vtypeSql = VariantFunctions.variantTypeSql("ref_nuc", "var_nuc")

  private def withVG(body: String): String =
    s"WITH variants AS (${Synthetic.variantsSql}), genes AS (${Synthetic.genesSql})\n$body"

  private def withV(body: String): String =
    s"WITH variants AS (${Synthetic.variantsSql})\n$body"

  /** Synthetic DNA of `len` bases per part row: base i is
    * ACGT[(p_partkey * 7 + i * 13) % 4]. [[partDnaSql]] is its twin. */
  private def partDna(len: Column): Column =
    array_join(transform(sequence(lit(1), len),
      i => element_at(split(lit("ACGT"), ""), ((col("p_partkey") * 7 + i * 13) % 4).cast("int") + 1)),
      "")

  private def partDnaSql(len: String): String =
    s"""list_aggregate(
       |    [substr('ACGT', CAST((p_partkey * 7 + i * 13) % 4 AS INT) + 1, 1)
       |     for i in generate_series(1, $len)],
       |    'string_agg', '')""".stripMargin

  /** The q28/q29 DNA: 6, 9, 12 or 15 bases per part. */
  private val dnaLen = lit(3) * (lit(2) + (col("p_partkey") % 4).cast("int"))
  private val dnaSqlCte =
    s"SELECT p_partkey, ${partDnaSql("3 * (2 + CAST(p_partkey % 4 AS INT))")} AS dna FROM part"

  /** q32's VCF-style alleles: the synthetic indel with a shared padding
    * base ACGT[vid % 4] in front, in both engines. */
  private val vcfAlleleCols: Seq[(String, String)] = {
    val pad = "substr('ACGT', CAST(vid % 4 AS INT) + 1, 1)"
    Seq("vcf_ref" -> s"CASE WHEN kind = 0 THEN $pad ELSE $pad || ref_nuc END",
      "vcf_var" -> s"CASE WHEN kind = 0 THEN $pad || var_nuc ELSE $pad END")
  }

  val all: Seq[Q] = Seq(

    // X4: variant typing.
    Q("q20_variant_type",
      (spark, dir) =>
        Synthetic.variants(spark, dir)
          .withColumn("variant_type",
            VariantFunctions.variantType(col("ref_nuc"), col("var_nuc")))
          .groupBy(col("variant_type"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("variant_type")),
      Some(withV(
        s"""SELECT $vtypeSql AS variant_type, count(*) AS cnt
           |FROM variants GROUP BY 1 ORDER BY 1""".stripMargin))),

    // X5: end-position rule.
    Q("q21_end_pos",
      (spark, dir) =>
        Synthetic.variants(spark, dir)
          .withColumn("variant_type",
            VariantFunctions.variantType(col("ref_nuc"), col("var_nuc")))
          .withColumn("end_pos",
            VariantFunctions.endPos(col("start_pos"), col("ref_nuc"), col("var_nuc")))
          .groupBy(col("variant_type"))
          .agg(sum(col("end_pos")).as("sum_end_pos"), count(lit(1)).as("cnt"))
          .orderBy(col("variant_type")),
      Some(withV(
        s"""SELECT $vtypeSql AS variant_type,
           |  CAST(sum(${VariantFunctions.endPosSql("start_pos", "ref_nuc", "var_nuc")}) AS BIGINT)
           |    AS sum_end_pos,
           |  count(*) AS cnt
           |FROM variants GROUP BY 1 ORDER BY 1""".stripMargin))),

    // X6: quality score with the reference's exact integer semantics
    // (100*rd + td/2) / td, integer division (VariantLoad3.java:270-274).
    Q("q22_quality_score",
      (spark, dir) =>
        Synthetic.variants(spark, dir)
          .withColumn("q",
            VariantFunctions.qualityScore(col("read_depth"), col("total_depth")))
          .groupBy(floor(col("q") / 10).cast("long").as("q_bucket"))
          .agg(count(lit(1)).as("cnt"), sum(col("q")).as("sum_q"))
          .orderBy(col("q_bucket")),
      Some(withV(
        s"""SELECT CAST(q // 10 AS BIGINT) AS q_bucket, count(*) AS cnt,
          |  CAST(sum(q) AS BIGINT) AS sum_q
          |FROM (SELECT ${VariantFunctions.qualityScoreSql("read_depth", "total_depth")} AS q
          |      FROM variants)
          |GROUP BY 1 ORDER BY 1""".stripMargin))),

    // X3 SNV path: full zygosity ladder incl. hemizygous/PAR handling.
    Q("q23_zygosity_snv",
      (spark, dir) =>
        Synthetic.variants(spark, dir)
          .filter(col("kind") >= 2)
          .withColumn("z", ZygosityFunctions.zygositySnv(
            col("ref_nuc"), col("var_nuc"), col("chromosome"), col("start_pos"),
            col("gender"), col("count_a"), col("count_c"), col("count_g"), col("count_t")))
          .select(col("z.*"))
          .filter(col("score") > 0)
          .groupBy(col("zygosity_status"), col("zygosity_poss_error"),
            col("zygosity_in_pseudo"), col("zygosity_ref_allele"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("zygosity_percent_read").cast("long")).as("sum_pct"),
            sum(col("zygosity_num_allele").cast("long")).as("sum_num_allele"))
          .orderBy(col("zygosity_status"), col("zygosity_poss_error"),
            col("zygosity_in_pseudo"), col("zygosity_ref_allele")),
      Some(withV(
        s"""SELECT zygosity_status, zygosity_poss_error, zygosity_in_pseudo, zygosity_ref_allele,
           |  count(*) AS cnt, CAST(sum(${percentIntSql("pct")}) AS BIGINT) AS sum_pct,
           |  CAST(sum(${numAlleleSql("count_a", "count_c", "count_g", "count_t")}) AS BIGINT)
           |    AS sum_num_allele
           |FROM (
           |  SELECT *,
           |    ${zygosityStatusSql("pct", "chromosome", "start_pos", "gender")} AS zygosity_status,
           |    ${possibleErrorFlagSql("pct")} AS zygosity_poss_error,
           |    ${inPseudoFlagSql("chromosome", "start_pos", "gender")} AS zygosity_in_pseudo,
           |    ${refAlleleFlagSql("ref_nuc", "count_a", "count_c", "count_g", "count_t")}
           |      AS zygosity_ref_allele
           |  FROM (
           |    SELECT *, ${percentReadSql("var_count", "count_a + count_c + count_g + count_t")} AS pct
           |    FROM (
           |      SELECT *,
           |        CASE var_nuc WHEN 'A' THEN count_a WHEN 'C' THEN count_c
           |                     WHEN 'G' THEN count_g WHEN 'T' THEN count_t ELSE 0 END AS var_count
           |      FROM variants WHERE kind >= 2)))
           |WHERE var_count > 0
           |GROUP BY 1, 2, 3, 4
           |ORDER BY 1, 2, 3, 4""".stripMargin))),

    // X3 indel path.
    Q("q24_zygosity_indel",
      (spark, dir) =>
        Synthetic.variants(spark, dir)
          .filter(col("kind") < 2)
          .withColumn("z", ZygosityFunctions.zygosityIndel(
            col("allele_depth"), col("read_depth"), col("chromosome"),
            col("start_pos"), col("gender")))
          .select(col("z.*"))
          .filter(col("score") > 0)
          .groupBy(col("zygosity_status"), col("zygosity_poss_error"), col("zygosity_in_pseudo"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("zygosity_percent_read").cast("long")).as("sum_pct"))
          .orderBy(col("zygosity_status"), col("zygosity_poss_error"), col("zygosity_in_pseudo")),
      Some(withV(
        s"""SELECT zygosity_status, zygosity_poss_error, zygosity_in_pseudo,
           |  count(*) AS cnt, CAST(sum(${percentIntSql("pct")}) AS BIGINT) AS sum_pct
           |FROM (
           |  SELECT *,
           |    ${zygosityStatusSql("pct", "chromosome", "start_pos", "gender")} AS zygosity_status,
           |    ${possibleErrorFlagSql("pct")} AS zygosity_poss_error,
           |    ${inPseudoFlagSql("chromosome", "start_pos", "gender")} AS zygosity_in_pseudo
           |  FROM (
           |    SELECT *, ${percentReadSql("allele_depth", "read_depth")} AS pct
           |    FROM variants WHERE kind < 2))
           |WHERE allele_depth <> 0 AND ${percentIntSql("pct")} > 0
           |GROUP BY 1, 2, 3
           |ORDER BY 1, 2, 3""".stripMargin))),

    // J1 genic status per variant: RangeJoin.covered and its twin. vid
    // is NOT row-unique in the synthetic data: a vid is genic iff ANY
    // of its rows is covered.
    Q("q25_genic_status",
      (spark, dir) => {
        val v = Synthetic.variants(spark, dir)
          .select(col("vid"), col("chromosome"), col("start_pos"))
        RangeJoin.covered(v, Synthetic.genes(spark, dir), Seq("chromosome"), Seq("g_chr"),
            "start_pos", "g_start", "g_stop")
          .groupBy(col("vid"), col("chromosome"))
          .agg(max(col("covered")).as("covered"))
          .select(col("chromosome"),
            VariantFunctions.genicStatus(col("covered")).as("genic_status"))
          .groupBy(col("chromosome"), col("genic_status"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("chromosome"), col("genic_status"))
      },
      Some(withVG(
        s"""SELECT chromosome, genic_status, count(*) AS cnt FROM (
           |  SELECT vid, chromosome,
           |    ${VariantFunctions.genicStatusSql("bool_or(covered)")} AS genic_status
           |  FROM (
           |    SELECT vid, chromosome, ${RangeJoin.coveredSql("genes", Seq("v.chromosome"),
             Seq("g_chr"), "v.start_pos", "g_start", "g_stop")} AS covered
           |    FROM variants v)
           |  GROUP BY vid, chromosome)
           |GROUP BY chromosome, genic_status
           |ORDER BY chromosome, genic_status""".stripMargin))),

    // J1 inner interval join: variants per gene, top 20.
    Q("q26_variants_per_gene",
      (spark, dir) => {
        val v = Synthetic.variants(spark, dir)
          .select(col("vid"), col("chromosome"), col("start_pos"))
        val g = Synthetic.genes(spark, dir)
        RangeJoin.pointInInterval(
            v, g, Seq("chromosome"), Seq("g_chr"), "start_pos", "g_start", "g_stop",
            binSize = 100000L, broadcastIntervals = true)
          .groupBy(col("gene_id"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("gene_id"))
          .limit(20)
      },
      Some(withVG(
        """SELECT g.gene_id, count(*) AS cnt
          |FROM variants v
          |JOIN genes g ON v.chromosome = g.g_chr
          |  AND v.start_pos BETWEEN g.g_start AND g.g_stop
          |GROUP BY g.gene_id
          |ORDER BY cnt DESC, g.gene_id
          |LIMIT 20""".stripMargin))),

    // J2: splice-site proximity (within ±10 bp of an internal exon
    // boundary), expressed as an expanded-interval join.
    Q("q27_near_splice_site",
      (spark, dir) => {
        val v = Synthetic.variants(spark, dir)
          .select(col("vid"), col("chromosome"), col("start_pos"))
        val bounds = Synthetic.genes(spark, dir)
          .withColumn("k", explode(sequence(lit(1), lit(3))))
          .select(col("g_chr"),
            (col("g_start") + col("k") * expr("(g_stop - g_start) div 4")).as("boundary"))
          .select(col("g_chr"), (col("boundary") - 10).as("b_lo"), (col("boundary") + 10).as("b_hi"))
        // vid is NOT row-unique in the synthetic data: a vid is Y iff
        // ANY of its rows is covered by ANY boundary, so the per-vid
        // grouping is load-bearing.
        RangeJoin.covered(v, bounds, Seq("chromosome"), Seq("g_chr"), "start_pos",
            "b_lo", "b_hi")
          .groupBy(col("vid"))
          .agg(max(col("covered")).as("near"))
          .select(when(col("near"), "Y").otherwise("N").as("near_splice_site"))
          .groupBy(col("near_splice_site"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("near_splice_site"))
      },
      Some(withVG({
        val bounds =
          """(SELECT g_chr, g_start + k * ((g_stop - g_start) // 4) - 10 AS b_lo,
            |  g_start + k * ((g_stop - g_start) // 4) + 10 AS b_hi
            |FROM genes, (SELECT unnest(generate_series(1, 3)) AS k))""".stripMargin
        s"""SELECT near_splice_site, count(*) AS cnt FROM (
           |  SELECT vid, CASE WHEN bool_or(covered) THEN 'Y' ELSE 'N' END AS near_splice_site
           |  FROM (
           |    SELECT vid, ${RangeJoin.coveredSql(bounds, Seq("v.chromosome"), Seq("g_chr"),
             "v.start_pos", "b_lo", "b_hi")} AS covered
           |    FROM variants v)
           |  GROUP BY vid)
           |GROUP BY near_splice_site
           |ORDER BY near_splice_site""".stripMargin
      }))),

    // Interval-overlap join (RangeJoin.intervalOverlap): overlapping
    // gene pairs per chromosome. Both sides explode onto bins and the
    // anchor-bin rule emits each overlapping pair exactly once — no
    // post-join dedup, so the plan stays streaming-friendly at scale.
    Q("q61_gene_overlap",
      (spark, dir) => {
        val g = Synthetic.genes(spark, dir)
        val g2 = g.select(col("gene_id").as("gene_id2"), col("g_chr").as("g_chr2"),
          col("g_start").as("g_start2"), col("g_stop").as("g_stop2"))
        RangeJoin.intervalOverlap(g, g2, Seq("g_chr"), Seq("g_chr2"),
            "g_start", "g_stop", "g_start2", "g_stop2", binSize = 100000L)
          .filter(col("gene_id") < col("gene_id2"))
          .groupBy(col("g_chr"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("gene_id") + col("gene_id2")).as("sum_ids"))
          .orderBy(col("g_chr"))
      },
      Some(s"WITH genes AS (${Synthetic.genesSql})\n" +
        """SELECT a.g_chr AS g_chr, count(*) AS n_pairs,
          |  CAST(sum(a.gene_id + b.gene_id) AS BIGINT) AS sum_ids
          |FROM genes a JOIN genes b
          |  ON a.g_chr = b.g_chr AND a.gene_id < b.gene_id
          |  AND a.g_start <= b.g_stop AND a.g_stop >= b.g_start
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X1: codon translation of synthetic DNA (map-literal lookup inside
    // whole-stage codegen; no UDF).
    Q("q28_translate_dna",
      (spark, dir) =>
        table(spark, dir, "part")
          .select(col("p_partkey"), partDna(dnaLen).as("dna"))
          .withColumn("protein", DnaFunctions.translateDna(col("dna")))
          .filter(col("p_partkey") % 20 === 0)
          .select(col("p_partkey"), col("dna"), col("protein"))
          .orderBy(col("p_partkey")),
      Some(s"""WITH dna_t AS ($dnaSqlCte)
              |SELECT p_partkey, dna, ${translateDnaSql("dna")} AS protein
              |FROM dna_t
              |WHERE p_partkey % 20 = 0
              |ORDER BY p_partkey""".stripMargin)),

    // X2: reverse complement (involution checked in the result).
    Q("q29_reverse_complement",
      (spark, dir) =>
        table(spark, dir, "part")
          .select(col("p_partkey"), partDna(dnaLen).as("dna"))
          .withColumn("revcomp", DnaFunctions.reverseComplement(col("dna")))
          .withColumn("involution_ok",
            (DnaFunctions.reverseComplement(col("revcomp")) === col("dna")).cast("int").cast("long"))
          .filter(col("p_partkey") % 20 === 0)
          .select(col("p_partkey"), col("revcomp"), col("involution_ok"))
          .orderBy(col("p_partkey")),
      Some(s"""WITH dna_t AS ($dnaSqlCte)
              |SELECT p_partkey, ${reverseComplementSql("dna")} AS revcomp,
              |  CAST(CASE WHEN ${reverseComplementSql(reverseComplementSql("dna"))} = dna
              |    THEN 1 ELSE 0 END AS BIGINT) AS involution_ok
              |FROM dna_t
              |WHERE p_partkey % 20 = 0
              |ORDER BY p_partkey""".stripMargin)),

    // X16/X17: frameshift flag + synonymous status.
    Q("q30_frameshift",
      (spark, dir) =>
        Synthetic.variants(spark, dir)
          .withColumn("variant_type",
            VariantFunctions.variantType(col("ref_nuc"), col("var_nuc")))
          .withColumn("frameshift",
            VariantFunctions.frameshiftFlag(col("ref_nuc"), col("var_nuc")))
          .groupBy(col("variant_type"), col("frameshift"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("variant_type"), col("frameshift")),
      Some(withV(
        s"""SELECT $vtypeSql AS variant_type,
           |  ${frameshiftFlagSql("ref_nuc", "var_nuc")} AS frameshift,
           |  count(*) AS cnt
           |FROM variants GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))),

    // X17: syn status over mutated codons.
    Q("q31_syn_status",
      (spark, dir) => {
        val d = table(spark, dir, "part")
          .select(col("p_partkey"), partDna(lit(3)).as("ref_codon"))
          .withColumn("mut_pos", (col("p_partkey") % 3).cast("int") + 1)
          .withColumn("mut_base",
            element_at(split(lit("ACGT"), ""), ((col("p_partkey") * 11) % 4).cast("int") + 1))
          .withColumn("var_codon",
            concat(
              col("ref_codon").substr(lit(1), col("mut_pos") - 1),
              col("mut_base"),
              col("ref_codon").substr(col("mut_pos") + 1, lit(3))))
        d.withColumn("ref_aa", DnaFunctions.translateCodon(col("ref_codon")))
          .withColumn("var_aa", DnaFunctions.translateCodon(col("var_codon")))
          .withColumn("syn_status", VariantFunctions.synStatus(col("ref_aa"), col("var_aa")))
          .groupBy(col("syn_status"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("syn_status"))
      },
      Some(s"""WITH d AS (
              |  SELECT p_partkey, ${partDnaSql("3")} AS ref_codon,
              |    CAST(p_partkey % 3 AS INT) + 1 AS mut_pos,
              |    substr('ACGT', CAST((p_partkey * 11) % 4 AS INT) + 1, 1) AS mut_base
              |  FROM part),
              |d2 AS (
              |  SELECT *, substr(ref_codon, 1, mut_pos - 1) || mut_base || substr(ref_codon, mut_pos + 1, 3) AS var_codon
              |  FROM d),
              |d3 AS (
              |  SELECT ${translateCodonSql("ref_codon")} AS ref_aa,
              |    ${translateCodonSql("var_codon")} AS var_aa
              |  FROM d2)
              |SELECT ${synStatusSql("ref_aa", "var_aa")} AS syn_status, count(*) AS cnt
              |FROM d3 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X7: indel normalization (padding-base encoding).
    Q("q32_indel_normalize",
      (spark, dir) =>
        Synthetic.variants(spark, dir)
          .filter(col("kind") < 2)
          .selectExpr("start_pos" +: vcfAlleleCols.map { case (n, e) => s"$e AS $n" }: _*)
          .withColumn("adj",
            VariantFunctions.adjustForIndels(col("start_pos"), col("vcf_ref"), col("vcf_var")))
          .select(col("adj.*"))
          .groupBy(col("padding_base"), col("ok"))
          .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("sum_pos"))
          .orderBy(col("padding_base"), col("ok")),
      Some(withV({
        val adj = VariantFunctions.adjustForIndelsSql("start_pos", "vcf_ref", "vcf_var")
          .map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
        s"""SELECT padding_base, ok, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS sum_pos
           |FROM (
           |  SELECT $adj
           |  FROM (
           |    SELECT start_pos, ${vcfAlleleCols.map { case (n, e) => s"$e AS $n" }.mkString(", ")}
           |    FROM variants WHERE kind < 2))
           |GROUP BY padding_base, ok
           |ORDER BY padding_base, ok""".stripMargin
      }))),

    // X8: allele explode with per-allele depth lookup (posexplode +
    // element_at; DuckDB: generate_subscripts over the split list).
    Q("q33_allele_explode",
      (spark, dir) => {
        val v = Synthetic.variants(spark, dir)
          .filter(col("kind") >= 2)
          .select(col("vid"), col("ref_nuc"),
            concat_ws(",", col("ref_nuc"), col("var_nuc"),
              expr("substr('ACGT', CAST((vid + 2) % 4 AS INT) + 1, 1)")).as("allele_list"),
            concat_ws(",", col("count_a").cast("string"), col("count_c").cast("string"),
              col("count_g").cast("string")).as("ad_list"))
        v.select(col("vid"), col("ref_nuc"),
            posexplode(split(col("allele_list"), ",")).as(Seq("idx", "allele")),
            split(col("ad_list"), ",").as("ads"))
          .filter(col("allele") =!= col("ref_nuc"))
          .select(col("allele"),
            element_at(col("ads"), col("idx") + 1).cast("long").as("depth"))
          .groupBy(col("allele"))
          .agg(count(lit(1)).as("cnt"), sum(col("depth")).as("sum_depth"))
          .orderBy(col("allele"))
      },
      Some(withV(
        """SELECT allele, count(*) AS cnt, CAST(sum(depth) AS BIGINT) AS sum_depth
          |FROM (
          |  SELECT alleles[idx] AS allele, ref_nuc,
          |    CAST(string_split(ad_list, ',')[idx] AS BIGINT) AS depth
          |  FROM (
          |    SELECT vid, ref_nuc,
          |      string_split(ref_nuc || ',' || var_nuc || ',' ||
          |        substr('ACGT', CAST((vid + 2) % 4 AS INT) + 1, 1), ',') AS alleles,
          |      CAST(count_a AS VARCHAR) || ',' || CAST(count_c AS VARCHAR) || ',' ||
          |        CAST(count_g AS VARCHAR) AS ad_list
          |    FROM variants WHERE kind >= 2),
          |    LATERAL (SELECT unnest(generate_series(1, len(alleles))) AS idx)
          |  WHERE alleles[idx] <> ref_nuc)
          |GROUP BY allele
          |ORDER BY allele""".stripMargin))),

    // X22: protein flank QC (reference `Polyphen.java:205-341`): the
    // stated protein's residues left and right of the mutation site
    // must match the reference protein, and a stop codon strictly
    // before the end marks the row suspect.
    Q("q35_protein_flank_qc",
      (spark, dir) => {
        val d = table(spark, dir, "part")
          .select(col("p_partkey"),
            array_join(transform(
              sequence(lit(1), lit(3) * (lit(4) + (col("p_partkey") % 4).cast("int"))),
              i => element_at(split(lit("ACGT"), ""), ((col("p_partkey") * 7 + i * 13 + (i * i) % 5) % 4).cast("int") + 1)),
              "").as("dna"))
          .withColumn("protein", DnaFunctions.translateDna(col("dna")))
          .withColumn("plen", length(col("protein")))
          .withColumn("aa_pos", (col("p_partkey") % col("plen")).cast("int") + 1)
          // stated protein: same as reference, except every 11th part
          // gets a corrupted residue at position 1 (away from aa_pos
          // when aa_pos > 1)
          .withColumn("stated",
            when(col("p_partkey") % 11 === 0 && col("aa_pos") > 1,
              concat(lit("Z"), expr("substring(protein, 2)")))
              .otherwise(col("protein")))
        d.withColumn("left_ok",
            expr("substring(stated, 1, aa_pos - 1) = substring(protein, 1, aa_pos - 1)"))
          .withColumn("right_ok",
            expr("substring(stated, aa_pos + 1) = substring(protein, aa_pos + 1)"))
          .withColumn("stop_in_middle",
            expr("instr(protein, '*') BETWEEN 1 AND plen - 1"))
          .groupBy(col("left_ok"), col("right_ok"), col("stop_in_middle"))
          .agg(count(lit(1)).as("cnt"), sum(col("aa_pos").cast("long")).as("sum_aa_pos"))
          .orderBy(col("left_ok"), col("right_ok"), col("stop_in_middle"))
      },
      Some(
        s"""WITH dna_t AS (
           |  SELECT p_partkey,
           |    list_aggregate(
           |      [substr('ACGT', CAST((p_partkey * 7 + i * 13 + (i * i) % 5) % 4 AS INT) + 1, 1)
           |       FOR i IN generate_series(1, 3 * (4 + CAST(p_partkey % 4 AS INT)))],
           |      'string_agg', '') AS dna
           |  FROM part),
           |prot AS (SELECT p_partkey, ${translateDnaSql("dna")} AS protein FROM dna_t),
           |st AS (
           |  SELECT p_partkey, protein, length(protein) AS plen,
           |    CAST(p_partkey % length(protein) AS INT) + 1 AS aa_pos
           |  FROM prot),
           |stated_t AS (
           |  SELECT *,
           |    CASE WHEN p_partkey % 11 = 0 AND aa_pos > 1
           |         THEN 'Z' || substr(protein, 2) ELSE protein END AS stated
           |  FROM st)
           |SELECT substr(stated, 1, aa_pos - 1) = substr(protein, 1, aa_pos - 1) AS left_ok,
           |  substr(stated, aa_pos + 1) = substr(protein, aa_pos + 1) AS right_ok,
           |  instr(protein, '*') BETWEEN 1 AND plen - 1 AS stop_in_middle,
           |  count(*) AS cnt, CAST(sum(aa_pos) AS BIGINT) AS sum_aa_pos
           |FROM stated_t
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // J15: strand lookup — all map rows covering a position, DISTINCT
    // strands concatenated (reference `Polyphen.getStrand:387-410`).
    // collect_set is unordered, so the concat sorts first to stay
    // deterministic (SURVEY §4 ordering note).
    Q("q36_strand_lookup",
      (spark, dir) => {
        val v = Synthetic.variants(spark, dir)
          .select(col("vid"), col("chromosome"), col("start_pos"))
        val g = Synthetic.genes(spark, dir)
          .withColumn("strand", when(col("gene_id") % 2 === 0, "+").otherwise("-"))
        val joined = RangeJoin.pointInInterval(
          v, g, Seq("chromosome"), Seq("g_chr"), "start_pos", "g_start", "g_stop",
          binSize = 100000L, broadcastIntervals = true)
        joined.groupBy(col("vid"))
          .agg(array_join(sort_array(collect_set(col("strand"))), "").as("strands"))
          .groupBy(col("strands"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("strands"))
      },
      Some(withVG(
        """SELECT strands, count(*) AS cnt FROM (
          |  SELECT v.vid, string_agg(DISTINCT s.strand, '' ORDER BY s.strand) AS strands
          |  FROM variants v
          |  JOIN (SELECT *, CASE WHEN gene_id % 2 = 0 THEN '+' ELSE '-' END AS strand
          |        FROM genes) s
          |    ON v.chromosome = s.g_chr AND v.start_pos BETWEEN s.g_start AND s.g_stop
          |  GROUP BY v.vid)
          |GROUP BY strands ORDER BY strands""".stripMargin))),

    // X13: IUPAC ambiguity expansion.
    Q("q34_iupac_expand",
      (spark, dir) =>
        table(spark, dir, "part")
          .select(expr("substr('ACGTRYSWKMBDHVN', CAST(p_partkey % 15 AS INT) + 1, 1)").as("code"))
          .withColumn("expansion", DnaFunctions.iupacExpand(col("code")))
          .groupBy(col("code"), col("expansion"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("code")),
      Some("""SELECT code,
             |  CASE code WHEN 'A' THEN 'A' WHEN 'C' THEN 'C' WHEN 'G' THEN 'G' WHEN 'T' THEN 'T'
             |    WHEN 'R' THEN 'AG' WHEN 'Y' THEN 'CT' WHEN 'S' THEN 'GC' WHEN 'W' THEN 'AT'
             |    WHEN 'K' THEN 'GT' WHEN 'M' THEN 'AC' WHEN 'B' THEN 'CGT' WHEN 'D' THEN 'AGT'
             |    WHEN 'H' THEN 'ACT' WHEN 'V' THEN 'ACG' WHEN 'N' THEN 'ATCG' END AS expansion,
             |  count(*) AS cnt
             |FROM (SELECT substr('ACGTRYSWKMBDHVN', CAST(p_partkey % 15 AS INT) + 1, 1) AS code FROM part)
             |GROUP BY code, expansion
             |ORDER BY code""".stripMargin))
  )
}
