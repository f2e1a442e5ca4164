package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic genomic inputs derived from the TPC-H-ish
  * test tables, so every genomic operator can be validated against a
  * DuckDB oracle over the same parquet files.
  *
  * The derivation uses only integer arithmetic, CASE, substr and concat —
  * constructs with identical semantics in Spark SQL and DuckDB — and each
  * fragment exists exactly once here, used by BOTH engines (Spark via
  * `selectExpr`, DuckDB via a CTE in the oracle SQL). Shapes mirror the
  * reference's CF2 inputs (`convert/CommonFormat2Line.java:8-33`) and
  * gene/feature dims (`GeneCache.java:25-46`).
  */
object Synthetic {

  /** chromosome 1..20, X, Y from an integer key (mirrors rat karyotype,
    * reference `VcfToCommonFormat2Base.java:30-35` valid-chr handling). */
  private def chrExpr(k: String): String =
    s"""CASE ($k % 22)
       |  WHEN 20 THEN 'X'
       |  WHEN 21 THEN 'Y'
       |  ELSE CAST(($k % 22) + 1 AS STRING)
       |END""".stripMargin

  /** CF2-like variant lines derived from `lineitem`. Kinds: l_linenumber%5
    * == 0 -> insertion (empty ref), == 1 -> deletion (empty var), else SNV.
    * Depth fields emulate the AD/DP split (`CommonFormat2Line.java:25-33`).
    */
  val variantCols: Seq[(String, String)] = Seq(
    "vid" -> "l_orderkey * 10 + l_linenumber",
    "sample_id" -> "l_suppkey % 10",
    "gender" -> "CASE WHEN l_suppkey % 2 = 0 THEN 'M' ELSE 'F' END",
    "chromosome" -> chrExpr("l_orderkey"),
    "start_pos" -> "(l_partkey * 137 + l_linenumber * 31) % 3000000 + 1",
    "kind" -> "l_linenumber % 5",
    "ref_nuc" ->
      """CASE WHEN l_linenumber % 5 = 0 THEN ''
        |     WHEN l_linenumber % 5 = 1 THEN substr('ACGTACGT', CAST((l_partkey + l_linenumber) % 4 AS INT) + 1, CAST(2 + l_orderkey % 3 AS INT))
        |     ELSE substr('ACGT', CAST((l_partkey + l_linenumber) % 4 AS INT) + 1, 1)
        |END""".stripMargin,
    "var_nuc" ->
      """CASE WHEN l_linenumber % 5 = 0 THEN substr('ACGTACGT', CAST((l_partkey + l_linenumber) % 4 AS INT) + 1, CAST(2 + l_partkey % 3 AS INT))
        |     WHEN l_linenumber % 5 = 1 THEN ''
        |     ELSE substr('ACGT', CAST((l_partkey + l_linenumber + 1 + l_orderkey % 3) % 4 AS INT) + 1, 1)
        |END""".stripMargin,
    "count_a" -> "(l_partkey * 7 + l_linenumber) % 30",
    "count_c" -> "(l_suppkey * 3 + l_orderkey) % 30",
    "count_g" -> "(l_orderkey * 5 + l_partkey) % 30",
    "count_t" -> "(l_partkey + l_suppkey + l_linenumber * 11) % 30",
    "allele_depth" -> "(l_linenumber * 3 + l_partkey) % 40",
    "read_depth" -> "(l_linenumber * 3 + l_partkey) % 40 + (l_orderkey % 20)",
    "total_depth" -> "(l_partkey * 7 + l_linenumber) % 30 + (l_suppkey * 3 + l_orderkey) % 30 + (l_orderkey * 5 + l_partkey) % 30 + (l_partkey + l_suppkey + l_linenumber * 11) % 30")

  /** Gene-like intervals derived from `part` (mirrors the GENES/MAPS_DATA
    * dim, `GeneCache.java:29-34`). ~2.7 kb mean span. */
  val geneCols: Seq[(String, String)] = Seq(
    "gene_id" -> "p_partkey",
    "g_chr" -> chrExpr("p_partkey"),
    "g_start" -> "(p_partkey * 211) % 3000000 + 1",
    "g_stop" -> "(p_partkey * 211) % 3000000 + 1 + 200 + (p_size * 97) % 5000")

  // -- ClinVar-shaped dims (J12/J13, `convert/ClinVar2Vcf.java:81-88`,
  // `VariantProcessingBase.insertClinvarIds:346-384`): a human-variant
  // catalog keyed by rgd_id, its positions on an assembly (possibly
  // several), and the generic genomic_elements dim whose CLINVAR-sourced
  // rows carry the accession symbol used for the clinvar_id backfill.

  /** ClinVar variant catalog derived from `orders`. Every 6th/11th/13th
    * key exercises a rejection path (unsupported object_type, empty or
    * non-ACGTN nucleotides — `qcVarNucAndRefNuc`,
    * `convert/ClinVar2Vcf.java:236-268`). */
  val clinvarCols: Seq[(String, String)] = Seq(
    "rgd_id" -> "o_orderkey",
    "object_type" ->
      """CASE (o_orderkey % 6)
        |  WHEN 0 THEN 'single nucleotide variant'
        |  WHEN 1 THEN 'deletion'
        |  WHEN 2 THEN 'insertion'
        |  WHEN 3 THEN 'duplication'
        |  WHEN 4 THEN 'copy number gain'
        |  ELSE 'microsatellite'
        |END""".stripMargin,
    "name" -> "'NM_00' || CAST(o_orderkey % 97 AS STRING) || '.3(p.Val' || CAST(o_orderkey % 50 AS STRING) || 'Met)'",
    "rs_id" -> "CASE WHEN o_orderkey % 4 = 0 THEN 'rs' || CAST(o_orderkey * 3 + 101 AS STRING) END",
    "ref_nuc" ->
      """CASE (o_orderkey % 11)
        |  WHEN 0 THEN ''
        |  WHEN 1 THEN '-'
        |  WHEN 2 THEN 'AXG'
        |  ELSE substr('ACGTNACGT', CAST(o_orderkey % 5 AS INT) + 1, CAST(1 + o_orderkey % 2 AS INT))
        |END""".stripMargin,
    "var_nuc" ->
      """CASE (o_orderkey % 13)
        |  WHEN 0 THEN ''
        |  WHEN 1 THEN '-'
        |  WHEN 2 THEN 'GZT'
        |  ELSE substr('ACGTNACGTN', CAST(o_orderkey % 7 AS INT) + 1, CAST(1 + o_orderkey % 3 AS INT))
        |END""".stripMargin)

  /** Assembly positions: one row per rgd_id plus a second position for
    * every 9th key (the multi-position case J13 rejects — but only
    * counting non-Y rows, `getVarPos`'s `chromosome<>'Y'` predicate). */
  val mapsPrimaryCols: Seq[(String, String)] = Seq(
    "rgd_id" -> "o_orderkey",
    "start_pos" -> "(o_orderkey * 149) % 2000000 + 1",
    "stop_pos" -> "(o_orderkey * 149) % 2000000 + 2 + (o_orderkey % 40)",
    "chromosome" -> chrExpr("(o_orderkey * 7 + 3)"))
  val mapsExtraCols: Seq[(String, String)] = Seq(
    "rgd_id" -> "o_orderkey",
    "start_pos" -> "(o_orderkey * 211) % 2000000 + 1",
    "stop_pos" -> "(o_orderkey * 211) % 2000000 + 2 + (o_orderkey % 25)",
    "chromosome" -> chrExpr("(o_orderkey * 5 + 1)"))

  /** genomic_elements: one row per key with mixed-case sources (the
    * reference matches CLINVAR case-insensitively) plus an extra OMIM
    * alias row for every 5th key, so the backfill join must filter on
    * source before matching. */
  val elementCols: Seq[(String, String)] = Seq(
    "rgd_id" -> "o_orderkey",
    "source" -> "CASE (o_orderkey % 3) WHEN 0 THEN 'ClinVar' WHEN 1 THEN 'CLINVAR' ELSE 'OMIM' END",
    "symbol" -> "'RCV' || CAST(o_orderkey * 7 + 13 AS STRING)")
  val elementExtraCols: Seq[(String, String)] = Seq(
    "rgd_id" -> "o_orderkey",
    "source" -> "'OMIM'",
    "symbol" -> "'OM' || CAST(o_orderkey AS STRING)")

  private def selectList(cols: Seq[(String, String)]): String =
    cols.map { case (n, e) => s"($e) AS $n" }.mkString(", ")

  /** DuckDB CTE text for the synthetic variants table. */
  def variantsSql: String = s"SELECT ${selectList(variantCols)} FROM lineitem"

  /** DuckDB CTE text for the synthetic genes table. */
  def genesSql: String = s"SELECT ${selectList(geneCols)} FROM part"

  /** Spark DataFrame of the synthetic variants (same fragments). */
  def variants(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr(variantCols.map { case (n, e) => s"($e) AS $n" }: _*)

  /** Spark DataFrame of the synthetic genes (same fragments). */
  def genes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet")
      .selectExpr(geneCols.map { case (n, e) => s"($e) AS $n" }: _*)

  def clinvarSql: String = s"SELECT ${selectList(clinvarCols)} FROM orders"
  def mapsDataSql: String =
    s"SELECT ${selectList(mapsPrimaryCols)} FROM orders UNION ALL " +
      s"SELECT ${selectList(mapsExtraCols)} FROM orders WHERE o_orderkey % 9 = 0"
  def elementsSql: String =
    s"SELECT ${selectList(elementCols)} FROM orders UNION ALL " +
      s"SELECT ${selectList(elementExtraCols)} FROM orders WHERE o_orderkey % 5 = 0"

  def clinvar(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr(clinvarCols.map { case (n, e) => s"($e) AS $n" }: _*)

  def mapsData(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    o.selectExpr(mapsPrimaryCols.map { case (n, e) => s"($e) AS $n" }: _*)
      .unionByName(o.filter("o_orderkey % 9 = 0")
        .selectExpr(mapsExtraCols.map { case (n, e) => s"($e) AS $n" }: _*))
  }

  /** FASTA text (line_id, line) of the synthetic genome: for each
    * chromosome number `c` of `chrs`, a `>{prefix}c` header and `lines`
    * 40-base lines, base j of line i being ACGT[(c*7 + i*3 + j) % 4]. */
  def genomeLines(chrs: DataFrame, lines: Int, prefix: String = "chr"): DataFrame = {
    val bases = typedlit(Seq("A", "C", "G", "T"))
    val header = col("c") * (lines + 1)
    chrs.select(header.as("line_id"), concat(lit(">" + prefix), col("c")).as("line"))
      .unionByName(chrs.withColumn("i", explode(sequence(lit(1), lit(lines))))
        .select((header + col("i")).as("line_id"),
          array_join(transform(sequence(lit(1), lit(40)),
            j => element_at(bases,
              ((col("c") * 7 + col("i") * 3 + j) % 4 + 1).cast("int"))), "").as("line")))
  }

  /** The same genome as DuckDB CTEs: `chrs` (the chromosome numbers `c`
    * that `chrsSql` selects) and `chrseq` (c, seq), each chromosome's
    * bases as one string. */
  def genomeSql(chrsSql: String, lines: Int): String =
    s"""chrs AS ($chrsSql),
       |ln AS (
       |  SELECT c, i, string_agg(ch, '' ORDER BY j) AS line
       |  FROM (SELECT c, i, j, ['A','C','G','T'][(c*7 + i*3 + j) % 4 + 1] AS ch
       |        FROM chrs, generate_series(1, $lines) s(i), generate_series(1, 40) t(j))
       |  GROUP BY c, i),
       |chrseq AS (SELECT c, string_agg(line, '' ORDER BY i) AS seq FROM ln GROUP BY c)""".stripMargin

  def elements(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    o.selectExpr(elementCols.map { case (n, e) => s"($e) AS $n" }: _*)
      .unionByName(o.filter("o_orderkey % 5 = 0")
        .selectExpr(elementExtraCols.map { case (n, e) => s"($e) AS $n" }: _*))
  }
}
