package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{DnaFunctions, VariantFunctions, ZygosityFunctions}
import graft.sources.{Bucketed, Cf2, Fasta, Jdbc, Polyphen, Tsv, Vcf}
import graft.streaming.StreamingOps

/** The strain loader: the reference's production chain
  * (`run_converter.sh` -> `run_varload.sh` -> `run_varpostprocessing.sh`,
  * i.e. `VcfToCommonFormat2Converter` -> `VariantLoad3` ->
  * `VariantPostProcessing` -> PolyPhen export -> the JDBC sink), one
  * public function per span. Every span ends in the write the reference
  * ends that step with, so each stage boundary is materialized.
  *
  * Spans, in run order:
  *  - [[genes]]: `in/transcripts.tsv` -> `tables/genes`, one interval
  *    per transcript span.
  *  - [[fastaGenome]]: `in/genome.fa` -> chunk table ([[Fasta.toChunks]])
  *    -> the DNA of every exon of `in/exons.tsv` ([[Fasta.fetch]]) with
  *    its CDS offset ([[CdsAssembly.assemble]]) -> `tables/exon_dna`.
  *  - [[vcfConvert]]: VCF -> per-strain gzip CF2 (`cf2/strain=<s>`).
  *    An alt allele of a called genotype becomes one CF2 row unless it
  *    is a possible error (percent read <= 15 of DP); indels lose their
  *    shared padding base ([[VariantFunctions.adjustForIndels]]).
  *  - [[variantLoad]]: CF2 -> one row per natural key
  *    (chromosome, position, ref_nuc, var_nuc) with the three-way
  *    [[VariantFunctions.variantType]], `n_samples` and `n_het`
  *    ([[ZygosityFunctions.zygosityIndel]] of AD against DP). A fresh
  *    wave numbers its keys 1..n ([[IdAssign.assignDense]]); a re-wave
  *    keeps the ids of keys already in the bucketed store and numbers
  *    only its new keys from max+1 ([[StreamingOps.upsertBatch]]).
  *    Writes `wave` (new and matched rows, `is_new`) and adds the new
  *    keys to the store ([[variantStore]]).
  *  - [[genicJoin]]: genic status of every new key -> `genic`.
  *  - [[postprocess]]: exon hits of the new keys ([[CdsAssembly.exonHits]]), the CDS
  *    of every hit transcript -> `cds`, and [[CdsAssembly.codonEffect]]
  *    -> `variant_transcript`. Amino-acid and synonymous columns are null
  *    except for single-base substitutions (an equal-length multi-base
  *    substitution, typed snv too, may span two codons and gets none);
  *    every row carries the frameshift flag.
  *  - [[polyphenExport]]: protein FASTA, one record per nonsynonymous
  *    (variant, transcript) -> `polyphen`.
  *  - [[jdbcSink]]: a fresh wave appends its rows to the Derby VARIANT
  *    table; a re-wave stages them and runs one MERGE.
  *
  * Inputs and tables live under [[Paths]]; one pass writes under [[Out]].
  * [[pass]] runs the per-wave spans ([[vcfConvert]] .. [[jdbcSink]]) over
  * the tables [[setup]] wrote.
  */
object StrainLoader {

  val Keys: Seq[String] = Seq("chromosome", "position", "ref_nuc", "var_nuc")
  val StoreTable = "variant_store"
  val StoreCols: Seq[String] = Keys ++ Seq("rgd_id", "variant_type")
  val StoreDdl: String = "chromosome STRING, position BIGINT, ref_nuc STRING, var_nuc STRING, " +
    "rgd_id BIGINT, variant_type STRING"
  val SinkCols: Seq[String] = Seq("rgd_id") ++ Keys ++ Seq("variant_type", "n_samples", "n_het")
  val Buckets = 4
  val ChunkWidth = 1000

  val VariantDdl: String =
    """CREATE TABLE VARIANT ("rgd_id" BIGINT, "chromosome" VARCHAR(8),
      | "position" BIGINT, "ref_nuc" VARCHAR(16), "var_nuc" VARCHAR(16),
      | "variant_type" VARCHAR(8), "n_samples" BIGINT, "n_het" BIGINT)""".stripMargin
  val StageColumnTypes =
    "chromosome VARCHAR(8), ref_nuc VARCHAR(16), var_nuc VARCHAR(16), variant_type VARCHAR(8)"

  /** The columns of `in/transcripts.tsv` and `in/exons.tsv` ([[Tsv.read]];
    * DuckDB twin [[Tsv.readSql]]). */
  val TranscriptsSchema: StructType =
    StructType.fromDDL("tid INT, t_chr STRING, strand STRING, t_start LONG, t_stop LONG")
  val ExonsSchema: StructType =
    StructType.fromDDL("tid INT, exon_idx INT, e_chr STRING, e_start LONG, e_stop LONG")

  /** Where one loader keeps its inputs (`in/genome.fa`,
    * `in/transcripts.tsv`, `in/exons.tsv` and the VCFs), its tables,
    * the bucketed store and the Derby database. */
  final case class Paths(root: java.io.File) {
    def in(n: String): String = new java.io.File(root, s"in/$n").getPath
    def table(n: String): String = new java.io.File(root, s"tables/$n").getPath
    val store: String = new java.io.File(root, s"store/$StoreTable").getPath
    val derby: String = new java.io.File(root, "derby/db").getPath
    def url: String = s"jdbc:derby:$derby;create=true"
  }

  /** Outputs of one loader pass. */
  final case class Out(dir: String) {
    val cf2: String = s"$dir/cf2"
    val wave: String = s"$dir/wave"
    val genic: String = s"$dir/genic"
    val cds: String = s"$dir/cds"
    val vt: String = s"$dir/variant_transcript"
    val polyphen: String = s"$dir/polyphen"
  }

  /** What one pass reports, read from `Dataset.observe` in the jobs that
    * do the work:
    *  - `rowsIn` (line, strain) genotype cells read, which split into
    *    `homRef` (0/0), `missing` (./.), `short` (the line has no cell
    *    for the strain) and `called` (everything else);
    *  - `alleleRows` distinct alt alleles of the called genotypes, of
    *    which `possibleError` are rejected and `cf2Rows` written;
    *  - `waveKeys` natural keys in the wave, `newKeys` of them not yet in
    *    the store, `maxSeedId` the store's largest id before the wave
    *    (0 on a fresh wave), and `mergeAffected` the MERGE's row count
    *    (-1 for a fresh wave's append). */
  final case class Counters(rowsIn: Long, homRef: Long, missing: Long, short: Long,
                            called: Long, alleleRows: Long, possibleError: Long,
                            cf2Rows: Long, waveKeys: Long, newKeys: Long,
                            maxSeedId: Long, mergeAffected: Long)

  // ------------------------------------------------------------ set-up

  private def transcripts(spark: SparkSession, p: Paths): DataFrame =
    Tsv.read(spark, p.in("transcripts.tsv"), TranscriptsSchema)

  /** The gene table: one interval per transcript span. */
  def genes(spark: SparkSession, p: Paths): Unit =
    transcripts(spark, p)
      .select(col("tid").as("gene_id"), col("t_chr").as("g_chr"),
        col("t_start").as("g_start"), col("t_stop").as("g_stop"))
      .write.mode("overwrite").parquet(p.table("genes"))

  /** sources.fasta_genome: FASTA -> chunk table -> the exon-DNA table
    * (exon bounds, strand, DNA and `prior_len` of every exon). */
  def fastaGenome(spark: SparkSession, p: Paths): Unit = {
    import spark.implicits._
    val lines = spark.read.text(p.in("genome.fa")).rdd.zipWithIndex()
      .map { case (r, i) => (i, r.getString(0)) }.toDF("line_id", "line")
    val chunks = Fasta.toChunks(Fasta.parseLines(lines), width = ChunkWidth)
    val ex = Tsv.read(spark, p.in("exons.tsv"), ExonsSchema)
      .join(transcripts(spark, p).select("tid", "strand"), "tid")
    CdsAssembly.assemble(Fasta.fetch(ex, chunks, ChunkWidth, "e_chr", "e_start", "e_stop")).exons
      .write.mode("overwrite").parquet(p.table("exon_dna"))
  }

  /** Create the empty Derby VARIANT table with its natural-key index. */
  def createDerby(p: Paths): Unit = {
    Jdbc.execute(p.url, VariantDdl)
    Jdbc.createIndex(p.url, "VARIANT", Keys, "VARIANT_NK")
  }

  /** The tables every pass reads: genes, exon DNA and the Derby table. */
  def setup(spark: SparkSession, p: Paths): Unit = {
    genes(spark, p)
    fastaGenome(spark, p)
    createDerby(p)
  }

  def derbyCount(p: Paths, table: String = "VARIANT"): Long = {
    val conn = java.sql.DriverManager.getConnection(p.url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  /** The bucketed store of loaded keys: one [[Bucketed.EpochStore]]
    * table, [[StoreTable]] at `p.store`. A fresh wave seeds it, a
    * re-wave commits its new keys to it. */
  def variantStore(spark: SparkSession, p: Paths): Bucketed.EpochStore =
    Bucketed.EpochStore(spark, new java.io.File(p.store).getParent, Seq(StoreTable -> Keys))

  /** (Re)register the path-backed bucketed store in the session catalog. */
  def registerStore(spark: SparkSession, p: Paths): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $StoreTable")
    Bucketed.attach(spark, StoreTable, StoreDdl, Buckets, Keys, p.store)
  }

  // ------------------------------------------------------------- spans

  /** A one-base REF against a one-base ALT. */
  private def singleBase(ref: Column, alt: Column): Column =
    length(ref) === 1 && length(alt) === 1

  /** The genotype cell `gt` (GT:AD:DP) of each [[Vcf.read]] row as `call`,
    * `ad` (the AD list) and `dp`, each NULL when missing (`dp` also when not a number). */
  def genotypeCells(vcf: DataFrame): DataFrame =
    vcf.withColumn("f", split(col("gt"), ":"))
      .withColumn("call", element_at(col("f"), 1))
      .withColumn("ad", split(try_element_at(col("f"), lit(2)), ","))
      .withColumn("dp", expr("try_cast(try_element_at(f, 3) AS INT)"))

  /** DuckDB twin of [[genotypeCells]] over the relation `rows`. */
  def genotypeCellsSql(rows: String): String =
    s"""SELECT *, f[1] AS call, string_split(f[2], ',') AS ad, TRY_CAST(f[3] AS INTEGER) AS dp
       |FROM (SELECT *, string_split(gt, ':') AS f FROM $rows)""".stripMargin

  /** The reads of allele `i` (1 = REF) in the AD list, 0 past its end. */
  private def depth(i: Column): Column = coalesce(try_element_at(col("ad"), i).cast("int"), lit(0))

  /** One row per distinct allele index `a_idx` > 0 of each `/`-split call
    * (all of them in `called`), with its alt allele `va` and `allele_depth`.
    * An index past the ALT list has no allele and yields no row. */
  def calledAlleles(cells: DataFrame): DataFrame =
    cells
      .withColumn("called", expr("array_distinct(filter(transform(split(call, '/'), " +
        "x -> try_cast(x AS INT)), x -> x IS NOT NULL AND x > 0))"))
      .withColumn("a_idx", explode(col("called")))
      .withColumn("va", try_element_at(split(col("alt"), ","), col("a_idx")))
      .filter(col("va").isNotNull)
      .withColumn("allele_depth", depth(col("a_idx") + 1))

  /** DuckDB twin of [[calledAlleles]] over the relation `cells`. */
  def calledAllelesSql(cells: String): String =
    s"""SELECT *, string_split(alt, ',')[a_idx] AS va,
       |  coalesce(CAST(ad[a_idx + 1] AS INTEGER), 0) AS allele_depth
       |FROM (SELECT *, unnest(called) AS a_idx FROM (
       |  SELECT * EXCLUDE (ix), list_filter(ix, (x, i) -> x > 0 AND list_position(ix, x) = i) AS called
       |  FROM (SELECT *, list_transform(string_split(call, '/'), x -> TRY_CAST(x AS INTEGER)) AS ix
       |    FROM $cells)))
       |WHERE string_split(alt, ',')[a_idx] IS NOT NULL""".stripMargin

  /** sources.vcf_convert: VCF -> per-strain gzip CF2, with the
    * converter's skip rules counted by rule. */
  def vcfConvert(spark: SparkSession, vcf: String, out: Out,
                 obsIn: Observation, obsAllele: Observation): Unit = {
    val call = col("call")
    val called = call =!= "0/0" && call =!= "./."
    def n(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val g = genotypeCells(Vcf.read(spark, vcf))
      .observe(obsIn, count(lit(1)).as("rows_in"), n(call === "0/0").as("hom_ref"),
        n(call === "./.").as("missing"), n(col("gt").isNull).as("short"),
        n(called).as("called"))
    val a = calledAlleles(g)
      .withColumn("poss_err", ZygosityFunctions.possibleErrorFlag(
        ZygosityFunctions.percentRead(col("allele_depth"), col("dp"))) === "Y")
      .observe(obsAllele, count(lit(1)).as("allele_rows"),
        n(col("poss_err")).as("possible_error"))
      .filter(!col("poss_err"))
      .withColumn("adj", VariantFunctions.adjustForIndels(col("pos"), col("ref"), col("va")))
    // per-base read counts of an SNV call: REF reads on the REF base,
    // this allele's reads on its base
    val snv = singleBase(col("ref"), col("va"))
    def readsOn(b: String): Column =
      when(snv && col("ref") === b, depth(lit(1)))
        .when(snv && col("va") === b, col("allele_depth")).otherwise(0)
    val cf2 = a.select(
      col("chrom").as("chromosome"), col("adj.pos").as("position"),
      col("adj.ref_nuc").as("ref_nuc"), col("adj.var_nuc").as("var_nuc"),
      col("id").as("rs_id"),
      readsOn("A").as("reads_a"), readsOn("C").as("reads_c"),
      readsOn("G").as("reads_g"), readsOn("T").as("reads_t"),
      col("dp").as("total_depth"), lit(null).cast("string").as("hgvs_name"),
      lit(null).cast("int").as("rgd_id"), col("allele_depth"),
      size(col("called")).as("allele_count"), col("dp").as("read_depth"),
      col("adj.padding_base").as("padding_base"), col("strain"))
    Cf2.write(cf2, out.cf2, partitionBy = Seq("strain"), compression = "gzip")
  }

  /** operators.variant_load: CF2 -> natural-key rows with dense ids,
    * written as the wave table (`is_new` marks keys not yet stored); the
    * new keys seed the bucketed store ([[variantStore]]) on a fresh wave
    * and are committed to it on a re-wave. Returns the store's largest
    * id before the wave. */
  def variantLoad(spark: SparkSession, out: Out, p: Paths, genders: Map[String, String],
                  rewave: Boolean, obsCf2: Observation,
                  obsWave: Observation): Long = {
    val raw = Cf2.read(spark, out.cf2)
    // a wave with no called allele writes no strain=<s> directory, so
    // its (empty) CF2 read has no partition column
    val cf2 = (if (raw.columns.contains("strain")) raw
               else raw.withColumn("strain", lit(null).cast("string")))
      .observe(obsCf2, count(lit(1)).as("cf2_rows"))
      .withColumn("ref_nuc", coalesce(col("ref_nuc"), lit("")))
      .withColumn("var_nuc", coalesce(col("var_nuc"), lit("")))
      .withColumn("zyg", ZygosityFunctions.zygosityIndel(col("allele_depth"),
        col("read_depth"), col("chromosome"), col("position"),
        element_at(typedlit(genders), col("strain"))))
    val agg = cf2.groupBy(Keys.map(col): _*)
      .agg(max(VariantFunctions.variantType(col("ref_nuc"), col("var_nuc"))).as("variant_type"),
        count(lit(1)).as("n_samples"),
        sum(when(col("zyg.zygosity_status") === ZygosityFunctions.Heterozygous, 1L)
          .otherwise(0L)).as("n_het"))
    var maxSeedId = 0L
    val wave =
      if (!rewave) IdAssign.assignDense(agg, Keys, "rgd_id")
        .withColumn("is_new", lit(true))
      else {
        val store = spark.table(StoreTable)
        val incoming = agg.localCheckpoint(true)
        // an empty store has no max: its new keys number from 1, as on
        // a fresh wave
        maxSeedId = store.agg(coalesce(max(col("rgd_id")), lit(0L))).head().getLong(0)
        val fresh = IdAssign.assignDense(
          StreamingOps.upsertBatch(incoming, store, Keys), Keys, "rgd_id", maxSeedId)
        incoming.join(store.select((Keys :+ "rgd_id").map(col): _*), Keys)
          .withColumn("is_new", lit(false))
          .unionByName(fresh.withColumn("is_new", lit(true)))
      }
    wave.observe(obsWave, count(lit(1)).as("wave_keys"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("new_keys"))
      .write.mode("overwrite").parquet(out.wave)
    val added = newVariants(spark, out).select(StoreCols.map(col): _*)
    if (rewave) variantStore(spark, p).commit(added) else variantStore(spark, p).seed(Buckets, added)
    maxSeedId
  }

  private def newVariants(spark: SparkSession, out: Out): DataFrame =
    spark.read.parquet(out.wave).filter(col("is_new"))

  /** operators.genic_join: [[VariantFunctions.genicStatus]] of every
    * new variant, from [[RangeJoin.covered]] on the genes. */
  def genicJoin(spark: SparkSession, out: Out, p: Paths): Unit =
    RangeJoin.covered(newVariants(spark, out).select("rgd_id", "chromosome", "position"),
        spark.read.parquet(p.table("genes")), Seq("chromosome"), Seq("g_chr"),
        "position", "g_start", "g_stop")
      .select(col("rgd_id"), VariantFunctions.genicStatus(col("covered")).as("genic_status"))
      .write.mode("overwrite").parquet(out.genic)

  /** operators.postprocess: exon hits of the new variants, the CDS of
    * every hit transcript, then the codon effect, written as
    * VARIANT_TRANSCRIPT. */
  def postprocess(spark: SparkSession, out: Out, p: Paths): Unit = {
    val exd = spark.read.parquet(p.table("exon_dna"))
    val hits = CdsAssembly.exonHits(
        newVariants(spark, out).select("rgd_id", "chromosome", "position",
          "ref_nuc", "var_nuc", "variant_type"), exd, "chromosome", "e_chr", "position")
      .select("rgd_id", "tid", "ref_nuc", "var_nuc", "variant_type", "rel_pos")
      // read twice: the CDS of the hit transcripts and the codon effect
      .localCheckpoint(true)
    CdsAssembly.assemble(exd.select("tid", "strand", "exon_idx", "dna")
        .join(hits.select("tid").distinct(), "tid")).cds
      .write.mode("overwrite").parquet(out.cds)
    def snvOnly(c: String): Column =
      when(singleBase(col("ref_nuc"), col("var_nuc")), col(c)).as(c)
    CdsAssembly.codonEffect(hits.join(spark.read.parquet(out.cds), "tid")
        .withColumn("var_base", col("var_nuc")))
      .select(col("rgd_id"), col("tid").as("transcript_id"), col("rel_pos"),
        col("aa_pos"), col("triplet_error"), snvOnly("ref_aa"), snvOnly("var_aa"),
        snvOnly("syn_status"),
        VariantFunctions.frameshiftFlag(col("ref_nuc"), col("var_nuc")).as("frameshift"))
      .write.mode("overwrite").parquet(out.vt)
  }

  /** sources.polyphen_export: protein FASTA of every transcript carrying
    * a nonsynonymous SNV, one record per (variant, transcript). */
  def polyphenExport(spark: SparkSession, out: Out): Unit = {
    val proteins = spark.read.parquet(out.vt)
      .filter(col("syn_status") === "nonsynonymous")
      .join(spark.read.parquet(out.cds).withColumnRenamed("tid", "transcript_id"),
        "transcript_id")
      .select(concat(lit("RGD"), col("rgd_id"), lit("_T"), col("transcript_id")).as("acc"),
        DnaFunctions.translateDna(when(col("strand") === "-",
          DnaFunctions.reverseComplement(col("cds"))).otherwise(col("cds"))).as("seq"))
    Polyphen.writeFasta(spark, proteins, out.polyphen)
  }

  /** sources.jdbc_sink: a fresh wave appends VARIANT rows in batches; a
    * re-wave stages its rows and runs one MERGE (matched keys take the
    * wave's counts, new keys are inserted). Returns the MERGE's
    * affected-row count (-1 for an append). */
  def jdbcSink(spark: SparkSession, out: Out, p: Paths, rewave: Boolean): Long = {
    val rows = spark.read.parquet(out.wave).select(SinkCols.map(col): _*)
    val parts = spark.sparkContext.defaultParallelism
    if (!rewave) {
      Jdbc.append(rows, p.url, "VARIANT", numPartitions = Some(parts))
      -1L
    } else {
      val sql = Jdbc.stageForMerge(rows.coalesce(parts), p.url, "VARIANT_STAGE", "VARIANT",
        Keys, Seq("rgd_id", "variant_type", "n_samples", "n_het"),
        columnTypes = Some(StageColumnTypes))
      Jdbc.execute(p.url, sql).toLong
    }
  }

  /** What one pass hands back: its observations (read once the pass is
    * done) and the ids and MERGE count it saw. */
  final class Pass(obs: Map[String, Observation], val maxSeedId: Long,
                   val mergeAffected: Long) {
    private def l(o: String, k: String): Long = {
      val r = scala.concurrent.Await.result(obs(o).future,
        scala.concurrent.duration.Duration(60, "s"))
      // a job over an empty input may report no row at all
      Option(r.schema).filter(_.fieldNames.contains(k)).flatMap(_ => Option(r.getAs[Any](k)))
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    }
    def counters(): Counters = Counters(
      l("in", "rows_in"), l("in", "hom_ref"), l("in", "missing"), l("in", "short"),
      l("in", "called"), l("allele", "allele_rows"), l("allele", "possible_error"),
      l("cf2", "cf2_rows"), l("wave", "wave_keys"), l("wave", "new_keys"), maxSeedId,
      mergeAffected)
  }

  /** One loader pass over `vcf`: every per-wave span in order, over the
    * tables [[setup]] wrote (and, for a re-wave, the registered store). */
  def pass(spark: SparkSession, vcf: String, out: Out, p: Paths,
           genders: Map[String, String], rewave: Boolean): Pass = {
    val obs = Seq("in", "allele", "cf2", "wave").map(n => n -> Observation(n)).toMap
    vcfConvert(spark, vcf, out, obs("in"), obs("allele"))
    val maxSeed = variantLoad(spark, out, p, genders, rewave, obs("cf2"), obs("wave"))
    genicJoin(spark, out, p)
    postprocess(spark, out, p)
    polyphenExport(spark, out)
    new Pass(obs, maxSeed, jdbcSink(spark, out, p, rewave))
  }
}
