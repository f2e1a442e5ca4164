package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DnaFunctions, VariantFunctions, ZygosityFunctions}
import graft.operators.{CdsAssembly, IdAssign, RangeJoin}
import graft.sources.{Bucketed, Cf2, Fasta, Jdbc, Polyphen, Vcf}
import graft.streaming.StreamingOps

/** The strain loader composed from the engine's public functions, one
  * span per layer call. Every span ends in the write the reference
  * pipeline ends that step with (CF2 files, tables, the Derby VARIANT
  * table, VARIANT_TRANSCRIPT), so each stage boundary is materialized
  * and no action lets the optimizer drop work. */
object Loader {

  val Keys: Seq[String] = Seq("chromosome", "position", "ref_nuc", "var_nuc")
  val StoreTable = "variant_store"
  val StoreCols: Seq[String] = Keys ++ Seq("rgd_id", "variant_type")
  val SinkCols: Seq[String] = Seq("rgd_id") ++ Keys ++ Seq("variant_type", "n_samples", "n_het")
  val Buckets = 4
  val ChunkWidth = 1000

  val VariantDdl: String =
    """CREATE TABLE VARIANT ("rgd_id" BIGINT, "chromosome" VARCHAR(8),
      | "position" BIGINT, "ref_nuc" VARCHAR(16), "var_nuc" VARCHAR(16),
      | "variant_type" VARCHAR(8), "n_samples" BIGINT, "n_het" BIGINT)""".stripMargin
  val StageColumnTypes =
    "chromosome VARCHAR(8), ref_nuc VARCHAR(16), var_nuc VARCHAR(16), variant_type VARCHAR(8)"

  /** Where one loader run keeps its inputs, tables and outputs. */
  final case class Paths(root: java.io.File) {
    def in(n: String): String = new java.io.File(root, s"in/$n").getPath
    def table(n: String): String = new java.io.File(root, s"tables/$n").getPath
    val store: String = new java.io.File(root, "store/variant").getPath
    val storeSnapshot: String = new java.io.File(root, "store/snapshot").getPath
    val derby: String = new java.io.File(root, "derby/db").getPath
    val derbySnapshot: String = new java.io.File(root, "derby/snapshot").getPath
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

  /** Counters one pass reports, read from `Dataset.observe` in the same
    * jobs that do the work. */
  final case class Counters(rowsIn: Long, homRef: Long, missing: Long,
                            called: Long, alleleRows: Long, possibleError: Long,
                            cf2Rows: Long, waveKeys: Long, newKeys: Long,
                            maxSeedId: Long, mergeAffected: Long)

  // ------------------------------------------------------------ set-up

  /** The gene table: one interval per transcript span. */
  def writeGenes(spark: SparkSession, p: Paths): Unit =
    spark.read.option("sep", "\t")
      .schema("gene_id INT, g_chr STRING, strand STRING, g_start LONG, g_stop LONG")
      .csv(p.in("transcripts.tsv"))
      .select("gene_id", "g_chr", "g_start", "g_stop")
      .write.mode("overwrite").parquet(p.table("genes"))

  /** sources.fasta_genome: FASTA -> chunk table -> the exon-DNA table
    * (exon bounds, strand, CDS offset and DNA of every exon). */
  def fastaGenome(spark: SparkSession, p: Paths): Unit = {
    import spark.implicits._
    val W = ChunkWidth
    val lines = spark.read.text(p.in("genome.fa")).rdd.zipWithIndex()
      .map { case (r, i) => (i, r.getString(0)) }.toDF("line_id", "line")
    val chunks = Fasta.toChunks(Fasta.parseLines(lines), width = W)
    val tx = spark.read.option("sep", "\t")
      .schema("tid INT, t_chr STRING, strand STRING, t_start LONG, t_stop LONG")
      .csv(p.in("transcripts.tsv")).select("tid", "strand")
    val ex = spark.read.option("sep", "\t")
      .schema("tid INT, exon_idx INT, e_chr STRING, e_start LONG, e_stop LONG")
      .csv(p.in("exons.tsv")).join(tx, "tid")
      .withColumn("e_len", (col("e_stop") - col("e_start") + 1).cast("int"))
    val pieces = ex
      .withColumn("from0", col("e_start") - 1)
      .withColumn("upto0", col("e_stop"))
      .withColumn("chunk_idx", explode(sequence(
        (col("from0") / W).cast("int"), ((col("upto0") - 1) / W).cast("int"))))
      .join(chunks.withColumnRenamed("chr", "e_chr"), Seq("e_chr", "chunk_idx"))
      .withColumn("cbase", col("chunk_idx").cast("long") * W)
      .withColumn("cut_from", greatest(col("cbase"), col("from0")) - col("cbase"))
      .withColumn("cut_upto", least(col("cbase") + W, col("upto0")) - col("cbase"))
      .withColumn("piece",
        expr("substring(seq, CAST(cut_from + 1 AS INT), CAST(cut_upto - cut_from AS INT))"))
    val wp = Window.partitionBy(col("tid")).orderBy(col("exon_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pieces
      .groupBy("tid", "exon_idx", "e_chr", "strand", "e_start", "e_stop", "e_len")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("chunk_idx"), col("piece")))),
        x => x("piece")), "").as("dna"))
      .withColumn("prior_len", coalesce(sum(col("e_len")).over(wp), lit(0L)).cast("long"))
      .drop("e_len")
      .write.mode("overwrite").parquet(p.table("exon_dna"))
  }

  /** Create the empty Derby VARIANT table with its natural-key index. */
  def createDerby(p: Paths): Unit = {
    Jdbc.execute(p.url, VariantDdl)
    Jdbc.createIndex(p.url, "VARIANT", Keys, "VARIANT_NK")
  }

  def derbyCount(p: Paths, table: String = "VARIANT"): Long = {
    val conn = java.sql.DriverManager.getConnection(p.url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  /** (Re)register the path-backed bucketed store in the session catalog. */
  def registerStore(spark: SparkSession, p: Paths): Unit = {
    val ks = Keys.mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS $StoreTable")
    spark.sql(s"CREATE TABLE $StoreTable (chromosome STRING, position BIGINT, " +
      s"ref_nuc STRING, var_nuc STRING, rgd_id BIGINT, variant_type STRING) USING PARQUET " +
      s"CLUSTERED BY ($ks) SORTED BY ($ks) INTO $Buckets BUCKETS LOCATION '${p.store}'")
    spark.catalog.refreshByPath(p.store)
  }

  // ------------------------------------------------------------- spans

  /** sources.vcf_convert: VCF -> per-strain gzip CF2, with the
    * converter's skip rules counted by rule. */
  def vcfConvert(spark: SparkSession, vcf: String, out: Out,
                 obsIn: Observation, obsAllele: Observation): Unit = {
    val call = col("call")
    val alts = split(col("alt"), ",")
    val g = Vcf.read(spark, vcf)
      .withColumn("f", split(col("gt"), ":"))
      .withColumn("call", element_at(col("f"), 1))
      .withColumn("ad", split(try_element_at(col("f"), lit(2)), ","))
      .withColumn("dp", expr("try_cast(try_element_at(f, 3) AS INT)"))
      .observe(obsIn, count(lit(1)).as("rows_in"),
        sum(when(call === "0/0", 1L).otherwise(0L)).as("hom_ref"),
        sum(when(call === "./.", 1L).otherwise(0L)).as("missing"),
        sum(when(call =!= "0/0" && call =!= "./.", 1L).otherwise(0L)).as("called"))
    val alleles = expr("array_distinct(filter(transform(split(call, '/'), " +
      "x -> try_cast(x AS INT)), x -> x IS NOT NULL AND x > 0))")
    def depth(i: Column): Column = coalesce(try_element_at(col("ad"), i).cast("int"), lit(0))
    val a = g
      .withColumn("called", alleles)
      .withColumn("a_idx", explode(col("called")))
      .withColumn("va", element_at(alts, col("a_idx")))
      .withColumn("allele_depth", depth(col("a_idx") + 1))
      .withColumn("poss_err", ZygosityFunctions.possibleErrorFlag(
        ZygosityFunctions.percentRead(col("allele_depth"), col("dp"))) === "Y")
      .observe(obsAllele, count(lit(1)).as("allele_rows"),
        sum(when(col("poss_err"), 1L).otherwise(0L)).as("possible_error"))
      .filter(!col("poss_err"))
      .withColumn("adj", VariantFunctions.adjustForIndels(col("pos"), col("ref"), col("va")))
    // per-base read counts of an SNV call: REF reads on the REF base,
    // this allele's reads on its base
    val snv = length(col("ref")) === 1 && length(col("va")) === 1
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

  /** operators.variant_load: CF2 -> natural-key rows with dense ids.
    * A first wave assigns 1..n and writes the bucketed store; a re-wave
    * anti-joins against the store (upsert), numbers only the new keys
    * from max+1 and appends them. The wave's rows (new and matched)
    * are written as the wave table. */
  def variantLoad(spark: SparkSession, out: Out, p: Paths, genders: Map[String, String],
                  rewave: Boolean, cores: Int, obsCf2: Observation,
                  obsWave: Observation): Long = {
    val gender = typedlit(genders)
    val cf2 = Cf2.read(spark, out.cf2)
      .observe(obsCf2, count(lit(1)).as("cf2_rows"))
      .withColumn("ref_nuc", coalesce(col("ref_nuc"), lit("")))
      .withColumn("var_nuc", coalesce(col("var_nuc"), lit("")))
      .withColumn("zyg", ZygosityFunctions.zygosityIndel(col("allele_depth"),
        col("read_depth"), col("chromosome"), col("position"),
        element_at(gender, col("strain"))))
    val agg = cf2.groupBy(Keys.map(col): _*)
      .agg(max(VariantFunctions.variantType(col("ref_nuc"), col("var_nuc"))).as("variant_type"),
        count(lit(1)).as("n_samples"),
        sum(when(col("zyg.zygosity_status") === ZygosityFunctions.Heterozygous, 1L)
          .otherwise(0L)).as("n_het"))
    var maxSeedId = 0L
    val wave =
      if (!rewave) IdAssign.assignDense(agg, Keys, "rgd_id", 0L, cores)
        .withColumn("is_new", lit(true))
      else {
        val store = spark.table(StoreTable)
        val incoming = agg.localCheckpoint(true)
        maxSeedId = store.agg(max(col("rgd_id"))).head().getLong(0)
        val fresh = IdAssign.assignDense(
          StreamingOps.upsertBatch(incoming, store, Keys), Keys, "rgd_id", maxSeedId, cores)
        val matched = incoming.join(store.select((Keys :+ "rgd_id").map(col): _*), Keys)
        matched.withColumn("is_new", lit(false))
          .unionByName(fresh.withColumn("is_new", lit(true)))
      }
    wave.observe(obsWave, count(lit(1)).as("wave_keys"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("new_keys"))
      .write.mode("overwrite").parquet(out.wave)
    val added = spark.read.parquet(out.wave).filter(col("is_new"))
      .select(StoreCols.map(col): _*)
    Bucketed.writeBucketed(added, StoreTable, Buckets, Keys,
      mode = if (rewave) "append" else "overwrite", path = Some(p.store))
    maxSeedId
  }

  private def newVariants(spark: SparkSession, out: Out): DataFrame =
    spark.read.parquet(out.wave).filter(col("is_new"))

  /** operators.genic_join: GENIC / INTERGENIC status of every new
    * variant from a left-outer point-in-interval join on the genes. */
  def genicJoin(spark: SparkSession, out: Out, p: Paths): Unit =
    RangeJoin.pointInIntervalLeftOuter(
        newVariants(spark, out).select("rgd_id", "chromosome", "position"),
        spark.read.parquet(p.table("genes")), Seq("chromosome"), Seq("g_chr"),
        "position", "g_start", "g_stop", binSize = 8192L)
      .groupBy("rgd_id").agg(count(col("gene_id")).as("n_genes"))
      .withColumn("genic_status", when(col("n_genes") > 0, "GENIC").otherwise("INTERGENIC"))
      .write.mode("overwrite").parquet(out.genic)

  /** operators.postprocess: transcript hits of the new variants, the CDS
    * of every hit transcript (typed ordered-concat aggregator), then
    * codon math for SNVs and the frameshift flag for indels, written as
    * VARIANT_TRANSCRIPT. */
  def postprocess(spark: SparkSession, out: Out, p: Paths): Unit = {
    import spark.implicits._
    val exd = spark.read.parquet(p.table("exon_dna"))
    val hits = RangeJoin.pointInInterval(
        newVariants(spark, out).select("rgd_id", "chromosome", "position",
          "ref_nuc", "var_nuc", "variant_type"),
        exd.drop("dna"), Seq("chromosome"), Seq("e_chr"),
        "position", "e_start", "e_stop", binSize = 1024L)
      .withColumn("rel_pos", col("prior_len") + (col("position") - col("e_start")) + 1)
      .select("rgd_id", "tid", "strand", "ref_nuc", "var_nuc", "variant_type", "rel_pos")
      // read twice: the CDS of the hit transcripts and the codon math
      .localCheckpoint(true)
    val hitTx = hits.select("tid", "strand").distinct()
    exd.join(hitTx.select("tid"), "tid")
      .select(col("tid").cast("long").as("tid"), col("exon_idx"), col("dna"))
      .as[CdsAssembly.ExonChunk]
      .groupByKey(_.tid).agg(CdsAssembly.OrderedConcat.toColumn)
      .toDF("tid", "cds")
      .join(hitTx.select(col("tid").cast("long").as("tid"), col("strand")), "tid")
      .write.mode("overwrite").parquet(out.cds)
    val snv = col("variant_type") === "snv"
    val skip = col("triplet_error") === "T"
    hits.drop("strand")
      .join(spark.read.parquet(out.cds), "tid")
      .withColumn("cds_len", length(col("cds")))
      .withColumn("rel2", when(col("strand") === "-",
        col("cds_len") - col("rel_pos") + 1).otherwise(col("rel_pos")))
      .withColumn("trunc_len", expr("3 * (cds_len DIV 3)"))
      .withColumn("triplet_error", when(col("rel2") > col("trunc_len"), "T").otherwise("F"))
      .withColumn("aa_pos",
        when(skip, 0L).otherwise(expr("CAST((rel2 + 2) DIV 3 AS BIGINT)")))
      .withColumn("ref_codon",
        when(!snv || skip, lit(null).cast("string"))
          .when(col("strand") === "-", DnaFunctions.reverseComplement(
            expr("substring(cds, CAST(cds_len - 3 * aa_pos + 1 AS INT), 3)")))
          .otherwise(expr("substring(cds, CAST(3 * aa_pos - 2 AS INT), 3)")))
      .withColumn("var_codon",
        when(!snv || skip, lit(null).cast("string"))
          .otherwise(overlay(col("ref_codon"),
            when(col("strand") === "-", DnaFunctions.reverseComplement(col("var_nuc")))
              .otherwise(col("var_nuc")),
            (col("rel2") - col("aa_pos") * 3 + 3).cast("int"))))
      .withColumn("ref_aa", when(!snv, lit(null).cast("string"))
        .when(skip, "skipped").otherwise(DnaFunctions.translateCodon(col("ref_codon"))))
      .withColumn("var_aa", when(!snv, lit(null).cast("string"))
        .when(skip, "skipped").otherwise(DnaFunctions.translateCodon(col("var_codon"))))
      .withColumn("syn_status", when(!snv, lit(null).cast("string"))
        .when(skip, "skipped")
        .otherwise(VariantFunctions.synStatus(col("ref_aa"), col("var_aa"))))
      .withColumn("frameshift", VariantFunctions.frameshiftFlag(col("ref_nuc"), col("var_nuc")))
      .select(col("rgd_id"), col("tid").as("transcript_id"), col("rel_pos"),
        col("aa_pos"), col("triplet_error"), col("ref_aa"), col("var_aa"),
        col("syn_status"), col("frameshift"))
      .write.mode("overwrite").parquet(out.vt)
  }

  /** sources.polyphen_export: protein FASTA of every transcript carrying
    * a nonsynonymous SNV, one record per (variant, transcript). */
  def polyphenExport(spark: SparkSession, out: Out): Unit = {
    val cds = spark.read.parquet(out.cds)
    val proteins = spark.read.parquet(out.vt)
      .filter(col("syn_status") === "nonsynonymous")
      .join(cds.withColumnRenamed("tid", "transcript_id"), "transcript_id")
      .select(concat(lit("RGD"), col("rgd_id"), lit("_T"), col("transcript_id")).as("acc"),
        DnaFunctions.translateDna(when(col("strand") === "-",
          DnaFunctions.reverseComplement(col("cds"))).otherwise(col("cds"))).as("seq"))
    Polyphen.writeFasta(spark, proteins, out.polyphen)
  }

  /** sources.jdbc_sink: a first wave appends VARIANT rows in batches; a
    * re-wave stages its rows and runs one MERGE (matched keys take the
    * wave's counts, new keys are inserted). Returns the MERGE's
    * affected-row count (-1 for an append). */
  def jdbcSink(spark: SparkSession, out: Out, p: Paths, rewave: Boolean,
               cores: Int): Long = {
    val rows = spark.read.parquet(out.wave).select(SinkCols.map(col): _*)
    if (!rewave) {
      Jdbc.append(rows, p.url, "VARIANT", numPartitions = Some(cores))
      -1L
    } else {
      val sql = Jdbc.stageForMerge(rows.coalesce(cores), p.url, "VARIANT_STAGE", "VARIANT",
        Keys, Seq("rgd_id", "variant_type", "n_samples", "n_het"),
        columnTypes = Some(StageColumnTypes))
      Jdbc.execute(p.url, sql).toLong
    }
  }

  /** What one pass hands back: its observations (read once the pass's
    * clock has stopped) and the ids and MERGE count it saw. */
  final class Pass(obs: Map[String, Observation], val maxSeedId: Long,
                   val mergeAffected: Long) {
    private def l(o: String, k: String): Long = {
      val r = scala.concurrent.Await.result(obs(o).future,
        scala.concurrent.duration.Duration(60, "s"))
      Option(r.getAs[Any](k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    }
    def counters(): Counters = Counters(
      l("in", "rows_in"), l("in", "hom_ref"), l("in", "missing"), l("in", "called"),
      l("allele", "allele_rows"), l("allele", "possible_error"), l("cf2", "cf2_rows"),
      l("wave", "wave_keys"), l("wave", "new_keys"), maxSeedId, mergeAffected)
  }

  /** One loader pass over `vcf`, span by span. With `storeOnly` the
    * pass stops after filling the store and the database (how set-up
    * seeds a re-wave's starting state). */
  def pass(spark: SparkSession, tr: Tracer, parent: String, vcf: String, out: Out,
           p: Paths, genders: Map[String, String], rewave: Boolean,
           cores: Int, storeOnly: Boolean = false): Pass = {
    val obs = Seq("in", "allele", "cf2", "wave").map(n => n -> Observation(n)).toMap
    tr.span(spark, "sources.vcf_convert", parent)(
      vcfConvert(spark, vcf, out, obs("in"), obs("allele")))
    val maxSeed = tr.span(spark, "operators.variant_load", parent)(
      variantLoad(spark, out, p, genders, rewave, cores, obs("cf2"), obs("wave")))
    if (!storeOnly) {
      tr.span(spark, "operators.genic_join", parent)(genicJoin(spark, out, p))
      tr.span(spark, "operators.postprocess", parent)(postprocess(spark, out, p))
      tr.span(spark, "sources.polyphen_export", parent)(polyphenExport(spark, out))
    }
    val affected =
      tr.span(spark, "sources.jdbc_sink", parent)(jdbcSink(spark, out, p, rewave, cores))
    new Pass(obs, maxSeed, affected)
  }
}
