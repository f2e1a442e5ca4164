package graft.operators

import graft.functions.{DnaFunctions, VariantFunctions}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Per-transcript CDS assembly and the codon effect of an SNV on it —
  * the post-processing stage (`VariantPostProcessing.processTranscript`,
  * reference `VariantPostProcessing.java:370-551`).
  *
  * The catalog (q60, q82) and [[StrainLoader]] (q84) call [[assemble]]
  * and [[codonEffect]], q82 and the loader also [[exonHits]]; their
  * oracles call the DuckDB twins [[assembleSql]], [[exonHitsSql]] and
  * [[codonEffectSql]]. [[OrderedConcat]] is a typed
  * [[Aggregator]] for the same ordered concatenation with explicit, incremental buffer
  * management (partial aggregation runs map-side, only `finish` sorts);
  * it stays only because perfbench's own copy of the loader and
  * `CdsAssemblySkewSpec` call it, until perfbench calls [[StrainLoader]].
  */
object CdsAssembly {

  /** `exons` with `prior_len`, and the per-transcript `cds`. */
  final case class Assembly(exons: DataFrame, cds: DataFrame)

  /** Assembles the exons (tid, strand, exon_idx, dna, ...) of each
    * transcript. `exons` gains `prior_len`, the summed DNA length of the
    * transcript's earlier exons (W4), so a base at offset `o` (0-based)
    * into an exon sits at CDS position `prior_len + o + 1`. `cds` is
    * (tid, strand, cds): the exon DNA concatenated in `exon_idx` order
    * (A10), stored strand, not reverse-complemented. */
  def assemble(exons: DataFrame): Assembly = {
    val prior = Window.partitionBy(col("tid")).orderBy(col("exon_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Assembly(
      exons.withColumn("prior_len",
        coalesce(sum(length(col("dna"))).over(prior), lit(0)).cast("long")),
      exons.groupBy(col("tid"), col("strand"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("exon_idx"), col("dna")))),
          x => x("dna")), "").as("cds")))
  }

  /** DuckDB twin of [[assemble]] over `exons`, a relation with (tid,
    * strand, exon_idx, dna, ...): CTEs `exd` (`exons` with `prior_len`)
    * and `cds` (tid, strand, cds). */
  def assembleSql(exons: String): String =
    s"""exd AS (
       |  SELECT *, CAST(coalesce(sum(length(dna)) OVER (PARTITION BY tid ORDER BY exon_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior_len
       |  FROM $exons),
       |cds AS (SELECT tid, strand, string_agg(dna, '' ORDER BY exon_idx) AS cds
       |        FROM $exons GROUP BY tid, strand)""".stripMargin

  /** Bin width of [[exonHits]]: exon scale. */
  private val ExonBin = 256L

  /** Exon hits (`TranscriptFeatureCache`): every row of `points` paired
    * with each exon of [[assemble]]'s `exons` (e_start, e_stop, tid,
    * prior_len) on the same chromosome whose bounds contain `pos`
    * (inclusive). Keeps the point columns and adds `tid` and `rel_pos`,
    * the point's CDS position on that transcript. */
  def exonHits(points: DataFrame, exons: DataFrame, pointChr: String, exonChr: String,
               pos: String): DataFrame =
    RangeJoin.pointInInterval(points, exons.drop("dna"), Seq(pointChr), Seq(exonChr),
        pos, "e_start", "e_stop", binSize = ExonBin)
      .select(points.columns.map(col) :+ col("tid") :+
        (col("prior_len") + (col(pos) - col("e_start")) + 1).as("rel_pos"): _*)

  /** DuckDB twin of [[exonHits]] over `points` and the `exd` CTE of
    * [[assembleSql]]: CTE `hits`, the point columns plus `tid` and
    * `rel_pos`. */
  def exonHitsSql(points: String, pointChr: String, exonChr: String, pos: String): String =
    s"""hits AS (
       |  SELECT p.*, e.tid, e.prior_len + (p.$pos - e.e_start) + 1 AS rel_pos
       |  FROM $points p JOIN exd e ON e.$exonChr = p.$pointChr
       |    AND p.$pos BETWEEN e.e_start AND e.e_stop)""".stripMargin

  /** Codon effect of the SNV `var_base` at CDS position `rel_pos` of
    * `cds` on a transcript read on `strand`. Adds:
    *  - `rel2`: the position on the coding strand (flipped on '-');
    *  - `triplet_error` "T" when `rel2` lies past the CDS truncated to a
    *    codon multiple (X19), else "F";
    *  - `aa_pos`: the 1-based codon number (0 on a triplet error);
    *  - `ref_codon`/`var_codon`, `ref_aa`/`var_aa` and `syn_status`
    *    (X17, X21), "" and "skipped" on a triplet error.
    * Only the mutated codon is cut and read back (reverse-complemented
    * on '-'), never the whole CDS: O(1) per (variant, transcript) row
    * where CDS are kilobases and a variant fans out to every
    * overlapping transcript. */
  def codonEffect(hits: DataFrame): DataFrame = {
    val minus = col("strand") === "-"
    val skip = col("triplet_error") === "T"
    hits
      .withColumn("rel2",
        when(minus, length(col("cds")) - col("rel_pos") + 1).otherwise(col("rel_pos")))
      .withColumn("triplet_error",
        when(col("rel2") > expr("3 * (length(cds) DIV 3)"), "T").otherwise("F"))
      .withColumn("aa_pos", when(skip, 0L).otherwise(expr("CAST((rel2 + 2) DIV 3 AS BIGINT)")))
      // coding-strand codon [3*aa_pos-2, 3*aa_pos] is stored at
      // [len-3*aa_pos+1, len-3*aa_pos+3] on '-'
      .withColumn("ref_codon",
        when(skip, lit(""))
          .when(minus, DnaFunctions.reverseComplement(
            expr("substring(cds, CAST(length(cds) - 3 * aa_pos + 1 AS INT), 3)")))
          .otherwise(expr("substring(cds, CAST(3 * aa_pos - 2 AS INT), 3)")))
      .withColumn("var_codon",
        when(skip, lit(""))
          .otherwise(overlay(col("ref_codon"),
            when(minus, DnaFunctions.reverseComplement(col("var_base")))
              .otherwise(col("var_base")),
            (col("rel2") - col("aa_pos") * 3 + 3).cast("int"))))
      .withColumn("ref_aa",
        when(skip, "skipped").otherwise(DnaFunctions.translateCodon(col("ref_codon"))))
      .withColumn("var_aa",
        when(skip, "skipped").otherwise(DnaFunctions.translateCodon(col("var_codon"))))
      .withColumn("syn_status",
        when(skip, "skipped").otherwise(VariantFunctions.synStatus(col("ref_aa"), col("var_aa"))))
  }

  /** DuckDB CTEs `ori`, `fin`, `aa` and `codon` over `src`, a relation
    * with (strand, cds, rel_pos, var_base) plus the `keep` columns: the
    * oracle of [[codonEffect]], by a different algorithm. It applies the
    * SNV to the whole CDS, reverse-complements both on '-', and
    * translates the `aa_pos`-th codon of each. `codon` has `keep`,
    * strand, rel2, triplet_error, aa_pos, ref_aa, var_aa, syn_status. */
  def codonEffectSql(src: String, keep: Seq[String]): String = {
    import DnaFunctions.{reverseComplementSql => revcomp, translateCodonSql => aa}
    val k = keep.map(_ + ", ").mkString
    s"""ori AS (
       |  SELECT ${k}strand,
       |    CASE WHEN strand = '-' THEN ${revcomp("cds")} ELSE cds END AS cds2,
       |    CASE WHEN strand = '-' THEN ${revcomp("var_cds")} ELSE var_cds END AS var_cds2,
       |    CASE WHEN strand = '-' THEN length(cds) - rel_pos + 1 ELSE rel_pos END AS rel2
       |  FROM (SELECT *, substr(cds, 1, CAST(rel_pos - 1 AS INT)) || var_base ||
       |          substr(cds, CAST(rel_pos + 1 AS INT)) AS var_cds FROM $src)),
       |fin AS (
       |  SELECT *, CASE WHEN rel2 > 3 * (length(cds2) // 3) THEN 'T' ELSE 'F' END AS triplet_error,
       |    CASE WHEN rel2 > 3 * (length(cds2) // 3) THEN 0 ELSE (rel2 + 2) // 3 END AS aa_pos
       |  FROM ori),
       |aa AS (
       |  SELECT ${k}strand, rel2, triplet_error, CAST(aa_pos AS BIGINT) AS aa_pos,
       |    CASE WHEN triplet_error = 'T' THEN 'skipped'
       |         ELSE ${aa("substr(cds2, CAST(3 * aa_pos - 2 AS INT), 3)")} END AS ref_aa,
       |    CASE WHEN triplet_error = 'T' THEN 'skipped'
       |         ELSE ${aa("substr(var_cds2, CAST(3 * aa_pos - 2 AS INT), 3)")} END AS var_aa
       |  FROM fin),
       |codon AS (
       |  SELECT *, CASE WHEN triplet_error = 'T' THEN 'skipped'
       |                 ELSE ${VariantFunctions.synStatusSql("ref_aa", "var_aa")} END AS syn_status
       |  FROM aa)""".stripMargin
  }

  /** One exon's DNA chunk within transcript `tid`. */
  case class ExonChunk(tid: Long, exon_idx: Int, dna: String)

  /** Order-insensitive accumulate, order-correct finish: concatenate
    * chunk strings by ascending index regardless of arrival order. */
  object OrderedConcat extends Aggregator[ExonChunk, List[(Int, String)], String] {
    override def zero: List[(Int, String)] = Nil
    override def reduce(b: List[(Int, String)], a: ExonChunk): List[(Int, String)] =
      (a.exon_idx, a.dna) :: b
    override def merge(b1: List[(Int, String)], b2: List[(Int, String)]): List[(Int, String)] =
      b1 ::: b2
    override def finish(b: List[(Int, String)]): String =
      b.sortBy(_._1).map(_._2).mkString
    override def bufferEncoder: Encoder[List[(Int, String)]] =
      ExpressionEncoder[List[(Int, String)]]()
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }
}
