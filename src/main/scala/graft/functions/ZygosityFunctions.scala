package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Zygosity computation as pure `Column` expressions.
  *
  * Semantics re-derived from the reference's bundled library
  * (`lib/rgdcore_1.1.3.jar!edu/mcw/rgd/util/Zygosity`, decompiled):
  * thresholds POSSIBLE_ERROR=15, POSSIBLY_HOMOZYGOUS=85,
  * PROBABLY_HEMIZYGOUS=85, HOMOZYGOUS=100; percent-read is
  * round-half-up of 100*count/total; males (gender "M"/"P") on X/Y
  * outside the pseudo-autosomal region get the hemizygous ladder.
  * PAR intervals ([[Par]]) are the build-36 ones the library's default
  * constructor installs (`edu/mcw/rgd/util/PseudoAutosomalRegion`).
  *
  * The reference computes percent in `float`; we use `double`
  * throughout (documented divergence — identical on all integer-exact
  * cases, e.g. percent==100 iff count==total in both).
  *
  * Each rule's `...Sql` twin states it as SQL text in the constructs
  * Spark SQL and DuckDB share (see [[VariantFunctions]]).
  */
object ZygosityFunctions {

  val Homozygous = "homozygous"
  val Heterozygous = "heterozygous"
  val PossiblyHomozygous = "possibly homozygous"
  val Hemizygous = "hemizygous"
  val ProbablyHemizygous = "probably hemizygous"
  val PossiblyHemizygous = "possibly hemizygous"

  val PossibleErrorPercent = 15
  val PossiblyHomozygousPercent = 85
  val HomozygousPercent = 100

  /** The build-36 pseudo-autosomal regions: chromosome -> [start, stop]
    * intervals. */
  val Par: Seq[(String, Seq[(Long, Long)])] = Seq(
    "X" -> Seq((1L, 2709520L), (154584238L, 154913754L)),
    "Y" -> Seq((1L, 2709520L), (57443438L, 57772954L)))

  /** build-36 PAR membership for a position on chromosome X/Y. */
  def inPar(chr: Column, pos: Column): Column =
    Par.map { case (c, ivs) =>
      chr === c && ivs.map { case (lo, hi) => pos >= lo && pos <= hi }.reduce(_ || _)
    }.reduce(_ || _)

  def inParSql(chr: String, pos: String): String =
    Par.map { case (c, ivs) =>
      s"($chr = '$c' AND (" +
        ivs.map { case (lo, hi) => s"($pos >= $lo AND $pos <= $hi)" }.mkString(" OR ") + "))"
    }.mkString("(", " OR ", ")")

  /** Percent of reads supporting one allele: 100*count/total (double),
    * 0 when total==0. */
  def percentRead(count: Column, total: Column): Column =
    when(total > 0, count.cast("double") * 100.0 / total.cast("double"))
      .otherwise(lit(0.0))

  def percentReadSql(count: String, total: String): String =
    s"CASE WHEN $total > 0 THEN CAST($count AS DOUBLE) * 100.0 / CAST($total AS DOUBLE) " +
      "ELSE CAST(0 AS DOUBLE) END"

  /** A percent rounded half up to the stored integer percent. */
  def percentInt(pct: Column): Column = floor(pct + 0.5).cast("int")

  def percentIntSql(pct: String): String = s"CAST(floor($pct + 0.5) AS INT)"

  private def maleSexChr(chr: Column, gender: Column): Column =
    (gender === "M" || gender === "P") && (chr === "X" || chr === "Y")
  private def maleSexChrSql(chr: String, gender: String): String =
    s"(($gender = 'M' OR $gender = 'P') AND ($chr = 'X' OR $chr = 'Y'))"

  private def ladder(pct: Column, top: String, mid: String, low: String): Column =
    when(pct === HomozygousPercent, top)
      .when(pct >= PossiblyHomozygousPercent, mid)
      .otherwise(low)
  private def ladderSql(pct: String, top: String, mid: String, low: String): String =
    s"CASE WHEN $pct = $HomozygousPercent THEN '$top' " +
      s"WHEN $pct >= $PossiblyHomozygousPercent THEN '$mid' ELSE '$low' END"

  /** The gender-free status ladder: homozygous at 100, possibly
    * homozygous from 85, else heterozygous. The fix-up job uses it as
    * is (`ZygosityPercReadFixUp.getZygosity:130-137`). */
  def statusLadder(pct: Column): Column =
    ladder(pct, Homozygous, PossiblyHomozygous, Heterozygous)

  def statusLadderSql(pct: String): String =
    ladderSql(pct, Homozygous, PossiblyHomozygous, Heterozygous)

  /** Zygosity status ladder given a raw (double) percent, the chromosome,
    * position and sample gender: [[statusLadder]], or its hemizygous
    * form for a male X/Y outside the PAR. Follows
    * `Zygosity.computeZygosityStatusPseudoError`. */
  def zygosityStatus(pct: Column, chr: Column, pos: Column, gender: Column): Column = {
    val hemi = maleSexChr(chr, gender) && !inPar(chr, pos)
    when(hemi, ladder(pct, Hemizygous, ProbablyHemizygous, PossiblyHemizygous))
      .otherwise(statusLadder(pct))
  }

  def zygosityStatusSql(pct: String, chr: String, pos: String, gender: String): String =
    s"CASE WHEN ${maleSexChrSql(chr, gender)} AND NOT ${inParSql(chr, pos)} " +
      s"THEN ${ladderSql(pct, Hemizygous, ProbablyHemizygous, PossiblyHemizygous)} " +
      s"ELSE ${statusLadderSql(pct)} END"

  /** "Y"/"N": was this variant observed in a pseudo-autosomal region on a
    * male sex chromosome (only then does the reference set it to "Y"). */
  def inPseudoFlag(chr: Column, pos: Column, gender: Column): Column =
    when(maleSexChr(chr, gender) && inPar(chr, pos), "Y").otherwise("N")

  def inPseudoFlagSql(chr: String, pos: String, gender: String): String =
    s"CASE WHEN ${maleSexChrSql(chr, gender)} AND ${inParSql(chr, pos)} THEN 'Y' ELSE 'N' END"

  /** "Y"/"N": percent-read <= 15 means the call is a possible error. */
  def possibleErrorFlag(pct: Column): Column =
    when(pct <= PossibleErrorPercent, "Y").otherwise("N")

  def possibleErrorFlagSql(pct: String): String =
    s"CASE WHEN $pct <= $PossibleErrorPercent THEN 'Y' ELSE 'N' END"

  /** "Y"/"N": does the reference nucleotide also have reads at this
    * position (SNV path; default "N"). */
  def refAlleleFlag(refNuc: Column, a: Column, c: Column, g: Column, t: Column): Column =
    when(refNuc === "A", when(a > 0, "Y").otherwise("N"))
      .when(refNuc === "C", when(c > 0, "Y").otherwise("N"))
      .when(refNuc === "G", when(g > 0, "Y").otherwise("N"))
      .when(refNuc === "T", when(t > 0, "Y").otherwise("N"))
      .otherwise(lit("N"))

  def refAlleleFlagSql(refNuc: String, a: String, c: String, g: String, t: String): String =
    Seq("A", "C", "G", "T").zip(Seq(a, c, g, t)).map { case (b, n) =>
      s"WHEN $refNuc = '$b' THEN (CASE WHEN $n > 0 THEN 'Y' ELSE 'N' END)"
    }.mkString("CASE ", " ", " ELSE 'N' END")

  /** Number of distinct called alleles = count of A/C/G/T with reads > 0.
    * Reference `Zygosity.computeZygosity` (decompiled rgdcore jar). */
  def numAllele(a: Column, c: Column, g: Column, t: Column): Column =
    (a > 0).cast("int") + (c > 0).cast("int") + (g > 0).cast("int") + (t > 0).cast("int")

  def numAlleleSql(a: String, c: String, g: String, t: String): String =
    Seq(a, c, g, t).map(n => s"CAST($n > 0 AS INT)").mkString("(", " + ", ")")

  /** Full SNV zygosity result as a struct, from per-base read counts.
    * Mirrors `Zygosity.computeVariant`: percent is the var-allele share of
    * a+c+g+t; score (used by the loader's zero-call filter,
    * `VariantLoad3.java:343-346`) is the var allele's raw count.
    */
  def zygositySnv(refNuc: Column, varNuc: Column, chr: Column, pos: Column,
                  gender: Column, a: Column, c: Column, g: Column, t: Column): Column = {
    val total = a + c + g + t
    val varCount =
      when(varNuc === "A", a).when(varNuc === "C", c)
        .when(varNuc === "G", g).when(varNuc === "T", t).otherwise(lit(0))
    val pct = percentRead(varCount, total)
    struct(
      percentInt(pct).as("zygosity_percent_read"),
      zygosityStatus(pct, chr, pos, gender).as("zygosity_status"),
      possibleErrorFlag(pct).as("zygosity_poss_error"),
      refAlleleFlag(refNuc, a, c, g, t).as("zygosity_ref_allele"),
      numAllele(a, c, g, t).as("zygosity_num_allele"),
      inPseudoFlag(chr, pos, gender).as("zygosity_in_pseudo"),
      varCount.cast("int").as("score"))
  }

  /** Indel zygosity (`Zygosity.computeZygosityStatus`): percent =
    * 100*alleleDepth/readDepth; score = 0 if alleleDepth==0 else the
    * integer percent (loader semantics, `VariantLoad3.java:322-346`). */
  def zygosityIndel(alleleDepth: Column, readDepth: Column, chr: Column, pos: Column,
                    gender: Column): Column = {
    val pct = percentRead(alleleDepth, readDepth)
    val pctInt = percentInt(pct)
    struct(
      pctInt.as("zygosity_percent_read"),
      zygosityStatus(pct, chr, pos, gender).as("zygosity_status"),
      possibleErrorFlag(pct).as("zygosity_poss_error"),
      inPseudoFlag(chr, pos, gender).as("zygosity_in_pseudo"),
      when(alleleDepth === 0, 0).otherwise(pctInt).as("score"))
  }
}
