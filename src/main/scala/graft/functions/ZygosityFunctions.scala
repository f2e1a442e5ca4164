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
  * PAR intervals are the build-36 ones the library's default
  * constructor installs (`edu/mcw/rgd/util/PseudoAutosomalRegion`):
  * X: [1, 2709520] and [154584238, 154913754];
  * Y: [1, 2709520] and [57443438, 57772954].
  *
  * The reference computes percent in `float`; we use `double`
  * throughout (documented divergence — identical on all integer-exact
  * cases, e.g. percent==100 iff count==total in both).
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

  /** build-36 PAR membership for a position on chromosome X/Y. */
  def inPar(chr: Column, pos: Column): Column =
    (chr === "X" && ((pos >= 1L && pos <= 2709520L) ||
      (pos >= 154584238L && pos <= 154913754L))) ||
    (chr === "Y" && ((pos >= 1L && pos <= 2709520L) ||
      (pos >= 57443438L && pos <= 57772954L)))

  /** Percent of reads supporting one allele: 100*count/total (double),
    * 0 when total==0. */
  def percentRead(count: Column, total: Column): Column =
    when(total > 0, count.cast("double") * 100.0 / total.cast("double"))
      .otherwise(lit(0.0))

  /** Zygosity status ladder given a raw (double) percent, the chromosome,
    * position and sample gender. Follows
    * `Zygosity.computeZygosityStatusPseudoError`. */
  def zygosityStatus(pct: Column, chr: Column, pos: Column, gender: Column): Column = {
    val maleSexChr = (gender === "M" || gender === "P") && (chr === "X" || chr === "Y")
    val hemi = maleSexChr && !inPar(chr, pos)
    when(hemi,
      when(pct === HomozygousPercent, Hemizygous)
        .when(pct >= PossiblyHomozygousPercent, ProbablyHemizygous)
        .otherwise(PossiblyHemizygous))
      .otherwise(
        when(pct === HomozygousPercent, Homozygous)
          .when(pct >= PossiblyHomozygousPercent, PossiblyHomozygous)
          .otherwise(Heterozygous))
  }

  /** "Y"/"N": was this variant observed in a pseudo-autosomal region on a
    * male sex chromosome (only then does the reference set it to "Y"). */
  def inPseudoFlag(chr: Column, pos: Column, gender: Column): Column = {
    val maleSexChr = (gender === "M" || gender === "P") && (chr === "X" || chr === "Y")
    when(maleSexChr && inPar(chr, pos), "Y").otherwise("N")
  }

  /** "Y"/"N": percent-read <= 15 means the call is a possible error. */
  def possibleErrorFlag(pct: Column): Column =
    when(pct <= PossibleErrorPercent, "Y").otherwise("N")

  /** "Y"/"N": does the reference nucleotide also have reads at this
    * position (SNV path; default "N"). */
  def refAlleleFlag(refNuc: Column, a: Column, c: Column, g: Column, t: Column): Column =
    when(refNuc === "A", when(a > 0, "Y").otherwise("N"))
      .when(refNuc === "C", when(c > 0, "Y").otherwise("N"))
      .when(refNuc === "G", when(g > 0, "Y").otherwise("N"))
      .when(refNuc === "T", when(t > 0, "Y").otherwise("N"))
      .otherwise(lit("N"))

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
      floor(pct + 0.5).cast("int").as("zygosity_percent_read"),
      zygosityStatus(pct, chr, pos, gender).as("zygosity_status"),
      possibleErrorFlag(pct).as("zygosity_poss_error"),
      refAlleleFlag(refNuc, a, c, g, t).as("zygosity_ref_allele"),
      VariantFunctions.numAllele(a, c, g, t).as("zygosity_num_allele"),
      inPseudoFlag(chr, pos, gender).as("zygosity_in_pseudo"),
      varCount.cast("int").as("score"))
  }

  /** Indel zygosity (`Zygosity.computeZygosityStatus`): percent =
    * 100*alleleDepth/readDepth; score = 0 if alleleDepth==0 else the
    * integer percent (loader semantics, `VariantLoad3.java:322-346`). */
  def zygosityIndel(alleleDepth: Column, readDepth: Column, chr: Column, pos: Column,
                    gender: Column): Column = {
    val pct = percentRead(alleleDepth, readDepth)
    val pctInt = floor(pct + 0.5).cast("int")
    struct(
      pctInt.as("zygosity_percent_read"),
      zygosityStatus(pct, chr, pos, gender).as("zygosity_status"),
      possibleErrorFlag(pct).as("zygosity_poss_error"),
      inPseudoFlag(chr, pos, gender).as("zygosity_in_pseudo"),
      when(alleleDepth === 0, 0).otherwise(pctInt).as("score"))
  }
}
