package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Variant-domain scalar functions as pure `Column` expressions.
  *
  * Conventions: `refNuc`/`varNuc` are nucleotide strings; for indels the
  * empty/null side encodes the indel ("" ref = insertion, "" var =
  * deletion) — reference `VariantLoad3.java:236-314`.
  */
object VariantFunctions {

  private def emptyish(c: Column): Column = c.isNull || length(c) === 0

  /** snv / ins / del typing. Reference `VariantLoad3.determineVariantType:668-680`:
    * both sides non-empty -> "snv", empty ref -> "ins", empty var -> "del". */
  def variantType(refNuc: Column, varNuc: Column): Column =
    when(!emptyish(refNuc) && !emptyish(varNuc), "snv")
      .when(emptyish(refNuc), "ins")
      .otherwise("del")

  /** Variant typing exactly as the fixup job re-derives it — branch
    * order matters: ANY '-' on either side is "del" (even a '-' ref,
    * which a loader would call an insertion), then the length
    * comparison decides ins/del for unequal lengths, single-base pairs
    * are "snv", and equal-length multi-base pairs are UNKNOWN (null;
    * the reference logs "Unknown variant type!" and stores null).
    * Reference `fixup/VariantTypeFixUp.java:47-63`. */
  def variantTypeFixup(refNuc: Column, varNuc: Column): Column = {
    val r = coalesce(refNuc, lit(""))
    val v = coalesce(varNuc, lit(""))
    when(r.contains("-") || v.contains("-"), "del")
      .when(length(r) < length(v), "ins")
      .when(length(r) > length(v), "del")
      .when(length(r) === 1 && length(v) === 1, "snv")
      .otherwise(lit(null).cast("string"))
  }

  /** End position rule: snv -> start+1; insertion -> start;
    * deletion -> start + len(ref). Reference `VariantLoad3.java:299-315`. */
  def endPos(startPos: Column, refNuc: Column, varNuc: Column): Column =
    when(!emptyish(refNuc) && !emptyish(varNuc), startPos + 1)
      .when(emptyish(refNuc), startPos)
      .otherwise(startPos + length(refNuc))

  /** Quality score = rounded 100*readDepth/totalDepth with the reference's
    * exact integer semantics `(100*rd + td/2) / td` (integer division),
    * 0 when totalDepth==0. Reference `VariantLoad3.java:270-274`. */
  def qualityScore(readDepth: Column, totalDepth: Column): Column = {
    val rd = readDepth.cast("long")
    val td = totalDepth.cast("long")
    when(td > 0, ((rd * 100 + floor(td / 2)) / td).cast("long").cast("int"))
      .otherwise(lit(0))
  }

  /** Allele string QC: only A,C,G,T,N,'-' allowed.
    * Reference `VariantLoad3.alleleIsValid:368-376`. */
  def alleleIsValid(allele: Column): Column = allele.rlike("^[ACGTN-]*$")

  /** Frameshift flag: indel whose length change is not a multiple of 3.
    * A side CONTAINING '-' contributes length 0 — the length delta is
    * then the other side's full length, exactly the fixup's branch
    * structure. Returns "T"/"F" strings as stored by the reference
    * (`VariantPostProcessing.java:536-540`,
    * `fixup/FrameShiftFixUp.java:55-64`). */
  def frameshiftFlag(refNuc: Column, varNuc: Column): Column = {
    val rl = when(refNuc.isNull, 0).otherwise(length(refNuc))
    val vl = when(varNuc.isNull, 0).otherwise(length(varNuc))
    val lenDiff = when(varNuc.isNotNull && varNuc.contains("-"), rl)
      .when(refNuc.isNotNull && refNuc.contains("-"), vl)
      .otherwise(abs(rl - vl))
    when(lenDiff % 3 =!= 0, "T").otherwise("F")
  }

  /** Synonymous status: equal AAs -> "synonymous", else "nonsynonymous";
    * an "X" (untranslatable codon) on either side -> "unassignable".
    * Reference `VariantPostProcessing.java:531-534` + `changes.txt:113-123`. */
  def synStatus(refAa: Column, varAa: Column): Column =
    when(refAa === "X" || varAa === "X", "unassignable")
      .when(refAa === varAa, "synonymous")
      .otherwise("nonsynonymous")

  /** Indel normalization ("common format" encoding): for an insertion
    * (ref len 1, var longer, shared leading base) emit pos+1, ref null,
    * var = inserted suffix, padding = shared base; symmetric for
    * deletions. SNVs pass through. Returns a struct
    * (pos, ref_nuc, var_nuc, padding_base, ok); `ok=false` marks lines the
    * reference writer would drop (no shared leading base).
    * Reference `CommonFormat2Line.adjustForIndels:54-90`. */
  def adjustForIndels(pos: Column, refNuc: Column, varNuc: Column): Column = {
    val sharedLead = substring(refNuc, 1, 1) === substring(varNuc, 1, 1)
    val snv = length(refNuc) === 1 && length(varNuc) === 1
    val ins = length(refNuc) === 1 && length(varNuc) > 1
    val del = length(varNuc) === 1 && length(refNuc) > 1
    struct(
      when(snv, pos).when((ins || del) && sharedLead, pos + 1).otherwise(pos).as("pos"),
      when(snv, refNuc).when(ins && sharedLead, lit(null).cast("string"))
        .when(del && sharedLead, refNuc.substr(lit(2), length(refNuc))).otherwise(refNuc).as("ref_nuc"),
      when(snv, varNuc).when(ins && sharedLead, varNuc.substr(lit(2), length(varNuc)))
        .when(del && sharedLead, lit(null).cast("string")).otherwise(varNuc).as("var_nuc"),
      when((ins || del) && sharedLead, substring(refNuc, 1, 1))
        .otherwise(lit(null).cast("string")).as("padding_base"),
      (snv || ((ins || del) && sharedLead)).as("ok"))
  }

  /** Number of distinct called alleles = count of A/C/G/T with reads > 0.
    * Reference `Zygosity.computeZygosity` (decompiled rgdcore jar). */
  def numAllele(a: Column, c: Column, g: Column, t: Column): Column =
    (a > 0).cast("int") + (c > 0).cast("int") + (g > 0).cast("int") + (t > 0).cast("int")
}
