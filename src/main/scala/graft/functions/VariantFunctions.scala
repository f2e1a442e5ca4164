package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Variant-domain scalar functions as pure `Column` expressions.
  *
  * Conventions: `refNuc`/`varNuc` are nucleotide strings; for indels the
  * empty/null side encodes the indel ("" ref = insertion, "" var =
  * deletion) — reference `VariantLoad3.java:236-314`.
  *
  * Each rule's `...Sql` twin is the same rule as SQL text over column
  * expressions, in constructs Spark SQL and DuckDB share, so the DuckDB
  * oracles state it once; `TwinPropertySpec` runs every twin through
  * Spark against its Column function on NULL, '', '-', N and lower case.
  */
object VariantFunctions {

  private def emptyish(c: Column): Column = c.isNull || length(c) === 0
  private def emptyishSql(c: String): String = s"($c IS NULL OR length($c) = 0)"

  /** snv / ins / del typing. Reference `VariantLoad3.determineVariantType:668-680`:
    * both sides non-empty -> "snv", empty ref -> "ins", empty var -> "del". */
  def variantType(refNuc: Column, varNuc: Column): Column =
    when(!emptyish(refNuc) && !emptyish(varNuc), "snv")
      .when(emptyish(refNuc), "ins")
      .otherwise("del")

  def variantTypeSql(refNuc: String, varNuc: String): String =
    s"CASE WHEN NOT ${emptyishSql(refNuc)} AND NOT ${emptyishSql(varNuc)} THEN 'snv' " +
      s"WHEN ${emptyishSql(refNuc)} THEN 'ins' ELSE 'del' END"

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

  def variantTypeFixupSql(refNuc: String, varNuc: String): String = {
    val (r, v) = (s"coalesce($refNuc, '')", s"coalesce($varNuc, '')")
    s"CASE WHEN $r LIKE '%-%' OR $v LIKE '%-%' THEN 'del' " +
      s"WHEN length($r) < length($v) THEN 'ins' WHEN length($r) > length($v) THEN 'del' " +
      s"WHEN length($r) = 1 AND length($v) = 1 THEN 'snv' END"
  }

  /** End position rule: snv -> start+1; insertion -> start;
    * deletion -> start + len(ref). Reference `VariantLoad3.java:299-315`. */
  def endPos(startPos: Column, refNuc: Column, varNuc: Column): Column =
    when(!emptyish(refNuc) && !emptyish(varNuc), startPos + 1)
      .when(emptyish(refNuc), startPos)
      .otherwise(startPos + length(refNuc))

  def endPosSql(startPos: String, refNuc: String, varNuc: String): String =
    s"CASE WHEN NOT ${emptyishSql(refNuc)} AND NOT ${emptyishSql(varNuc)} THEN $startPos + 1 " +
      s"WHEN ${emptyishSql(refNuc)} THEN $startPos ELSE $startPos + length($refNuc) END"

  /** Quality score = rounded 100*readDepth/totalDepth with the reference's
    * exact integer semantics `(100*rd + td/2) / td` (integer division),
    * 0 when totalDepth==0. Reference `VariantLoad3.java:270-274`. */
  def qualityScore(readDepth: Column, totalDepth: Column): Column = {
    val rd = readDepth.cast("long")
    val td = totalDepth.cast("long")
    when(td > 0, ((rd * 100 + floor(td / 2)) / td).cast("long").cast("int"))
      .otherwise(lit(0))
  }

  /** Twin of [[qualityScore]]. The quotient truncates toward zero, as
    * Java's integer division and Spark's double-to-long cast do, built
    * from `floor` of its magnitude: DuckDB has no `DIV`, and its CAST of
    * a double to an integer rounds where Spark's truncates. */
  def qualityScoreSql(readDepth: String, totalDepth: String): String = {
    val td = s"CAST($totalDepth AS BIGINT)"
    val n = s"(CAST($readDepth AS BIGINT) * 100 + floor($td / 2))"
    s"CASE WHEN $td > 0 THEN CAST(sign($n) * floor(abs($n) / $td) AS INT) ELSE 0 END"
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

  def frameshiftFlagSql(refNuc: String, varNuc: String): String = {
    val (rl, vl) = (s"coalesce(length($refNuc), 0)", s"coalesce(length($varNuc), 0)")
    s"CASE WHEN (CASE WHEN $varNuc LIKE '%-%' THEN $rl WHEN $refNuc LIKE '%-%' THEN $vl " +
      s"ELSE abs($rl - $vl) END) % 3 <> 0 THEN 'T' ELSE 'F' END"
  }

  /** Synonymous status: equal AAs -> "synonymous", else "nonsynonymous";
    * an "X" (untranslatable codon) on either side -> "unassignable".
    * Reference `VariantPostProcessing.java:531-534` + `changes.txt:113-123`. */
  def synStatus(refAa: Column, varAa: Column): Column =
    when(refAa === "X" || varAa === "X", "unassignable")
      .when(refAa === varAa, "synonymous")
      .otherwise("nonsynonymous")

  def synStatusSql(refAa: String, varAa: String): String =
    s"CASE WHEN $refAa = 'X' OR $varAa = 'X' THEN 'unassignable' " +
      s"WHEN $refAa = $varAa THEN 'synonymous' ELSE 'nonsynonymous' END"

  /** Genic status of a variant from `covered`, whether a gene interval
    * contains it (`RangeJoin.covered`): "GENIC", else "INTERGENIC"
    * (NULL too). Reference `VariantLoad3.java:294,682-694`. */
  def genicStatus(covered: Column): Column =
    when(covered, "GENIC").otherwise("INTERGENIC")

  def genicStatusSql(covered: String): String =
    s"CASE WHEN $covered THEN 'GENIC' ELSE 'INTERGENIC' END"

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

  /** [[adjustForIndels]]'s fields as (name, SQL expression) pairs, in
    * its struct order. */
  def adjustForIndelsSql(pos: String, refNuc: String, varNuc: String): Seq[(String, String)] = {
    val shared = s"substr($refNuc, 1, 1) = substr($varNuc, 1, 1)"
    val snv = s"(length($refNuc) = 1 AND length($varNuc) = 1)"
    val ins = s"(length($refNuc) = 1 AND length($varNuc) > 1)"
    val del = s"(length($varNuc) = 1 AND length($refNuc) > 1)"
    val indel = s"($ins OR $del) AND $shared"
    Seq(
      "pos" -> s"CASE WHEN $snv THEN $pos WHEN $indel THEN $pos + 1 ELSE $pos END",
      "ref_nuc" -> (s"CASE WHEN $snv THEN $refNuc WHEN $ins AND $shared THEN NULL " +
        s"WHEN $del AND $shared THEN substr($refNuc, 2, length($refNuc)) ELSE $refNuc END"),
      "var_nuc" -> (s"CASE WHEN $snv THEN $varNuc " +
        s"WHEN $ins AND $shared THEN substr($varNuc, 2, length($varNuc)) " +
        s"WHEN $del AND $shared THEN NULL ELSE $varNuc END"),
      "padding_base" -> s"CASE WHEN $indel THEN substr($refNuc, 1, 1) END",
      "ok" -> s"($snv OR ($indel))")
  }
}
