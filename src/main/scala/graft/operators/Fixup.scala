package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VariantFunctions

/** Fix-up jobs (SURVEY §5.5) — the reference's maintenance pattern: a
  * full-table scan that RE-DERIVES a stored column from its source
  * columns, counts rows already up to date, and batch-updates the rows
  * that drifted (`fixup/VariantTypeFixUp.java:37-88`,
  * `fixup/FrameShiftFixUp.java:36-87`; both stream the whole table
  * through one JDBC cursor and buffer 10k-row UPDATE batches).
  *
  * Spark-first shape: the re-derivation is a pure projection over the
  * stored table, drift is a null-safe inequality, the "update" is an
  * overwrite of the stored column — a map-only plan with no shuffle at
  * any scale; the drift REPORT is one aggregation. Asserting zero
  * drift after the fix is the reference's implicit convergence
  * property made explicit (a second fixup run updates nothing).
  */
object Fixup {

  /** Annotate `df` with `recomputed` (the re-derivation of
    * `storedCol`) and boolean `drifted` (null-safe inequality, so a
    * stored value vs an unknown-type null also counts as drift — the
    * reference updates those rows too). */
  def drift(df: DataFrame, storedCol: String, recomputed: Column): DataFrame =
    df.withColumn("recomputed", recomputed)
      .withColumn("drifted", !(col(storedCol) <=> col("recomputed")))

  /** The corrective update: stored column overwritten with the
    * re-derivation (the reference's batched
    * `UPDATE variant SET variant_type=? WHERE variant_id=?`). */
  def applyFix(df: DataFrame, storedCol: String, recomputed: Column): DataFrame =
    df.withColumn(storedCol, recomputed)

  /** VariantTypeFixUp over a VARIANT-shaped frame
    * (ref_nuc, var_nuc, variant_type). */
  def variantTypeDrift(variants: DataFrame): DataFrame =
    drift(variants, "variant_type",
      VariantFunctions.variantTypeFixup(col("ref_nuc"), col("var_nuc")))

  /** FrameShiftFixUp over a variant⋈variant_transcript-shaped frame
    * (ref_nuc, var_nuc, frameshift). */
  def frameshiftDrift(vt: DataFrame): DataFrame =
    drift(vt, "frameshift",
      VariantFunctions.frameshiftFlag(col("ref_nuc"), col("var_nuc")))

  /** GenicStatusFixUp (`fixup/GenicStatusFixUp.java:103-109`): a
    * variant is genic iff some gene interval contains its position —
    * the one fixup whose re-derivation is not a projection but an
    * interval lookup (the reference issues one indexed range query per
    * row; here it is [[genicCovered]], map-side against the broadcast
    * merged genes). `variants` carries `chromosome`, `start_pos` and
    * `genic_status`; `genes` is the (g_chr, g_start, g_stop) dim. Both
    * sides of the compare are [[genicLabel]]'s lower case, the
    * reference's case-insensitive compare. */
  def genicStatusDrift(variants: DataFrame, genes: DataFrame): DataFrame =
    drift(genicCovered(variants, genes), "genic_status", genicLabel(col("covered")))
      .drop("covered")

  /** `variants` with [[RangeJoin.covered]]'s `covered` against `genes`. */
  def genicCovered(variants: DataFrame, genes: DataFrame): DataFrame =
    RangeJoin.covered(variants, genes, Seq("chromosome"), Seq("g_chr"), "start_pos",
      "g_start", "g_stop")

  /** The fix-up's genic label: [[VariantFunctions.genicStatus]] in lower
    * case. */
  def genicLabel(covered: Column): Column = lower(VariantFunctions.genicStatus(covered))

  /** NumAllelesFixUp (`fixup/NumAllelesFixUp.java:46-99`): among rows
    * with percent-read > 0, the allele count at one (sample, chr, pos)
    * site is the site's row count, plus one if any row there saw the
    * reference allele. Attached to every row of the frame: in-scope
    * rows get the site count, out-of-scope rows (percent-read <= 0,
    * which the job's WHERE clause never touches) get NULL. One window
    * over the unfiltered frame — the shuffle is the reference's
    * ORDER BY sample,chromosome,start_pos cursor, keyed identically —
    * whose count and ref-allele bump see only in-scope rows. */
  def numAlleleRecomputed: Column = {
    val w = Window.partitionBy(
      col("sample_id"), col("chromosome"), col("start_pos"))
    val inScope = col("zygosity_percent_read") > 0
    when(inScope,
      (count(when(inScope, 1)).over(w) +
        max(when(inScope && col("zygosity_ref_allele") === "Y", 1L)
          .otherwise(0L)).over(w)).cast("int"))
  }

  /** ZygosityPercReadFixUp scope (`fixup/ZygosityPercReadFixUp.java:53-54`):
    * SNV rows whose stored percent-read disagrees with var_freq — the
    * job rewrites percent := var_freq and re-derives the status. */
  def zygosityPercentScope(variants: DataFrame): DataFrame =
    variants.filter(col("variant_type") === "snv" &&
      !(col("zygosity_percent_read") <=> col("var_freq")))
}
