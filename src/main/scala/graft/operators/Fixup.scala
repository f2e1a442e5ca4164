package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VariantFunctions, ZygosityFunctions}

/** Fix-up jobs (SURVEY §5.5) — the reference's maintenance pattern: a
  * full-table scan that RE-DERIVES a stored column from its source
  * columns, counts rows already up to date, and batch-updates the rows
  * that drifted (each job streams the whole table through one JDBC
  * cursor and buffers 10k-row UPDATE batches).
  *
  * The five jobs are declared once, as data ([[Job]]), and share one
  * lifecycle ([[run]]): one drift report, the fixes in order, the fixed
  * table persisted and read back, and one pass that counts what drift
  * is left. Spark-first shape: a re-derivation is a projection (or a
  * map-side interval lookup, or one site window) over the stored
  * table, drift is a null-safe inequality, the "update" an overwrite of
  * the stored column; the report and the recheck are one aggregation
  * each. Zero drift after the fix is the reference's implicit
  * convergence property made explicit (a second run updates nothing).
  */
object Fixup {

  /** One fix-up job, named `check` in the report. Over the rows of
    * `scope` it re-derives the stored `column` as `recomputed`; a row
    * has drifted when the two differ null-safely (a stored value
    * against an unknown NULL is drift too — the reference updates those
    * rows). `status`, when set, is a second column the job re-derives
    * together with `column`; the report shows it in place of `column`.
    * `lookup` attaches what the re-derivation reads from another table,
    * once per read of the stored table. */
  final case class Job(check: String, column: String, recomputed: Column,
                       scope: Column = lit(true),
                       status: Option[(String, Column)] = None,
                       lookup: DataFrame => DataFrame = identity)

  /** `fixup/VariantTypeFixUp.java:37-88`: the type from the alleles. */
  val VariantType: Job = Job("variant_type", "variant_type",
    VariantFunctions.variantTypeFixup(col("ref_nuc"), col("var_nuc")))

  /** `fixup/FrameShiftFixUp.java:36-87`: the frameshift flag from the
    * alleles. */
  val FrameShift: Job = Job("frameshift", "frameshift",
    VariantFunctions.frameshiftFlag(col("ref_nuc"), col("var_nuc")))

  /** `fixup/GenicStatusFixUp.java:103-109`: a variant is genic iff some
    * gene interval contains its position — the one job whose
    * re-derivation is an interval lookup (the reference issues one
    * indexed range query per row; here it is [[genicCovered]],
    * map-side against the broadcast merged genes). `genes` is the
    * (g_chr, g_start, g_stop) dim. Both sides of the compare are
    * [[genicLabel]]'s lower case, the reference's case-insensitive
    * compare. */
  def genicStatus(genes: DataFrame): Job = Job("genic_status", "genic_status",
    genicLabel(col("covered")), lookup = genicCovered(_, genes))

  /** `fixup/ZygosityPercReadFixUp.java:53-54`: SNV rows whose stored
    * percent-read disagrees with var_freq get percent := var_freq and
    * the gender-free status ladder of it. */
  val ZygosityPercRead: Job = Job("zygosity_perc_read", "zygosity_percent_read",
    col("var_freq"),
    scope = col("variant_type") === "snv" &&
      !(col("zygosity_percent_read") <=> col("var_freq")),
    status = Some("zygosity_status" -> ZygosityFunctions.statusLadder(col("var_freq"))))

  /** `fixup/NumAllelesFixUp.java:46-99`: [[numAlleleRecomputed]] over
    * the percent-read > 0 rows. */
  val NumAlleles: Job = Job("num_allele", "zygosity_num_allele", numAlleleRecomputed,
    scope = alleleScope)

  /** The per-site jobs in the order their fixes apply: ZygosityPercRead
    * rewrites the percent whose > 0 scope NumAlleles re-counts over, so
    * it runs first and NumAlleles sees the state a re-run would. */
  def siteJobs(genes: DataFrame): Seq[Job] = Seq(genicStatus(genes), ZygosityPercRead, NumAlleles)

  /** The whole lifecycle over `stored`, a table with a `vid` row id and
    * every column the `jobs` read: `stored` is persisted at `path` as
    * the store the jobs scan and read back, then
    *  1. one drift report: per (check, drifted, stored, recomputed) the
    *     row count `n` and `sum_vid`, a NULL shown as `'?'`;
    *  2. the fixes, applied in `jobs` order, each re-derived over the
    *     table as the earlier fixes left it;
    *  3. the fixed table, persisted at `path-fixed` and read back;
    *  4. one pass over it that counts every job's remaining drift, one
    *     `<check>:after_fix` row each (`drifted` false, `'*'`, `n`).
    * Each read of a table runs every job's lookup once: the read of the
    * store is checkpointed under both the report and the fix. */
  def run(stored: DataFrame, path: String, jobs: Seq[Job]): DataFrame = {
    val spark = stored.sparkSession
    stored.write.mode("overwrite").parquet(path)
    val store = spark.read.parquet(path)
    val seen = looked(store, jobs).localCheckpoint(true)
    jobs.foldLeft(seen) { (t, j) =>
        t.withColumns(((j.column -> j.recomputed) +: j.status.toSeq).map { case (c, r) =>
          c -> when(j.scope, r).otherwise(col(c)) }.toMap)
      }
      .select(store.columns.map(col): _*)
      .write.mode("overwrite").parquet(s"$path-fixed")
    report(seen, jobs)
      .unionByName(recheck(looked(spark.read.parquet(s"$path-fixed"), jobs), jobs))
      .orderBy(col("check_name"), col("drifted"), col("stored"), col("recomputed"))
  }

  private def looked(table: DataFrame, jobs: Seq[Job]): DataFrame =
    jobs.foldLeft(table)((t, j) => j.lookup(t))

  /** `table` with each job's re-derivation as [[re]] (a window sees
    * every row of `table`, in scope or not). */
  private def rederived(table: DataFrame, jobs: Seq[Job]): DataFrame =
    table.withColumns(jobs.map(j => re(j) -> j.recomputed).toMap)

  private def re(j: Job): String = s"__${j.check}"

  private def drifted(j: Job): Column = !(col(j.column) <=> col(re(j)))

  private def report(seen: DataFrame, jobs: Seq[Job]): DataFrame = {
    def shown(c: Column) = coalesce(c.cast("string"), lit("?"))
    rederived(seen, jobs)
      .select(col("vid"), explode(array(jobs.map { j =>
        val (s, r) = j.status.fold((col(j.column), col(re(j)))) { case (c, r) => (col(c), r) }
        struct(lit(j.check).as("check_name"), j.scope.as("in"), drifted(j).as("drifted"),
          shown(s).as("stored"), shown(r).as("recomputed"))
      }: _*)).as("j"))
      .filter(col("j.in"))
      .groupBy(col("j.check_name").as("check_name"), col("j.drifted").as("drifted"),
        col("j.stored").as("stored"), col("j.recomputed").as("recomputed"))
      .agg(count(lit(1)).as("n"), sum(col("vid")).as("sum_vid"))
  }

  private def recheck(fixed: DataFrame, jobs: Seq[Job]): DataFrame = {
    val counts = jobs.map(j => count(when(j.scope && drifted(j), 1)).as(re(j)))
    val rows = jobs.map(j => s"'${j.check}:after_fix', ${re(j)}")
    rederived(fixed, jobs)
      .agg(counts.head, counts.tail: _*)
      .select(expr(s"stack(${jobs.size}, ${rows.mkString(", ")}) AS (check_name, n)"))
      .select(col("check_name"), lit(false).as("drifted"), lit("*").as("stored"),
        lit("*").as("recomputed"), col("n"), lit(0L).as("sum_vid"))
  }

  /** DuckDB twin of [[run]]'s result for an oracle that re-derives each
    * job itself: one report SELECT per check over `rows`, then each
    * check's `:after_fix` row of zero drift. */
  def reportSql(rows: String, checks: CheckSql*): String = {
    def shown(c: String) = s"coalesce(CAST($c AS VARCHAR), '?')"
    val report = checks.map { c =>
      val (s, r) = c.status.getOrElse((c.stored, c.recomputed))
      s"""SELECT '${c.check}' AS check_name,
         |  (${c.stored} IS DISTINCT FROM ${c.recomputed}) AS drifted,
         |  ${shown(s)} AS stored, ${shown(r)} AS recomputed,
         |  count(*) AS n, CAST(sum(vid) AS BIGINT) AS sum_vid
         |FROM $rows WHERE ${c.scope} GROUP BY 1, 2, 3, 4""".stripMargin
    }
    val zeros = checks.map(c => s"SELECT '${c.check}:after_fix', false, '*', '*', 0, 0")
    (report ++ zeros).mkString("", "\nUNION ALL\n", "\nORDER BY 1, 2, 3, 4")
  }

  /** One check of [[reportSql]], a [[Job]] in SQL: the stored and
    * recomputed expressions, the scope and the shown status pair. */
  final case class CheckSql(check: String, stored: String, recomputed: String,
                            scope: String = "true",
                            status: Option[(String, String)] = None)

  /** `variants` with [[RangeJoin.covered]]'s `covered` against `genes`. */
  def genicCovered(variants: DataFrame, genes: DataFrame): DataFrame =
    RangeJoin.covered(variants, genes, Seq("chromosome"), Seq("g_chr"), "start_pos",
      "g_start", "g_stop")

  /** The fix-up's genic label: [[VariantFunctions.genicStatus]] in lower
    * case. */
  def genicLabel(covered: Column): Column = lower(VariantFunctions.genicStatus(covered))

  /** DuckDB twin of [[genicLabel]]. */
  def genicLabelSql(covered: String): String =
    s"lower(${VariantFunctions.genicStatusSql(covered)})"

  private def alleleScope: Column = col("zygosity_percent_read") > 0

  /** NumAllelesFixUp's re-derivation: among rows with percent-read > 0,
    * the allele count at one (sample, chr, pos) site is the site's row
    * count, plus one if any row there saw the reference allele.
    * Attached to every row of the frame: in-scope rows get the site
    * count, out-of-scope rows (which the job's WHERE clause never
    * touches) get NULL. One window over the unfiltered frame — the
    * shuffle is the reference's ORDER BY sample,chromosome,start_pos
    * cursor, keyed identically — whose count and ref-allele bump see
    * only in-scope rows. */
  def numAlleleRecomputed: Column = {
    val w = Window.partitionBy(
      col("sample_id"), col("chromosome"), col("start_pos"))
    when(alleleScope,
      (count(when(alleleScope, 1)).over(w) +
        max(when(alleleScope && col("zygosity_ref_allele") === "Y", 1L)
          .otherwise(0L)).over(w)).cast("int"))
  }
}
