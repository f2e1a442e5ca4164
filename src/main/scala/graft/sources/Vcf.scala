package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VCF text source/sink.
  *
  * Reader (reference S1/S2: `VcfToCommonFormat2Converter.run:109-147`):
  * `##` meta lines are dropped, strain/sample names come from the
  * `#CHROM` header row (columns 9+), and each data line becomes one row
  * per strain via a single `posexplode` — the reference's per-line
  * per-strain loop, re-expressed as scan -> filter -> split -> explode
  * (all codegen'd; the only driver-side work is reading the one header
  * line).
  *
  * Writer (reference K6: `ClinVar2Vcf.sortInMemory:148-202` sorts the
  * whole file in memory before writing): here the sort is Spark's
  * external sort — `orderBy(chr, pos numeric, id lower)` — which
  * removes the reference's heap ceiling; the header is prepended by
  * giving it sort keys that precede every data line.
  */
object Vcf {

  /** Fixed VCF columns 1-9. */
  val FixedCols: Seq[String] =
    Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "format")

  /** Read the strain names from the `#CHROM` header row (driver-side:
    * one line of one file). */
  def strainNames(spark: SparkSession, path: String): Seq[String] = {
    val header = spark.read.text(path)
      .filter(col("value").startsWith("#CHROM"))
      .head().getString(0)
    header.split("\t").drop(9).toSeq
  }

  /** Read a VCF into long format: one row per (line, strain), with the
    * fixed columns parsed and `gt` holding the strain's genotype column
    * (null when the line ends before that column, fixed or genotype, so
    * a line short of the 9 fixed fields reads NULL, not an error). Gzip
    * input is transparent (codec by file extension). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val strains = strainNames(spark, path)
    val lines = spark.read.text(path)
      .filter(!col("value").startsWith("#"))
      .select(split(col("value"), "\t").as("c"))
    val fixed = FixedCols.zipWithIndex.map { case (n, i) =>
      try_element_at(col("c"), lit(i + 1)).as(n)
    }
    // a line with fewer genotype cells than the header reads the
    // missing strains' cells as null
    val strainArr = array(strains.indices.map(i => try_element_at(col("c"), lit(i + 10))): _*)
    val strainName = array(strains.map(lit): _*)
    lines
      .select(fixed :+ posexplode(strainArr).as(Seq("strain_idx", "gt")): _*)
      .withColumn("strain", element_at(strainName, col("strain_idx") + 1))
      .withColumn("pos", col("pos").cast("long"))
      .drop("strain_idx")
  }

  /** DuckDB twin of [[read]] for a VCF whose `#CHROM` row names `strains`: a raw
    * tab split with no quoting, NULL past a short line's end; a non-numeric `pos` raises. */
  def readSql(files: String, strains: Seq[String]): String = {
    val fixed = FixedCols.zipWithIndex.map {
      case ("pos", i) => s"CAST(c[${i + 1}] AS BIGINT) AS pos"
      case (n, i) => s"c[${i + 1}] AS $n"
    }
    val s = strains.zipWithIndex.map { case (n, i) => s"($i, '$n')" }.mkString(", ")
    s"""SELECT ${fixed.mkString(", ")}, c[${FixedCols.size + 1} + s.i] AS gt, s.strain
       |FROM (SELECT string_split(value, '${Tsv.Tab}') AS c FROM (${Tsv.linesSql(files)})
       |  WHERE NOT starts_with(value, '#')), (VALUES $s) s(i, strain)""".stripMargin
  }

  /** Sort data lines by (chr, numeric pos, case-insensitive id) and
    * write a single VCF text file with header lines first. `lines` must
    * have columns (chrom, pos, id, line) where `line` is the full
    * tab-joined data line; `headerLines` are written verbatim on top. */
  def writeSorted(spark: SparkSession, lines: DataFrame,
                  headerLines: Seq[String], path: String): Unit = {
    import spark.implicits._
    // headers carry sort keys lower than any data line
    val hdr = headerLines.zipWithIndex.map { case (h, i) =>
      ("", i.toLong, "", h)
    }.toDF("chrom", "pos", "id", "line")
    hdr.unionByName(lines.select(col("chrom"), col("pos"), col("id"), col("line")))
      .orderBy(col("chrom"), col("pos"), lower(col("id")))
      .select(col("line"))
      .coalesce(1)
      .write.mode("overwrite").text(path)
  }
}
