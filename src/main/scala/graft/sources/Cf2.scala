package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Common Format 2 (CF2) reader/writer — the reference pipeline's
  * central interchange format: 16 tab-separated columns, `#`-prefixed
  * header, optional gzip (reference `convert/CommonFormat2Line.java:8-33`,
  * header literal `convert/CommonFormat2Writer.java:57`, positional
  * consumption `VariantLoad3.java:225-296`).
  *
  * The schema is declared statically (the reference's schemas are
  * code-implicit positional indexes; SURVEY §1.3) — never inferred, so
  * reads are deterministic and the csv scan prunes columns.
  */
object Cf2 {

  /** The 16 CF2 columns, in file order. */
  val schema: StructType = StructType(Seq(
    StructField("chromosome", StringType),
    StructField("position", LongType),
    StructField("ref_nuc", StringType),
    StructField("var_nuc", StringType),
    StructField("rs_id", StringType),
    StructField("reads_a", IntegerType),
    StructField("reads_c", IntegerType),
    StructField("reads_g", IntegerType),
    StructField("reads_t", IntegerType),
    StructField("total_depth", IntegerType),
    StructField("hgvs_name", StringType),
    StructField("rgd_id", IntegerType),
    StructField("allele_depth", IntegerType),
    StructField("allele_count", IntegerType),
    StructField("read_depth", IntegerType),
    StructField("padding_base", StringType)))

  /** Read CF2 TSV (plain or .gz — Spark handles the codec by
    * extension); `#` comment/header lines are skipped. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", "\t")
      .option("comment", "#")
      .option("emptyValue", "")
      .csv(path)

  /** DuckDB twin of [[read]] ([[Tsv.readSql]]). */
  def readSql(files: String): String = Tsv.readSql(files, schema, comment = true)

  /** Write CF2 TSV; `compression = "gzip"` for .gz output. Partitioning
    * by a strain/sample column reproduces the reference's per-strain
    * file fan-out (`VcfToCommonFormat2Converter.getOutputFile:393-405`)
    * as directory partitions. */
  def write(df: DataFrame, path: String,
            partitionBy: Seq[String] = Nil,
            compression: String = "none",
            mode: String = "overwrite"): Unit = {
    val w = df.write
      .option("sep", "\t")
      .option("compression", compression)
      .option("emptyValue", "")
      .mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
  }
}
