package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** One catalog entry: Spark implementation + optional DuckDB oracle.
    * Column names/types must match between the two (the harness sorts
    * columns by name and hash-compares values). */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Money `x` as integer cents, rounded half up, in the dialect Spark
    * SQL and DuckDB share: both evaluate `floor(x * 100 + 0.5)` in the
    * same IEEE doubles, so sums of it agree exactly. Spark reads it
    * through `expr`; the oracles splice it into their SQL. */
  def centsSql(x: String): String = s"CAST(floor($x * 100 + 0.5) AS BIGINT)"

  /** Read one test table (parquet) from the scale-factor directory.
    * The driver's `events.ts` is TIMESTAMP(NANOS) in the parquet, which
    * Spark reads only as a long (nanosAsLong); convert to a microsecond
    * timestamp (session TZ is UTC, matching DuckDB's naive rendering).
    * Type-adaptive so the same reader also accepts files whose writer
    * already used micro/millisecond timestamps (e.g. the sweep's
    * scaled-up copies). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // session TZ is UTC, so NTZ→LTZ is value-identical; the LTZ
          // type is what unix_micros/watermarks expect downstream
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
}
