package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, trim => trimCol}
import org.apache.spark.sql.types._

/** The tab-separated scans the file readers are built on, each with its
  * DuckDB twin. A twin emits SQL text only: DuckDB's own CSV reader
  * reads the files. `files` is one file or a glob; a Spark-written
  * directory is named by its part files (`dir/part-*`). */
object Tsv {

  /** A literal TAB: DuckDB's `delim` takes the character itself. */
  val Tab = "\t"

  /** Read `path` as tab-separated `schema` columns in Spark's PERMISSIVE
    * mode and quoting (`"` quotes, `\` escapes): a short row reads NULL
    * in its missing columns, a number cell that Java's `parseInt`/
    * `parseLong` rejects (`' 7'`, `1.0`, `x`) NULL. `comment` skips `#`
    * lines; `trim` trims the string columns (spaces) after parsing. */
  def read(spark: SparkSession, path: String, schema: StructType, comment: Boolean = false,
           trim: Boolean = false): DataFrame = {
    val r = spark.read.schema(schema).option("sep", Tab)
    val df = (if (comment) r.option("comment", "#") else r).csv(path)
    if (!trim) df
    else df.select(schema.fields.map { f =>
      if (f.dataType == StringType) trimCol(col(f.name)).as(f.name) else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** DuckDB twin of [[read]]: every column read as VARCHAR, then cast. */
  def readSql(files: String, schema: StructType, comment: Boolean = false,
              trim: Boolean = false): String = {
    val casts = schema.fields.map(f => f.dataType match { // other types: a MatchError
      case IntegerType => s"${number(f.name, "INTEGER")} AS ${f.name}"
      case LongType => s"${number(f.name, "BIGINT")} AS ${f.name}"
      case StringType => if (trim) s"trim(${f.name}) AS ${f.name}" else f.name
    })
    val cols = schema.fieldNames.map(n => s"'$n':'VARCHAR'").mkString("{", ",", "}")
    val first = schema.fieldNames.head
    s"SELECT ${casts.mkString(", ")} FROM read_csv('$files', delim='$Tab', quote='\"', " +
      s"escape='\\', header=false, auto_detect=false, null_padding=true, columns=$cols)" +
      (if (comment) s" WHERE $first IS NULL OR NOT starts_with($first, '#')" else "")
  }

  /** `c` as the integer type `t` when it is a signed run of digits in range
    * (Java's `parseLong`), else NULL; a bare `TRY_CAST` takes `' 7'` and `1.0`. */
  def number(c: String, t: String): String =
    s"CASE WHEN regexp_full_match($c, '[+-]?[0-9]+') THEN TRY_CAST($c AS $t) END"

  /** DuckDB twin of `spark.read.text(files)`: one `value` per line, its `\n`
    * or `\r\n` stripped, no quoting; an empty line reads as `''`. */
  def linesSql(files: String): String =
    s"SELECT coalesce(value, '') AS value FROM read_csv('$files', delim='', quote='', " +
      "escape='', header=false, auto_detect=false, columns={'value':'VARCHAR'})"
}
