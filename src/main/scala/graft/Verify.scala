package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1, after
  * oracle_sql.json is written, when any selected query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    stampFixtures(sfDir, outDir)
    // optional substring filter for targeted dev iteration (driver
    // runs with it unset = full dump)
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
      .map(_.split(",").toSeq).getOrElse(Nil)
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => filter.isEmpty || filter.exists(name.contains) }
      .filterNot { case (name, fn) => dump(spark, name, fn, sfDir, outDir) }
      .map(_._1).sorted
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Names this run's dump and SF dirs in `filegate/verify_stamp.json`.
    * The file-gate oracles read the fixtures the LAST Verify on the
    * scratch root wrote, so `tools/check.py` fails those oracles as
    * FIXTURE-STALE when the stamp names another dump. */
  def stampFixtures(sfDir: String, outDir: String): Unit = {
    def abs(p: String) = jsonString(Paths.get(p).toAbsolutePath.normalize.toString)
    val dir = Files.createDirectories(Paths.get(graft.queries.QueriesSources.FixtureDir))
    Files.writeString(dir.resolve("verify_stamp.json"),
      s"""{"dump": ${abs(outDir)}, "sf": ${abs(sfDir)}}""")
  }

  /** Writes query `name`'s result to `outDir/name` as parquet; false if
    * it threw. The previous dump is deleted first: a query that throws
    * before its write starts (an analysis error, an eager checkpoint
    * inside `fn`) must leave no stale result for the compare to pass. */
  def dump(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
           sfDir: String, outDir: String): Boolean = {
    val out = new java.io.File(outDir, name)
    graft.queries.Fixtures.rmrf(out)
    try { fn(spark, sfDir).coalesce(1).write.parquet(out.getPath); true }
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      false
    }
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in oracle SQL would otherwise make the
    * reader's json.load fail and silently skip the correctness compare. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
