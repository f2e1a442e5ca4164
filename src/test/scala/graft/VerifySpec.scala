package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col

class VerifySpec extends SparkSpec {

  test("a query that throws before its write leaves no stale dump and is reported failed") {
    val out = Files.createTempDirectory("verify").toString
    val dir = new java.io.File(out, "q")
    assert(Verify.dump(spark, "q", (s, _) => s.range(3).toDF(), "unused", out))
    assert(spark.read.parquet(dir.getPath).count() == 3L)
    // an analysis error: the throw comes before any write starts
    assert(!Verify.dump(spark, "q", (s, _) => s.range(3).toDF().select(col("missing")),
      "unused", out))
    assert(!dir.exists())
    // a throw inside the query function itself (e.g. an eager checkpoint)
    assert(Verify.dump(spark, "q", (s, _) => s.range(3).toDF(), "unused", out))
    assert(!Verify.dump(spark, "q", (_, _) => throw new IllegalStateException("boom"),
      "unused", out))
    assert(!dir.exists())
  }
}
