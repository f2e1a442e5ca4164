package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("windowed counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "k")
    val counts = StreamingOps.windowedCounts(df, "ts", "k", "10 minutes", "5 minutes")
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((t(1), "a"), (t(2), "a"), (t(3), "b"), (t(12), "a"))
    val q = counts.writeStream
      .format("memory").queryName("win_counts")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.awaitTermination(30000)
    val rows = spark.table("win_counts")
      .select(date_format($"window_start", "HH:mm").as("w"), $"k", $"cnt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(("10:00", "a", 2L), ("10:00", "b", 1L), ("10:10", "a", 1L)))
  }

  test("upsertBatch is idempotent: replays insert nothing new") {
    val existing = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val batch = Seq((2L, "y2"), (3L, "z"), (3L, "z-dup")).toDF("id", "v")
    val first = StreamingOps.upsertBatch(batch, existing, Seq("id"))
    assert(first.select("id").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(first.count() == 1) // in-batch dup collapsed
    // replaying the same batch against the post-merge store is a no-op
    val merged = existing.unionByName(first)
    assert(StreamingOps.upsertBatch(batch, merged, Seq("id")).count() == 0)
  }
}
