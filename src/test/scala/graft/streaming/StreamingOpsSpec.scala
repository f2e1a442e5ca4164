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

  test("readStage reads a missing stage, a zero-accept batch and a replayed batch id as the staged rows") {
    val root = s"${graft.queries.Fixtures.scratchRoot}/stagespec"
    graft.queries.Fixtures.rmrf(new java.io.File(root))
    // a non-null id: both a missing and a present stage read it nullable
    val schema = Seq((1L, "a")).toDF("id", "v").schema
    assert(!schema("id").nullable)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq

    val missing = StreamingOps.readStage(spark, s"$root/none", schema)
    assert(missing.isEmpty && missing.schema.forall(_.nullable))

    // a wave source of 4 one-file parts, oldest first, so the stream's
    // 2-file batch 0 holds ids 1-4, which the accept rule rejects
    val src = new java.io.File(s"$root/src")
    src.mkdirs()
    for (k <- 0 until 4) {
      val d = s"$root/part$k"
      Seq(2L * k + 1, 2L * k + 2).map(i => (i, s"t$i")).toDF("id", "v")
        .coalesce(1).write.parquet(d)
      val part = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
      val to = new java.io.File(src, s"part$k.parquet")
      assert(part.renameTo(to) && to.setLastModified(1000000000000L + k * 60000L))
    }
    val stage = s"$root/stage"
    def run(): Unit = StreamingOps.stageWave(spark, src.getPath, schema,
      s"$root/ckpt", stage)(_.filter(col("id") > 4L))
    run()
    assert(new java.io.File(stage).list().filter(_.startsWith("batch=")).sorted.toSeq ==
      Seq("batch=0", "batch=1"))
    assert(spark.read.schema(schema).parquet(s"$stage/batch=0").isEmpty)
    // a stray file and a dir that is not a batch are skipped
    new java.io.File(s"$stage/not_a_batch").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$stage/stray"), "x")
    val staged = StreamingOps.readStage(spark, stage, schema)
    assert(staged.schema == missing.schema && ids(staged) == Seq(5L, 6L, 7L, 8L))

    // a replay under the same batch ids (checkpoint cleared) starts from
    // a cleared stage, so a stale batch dir of an earlier run is gone,
    // and overwrites each batch dir: the stage reads the same rows, once
    Seq((99L, "stale")).toDF("id", "v").write.parquet(s"$stage/batch=7")
    graft.queries.Fixtures.rmrf(new java.io.File(s"$root/ckpt"))
    run()
    val replayed = StreamingOps.readStage(spark, stage, schema)
    assert(ids(replayed) == Seq(5L, 6L, 7L, 8L))
    // the commit filter keeps the staged ids the store lacks
    assert(ids(StreamingOps.novel(replayed, Seq((5L, 0)).toDF("id", "n"), "id")) ==
      Seq(6L, 7L, 8L))
  }
}
