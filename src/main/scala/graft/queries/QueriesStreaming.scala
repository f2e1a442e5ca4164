package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming queries, oracle-checked.
  *
  * The reference is batch-only; its incremental idioms (append-mode
  * outputs, verify-before-insert loads — SURVEY §2.10) map to a file
  * streaming source + event-time windows + idempotent upserts
  * (`graft.streaming.StreamingOps`). Here the streaming path itself
  * joins the correctness gate: the stream is driven to completion with
  * `Trigger.AvailableNow` over the static test table, so the final
  * memory-sink contents must equal the batch aggregation that the
  * DuckDB oracle computes — same result through a genuinely different
  * (stateful, micro-batched) execution path.
  *
  * Scale note: the memory sink is gate plumbing only. On a cluster the
  * identical pipeline writes `writeStream.format("parquet")` (append
  * mode + watermark eviction) or `foreachBatch` into a keyed store; the
  * state store shuffles by (window, key) exactly like the batch
  * groupBy, so the 100 TB story is the partitioning story, unchanged.
  */
object QueriesStreaming {

  def all: Seq[Q] = Seq(

    // Tumbling 1-hour event-time windows with a 30-minute watermark,
    // executed by the streaming engine (AvailableNow → run-to-complete)
    // — the streaming twin of batch q14.
    Q("q17_stream_windowed",
      (spark, dir) => {
        // events.ts is TIMESTAMP(NANOS) parquet: read as long, convert
        // to a microsecond timestamp (mirrors queries.table()).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val schema = spark.read.parquet(s"$dir/events.parquet").schema
        // the file source wants a directory; select just the events
        // table out of the shared sf directory with a glob filter
        val raw = spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        // type-adaptive like queries.table(): files written with real
        // micro/millisecond timestamps need no conversion
        val ev = schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case org.apache.spark.sql.types.TimestampNTZType =>
            raw.withColumn("ts", col("ts").cast("timestamp"))
          case _ => raw
        }
        val counts = graft.streaming.StreamingOps.windowedCounts(
          ev, "ts", "event_type", "1 hour", "30 minutes")
        val sink = "q17_stream_windowed_sink"
        val q = counts.writeStream.format("memory").queryName(sink)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.table(sink)
          .select(
            date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("w_start"),
            col("event_type"), col("cnt"))
          .orderBy(col("w_start"), col("event_type"))
      },
      Some(
        """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M') AS w_start,
          |  event_type, count(*) AS cnt
          |FROM events
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin)),

    // K4 as a STREAM: the reference's verify-before-insert load
    // (`VariantLoad3.saveVariants:479-589`) run as continuous ingestion
    // — the events table split into files, streamed in 2-file
    // micro-batches, each batch upserted into a keyed parquet store via
    // foreachBatch + StreamingOps.upsertBatch (left_anti on user_id);
    // replaying the ENTIRE stream under a fresh checkpoint adds zero
    // rows (at-least-once delivery -> exactly-once effect; pinned in
    // StreamReplaySpec since r17 instead of re-running the full replay
    // pass inside every bench run).
    // The gate aggregates only arrival-order-independent facts
    // (the kept key SET), so the DuckDB oracle is exact: any duplicate
    // key in the store (idempotence break) or missing key
    // (completeness break) fails rows/hash.
    //
    // 100 TB: the store is a BUCKETED table on user_id, so its side of
    // every micro-batch anti-join enters the sort-merge join
    // exchange-free — the store's shuffle was paid once at write time,
    // and each wave's appended files land already bucketed. Only the
    // wave shuffles, every batch, forever (the q98/q99 invariant;
    // `BucketedJoinSpec` asserts this exact left_anti plan shape). An
    // unbucketed store would re-shuffle the whole corpus per wave —
    // the one shape that cannot survive continuous ingestion.
    Q("q91_stream_upsert",
      (spark, dir) => {
        val root = s"${Fixtures.scratchRoot}/streamgate"
        val src = s"$root/src"
        val storeTable = "graft_q91_store"
        Fixtures.rmrf(new java.io.File(root))
        table(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"))
          .repartition(8, col("event_id"))
          .write.mode("overwrite").parquet(src)
        // seed an empty BUCKETED store so every batch anti-joins the
        // same table (no first-batch special case) and the store scan
        // always reports its HashPartitioning to the planner
        val store = graft.sources.Bucketed.EpochStore(spark, root,
          Seq(storeTable -> Seq("user_id")))
        store.seed(8, spark.read.parquet(src).limit(0))
        val schema = spark.read.parquet(src).schema
        def pass(n: Int): Unit = {
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2).parquet(src)
            .writeStream
            .option("checkpointLocation", s"$root/ckpt_$n")
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              val ss = batch.sparkSession
              val inserts = graft.streaming.StreamingOps
                .upsertBatch(batch, ss.table(storeTable), Seq("user_id"))
                // materialize BEFORE appending: the write must not
                // re-read the table it is appending to
                .localCheckpoint(true)
              store.commit(inserts)
            }
            .start()
          q.awaitTermination()
        }
        pass(1) // 4 micro-batches of 2 files
        // (pass(2) — a full replay under a fresh checkpoint inserting 0
        // rows — is pinned in StreamReplaySpec since r17, not re-run
        // per bench pass: the upsert anti-join makes every replayed
        // batch a no-op by construction, and the replay contributed
        // nothing to the result. VERDICT r16 item 1.)
        spark.table(storeTable)
          .groupBy((col("user_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("user_id")).as("sum_uid"),
            min(col("user_id")).as("min_uid"),
            max(col("user_id")).as("max_uid"))
          .orderBy(col("bucket"))
      },
      Some(
        """SELECT user_id % 10 AS bucket, count(*) AS n_rows,
          |  count(*) AS n_users,
          |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
          |  min(user_id) AS min_uid, max(user_id) AS max_uid
          |FROM (SELECT DISTINCT user_id FROM events)
          |GROUP BY 1 ORDER BY 1""".stripMargin)))
}
