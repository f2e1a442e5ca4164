package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming re-expressions of the reference's incremental
  * idioms (SURVEY §2.10): the reference is batch-only, with append-mode
  * file outputs (`--appendToOutputFile`) and upsert-if-absent loads
  * (`--verifyIfInRgd`, `VariantLoad3.java:96-99,479-589`). Here those
  * become a streaming source + event-time windows + an idempotent
  * anti-join upsert inside `foreachBatch`.
  */
object StreamingOps {

  /** Tumbling event-time window counts with a watermark for late-data
    * eviction: the streaming analog of the per-(strain, chr) batch
    * counters (`VcfToCommonFormat2Converter.incrementVariantCount`).
    *
    * @param events   streaming Dataset with an event-time column
    * @param tsCol    event-time column name
    * @param keyCol   grouping key column name
    * @param window   window duration, e.g. "10 minutes"
    * @param lateness watermark delay, e.g. "5 minutes"
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     window: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("cnt"))

  /** Idempotent upsert of one micro-batch into an existing keyed store:
    * only rows whose key is absent are appended (the reference's
    * verify-before-insert, `VariantLoad3.saveVariants:479-589`, as a
    * `left_anti` join). Call from `foreachBatch`; `existing` is re-read
    * per batch so repeated delivery of the same rows is a no-op
    * (exactly-once effect on at-least-once delivery). */
  def upsertBatch(batch: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    batch.dropDuplicates(keys).join(existing.select(keys.map(col): _*), keys, "left_anti")
}
