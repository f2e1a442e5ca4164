package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

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

  /** One staged streaming epoch of an index gate (q109, q132): the
    * reference's verify-before-insert load, driven by micro-batches.
    * The wave is written to `root/src<epoch>` as 4 files, which a
    * `maxFilesPerTrigger = 2` stream reads in 2 micro-batches; each
    * batch's `accept`ed rows are staged ([[stageWave]]) and, once the
    * wave drains, the staged rows whose `key` the store table `store`
    * lacks ([[novel]]) are returned, materialized, for the caller's
    * index to commit as `epoch`. `staged` is the schema `accept` gives. */
  def stagedEpoch(spark: SparkSession, root: String, epoch: Int, wave: DataFrame,
                  staged: StructType, store: String, key: String)
                 (accept: DataFrame => DataFrame): DataFrame = {
    val src = s"$root/src$epoch"
    wave.repartition(4).write.mode("overwrite").parquet(src)
    val stage = s"$root/stage_$epoch"
    stageWave(spark, src, wave.schema, s"$root/ckpt_$epoch", stage)(accept)
    novel(readStage(spark, stage, staged), spark.table(store), key)
      .localCheckpoint(true)
  }

  /** Streams the parquet wave source `src` (`schema`), 2 files per
    * micro-batch, and writes each batch's `accept`ed rows to
    * `stage/batch=<batchId>` with overwrite. Structured Streaming
    * replays a failed batch under the same batchId, so a retry
    * rewrites its own directory instead of appending a second copy of
    * its rows. The stage is cleared first: a replay that makes fewer
    * micro-batches than an earlier run leaves no stale `batch=` dir. */
  def stageWave(spark: SparkSession, src: String, schema: StructType, ckpt: String,
                stage: String)(accept: DataFrame => DataFrame): Unit = {
    val dir = new Path(stage)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        accept(batch).write.mode("overwrite").parquet(s"$stage/batch=$batchId")
      }
      .start()
      .awaitTermination()
  }

  /** The rows [[stageWave]] staged under `stage`, read under `schema`
    * with every field nullable, as a file read gives them; none when the
    * stage does not exist. The `batch=` dirs are listed
    * with the Hadoop FS API, not read through a `batch=*` glob:
    * FileStreamSink.hasMetadata stats the literal glob string, catches
    * the FileNotFoundException and logs its full stack trace at WARN.
    * Each listed dir is its own base path, so no `batch` partition
    * column is inferred, and a zero-accept batch (a dir with no part
    * files) reads as no rows. */
  def readStage(spark: SparkSession, stage: String, schema: StructType): DataFrame = {
    val dir = new Path(stage)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches =
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.toString).sorted
    if (batches.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(schema.fields.map(_.copy(nullable = true))))
    else spark.read.schema(schema).parquet(batches: _*)
  }

  /** The staged rows whose `key` the `store` lacks: what an epoch
    * commits. A plain id anti-join, so the commit is idempotent on its
    * own: re-committing the same staged rows (a driver retry between
    * the stream's end and the commit, or stale stage dirs) adds
    * nothing, whatever the staging did. */
  def novel(staged: DataFrame, store: DataFrame, key: String): DataFrame =
    staged.join(store.select(key), Seq(key), "left_anti")
}
