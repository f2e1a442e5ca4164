package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MinhashPipeline.{acceptAgainstIndex, bandKeysOf}
import graft.sources.Bucketed.EpochStore

/** The persistent MinHash dedup index — q99 build, q109 stream, q110
  * compact, q112 retract, q138 capped accept — as one [[EpochStore]]
  * declared `(bands, docs)`: LSH band keys bucketed on `bkey`, signed
  * docs `(doc_id, lang, hl, sz, epoch)` bucketed on `doc_id`.
  * [[SemanticIndex]] is its embedding-family sibling on the same store.
  *
  * A wave's lookup starts at the band table and verifies against the
  * doc table ([[graft.functions.MinhashPipeline.verifiedDupPairs]]).
  * The store commits in declared order and retracts in reverse, so
  * every doc row has its band rows after any prefix of either
  * operation. A crash between the two appends leaves band rows with no
  * doc: the verify's doc join drops their candidates, and the retry's
  * duplicate band rows are absorbed by the candidate `distinct()`. The
  * reverse order would leave committed docs with no band entries:
  * unfindable, silently missed duplicates forever after.
  */
object MinhashIndex {

  /** The store `root/<name>_bands`, `root/<name>_docs`. Touches nothing. */
  def store(spark: SparkSession, root: String, name: String): EpochStore =
    EpochStore(spark, root,
      Seq(s"${name}_bands" -> Seq("bkey"), s"${name}_docs" -> Seq("doc_id")))

  def bands(s: EpochStore): String = s.names.head
  def docs(s: EpochStore): String = s.names(1)

  /** The (bands, docs) rows of signed docs ([[graft.functions.MinhashPipeline.signedDocs]])
    * as `epoch`; band rows also carry `passthru` columns. Both rows read
    * `sig`, so materialize it first. */
  def rows(sig: DataFrame, epoch: Int, passthru: Seq[String] = Nil): Seq[DataFrame] = Seq(
    bandKeysOf(sig, passthru),
    sig.select(col("doc_id"), col("lang"), col("hl"), col("sz"))
      .withColumn("epoch", lit(epoch)))

  /** Write epoch 0 from `sig` (one bucketed shuffle per table, paid once). */
  def seed(s: EpochStore, buckets: Int, sig: DataFrame,
           passthru: Seq[String] = Nil): Unit =
    s.seed(buckets, rows(sig, 0, passthru): _*)

  /** Append signed novelties as `epoch`. */
  def commit(s: EpochStore, novel: DataFrame, epoch: Int): Unit =
    s.commit(rows(novel, epoch): _*)

  /** Wave docs with no verified near-duplicate in the index. */
  def accept(s: EpochStore, wsig: DataFrame): DataFrame =
    acceptAgainstIndex(wsig, docs(s), bands(s))

  /** The gate rollup: per (epoch, lang) doc count, shingle-count sum
    * and id sum of the committed docs. */
  def rollup(s: EpochStore): DataFrame =
    s.spark.table(docs(s))
      .groupBy(col("epoch"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("sz")).as("sum_sz"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("epoch"), col("lang"))
}
