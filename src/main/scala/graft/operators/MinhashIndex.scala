package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MinhashPipeline.{acceptAgainstIndex, acceptAgainstIndexCapped,
  bandKeysOf, verifiedDupCappedCte, verifiedDupCte}
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

  /** Wave docs with no verified near-duplicate in the index.
    * [[acceptCtes]] is its twin. */
  def accept(s: EpochStore, wsig: DataFrame): DataFrame =
    acceptAgainstIndex(wsig, docs(s), bands(s))

  /** [[accept]] through the hot-bucket-capped candidate join (q138):
    * band rows must carry the content fingerprint `sg`. Its twin is
    * [[acceptCtes]] with `cap`. */
  def acceptCapped(s: EpochStore, wsig: DataFrame, cap: Int): DataFrame =
    acceptAgainstIndexCapped(wsig, docs(s), bands(s), cap)

  /** Twin of [[accept]] (or [[acceptCapped]] with `cap`): `$acc`
    * (doc_id, lang, hl, sz), the docs of the wave `${w}docs`/`${w}bands`
    * ([[graft.functions.MinhashPipeline.minhashCtes]]) with no verified
    * match in the index `$idocs`/`$ibands`; `${acc}_dup` holds the
    * matched ones. */
  def acceptCtes(acc: String, w: String, idocs: String, ibands: String,
                 cap: Option[Int] = None): String = {
    val dup = cap.fold(verifiedDupCte(w, idocs, ibands))(
      verifiedDupCappedCte(w, idocs, ibands, _))
    s"""${acc}_dup AS (
       |  $dup),
       |$acc AS (SELECT doc_id, lang, hl, sz FROM ${w}docs
       |  WHERE doc_id NOT IN (SELECT w_id FROM ${acc}_dup))""".stripMargin
  }

  /** Twin of [[commit]]: the index `${to}docs`/`${to}bands`, which is
    * `$from`'s with the accepted docs `$acc` of the wave `$w` added. */
  def commitCtes(to: String, from: String, acc: String, w: String): String =
    s"""${to}docs AS (SELECT doc_id, hl, sz FROM ${from}docs
       |  UNION ALL SELECT doc_id, hl, sz FROM $acc),
       |${to}bands AS (SELECT doc_id, bkey FROM ${from}bands
       |  UNION ALL
       |  SELECT doc_id, bkey FROM ${w}bands WHERE doc_id IN (SELECT doc_id FROM $acc))""".stripMargin

  /** The gate rollup: per (epoch, lang) doc count, shingle-count sum
    * and id sum of the committed docs. [[rollupSql]] is its twin. */
  def rollup(s: EpochStore): DataFrame =
    langRollup(s.spark.table(docs(s)), col("epoch"))

  /** [[rollup]]'s per-lang sums over the docs `df`, also grouped and
    * ordered by `keys`. */
  def langRollup(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys :+ col("lang"): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("sz")).as("sum_sz"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(keys :+ col("lang"): _*)

  /** Twin of [[rollup]] over the committed docs (doc_id, lang, sz) of
    * each epoch, one `(epoch, relation)` pair per epoch. */
  def rollupSql(epochs: (Int, String)*): String =
    epochs.map { case (e, rel) =>
      s"""SELECT CAST($e AS INTEGER) AS epoch, lang, count(*) AS n_docs,
         |    CAST(sum(sz) AS BIGINT) AS sum_sz, CAST(sum(doc_id) AS BIGINT) AS sum_id
         |  FROM $rel GROUP BY 2""".stripMargin
    }.mkString("SELECT * FROM (\n  ", "\n  UNION ALL\n  ", ")\nORDER BY epoch, lang")
}
