package graft.sources

import graft.SparkSpec
import graft.functions.MinhashPipeline.signedDocs
import graft.operators.MinhashIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Failure during a two-table epoch commit. The MinHash index is an
  * [[Bucketed.EpochStore]] declared `(bands, docs)`; a commit whose docs
  * append dies part-way must leave every committed doc findable (band
  * rows present), and re-running the commit must leave the same index
  * — and the same accept decisions — as a commit that never failed. */
class EpochStoreSpec extends SparkSpec {
  import spark.implicits._

  private val root = s"${graft.queries.Fixtures.scratchRoot}/epochstore_spec"

  /** `n` docs of 15 random 3-8 letter words each: distinct docs share
    * almost no 3-gram shingles, copies share all of them. */
  private def docs(from: Long, n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def word() = (1 to 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    (0 until n).map(i => (from + i, if (i % 2 == 0) "en" else "de",
        Seq.fill(15)(word()).mkString(" ")))
      .toDF("doc_id", "lang", "text")
  }

  private def shift(df: DataFrame, by: Long) = df.withColumn("doc_id", col("doc_id") + by)

  private def seeded(name: String, corpus: DataFrame) = {
    val s = MinhashIndex.store(spark, root, name)
    MinhashIndex.seed(s, 4, signedDocs(corpus).localCheckpoint(true))
    s
  }

  private def docRows(s: Bucketed.EpochStore) =
    spark.table(MinhashIndex.docs(s))
      .select($"doc_id", $"lang", $"hl", $"sz", $"epoch").collect().toSet

  test("a commit that fails between its appends leaves no bandless doc; the retry equals a clean commit") {
    val corpus = docs(0L, 40, 1)
    val clean = seeded("graft_storespec_clean", corpus)
    val crash = seeded("graft_storespec_crash", corpus)
    // wave 1: copies of ten indexed docs (rejected) + ten new docs
    val wave = signedDocs(shift(corpus.filter($"doc_id" < 10L), 1000L)
        .unionByName(docs(2000L, 10, 2)))
      .localCheckpoint(true)

    val accClean = MinhashIndex.accept(clean, wave).localCheckpoint(true)
    MinhashIndex.commit(clean, accClean, 1)

    val acc = MinhashIndex.accept(crash, wave).localCheckpoint(true)
    assert(acc.select("doc_id").as[Long].collect().toSet == (2000L until 2010L).toSet)
    val Seq(bandRows, docRowsOk) = MinhashIndex.rows(acc, 1)
    // the docs frame fails inside its write tasks, after the band append
    val poisoned = docRowsOk.withColumn("epoch",
      when($"doc_id" >= 0L, raise_error(lit("injected failure")))
        .otherwise($"epoch"))
    intercept[Exception](crash.commit(bandRows, poisoned))
    val bands = spark.table(MinhashIndex.bands(crash)).select("doc_id")
    assert(bands.join(acc.select("doc_id"), Seq("doc_id"), "left_semi").count() > 0L,
      "the band append did not land before the failure")
    assert(spark.table(MinhashIndex.docs(crash)).filter($"epoch" === 1).count() == 0L,
      "the failed docs append left rows behind")
    assert(spark.table(MinhashIndex.docs(crash)).select("doc_id")
        .join(bands, Seq("doc_id"), "left_anti").count() == 0L,
      "a committed doc has no band rows")

    crash.commit(bandRows, docRowsOk)
    assert(docRows(crash) == docRows(clean), "the retried commit left a different doc table")
    // probe: copies of wave-1 commits and of seed docs (rejected) +
    // new docs (accepted) — the duplicate band rows change nothing
    val probe = signedDocs(shift(docs(2000L, 10, 2), 5000L)
        .unionByName(shift(corpus.filter($"doc_id" >= 30L), 8000L))
        .unionByName(docs(9000L, 5, 3)))
      .localCheckpoint(true)
    def accepted(s: Bucketed.EpochStore) =
      MinhashIndex.accept(s, probe).select("doc_id").as[Long].collect().toSet
    assert(accepted(crash) == (9000L until 9005L).toSet)
    assert(accepted(crash) == accepted(clean))
  }
}
