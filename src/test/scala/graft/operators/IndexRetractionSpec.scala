package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.queries.QueriesLlm.dedupCorpus
import graft.queries.Waves.{RetainedCopies, RetractedCopies}

/** q112's retraction must be semantic, not cosmetic. The oracle gate
  * pins the rollup; this spec pins the id-level placement the rollup
  * could mask:
  *  - no retracted doc (a member of [[RetractedCopies]]) survives
  *    anywhere in the index;
  *  - epoch 1 holds ONLY [[RetractedCopies]] ids (copies of retracted
  *    docs — the observable effect of forgetting them);
  *  - no [[RetainedCopies]] id (copies of RETAINED docs) ever commits —
  *    retraction must not weaken dedup against what is still indexed;
  *  - every indexed doc, the epoch-1 commit included, has band rows —
  *    a doc without them is unfindable by every later wave.
  */
class IndexRetractionSpec extends SparkSpec {

  test("retraction removes matches and only retracted-copy probes commit") {
    val sf = "/root/testdata/sf0.001"
    graft.SparkEntry.queries("q112_index_retraction")(spark, sf).collect()
    val store = spark.table("graft_q112_docs").select("doc_id", "epoch")
    val corpus = dedupCorpus(spark, sf)

    assert(store.filter(col("epoch") === 0 && RetractedCopies.member(col("doc_id")))
      .count() == 0L, "a retracted doc survived in the index")
    assert(store.join(RetainedCopies.ids(corpus), Seq("doc_id"), "left_semi").count() == 0L,
      "a copy of a RETAINED doc was accepted — retraction over-deleted")
    val ep1 = store.filter(col("epoch") === 1)
    assert(ep1.join(RetractedCopies.ids(corpus), Seq("doc_id"), "left_anti")
      .count() == 0L, "epoch 1 must hold only retracted-copy ids")
    assert(ep1.count() > 0L,
      "no retracted copy was accepted — the retraction had no observable effect")
    val bandless = store.join(spark.table("graft_q112_bands").select("doc_id"),
      Seq("doc_id"), "left_anti")
    assert(bandless.count() == 0L, "an indexed doc has no band rows")
  }
}
