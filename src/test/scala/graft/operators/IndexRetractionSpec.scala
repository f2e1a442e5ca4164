package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q112's retraction must be semantic, not cosmetic. The oracle gate
  * pins the rollup; this spec pins the id-level placement the rollup
  * could mask:
  *  - no retracted doc (doc_id % 40 == 0 of the corpus stratum)
  *    survives anywhere in the index;
  *  - epoch 1 holds ONLY +600000-range ids (copies of retracted docs
  *    — the observable effect of forgetting them);
  *  - no +700000-range id (copies of RETAINED docs) ever commits —
  *    retraction must not weaken dedup against what is still indexed;
  *  - every indexed doc, the epoch-1 commit included, has band rows —
  *    a doc without them is unfindable by every later wave.
  */
class IndexRetractionSpec extends SparkSpec {

  test("retraction removes matches and only retracted-copy probes commit") {
    graft.SparkEntry.queries("q112_index_retraction")(spark, "/root/testdata/sf0.001")
      .collect()
    val store = spark.table("graft_q112_docs").select("doc_id", "epoch")

    assert(store.filter(col("epoch") === 0 && col("doc_id") % 40 === 0)
      .count() == 0L, "a retracted doc survived in the index")
    assert(store.filter(col("doc_id") >= 700000L).count() == 0L,
      "a copy of a RETAINED doc was accepted — retraction over-deleted")
    val ep1 = store.filter(col("epoch") === 1)
    assert(ep1.filter(col("doc_id") < 600000L || col("doc_id") >= 700000L)
      .count() == 0L, "epoch 1 must hold only retracted-copy ids")
    assert(ep1.count() > 0L,
      "no retracted copy was accepted — the retraction had no observable effect")
    val bandless = store.join(spark.table("graft_q112_bands").select("doc_id"),
      Seq("doc_id"), "left_anti")
    assert(bandless.count() == 0L, "an indexed doc has no band rows")
  }
}
