package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.queries.QueriesLlm.dedupCorpus
import graft.queries.Waves.{Copies, Decoys, DecoysAgain, NewDecoys}

/** Epoch semantics of the streaming incremental dedup (q109).
  *
  * The DuckDB oracle pins the aggregate result; this spec pins the two
  * properties the aggregate could mask:
  *
  *  1. DETERMINISM under replay: the whole gate (seed index + two
  *     streamed waves with micro-batch file assignment chosen by the
  *     streaming engine) rebuilt from scratch twice produces the
  *     identical rollup — the frozen-epoch design makes acceptance
  *     independent of how files land in batches.
  *  2. Per-doc epoch placement: wave-1 exact copies ([[Copies]]) and
  *     wave-2 replayed-decoy twins ([[DecoysAgain]]) never enter the
  *     index — the twins are rejected EITHER because their wave-1 twin
  *     committed in epoch 1 or because whatever matched the twin in
  *     epoch 0 still matches, so their rejection is deterministic even
  *     though its reason is not. Epoch 1 holds only [[Decoys]],
  *     epoch 2 only [[NewDecoys]], and epoch 0 is exactly the seed
  *     corpus. Each stratum's ids come from its declaration.
  *
  * A third property — replay/commit idempotence — is pinned by
  * `StreamReplaySpec`. Per-batch staging writes are batchId-keyed
  * overwrites, so a retried batch rewrites its own directory rather
  * than appending a second copy of its novelties.
  */
class StreamDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q109 rollup is identical across full rebuilds and epochs hold the right ids") {
    val fn = graft.SparkEntry.queries("q109_stream_dedup")
    val first = fn(spark, sf).collect().map(_.toSeq).toSeq
    val second = fn(spark, sf).collect().map(_.toSeq).toSeq
    assert(first == second, "replayed rebuild diverged — acceptance leaked batch order")
    assert(first.nonEmpty)

    val store = spark.table("graft_q109_docs").select("doc_id", "epoch")
    val byEpoch = store.groupBy("epoch")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

    val corpus = dedupCorpus(spark, sf)
    assert(byEpoch(0)._3 == corpus.count(), s"epoch 0 must be the seed corpus: $byEpoch")

    // rejected strata never commit
    val rejected = store.join(Copies.ids(corpus).unionByName(DecoysAgain.ids(corpus)),
      Seq("doc_id"), "left_semi").count()
    assert(rejected == 0L, "an exact copy or a replayed decoy twin entered the index")

    // accepted strata land in the right epoch and only there
    def strays(epoch: Int, ids: org.apache.spark.sql.DataFrame) =
      store.filter(col("epoch") === epoch).join(ids, Seq("doc_id"), "left_anti").count()
    assert(strays(1, Decoys.ids(corpus)) == 0L,
      s"epoch 1 must hold only reversed decoys: $byEpoch")
    assert(strays(2, NewDecoys.ids(corpus)) == 0L,
      s"epoch 2 must hold only fresh decoys: $byEpoch")
  }
}
