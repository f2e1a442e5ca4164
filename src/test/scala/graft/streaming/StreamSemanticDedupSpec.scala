package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.queries.Waves.{NewVecs, NewVecs2, NewVecsAgain, VecCopies}

/** Epoch semantics of the STREAMING semantic dedup (q132) — the
  * embedding-family sibling of [[StreamDedupSpec]].
  *
  * The DuckDB oracle (shared verbatim with q120 — the q109/q110
  * twin-oracle pattern) pins the per-epoch rollup; this spec pins what
  * the aggregate could mask:
  *
  *  1. DETERMINISM under replay: the whole gate (seed index + two
  *     streamed waves with micro-batch file assignment chosen by the
  *     streaming engine) rebuilt from scratch twice produces the
  *     identical rollup — acceptance is per-row against a FROZEN epoch
  *     index, so no file-to-batch assignment can change it.
  *  2. Per-vector epoch placement: the [[VecCopies]] stratum (exact
  *     copies of seed vectors) never commits; the [[NewVecsAgain]]
  *     stratum (copies of wave-1 candidates) never commits — each is
  *     rejected either because its twin committed in epoch 1 or
  *     because whatever blocked the twin in epoch 0 still blocks it,
  *     so the rejection is deterministic even though its reason is
  *     not. Epoch 1 holds only [[NewVecs]] ids, epoch 2 only
  *     [[NewVecs2]] ids, and epoch 0 has exactly one distinct entry
  *     per seed vector (the 2x spill rows collapse under DISTINCT).
  *     Each stratum's ids come from its declaration.
  *
  * Retry idempotence (commit-level retry adds 0; checkpoint-cleared
  * whole-wave replay adds 0) is pinned by `StreamReplaySpec`.
  */
class StreamSemanticDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q132 rollup is identical across full rebuilds and epochs hold the right ids") {
    val fn = graft.SparkEntry.queries("q132_stream_semantic_dedup")
    val first = fn(spark, sf).collect().map(_.toSeq).toSeq
    val second = fn(spark, sf).collect().map(_.toSeq).toSeq
    assert(first == second, "replayed rebuild diverged — acceptance leaked batch order")
    assert(first.nonEmpty)

    val store = spark.table("graft_q132_vecs")
      .select("vec_id", "epoch").distinct()
    val byEpoch = store.groupBy("epoch")
      .agg(min("vec_id").as("lo"), max("vec_id").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id")
    val seedN = vecs.filter(col("vec_id") % 2 === 0).count()
    assert(byEpoch(0)._3 == seedN, s"epoch 0 must be the seed corpus: $byEpoch")

    // rejected strata never commit: exact copies of indexed vectors
    // and copies of wave-1 candidates
    val rejected = store.join(VecCopies.ids(vecs).unionByName(NewVecsAgain.ids(vecs)),
      Seq("vec_id"), "left_semi").count()
    assert(rejected == 0L, "an exact copy or a wave-1 twin entered the index")

    // accepted strata land in the right epoch and only there. The
    // epochs must EXIST: a check over an absent epoch is vacuously
    // true, so a reject-everything regression in the streaming accept
    // path — which also zeroes the `rejected` count above — would
    // otherwise slip through to the oracle gate
    assert(byEpoch.contains(1) && byEpoch(1)._3 > 0,
      s"epoch 1 committed nothing — the accept path rejected a whole wave: $byEpoch")
    assert(byEpoch.contains(2) && byEpoch(2)._3 > 0,
      s"epoch 2 committed nothing — the accept path rejected a whole wave: $byEpoch")
    def strays(epoch: Int, ids: org.apache.spark.sql.DataFrame) =
      store.filter(col("epoch") === epoch).join(ids, Seq("vec_id"), "left_anti").count()
    assert(strays(1, NewVecs.ids(vecs)) == 0L,
      s"epoch 1 must hold only wave-1 novelties: $byEpoch")
    assert(strays(2, NewVecs2.ids(vecs)) == 0L,
      s"epoch 2 must hold only wave-2 novelties: $byEpoch")
  }
}
