package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.functions.DedupConfig.{SemIters, SemK, SemThreshX1e6, VecOffset}
import graft.functions.MinhashPipeline.{acceptAgainstIndex, signedDocs}
import graft.operators.{IvfKmeans, SemanticIndex}
import graft.queries.QueriesLlm.embeddings
import graft.queries.Waves.{SemWave1, wave}

/** Replay / retry idempotence of the streaming index gates (q91, q109,
  * q120, q132). The properties do not depend on the corpus, and a
  * replay leg inside a gate adds exactly 0 rows by the anti-join
  * construction asserted here (q109's cost ~4.3 s of a ~9 s row,
  * artifacts/r16_q109_attrib.md), so this spec pins them once per
  * build:
  *
  *  1. POST-COMMIT WHOLE-WAVE REPLAY ACCEPTS 0. After an epoch
  *     commits, every wave doc/vector matches the index — acceptances
  *     self-match their own committed entry, rejections still match
  *     whatever rejected them — so a checkpoint-cleared re-run of the
  *     wave stages nothing and its re-commit adds nothing. This is
  *     what makes a cluster-side batch retry (or a whole re-submitted
  *     wave) harmless.
  *  2. COMMIT-LEVEL RETRY ADDS 0. The commit's id anti-join against
  *     the committed store makes a double commit of the SAME staged
  *     files (driver retry between stream completion and commit, or
  *     stale stage dirs) a no-op independently of staging semantics.
  *
  * Each test runs its real gate at sf0.001 first — the gates leave
  * their committed bucketed stores, wave sources, and staged batch
  * directories on disk under the scratch root — then replays the
  * wave / staged files against the committed state through the SAME
  * public operators the gates use. (The third layer, per-batch
  * staging idempotence, is structural: Structured Streaming replays a
  * failed batch under the same batchId and the gates stage with
  * per-batch OVERWRITE into a batchId-keyed directory, so a retry
  * rewrites its own directory rather than appending.)
  */
class StreamReplaySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val scratch = graft.queries.Fixtures.scratchRoot

  test("q109: post-commit wave-1 replay accepts 0; staged re-commit adds 0") {
    graft.SparkEntry.queries("q109_stream_dedup")(spark, sf).collect()
    val root = s"$scratch/streamdedup"
    // whole-wave replay: re-sign wave 1 from its on-disk source and
    // re-run acceptance against the committed index — must accept 0
    val w1 = spark.read.parquet(s"$root/src1")
    val replayAccepted =
      acceptAgainstIndex(signedDocs(w1).localCheckpoint(true),
        "graft_q109_docs", "graft_q109_bands").count()
    assert(replayAccepted == 0L,
      s"checkpoint-cleared replay of wave 1 would commit $replayAccepted docs")
    // commit-level retry: the staged epoch-1 batch dirs are still on
    // disk; the commit's doc_id anti-join must make a re-commit a no-op
    val stagedSchema = signedDocs(
      w1.select(col("doc_id"), col("lang"), col("text")).limit(0)).schema
    val staged = StreamingOps.readStage(spark, s"$root/stage_1", stagedSchema)
    assert(!staged.isEmpty, "no staged epoch-1 rows: the retry leg is vacuous")
    val reAdded = StreamingOps.novel(staged, spark.table("graft_q109_docs"), "doc_id")
      .count()
    assert(reAdded == 0L,
      s"commit-level retry of epoch 1 would add $reAdded docs")
  }

  test("q132/q120: post-commit wave-1 replay accepts 0 vectors; staged re-commit adds 0") {
    graft.SparkEntry.queries("q132_stream_semantic_dedup")(spark, sf).collect()
    val root = s"$scratch/semstream"
    // attach to the committed store with the frozen cells rebuilt
    // exactly as the gate trains them (IvfKmeans training is
    // deterministic: rank-based seeding, fixed iters)
    val e = IvfKmeans.vectors(embeddings(spark, sf), VecOffset)
    val cents = SemanticIndex.trainCells(e.filter(col("vec_id") % 2 === 0), SemK, SemIters)
    val h = SemanticIndex.Handle(SemanticIndex.store(spark, root, "graft_q132_vecs"),
      cents, SemThreshX1e6)
    // whole-wave replay from the on-disk wave source
    val w1 = spark.read.parquet(s"$root/src1")
    val replayAccepted = SemanticIndex.acceptWave(h, w1).count()
    assert(replayAccepted == 0L,
      s"checkpoint-cleared replay of wave 1 would commit $replayAccepted vectors")
    // commit-level retry over the staged epoch-1 files
    val staged = StreamingOps.readStage(spark, s"$root/stage_1", w1.schema)
    assert(!staged.isEmpty, "no staged epoch-1 rows: the retry leg is vacuous")
    val reAdded = StreamingOps.novel(staged, spark.table("graft_q132_vecs"), "vec_id")
      .count()
    assert(reAdded == 0L,
      s"commit-level retry of epoch 1 would add $reAdded vectors")
    // q120 shares the wave strata and the acceptWave operator; its
    // (batch) replay property is the same acceptWave == 0 assertion,
    // exercised against its own committed store
    graft.SparkEntry.queries("q120_incremental_semantic_dedup")(spark, sf).collect()
    val h120 = h.copy(store =
      SemanticIndex.store(spark, s"$scratch/semdedup", "graft_q120_vecs"))
    val re120 = SemanticIndex.acceptWave(h120, wave(e, SemWave1)).count()
    assert(re120 == 0L,
      s"post-commit replay of q120's wave 1 accepted $re120 vectors")
  }

  test("q91: full-stream replay upserts 0 rows into the committed store") {
    graft.SparkEntry.queries("q91_stream_upsert")(spark, sf).collect()
    val src = spark.read.parquet(s"$scratch/streamgate/src")
    // every replayed micro-batch is a subset of src; the upsert
    // anti-join against the committed store must drop all of it
    val inserts = graft.streaming.StreamingOps
      .upsertBatch(src, spark.table("graft_q91_store"), Seq("user_id"))
      .count()
    assert(inserts == 0L, s"full replay would insert $inserts rows")
  }
}
