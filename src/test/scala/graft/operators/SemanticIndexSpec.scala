package graft.operators

import graft.SparkSpec
import graft.functions.DedupConfig.{SemThreshX1e6, VecOffset}
import org.apache.spark.sql.functions._

/** Lifecycle semantics of the persistent semantic (cell) index that
  * the q120/q122/q123/q124 hash gates can't isolate: the accept
  * contract on hand-built geometry, retraction removing BOTH spill
  * rows (no ghost rejections), and retrain/reassign preserving epoch
  * membership while actually changing geometry. Vectors are tiny
  * hand-built 2-d frames so every cosine is exact by construction. */
class SemanticIndexSpec extends SparkSpec {
  import spark.implicits._

  /** (vec_id, v, nrm, qv) frame from raw 2-d doubles. */
  private def vecs(rows: Seq[(Long, Seq[Double])]) =
    IvfKmeans.vectors(rows.toDF("vec_id", "v"), VecOffset)

  /** A 2-cell index (2 Lloyd iterations, 2 buckets) seeded with `seed`;
    * the semantic family's cos >= 0.4 accept threshold. */
  private def handle(name: String, seed: org.apache.spark.sql.DataFrame) =
    SemanticIndex.build(SemanticIndex.store(spark,
        s"${graft.queries.Fixtures.scratchRoot}/semspec_$name", s"graft_semspec_$name"),
      seed, 2, 2, SemThreshX1e6, 2)

  private def table(h: SemanticIndex.Handle) = h.store.names.head

  test("accept contract: exact copy rejected, orthogonal vector accepted") {
    // two orthogonal seed clusters; cos(copy, original) = 1 >= 0.4,
    // cos(orthogonal, anything indexed) = 0 < 0.4
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
    val h = handle("accept", seed)
    // build writes exactly the seed's vectors, as epoch 0
    assert(spark.table(table(h)).select("epoch", "vec_id").distinct()
      .as[(Int, Long)].collect().toSet == Set(0 -> 0L, 0 -> 1L))
    val wave = vecs(Seq(100L -> Seq(1.0, 0.0),    // copy of 0 -> reject
                        101L -> Seq(-1.0, 0.001))) // ~opposite -> accept
    val acc = SemanticIndex.acceptWave(h, wave)
    assert(acc.select("vec_id").as[Long].collect().toSet == Set(101L))
    SemanticIndex.commit(h, acc, 1)
    // each committed vector stores exactly 2 spill rows
    assert(spark.table(table(h)).filter(col("vec_id") === 101L).count() == 2)
    // replay: the committed acceptance now self-matches (cos = 1)
    assert(SemanticIndex.acceptWave(h, wave).count() == 0)
    spark.sql(s"DROP TABLE ${table(h)}")
  }

  test("build and commit with extra = fp keep fp on both spill rows; selfCoveredOnly reads it") {
    // K = 2 cells with 2-cell spill: every vector is stored in both
    // cells, so every probe's cell holds the whole store
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
        2L -> Seq(0.99, 0.05), 3L -> Seq(0.0, 1.0)))
      .join(Seq(0L -> 10L, 1L -> 11L, 2L -> 12L, 3L -> 11L).toDF("vec_id", "fp"), "vec_id")
    val h = SemanticIndex.build(SemanticIndex.store(spark,
        s"${graft.queries.Fixtures.scratchRoot}/semspec_extra", "graft_semspec_extra"),
      seed, 2, 2, SemThreshX1e6, 2, extra = Seq("fp"))
    val wave = vecs(Seq(100L -> Seq(-1.0, 0.001))).withColumn("fp", lit(20L))
    // acceptWave drops extras: fp is joined back for the commit, as q137 does
    val acc = SemanticIndex.acceptWave(h, wave)
    SemanticIndex.commit(h, acc.join(wave.select("vec_id", "fp"), "vec_id"), 1,
      extra = Seq("fp"))
    val stored = spark.table(table(h)).groupBy("vec_id")
      .agg(count(lit(1)).as("n"), collect_set(col("fp")).as("fps"))
      .as[(Long, Long, Seq[Long])].collect()
      .map { case (id, n, fps) => id -> (n, fps.toSet) }.toMap
    assert(stored == Map(0L -> (2L, Set(10L)), 1L -> (2L, Set(11L)),
      2L -> (2L, Set(12L)), 3L -> (2L, Set(11L)), 100L -> (2L, Set(20L))))
    // 0 and 2 cover each other under different fingerprints; 1 and 3 are
    // copies under one fingerprint, and 100 covers only itself
    val probes = seed.unionByName(wave)
    assert(SemanticIndex.selfCoveredOnly(h, probes).as[(Long, Long)].collect().toSet ==
      Set(1L -> 11L, 3L -> 11L, 100L -> 20L))
    spark.sql(s"DROP TABLE ${table(h)}")
  }

  test("retract removes both spill rows and un-rejects copies of the retracted") {
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
    val h = handle("retract", seed)
    val copyOf0 = vecs(Seq(200L -> Seq(1.0, 0.0)))
    assert(SemanticIndex.acceptWave(h, copyOf0).count() == 0) // rejected
    SemanticIndex.retract(h, Seq(0L).toDF("vec_id"))
    // BOTH spill rows of vec 0 are gone — no ghost cell entry
    assert(spark.table(table(h)).filter(col("vec_id") === 0L).count() == 0)
    assert(spark.table(table(h)).filter(col("vec_id") === 1L).count() == 2)
    // the copy is now judged against the retained store only: accepted
    assert(SemanticIndex.acceptWave(h, copyOf0).count() == 1)
    spark.sql(s"DROP TABLE ${table(h)}")
  }

  test("retrainReassign preserves epoch membership, changes buckets, keeps self-matches") {
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      2L -> Seq(0.9, 0.1), 3L -> Seq(0.1, 0.9)))
    val h = handle("retrain", seed)
    val w1 = vecs(Seq(300L -> Seq(-1.0, 0.001), 301L -> Seq(0.001, -1.0)))
    SemanticIndex.commit(h, SemanticIndex.acceptWave(h, w1), 1)
    val before = spark.table(table(h)).select("epoch", "vec_id").distinct()
      .as[(Int, Long)].collect().toSet
    val h2 = SemanticIndex.retrainReassign(h, VecOffset, 2, 2, 4)
    // membership + epoch provenance identical under the new geometry
    val after = spark.table(table(h)).select("epoch", "vec_id").distinct()
      .as[(Int, Long)].collect().toSet
    assert(after == before, s"membership drifted: $before -> $after")
    assert(h2.store.buckets(table(h2)) == 4)
    // every committed vector still self-matches: replay accepts 0
    assert(SemanticIndex.acceptWave(h2, w1).count() == 0)
    spark.sql(s"DROP TABLE ${table(h)}")
  }
}
