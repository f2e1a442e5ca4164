package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.sources.Bucketed.EpochStore

/** The persistent SEMANTIC dedup index — the embedding-family sibling
  * of [[MinhashIndex]] (q99 build / q109 stream / q110 compact / q112
  * retract), as ONE definition shared by every gate that drives it
  * (q120/q132 ingest, q122/q136 compaction, q123/q136/q137 retraction,
  * q124/q128 retrain, q133 multimodal) so a retune of the probe/verify
  * contract can never drift the gates apart. Both index kinds keep
  * their tables in one [[EpochStore]], which owns seeding, commit
  * order, the current bucket count, compaction and tombstone rewrites.
  *
  * Row contract: every frame the index reads — the seed, a wave, the
  * committed corpus a retrain consumes — is the vector row
  * `(vec_id, v, nrm, qv)` of [[IvfKmeans.vectors]] (or
  * [[IvfKmeans.unitVectors]] for the histogram families): `v` the
  * double vector the cosine verify scores, `nrm` its L2 norm, `qv` the
  * quantized coordinates the cells are assigned on.
  *
  * Layout: one store table, each vector stored in its 2 nearest
  * TRAINED cells ([[IvfKmeans.rankCells]] spill — boundary near-dups
  * still collide), bucketed on `cell` so every wave's candidate join
  * enters exchange-free on the store side; centroids are trained once
  * by [[build]] and FROZEN in the [[Handle]] (waves assign against
  * frozen cells; retraining is the scheduled maintenance job, q124).
  *
  * 100 TB: waves shuffle only themselves (probe side), the index
  * never re-shuffles on ingest; spill bounds index inflation at
  * exactly 2x; the accept join's candidate count is ~corpus/K per
  * probe cell.
  *
  * Reference anchor: the verify-before-insert contract of
  * `VariantLoad3.saveVariants:479-589` (candidate lookup + exact
  * verify + insert-novel-only), at embedding granularity.
  */
object SemanticIndex {

  /** One index handle: the cell-bucketed store plus the FROZEN
    * centroid frame its waves probe against. `threshX1e6` is the
    * cosine near-dup threshold (floor(cos*1e6)). [[build]] makes a new
    * index; construct a Handle directly only to attach to a store
    * another job built. */
  final case class Handle(store: EpochStore, cents: DataFrame, threshX1e6: Long)

  /** The one-table store `root/table`, bucketed on `cell`. Touches
    * nothing: [[build]] creates it, a reader may attach to it. */
  def store(spark: SparkSession, root: String, table: String): EpochStore =
    EpochStore(spark, root, Seq(table -> Seq("cell")))

  private def vecs(h: Handle): DataFrame = h.store.spark.table(h.store.names.head)

  /** Spill assignment of (vec_id, v, nrm, qv [, extra...]) rows into
    * their 2 nearest cells — the index's storage layout. `extra`
    * columns (e.g. `epoch` during a q124 reassignment) ride through. */
  def spilled(h: Handle, df: DataFrame, extra: Seq[String] = Nil): DataFrame =
    IvfKmeans.rankCells(
        df.select((Seq("vec_id", "v", "nrm", "qv") ++ extra).map(col): _*),
        "qv", h.cents, 2)
      .select((Seq("vec_id", "v", "nrm", "cell") ++ extra).map(col): _*)

  /** The training step every index shares: `iters` Lloyd iterations
    * of `k` cells over the frame's `qv`, materialized — each wave
    * probes the frozen result. */
  def trainCells(vectors: DataFrame, k: Int, iters: Int): DataFrame =
    IvfKmeans.train(vectors.select(col("vec_id"), col("qv")), k, iters)
      .localCheckpoint(true)

  /** A new index over `store`: trains the cells on `seed`
    * `(vec_id, v, nrm, qv [, extra...])`, then writes `seed` as epoch 0
    * at `buckets` (one bucketed shuffle, paid once — every later wave
    * joins it exchange-free). `extra` columns are stored as metadata
    * on both spill rows (q137's entity fingerprint `fp`, which
    * [[selfCoveredOnly]] reads); every later [[commit]] must carry
    * them too. */
  def build(store: EpochStore, seed: DataFrame, k: Int, iters: Int,
            threshX1e6: Long, buckets: Int, extra: Seq[String] = Nil): Handle = {
    val h = Handle(store, trainCells(seed, k, iters), threshX1e6)
    store.seed(buckets, spilled(h, seed, extra).withColumn("epoch", lit(0)))
    h
  }

  /** The ACCEPT side of the verify-before-insert contract: wave rows
    * with NO stored neighbor at >= threshX1e6 cosine in their crank-1
    * probe cell. Wave needs (vec_id, v, nrm, qv). Materialized by
    * [[materialize]] — the result feeds the spill-commit AND whatever
    * count/replay the caller does; under its plan-inspection hatch
    * (SemanticIndexPlanSpec) the anti-join shape stays assertable, and
    * a post-commit replay there would re-evaluate against the
    * already-committed store. [[acceptWaveCtes]] is its twin.
    *
    * Precondition: wave vec_ids must be unique (or duplicate vec_id
    * rows must carry identical vectors). The anti join keeps or drops
    * each ROW independently; a distinct+anti-on-vec_id shape would
    * drop every row of a matched vec_id. All callers build
    * waves keyed 1:1 by vec_id, where the two coincide. */
  def acceptWave(h: Handle, w: DataFrame): DataFrame = {
    val probe = IvfKmeans.rankCells(
        w.select(col("vec_id"), col("v"), col("nrm"), col("qv")),
        "qv", h.cents, 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("qv"), col("cell"))
    val idx = vecs(h)
      .select(col("cell").as("icell"), col("v").as("iv"), col("nrm").as("inrm"))
    // ONE anti join, cell-keyed with the cosine as residual condition:
    // a probe row is accepted iff NO stored same-cell row reaches the
    // threshold. Anti-join semantics short-circuit per probe row at
    // the first qualifying neighbor, so the match set is never
    // materialized — the prior join+filter+distinct+anti formulation
    // built every (probe, neighbor) pair first, which exploded on
    // low-resolution feature spaces where whole cells are mutual
    // near-dups (byte histograms: same-case text is pairwise
    // cos >= 0.998; measured 4.27 s -> sub-second on q133's wave 1
    // at sf0.1). Result set is IDENTICAL by construction given the
    // unique-vec_id wave precondition in the scaladoc above.
    val acc = probe.join(idx,
        col("cell") === col("icell") &&
          VF.quantize1e6(VF.dot(col("v"), col("iv")) /
            (col("nrm") * col("inrm"))) >= h.threshX1e6,
        "left_anti")
      .select(col("vec_id"), col("v"), col("nrm"), col("qv"))
    materialize(acc)
  }

  /** `df.localCheckpoint(true)`, except under `graft.planOnly=true` —
    * a test-only plan-inspection hatch (SemanticIndexPlanSpec, the
    * q130 case of PlanAssertionsSpec; always reset in a finally block)
    * that returns the un-checkpointed declarative plan so a gate's
    * join shapes stay assertable end to end. */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("graft.planOnly").contains("true")) df
    else df.localCheckpoint(true)

  /** Twin of [[acceptWave]]: `$a`(vec_id, v, qv, nrm), the rows of the
    * wave relation `$wave`(vec_id, v, qv, …) with no row of the store
    * relation `$idx`(cell, v, …) at >= `threshX1e6` cosine in their
    * crank-1 `$cents` cell. Norms are hoisted into per-vector
    * MATERIALIZED CTEs (`${a}p`/`${a}i`) so the probe x index join
    * evaluates ONE fold per pair (the dot) instead of three (dot + both
    * norms) — algebraically identical doubles (sqrt of the same fold,
    * same multiply order), ~3x cheaper, the engine's precomputed-`nrm`
    * shape. Per-pair norm recomputation was the dominant term of
    * q128's sf1 oracle (>900 s). `qv` rides INTO the materialized
    * `${a}p`, so the probe assignment is evaluated exactly once per
    * wave (re-reading it from `$a` lets DuckDB evaluate it twice).
    * `$a` is MATERIALIZED too: the later waves, spills and rollups all
    * read it, and each inlined reference re-plans the whole chain above
    * it, unrolled dots included (inlined, q128's sf0.01 oracle took
    * 17 s, nearly all of it in DuckDB's planner; materialized, 7 s). */
  def acceptWaveCtes(a: String, wave: String, idx: String, cents: String,
                     dim: Int, threshX1e6: Long): String =
    s"""${IvfKmeans.spillAssignCte(s"${a}c", wave, dim, Seq("v", "qv"), cents,
         maxProbe = 1)},
       |${a}p AS MATERIALIZED (
       |  SELECT vec_id, v, qv, cell, ${VF.normSql("v")} AS nrm FROM ${a}c),
       |${a}i AS MATERIALIZED (
       |  SELECT cell, v, ${VF.normSql("v")} AS nrm FROM $idx),
       |${a}d AS (
       |  SELECT DISTINCT p.vec_id FROM ${a}p p JOIN ${a}i i ON i.cell = p.cell
       |  WHERE CAST(floor(((${VF.dotSql("p.v", "i.v", dim)}) / (p.nrm * i.nrm)) * 1e6)
       |    AS BIGINT) >= $threshX1e6),
       |$a AS MATERIALIZED (
       |  SELECT p.vec_id, p.v, p.qv, p.nrm FROM ${a}p p
       |  LEFT JOIN ${a}d d ON d.vec_id = p.vec_id WHERE d.vec_id IS NULL)""".stripMargin

  /** SELF-COVERED-ONLY probes for a per-entity retraction selection
    * (q137): each probe row (vec_id, fp, v, nrm, qv) re-probes its
    * crank-1 cell against the store — which must CARRY an `fp`
    * metadata column (entity fingerprint) — and is KEPT iff NO stored
    * cover (cosine >= threshX1e6) carries a DIFFERENT fingerprint.
    * Such a row is covered only by its own exact copies, so retracting
    * its fingerprint family makes the deletion observable (a re-sent
    * copy re-accepts). Returns (vec_id, fp).
    *
    * Plan shape = [[acceptWave]]'s ONE cell-keyed ANTI join with the
    * foreignness (`ifp <> fp`) folded into the residual condition
    * (store side bucket-scan, exchange-free; probe side one cell
    * shuffle) — gated by SemanticIndexPlanSpec. Counting foreign
    * covers with an inner join + (vec_id, fp) aggregate would
    * materialize every (probe, cover) pair: a flood class parked in
    * one cell costs O(m^2) PAIR ROWS there plus an aggregate
    * exchange. The selection only ever consumes
    * `n_foreign = 0`, i.e. existence — the anti join short-circuits
    * each probe row at its FIRST foreign cover, materializes nothing,
    * and drops the aggregate shuffle entirely (the per-probe worst
    * case is one scan of its cell, and only for rows that ARE
    * self-only). At deployment the cell occupancy itself is bounded by
    * the q134-measured K hand-off, not a constant.
    *
    * Precondition: probe vectors must already be IN the store (each
    * probe's own spilled copy guarantees it has >=1 cover). The anti
    * join keeps any probe row with NO qualifying cover at all — an
    * inner-join form silently DROPS cover-less probes, and the two
    * shapes agree only under the self-cover invariant (which
    * every current caller satisfies: q137 probes rows selected from
    * the store itself, and the flood-corpus equivalence spec exercises
    * exactly that regime). A caller probing store-external vectors
    * would see uncovered probes classified as "self-covered-only" —
    * decide keep-vs-drop explicitly there rather than assuming
    * covered-probes-only semantics. */
  def selfCoveredOnly(h: Handle, probe: DataFrame): DataFrame = {
    val p = IvfKmeans.rankCells(
        probe.select(col("vec_id"), col("fp"), col("v"), col("nrm"),
          col("qv")), "qv", h.cents, 1)
      .select(col("vec_id"), col("fp"), col("v"), col("nrm"), col("cell"))
    val idx = vecs(h)
      .select(col("cell").as("icell"), col("fp").as("ifp"),
        col("v").as("iv"), col("nrm").as("inrm"))
    p.join(idx,
        col("cell") === col("icell") && col("ifp") =!= col("fp") &&
          VF.quantize1e6(VF.dot(col("v"), col("iv")) /
            (col("nrm") * col("inrm"))) >= h.threshX1e6,
        "left_anti")
      .select(col("vec_id"), col("fp"))
  }

  /** Commit an accepted frame as `epoch`: spill-assign and append at
    * the store's current bucket count. `extra` are the metadata
    * columns the index was [[build]] with. */
  def commit(h: Handle, acc: DataFrame, epoch: Int, extra: Seq[String] = Nil): Unit =
    h.store.commit(spilled(h, acc, extra).withColumn("epoch", lit(epoch)))

  /** Twin of [[commit]]: the store `$to`(vec_id, v, cell), which is
    * `$from`'s rows plus the accepted `$acc`(vec_id, v, qv) spilled
    * into their 2 nearest `$cents` cells (`${to}sp`). */
  def commitCtes(to: String, from: String, acc: String, dim: Int, cents: String): String =
    s"""${IvfKmeans.spillAssignCte(s"${to}sp", acc, dim, Seq("v"), cents)},
       |$to AS (SELECT vec_id, v, cell FROM $from
       |  UNION ALL SELECT vec_id, v, cell FROM ${to}sp)""".stripMargin

  /** The gate rollup: per-epoch distinct-vector count + id sum (each
    * vector has 2 spill rows; distinct collapses them). [[rollupSql]]
    * is its twin. */
  def rollup(h: Handle): DataFrame =
    vecs(h).select(col("epoch"), col("vec_id")).distinct()
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_id"))
      .orderBy(col("epoch"))

  /** Twin of [[rollup]] over the committed vectors of each epoch: one
    * `(epoch, relation)` pair per epoch, each relation carrying
    * `vec_id` once per vector. */
  def rollupSql(epochs: (Int, String)*): String = {
    val committed = epochs.map { case (e, rel) => s"SELECT $e AS epoch, vec_id FROM $rel" }
    s"""committed AS (
       |  ${committed.mkString("\n  UNION ALL ")})
       |SELECT epoch, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS sum_id
       |FROM committed GROUP BY epoch ORDER BY epoch""".stripMargin
  }

  /** The geometry rollup of the retrain gates (q124/q128): per epoch,
    * the distinct vectors, their id sum and the distinct cells their
    * spill rows occupy — so the cell assignment itself is hashed, not
    * just membership. Unordered. [[geometryRollupSql]] is its twin. */
  def geometryRollup(h: Handle): DataFrame =
    vecs(h).groupBy(col("epoch"))
      .agg(count_distinct(col("vec_id")).as("n_vecs"),
        sum_distinct(col("vec_id")).as("sum_id"),
        count_distinct(col("cell")).as("n_cells"))

  /** Twin of [[geometryRollup]] over a relation of (epoch, vec_id,
    * cell) store rows. */
  def geometryRollupSql(rows: String): String =
    s"""SELECT epoch, count(DISTINCT vec_id) AS n_vecs,
       |  CAST(sum(DISTINCT vec_id) AS BIGINT) AS sum_id,
       |  count(DISTINCT cell) AS n_cells
       |FROM $rows GROUP BY epoch""".stripMargin

  /** RETRACT a tombstone set (takedown / retention): filtered rewrite
    * of the store through the crash-safe staged swap — both spill
    * rows of each tombstoned vector disappear, so no ghost cell entry
    * can reject a future wave. Run at an epoch barrier; at 100 TB the
    * same tombstone frame can instead be anti-joined per wave until
    * the next compaction physically purges it (q112's note).
    * `tombstones` has the one column `vec_id`. */
  def retract(h: Handle, tombstones: DataFrame): Unit =
    h.store.retract(tombstones)

  /** The DISTINCT committed vectors of the store with their quantized
    * coordinates recomputed from the stored doubles by
    * [[IvfKmeans.quantize]] (bit-identical to the seed's and waves'
    * `qv`: a float cast to double is exact) — the input a retrain
    * (q124) consumes. Keeps (epoch, vec_id, v, nrm, qv). */
  def committedVectors(h: Handle, offset: Long): DataFrame =
    vecs(h)
      .select(col("epoch"), col("vec_id"), col("v"), col("nrm"))
      .distinct()
      .withColumn("qv", IvfKmeans.quantize(col("v"), offset))

  /** RETRAIN + REASSIGN — the maintenance job the frozen-centroid
    * design defers to (q110's compaction analog for cell geometry):
    * train fresh centroids on the committed corpus, spill-reassign
    * every stored vector to the NEW cells, and swap the store
    * crash-safely at `buckets`. Returns the NEW handle (new frozen
    * centroids) that subsequent waves must probe with. Epoch
    * labels survive reassignment — provenance is orthogonal to
    * geometry. */
  def retrainReassign(h: Handle, offset: Long, k: Int, iters: Int,
                      buckets: Int): Handle = {
    val cm = committedVectors(h, offset).localCheckpoint(true)
    val h2 = h.copy(cents = trainCells(cm, k, iters))
    h.store.replace(buckets, spilled(h2, cm, extra = Seq("epoch")))
    h2
  }
}
