package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Properties of the integer-exact Lloyd trainer that the q113/q114
  * hash gates can't see directly: objective monotonicity across
  * iterations (the convergence contract), and the empty-cell /
  * shrinking-K edge. Frames are hand-built quantized vectors (the
  * operator's post-quantization input domain), deterministic by
  * construction. */
class IvfKmeansSpec extends SparkSpec {
  import spark.implicits._

  private def objective(q: org.apache.spark.sql.DataFrame,
                        cents: org.apache.spark.sql.DataFrame): Long =
    IvfKmeans.assign(q, cents).agg(sum(col("dist"))).head.getLong(0)

  test("objective is non-increasing across Lloyd iterations on an adversarial frame") {
    // adversarial: both seeds (vec_id 0, 1) land inside cluster A, so
    // the trainer must drag one centroid across the gap to cluster B —
    // large reassignments every early iteration, where a monotonicity
    // bug would surface. Coordinates are fixed-point-scale (~1000s)
    // so the <=1-per-dim truncation wobble of the integer mean is
    // negligible against real movement.
    val a = (0 until 20).map(i => (i.toLong, Seq(1000L + i, 2000L + 3 * i, 500L, 100L + i)))
    val b = (0 until 20).map(i => (100L + i, Seq(9000L + i, 8000L + 2 * i, 7000L, 6000L + i)))
    val q = (a ++ b).toDF("vec_id", "qv")
    var cents = IvfKmeans.seedCents(q, 2).localCheckpoint(true)
    val objs = (1 to 4).map { _ =>
      val o = objective(q, cents)
      cents = IvfKmeans.update(IvfKmeans.assign(q, cents)).localCheckpoint(true)
      o
    } :+ objective(q, cents)
    objs.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev, s"objective increased across an iteration: $objs")
    }
    // and training actually converged onto the two real clusters:
    // the final objective must be far below the seeds-only start
    assert(objs.last < objs.head / 10, s"no real convergence: $objs")
  }

  test("train output feeds assign: every vector lands in exactly one trained cell") {
    val q = (0 until 50).map(i => (i.toLong, Seq(i * 100L, (i % 7) * 1000L, 50L)))
      .toDF("vec_id", "qv")
    val cents = IvfKmeans.train(q, 4, 3)
    val assigned = IvfKmeans.assign(q, cents)
    assert(assigned.count() == 50)
    assert(assigned.select("vec_id").distinct().count() == 50)
    // cells come from the trained centroid set
    val cids = cents.select(explode(col("cents")).as("c"))
      .select(col("c.cid")).as[Long].collect().toSet
    val used = assigned.select("cid").distinct().as[Long].collect().toSet
    assert(used.subsetOf(cids), s"assigned cells $used not in trained $cids")
  }

  test("rank-based seeding: a restricted training frame still seeds k cells") {
    // all-even ids (q120's seed-half shape): the pre-r10 `vec_id < k`
    // filter found only {0, 2} of k=4 — half the configured cells
    val q = (0 until 40).map(i => (2L * i, Seq(i * 50L, (i % 5) * 700L)))
      .toDF("vec_id", "qv")
    val cents = IvfKmeans.seedCents(q, 4)
    assert(cents.select(size(col("cents"))).head.getInt(0) == 4)
    val cids = cents.select(explode(col("cents")).as("c"))
      .select(col("c.cid")).as[Long].collect().toSet
    assert(cids == Set(0L, 2L, 4L, 6L))
    // and the top-k plans as TakeOrderedAndProject (per-partition
    // top-k, k rows merged), never a global sort of the corpus
    val plan = IvfKmeans.seedCents(q, 4).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("a centroid that captures no vectors drops out (duplicate seeds shrink K)") {
    // vec 0 and vec 1 are identical points: every vector ties between
    // the two seed centroids identically, ties break to the lower cid,
    // so cell 1 is empty after one update and K shrinks 2 -> 1
    val q = Seq(
      (0L, Seq(100L, 100L)), (1L, Seq(100L, 100L)),
      (2L, Seq(110L, 90L)), (3L, Seq(95L, 105L))).toDF("vec_id", "qv")
    val cents1 = IvfKmeans.update(IvfKmeans.assign(q, IvfKmeans.seedCents(q, 2)))
    assert(cents1.select(size(col("cents"))).head.getInt(0) == 1)
    assert(cents1.select(explode(col("cents")).as("c"))
      .select(col("c.cid")).as[Long].head() == 0L)
  }

  test("property: one quantization serves the float embedding, its double row and the store") {
    import graft.functions.DedupConfig.{SemThreshX1e6, VecOffset}
    import graft.functions.{VectorFunctions => VF}
    // seeded: 240 4-dim float vectors — random values of both signs,
    // +-0.0, and floats on either side of k/1000, where a rounding
    // slip in the float -> double -> x1000 chain would move a floor
    val rnd = new scala.util.Random(20261018L)
    val edges = (-3 to 3).flatMap { k =>
      val f = k / 1000f
      Seq(f, Math.nextUp(f), Math.nextDown(f))
    } ++ Seq(0.0f, -0.0f)
    val rows = (0 until 240).map { i =>
      val x = (0 until 4).map(_ =>
        if (rnd.nextInt(3) == 0) edges(rnd.nextInt(edges.size))
        else (rnd.nextGaussian() * 2).toFloat)
      (i.toLong, x.toArray)
    }
    val emb = rows.toDF("vec_id", "embedding")
    // quantizing the float embedding == quantizing its `asDouble` row
    val both = IvfKmeans.vectors(
        emb.select(col("vec_id"), col("embedding"),
          VF.asDouble(col("embedding")).as("v")), VecOffset)
      .select(col("vec_id"),
        IvfKmeans.quantize(col("embedding"), VecOffset).as("qe"), col("qv"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(both.length == 240)
    both.foreach { case (id, qe, qv) =>
      assert(qe == qv, s"vec $id: float quantized to $qe, double row to $qv")
      // and both are floor(double(x) * 1000) + offset
      assert(qv == rows(id.toInt)._2.toSeq.map(x =>
        math.floor(x.toDouble * 1000).toLong + VecOffset), s"vec $id")
    }
    // the store keeps v; committedVectors re-quantizes it to the seed's qv
    val seed = IvfKmeans.vectors(
      emb.select(col("vec_id"), VF.asDouble(col("embedding")).as("v")), VecOffset)
      .localCheckpoint(true)
    val tbl = "graft_quantize_property"
    val h = SemanticIndex.build(SemanticIndex.store(spark,
        s"${graft.queries.Fixtures.scratchRoot}/quantize_property", tbl),
      seed, 4, 2, SemThreshX1e6, 2)
    try {
      val stored = SemanticIndex.committedVectors(h, VecOffset)
        .select(col("vec_id"), col("qv")).as[(Long, Seq[Long])].collect().toMap
      val want = seed.select(col("vec_id"), col("qv")).as[(Long, Seq[Long])]
        .collect().toMap
      assert(stored == want,
        s"committed qv diverged on ${(stored.keySet ++ want.keySet)
          .filter(k => stored.get(k) != want.get(k)).take(5)}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
