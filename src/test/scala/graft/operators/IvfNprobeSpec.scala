package graft.operators

import graft.SparkSpec
import graft.queries.QueriesLlm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Properties of nprobe cell ranking ([[IvfKmeans.rankCells]]) that the
  * q117/q118 hash gates assert only as concrete values: candidate-set
  * NESTING (hits monotone in probe width) and the boundary-pair rescue
  * that spill assignment exists for. Frames are hand-built quantized
  * vectors placed adversarially on a cell boundary. */
class IvfNprobeSpec extends SparkSpec {
  import spark.implicits._

  // cluster A is WIDE (uniform 0..4000, centroid ~2000 — far from its
  // own fringe) and cluster B compact at 10000; the BOUNDARY vector at
  // 6800 is nearer B's CENTROID (3231 < 4800) so nprobe=1 searches
  // only cell B, but its nearest NEIGHBOR is A's fringe point at 4000
  // (2800 < 3200 to B) — exactly the centroid-vs-neighbor disagreement
  // nprobe exists to rescue. Centroids are trained WITHOUT the
  // boundary vector so the geometry stays where the comment says.
  private def frame(): (DataFrame, DataFrame) = {
    val a = (0 to 10).map(i => (i.toLong, Seq(400L * i, 0L)))
    val b = (100 until 110).map(i => (i.toLong, Seq(10000L + 7 * (i - 100), 0L)))
    val boundary = Seq((50L, Seq(6800L, 0L)))
    val cents = IvfKmeans.train((a ++ b).toDF("vec_id", "qv"), 2, 3)
    val q = (a ++ b ++ boundary).toDF("vec_id", "qv")
    (q, cents)
  }

  test("rankCells crank=1 equals the assignment cell for every vector") {
    val (q, cents) = frame()
    val viaRank = IvfKmeans.rankCells(q, "qv", cents, 1)
      .select(col("vec_id"), col("cell"))
    val viaAssign = IvfKmeans.assign(q, cents)
      .select(col("vec_id"), col("cid").as("cell"))
    assert(viaRank.exceptAll(viaAssign).isEmpty && viaAssign.exceptAll(viaRank).isEmpty)
  }

  test("the shared maxProbe = 1 candidate join equals the assignment-cell self-join") {
    val (q, cents) = frame()
    val assigned = IvfKmeans.assign(q, cents)
      .select(col("vec_id"), col("qv"), col("cid").as("cell"))
    val probes = assigned.select(col("vec_id").as("qid"), col("qv").as("pqv"))
    val shared = QueriesLlm.ivfCandidates(probes, assigned, cents, 1)
    assert(shared.filter(col("crank") =!= 1).isEmpty)
    // the search q114 ran before it shared the nprobe join: each probe
    // joins the corpus rows of its own assignment cell
    val selfJoin = assigned
      .select(col("vec_id").as("qid"), col("qv").as("pqv"), col("cell"))
      .join(assigned, Seq("cell")).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        IvfKmeans.distL2(col("pqv"), col("qv")).as("dist"))
    val viaShared = shared.select("qid", "vec_id", "dist")
    assert(viaShared.count() > 0)
    assert(viaShared.exceptAll(selfJoin).isEmpty && selfJoin.exceptAll(viaShared).isEmpty)
  }

  test("nprobe candidate sets nest: widening the probe never loses a candidate") {
    val (q, cents) = frame()
    val assigned = IvfKmeans.assign(q, cents)
      .select(col("vec_id"), col("qv"), col("cid").as("cell"))
    val probes = q.select(col("vec_id").as("qid"), col("qv").as("pqv"))
    val ranked = IvfKmeans.rankCells(probes, "pqv", cents, 2)
    def candSet(p: Int) = ranked.filter(col("crank") <= p)
      .join(assigned, Seq("cell")).filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val c1 = candSet(1); val c2 = candSet(2)
    assert(c1.exceptAll(c2).isEmpty, "p=1 candidates must be a subset of p=2's")
    assert(c2.count() > c1.count(), "widening the probe must add candidates here")
  }

  test("a boundary probe's true nearest neighbor is rescued by nprobe=2") {
    val (q, cents) = frame()
    val assigned = IvfKmeans.assign(q, cents)
      .select(col("vec_id"), col("qv"), col("cid").as("cell"))
    val probe = assigned.filter(col("vec_id") === 50L)
      .select(col("vec_id").as("qid"), col("qv").as("pqv"))
    val exactNn = assigned.filter(col("vec_id") =!= 50L)
      .crossJoin(probe)
      .withColumn("dist", IvfKmeans.distL2(col("pqv"), col("qv")))
      .orderBy(col("dist"), col("vec_id"))
      .select("vec_id").as[Long].head()
    def found(p: Int): Boolean = IvfKmeans.rankCells(probe, "pqv", cents, p)
      .filter(col("crank") <= p)
      .join(assigned, Seq("cell"))
      .filter(col("vec_id") === exactNn).count() > 0
    // the frame is built so the boundary vector assigns to one cell
    // while its nearest neighbor lives in the other
    assert(!found(1), "adversarial frame degenerated: p=1 already finds the NN")
    assert(found(2), "nprobe=2 must search the neighboring cell")
  }

  test("spill assignment makes a cross-cell boundary pair collide") {
    val (q, cents) = frame()
    // single-cell blocking: pair (50, nn-in-other-cell) never meets
    val single = IvfKmeans.rankCells(q, "qv", cents, 1)
      .select(col("vec_id"), col("cell"))
    val spill = IvfKmeans.rankCells(q, "qv", cents, 2)
      .select(col("vec_id"), col("cell"))
    def pairs(asg: DataFrame) = asg.as("a")
      .join(asg.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb")).distinct()
    val crossCell = pairs(spill).exceptAll(pairs(single))
    assert(crossCell.filter(col("va") === 10L && col("vb") === 50L).count() > 0,
      "spill must surface the (A-fringe, boundary) pair single-cell blocking misses")
    // and inflation is bounded: exactly 2 index rows per vector
    assert(spill.count() == 2 * q.count())
  }
}
