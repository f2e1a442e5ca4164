package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{VectorFunctions => VF}
import graft.functions.DedupConfig.{MmThreshX1e6, SemThreshX1e6, VecOffset}

/** Plan-shape guard for the r13 anti-join accept: the scale property
  * `artifacts/r13_mmlife_attrib.md` measures, locked into the suite.
  * acceptWave must plan as ONE cell-keyed anti join — the equi key
  * extracted from the compound (cell, cosine) condition — with the
  * only hash exchange on the wave side and the bucketed store scanned
  * exchange-free. A refactor that re-introduces the
  * join+distinct+anti shape (the O(|wave|·occupancy) match-set
  * materialization) or degrades the anti join to a nested-loop /
  * cartesian fails here, not in a benchmark diff. */
class SemanticIndexPlanSpec extends SparkSpec {

  test("acceptWave: one cell-keyed anti join, store side exchange-free") {
    import spark.implicits._
    val tbl = "graft_acceptwave_planspec"
    val root = s"${graft.queries.Fixtures.scratchRoot}/acceptwave_planspec"
    val e = IvfKmeans.vectors(spark.range(200).toDF("vec_id")
      .withColumn("v", transform(sequence(lit(0), lit(7)),
        i => (col("vec_id") % 17 + i).cast("double"))), VecOffset)
    val h = SemanticIndex.build(SemanticIndex.store(spark, root, tbl),
      e.filter(col("vec_id") % 2 === 0), 4, 1, SemThreshX1e6, 2)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the large-store shape (tiny fixtures would broadcast
      // and mask a lost bucket-join) and skip the materialization so
      // the COMPLETE declarative plan is assertable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("graft.planOnly", "true")
      val p = SemanticIndex.acceptWave(h, e.filter(col("vec_id") % 2 === 1))
        .queryExecution.executedPlan.toString
      // the accept is a HASH/MERGE anti join (no match-set + distinct
      // + anti, and not a nested-loop anti): the equi key must have
      // been extracted from the compound (cell, cosine) condition
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) [^\\n]*LeftAnti".r
          .findFirstIn(p).isDefined,
        s"accept must plan as a keyed anti join\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in accept\n$p")
      // the ONE allowed nested-loop leg is the centroid assignment —
      // a cross join against the K-row broadcast frame (q130's bound)
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"unexpected nested-loop legs beyond the centroid broadcast\n$p")
      // hash exchanges may key by cell only (the wave's probe shuffle);
      // the bucketed store side enters the join without one
      val keys = "Exchange hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1)).toList
      // the captured key list is "<cols>, <numPartitions>"; anchor the
      // match to the WHOLE list — the single key column must be the
      // probe's `cell#N` (a compound key like "cell#1, vec_id#2" is a
      // re-keyed shuffle and must fail here, and the store-side
      // `icell#N` can't slip through a substring match)
      val bad = keys.filterNot(k =>
        "^cell#\\d+L?, \\d+$".r.findFirstIn(k).isDefined)
      assert(bad.isEmpty,
        s"only the wave's cell shuffle may hash-exchange (found: $bad)\n$p")
      assert(keys.size <= 1,
        s"store side must stay exchange-free (bucket scan): $keys\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("graft.planOnly")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("selfCoveredOnly: one cell-keyed anti join, no pair aggregate, store side exchange-free") {
    // q137's cover analysis shares acceptWave's scale property AND its
    // anti-join bound (VERDICT r14 item 3): the fp-tagged store enters
    // the cell join as a bucket scan, the probe pays one cell shuffle
    // — and that is the ONLY exchange, because the existence semantics
    // fold the foreignness test into the anti join's residual
    // condition (no (probe, cover) pair set, no aggregate shuffle). A
    // refactor that re-introduces the counting inner join + aggregate
    // (the O(occupancy^2) pair materialization on a flooded cell),
    // re-keys the store, or degrades the compound condition to a
    // nested loop fails here.
    import spark.implicits._
    val tbl = "graft_covers_planspec"
    val root = s"${graft.queries.Fixtures.scratchRoot}/covers_planspec"
    val e = IvfKmeans.vectors(spark.range(200).toDF("vec_id")
      .withColumn("fp", col("vec_id") % 50)
      .withColumn("v", transform(sequence(lit(0), lit(7)),
        i => (col("vec_id") % 17 + i).cast("double"))), VecOffset)
    // the store carries the extra `fp` column, so it is seeded through
    // the Handle directly (q137's shape)
    val h = SemanticIndex.Handle(SemanticIndex.store(spark, root, tbl),
      SemanticIndex.trainCells(e, 4, 1), SemThreshX1e6)
    h.store.seed(2,
      SemanticIndex.spilled(h, e, Seq("fp")).withColumn("epoch", lit(0)))
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = SemanticIndex.selfCoveredOnly(h, e)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in cover join\n$p")
      // the one allowed nested-loop leg is the K-row centroid broadcast
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"unexpected nested-loop legs beyond the centroid broadcast\n$p")
      assert("(SortMergeJoin|ShuffledHashJoin) [^\\n]*LeftAnti".r
          .findFirstIn(p).isDefined,
        s"cover analysis must plan as a keyed ANTI join\n$p")
      assert(!p.contains("HashAggregate(keys=[vec_id"),
        s"pair-counting aggregate crept back into the cover analysis\n$p")
      val keys = "Exchange hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1)).toList
      // anchored to the WHOLE captured key list ("<cols>, <numParts>"):
      // the single allowed exchange is the probe's cell shuffle — a
      // compound re-key ("cell#1, vec_id#2") or the store-side icell
      // must fail, not slip through a substring match
      val bad = keys.filterNot(k =>
        "^cell#\\d+L?, \\d+$".r.findFirstIn(k).isDefined)
      assert(bad.isEmpty,
        s"only the probe cell shuffle may hash-exchange (found: $bad)\n$p")
      assert(keys.size <= 1,
        s"store side must stay exchange-free and no aggregate shuffle: $keys\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("selfCoveredOnly: flooded cell — matches the counting form, without building its pair set") {
    // VERDICT r14 item 3's failure mode made concrete: one cell holds
    // a FLOOD (one fingerprint family of exact copies, the takedown
    // shape) plus sparse foreign neighbors. The r14 counting form
    // materialized every (probe, cover) pair — O(m^2) rows in the
    // flooded cell — before the n_foreign = 0 filter; the anti join
    // returns the identical zero-set with existence short-circuiting.
    // This test pins the EQUIVALENCE on exactly that corpus: the old
    // counting formulation is rebuilt inline as the reference.
    import spark.implicits._
    val tbl = "graft_covers_floodspec"
    val root = s"${graft.queries.Fixtures.scratchRoot}/covers_floodspec"
    // 400-copy flood family (fp=1, one shared vector on axis 0) + 100
    // singletons in 5 shapes on axes 1..5 — shapes are mutually
    // orthogonal (and orthogonal to the flood), but each shape's 20
    // members carry DIFFERENT fingerprints, so every singleton has a
    // foreign cover while the flood family is covered only by itself
    val flood = spark.range(400).toDF("vec_id")
      .withColumn("fp", lit(1L))
      .withColumn("v", transform(sequence(lit(0), lit(7)),
        i => when(i === 0, lit(10.0)).otherwise(lit(0.0))))
    val singles = spark.range(100).toDF("vec_id")
      .select((col("vec_id") + 1000L).as("vec_id"),
        (col("vec_id") + 10L).as("fp"),
        transform(sequence(lit(0), lit(7)),
          i => when(i === col("vec_id") % 5 + 1, lit(10.0))
            .otherwise(lit(0.0))).as("v"))
    val e = IvfKmeans.vectors(flood.unionByName(singles), VecOffset)
      .localCheckpoint(true)
    val h = SemanticIndex.Handle(SemanticIndex.store(spark, root, tbl),
      SemanticIndex.trainCells(e, 4, 1), MmThreshX1e6)
    h.store.seed(2,
      SemanticIndex.spilled(h, e, Seq("fp")).withColumn("epoch", lit(0)))
    try {
      val got = SemanticIndex.selfCoveredOnly(h, e)
        .select("vec_id").as[Long].collect().toSet
      // reference: the r14 counting formulation, verbatim
      val p = IvfKmeans.rankCells(
          e.select(col("vec_id"), col("fp"), col("v"), col("nrm"),
            col("qv")), "qv", h.cents, 1)
        .select(col("vec_id"), col("fp"), col("v"), col("nrm"), col("cell"))
      val idx = spark.table(tbl)
        .select(col("cell").as("icell"), col("fp").as("ifp"),
          col("v").as("iv"), col("nrm").as("inrm"))
      val want = p.join(idx,
          col("cell") === col("icell") &&
            VF.quantize1e6(VF.dot(col("v"), col("iv")) /
              (col("nrm") * col("inrm"))) >= h.threshX1e6)
        .groupBy(col("vec_id"), col("fp"))
        .agg(sum(when(col("ifp") =!= col("fp"), 1L).otherwise(0L))
          .as("n_foreign"))
        .filter(col("n_foreign") === 0)
        .select("vec_id").as[Long].collect().toSet
      assert(got == want,
        s"anti-join zero-set diverged from the counting form: " +
          s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
      // the corpus is non-degenerate BOTH ways: the flood family is
      // self-only (its copies cover each other), and at least one
      // singleton has a foreign near-dup (same shape, different fp)
      assert(flood.select("vec_id").as[Long].collect().toSet.subsetOf(got),
        "flood family must be self-covered-only")
      assert(got.size < 500, "some probe must have a foreign cover")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
