package graft.plans

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape regression guards: the scale properties PLANS.md
  * documents, locked into the suite so a refactor that silently
  * de-optimizes a plan (lost pushdown, a BroadcastNestedLoopJoin where
  * a hash join belongs, an extra shuffle) fails here rather than in a
  * benchmark diff. String-level checks on the initial physical plan at
  * sf0.001 — coarse on purpose; they assert strategy, not cosmetics.
  */
class PlanAssertionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q121: hot-bucket-capped band join — no all-pairs leg, exchanges keyed by band/group/pair only") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q121_dedup_lsh_hotcap")
      // the whole point of the cap: no unbounded join shape anywhere
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      // the cap windows and the band self-join may key exchanges only
      // by bkey(/grp); the verify joins by the candidate pair ids
      val badKeys = "Exchange hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1))
        .filterNot(k => k.contains("bkey") || k.contains("grp") ||
          k.contains("doc_a") || k.contains("doc_b")).toList
      assert(badKeys.isEmpty,
        s"only bkey/grp/pair may key a hash exchange (found: $badKeys)\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q117/q118: nprobe search and spill-blocked dedup shuffle by cell only — no corpus broadcast") {
    // same discipline as q114: the trained index is materialized
    // behind localCheckpoints, so these are the SEARCH/BLOCKING plans.
    // Force the large-side shape (tiny sf would broadcast and mask it).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (name <- Seq("q117_ivf_nprobe", "q118_semantic_dedup_ivf")) {
        val p = plan(name)
        // q117 keeps ONE deliberate all-pairs leg: the exact ground
        // truth the recall numerators compare against (at scale it
        // broadcasts the stride-sampled probe set; with broadcast
        // forced off it degenerates to a cartesian, which is the
        // point of measuring it). q118 — the production dedup path —
        // must have none.
        val allPairsLegs = "CartesianProduct|BroadcastNestedLoopJoin".r
          .findAllIn(p).size
        assert(allPairsLegs <= (if (name.startsWith("q117")) 1 else 0),
          s"$name: unexpected all-pairs join\n" + p)
        // property, not a count: the corpus may be re-keyed only by
        // the blocking cell, the probe id (q117's hit joins + window),
        // or the verified pair itself (q118's DISTINCT)
        val badKeys = "Exchange hashpartitioning\\(([^)]*)".r
          .findAllMatchIn(p).map(_.group(1))
          .filterNot(k => k.contains("cell") || k.contains("qid") ||
            (k.contains("vec_a") && k.contains("vec_b")) ||
            (k.contains("qid") && k.contains("vec_id"))).toList
        assert(badKeys.isEmpty,
          s"$name: only cell/qid/pair may key a hash exchange (found: $badKeys)\n" + p)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q01: filter pushed to the parquet scan, columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"), p)
    // 6 of 16 lineitem columns read
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment"), "projection should prune unused wide columns\n" + p)
  }

  test("q02: every dimension joins as broadcast — no shuffle join for the fact side") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dims must broadcast, not sort-merge\n" + p)
  }

  test("q25: interval join plans as a hash join on (chr, bin), not nested-loop") {
    val p = plan("q25_genic_status")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), "interval side should explode onto bins\n" + p)
  }

  test("q43: pair join is a broadcast hash join evaluating the native popcount") {
    val p = plan("q43_dedup_ngram_jaccard")
    assert(p.contains("bitmap_inter_count"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q108: band self-join is a shuffled equi-join on the band key — no corpus broadcast") {
    // force the large-side plan (at 100 TB neither side of the band
    // self-join is broadcastable; at sf0.001 Spark would happily
    // broadcast the checkpointed signature pass, masking the shape)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q108_dedup_minhash_word")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "band self-join must shuffle on the band key\n" + p)
      assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
        "no side of the self-join may broadcast the corpus\n" + p)
      assert(p.contains("Exchange hashpartitioning"), p)
      assert(p.contains("band_key"), "join key must be the minhash band key\n" + p)
      assert(p.contains("sorted_inter_count"),
        "verify must be the native two-pointer intersect\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q113: k-means assignment is map-side — the rollup is the plan's only data exchange") {
    val p = plan("q113_kmeans_step")
    // the centroid side rides in as a 1-row broadcast; per-vector
    // assignment must not shuffle — only the K-row rollup exchanges.
    // (the centroid-array build has its own tiny single-partition agg;
    // what must NOT appear is a hashpartitioning of the vector table
    // beyond the final groupBy(cid))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroids must broadcast\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "per-vector assignment must not shuffle-join\n" + p)
    // assert the property, not an exchange count (which AQE or a
    // benign planning change of the tiny centroid agg could flip):
    // no hash exchange may partition by per-vector columns — the only
    // keys any hashpartitioning carries are the rollup's cid
    val vectorKeyed = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1))
      .filter(keys => keys.contains("vec_id") || keys.contains("qv"))
      .toList
    assert(vectorKeyed.isEmpty,
      s"per-vector data must not hash-exchange (found: $vectorKeyed)\n" + p)
  }

  test("q114: trained-cell search shuffles by cell/qid only — no cartesian, no per-vector re-key") {
    // training is materialized behind localCheckpoints, so this is the
    // SEARCH plan: probe/corpus join on the trained cell, then the
    // per-query top-k window. Force the large-side shape (at sf0.001
    // Spark would broadcast the probe side and mask it).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q114_ivf_lifecycle")
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "cell join must be a shuffled equi-join\n" + p)
      // property, not a count: candidates co-locate by cell and then
      // by query for the window — nothing may re-key the corpus by
      // any other column
      val badKeys = "Exchange hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1))
        .filterNot(k => k.contains("cell") || k.contains("qid")).toList
      assert(badKeys.isEmpty,
        s"only cell/qid may key a hash exchange (found: $badKeys)\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q53: IVF search joins on cell only; top-k is rank-limited before the full sort") {
    val p = plan("q53_knn_ivf")
    assert(p.contains("WindowGroupLimit"), "rn <= k should push below the window sort\n" + p)
    assert(p.contains("array_dot"), "cosine should use the native expression\n" + p)
  }

  test("q127: word-granularity capped band join — q121's shape at production granularity") {
    // the whole point of extending the cap to the word-bigram family:
    // the uncapped q108 pathology (O(m^2) hot buckets) must be gone
    // from the PRODUCTION path's plan the same way it is from q121's
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q127_dedup_word_hotcap")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      val badKeys = "Exchange hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1))
        .filterNot(k => k.contains("bkey") || k.contains("grp") ||
          k.contains("doc_a") || k.contains("doc_b")).toList
      assert(badKeys.isEmpty,
        s"only bkey/grp/pair may key a hash exchange (found: $badKeys)\n" + p)
      assert(p.contains("sorted_inter_count"),
        "verify must be the native two-pointer intersect\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q130: multimodal ANN search joins by cell only — broadcast legs bounded, no corpus re-key") {
    // graft.planOnly suppresses the builder's stage checkpoints, so
    // this is the COMPLETE declarative plan — feature extraction,
    // assignment, the cell-keyed search join + top-k window, the
    // exact-recall tuning leg, and the recall floor — end to end.
    // Deliberate broadcast legs (explicit broadcast() — still honored
    // with the threshold forced off): the K=16 trained centroid row,
    // the ~n/2738-row exact-recall tuning sample (whose non-equi join
    // against the corpus must be a BroadcastNestedLoopJoin, never a
    // corpus×corpus CartesianProduct — r12's red test), and the 1-row
    // recall-floor frame. The corpus itself may only be re-keyed by
    // cell or qid.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("graft.planOnly", "true")
      val p = plan("q130_multimodal_ann")
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "cell join must be a shuffled equi-join\n" + p)
      val badKeys = "Exchange hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1))
        .filterNot(k => k.contains("cell") || k.contains("qid")).toList
      assert(badKeys.isEmpty,
        s"only cell/qid may key a hash exchange (found: $badKeys)\n" + p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("graft.planOnly", "false")
    }
  }

  test("q134: geometry ladder decision rides as a broadcast — no corpus re-key, no cartesian") {
    // every operating-point gate serves through OperatingPoint.choose's
    // 1-row frame, which must join or cross-join serving as a
    // broadcast; q125/q126's exact tuning leg is a non-equi join whose
    // sample side is broadcast. With the threshold forced off only
    // those hints decide, so a lost hint plans a CartesianProduct.
    // q134's rung occupancies and ladder rows are materialized behind
    // localCheckpoints (each is K-row scale), so its visible plan is
    // the decision + served-rollup assembly, which re-keys nothing.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (name <- Seq("q125_ivf_operating_point", "q126_lsh_operating_point",
             "q129_semantic_threshold_point", "q134_index_geometry_point")) {
        val p = plan(name)
        assert(!p.contains("CartesianProduct"), s"$name\n" + p)
        assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
          s"$name: the 1-row chosen frame must broadcast into serving\n" + p)
        if (name.startsWith("q134")) {
          val badKeys = "Exchange hashpartitioning\\(([^)]*)".r
            .findAllMatchIn(p).map(_.group(1)).toList
          assert(badKeys.isEmpty,
            s"the decision/serve assembly needs no hash exchange at all (found: $badKeys)\n" + p)
        }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q135: cap-ladder serving — verify joins keyed by pair ids only, chosen cap broadcasts") {
    // each rung's capped candidate frame is materialized behind a
    // localCheckpoint (the q127-shape band join, already plan-gated
    // there); the visible plan is the 3-rung verify + the 1-row
    // chosen-cap broadcast filter. No all-pairs leg anywhere, and the
    // only hash exchanges are the candidate-pair verify joins.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q135_hotcap_operating_point")
      assert(!p.contains("CartesianProduct"), p)
      val badKeys = "Exchange hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1))
        .filterNot(k => k.contains("doc_a") || k.contains("doc_b")).toList
      assert(badKeys.isEmpty,
        s"only the verify pair ids may key a hash exchange (found: $badKeys)\n" + p)
      assert(p.contains("sorted_inter_count"),
        "verify must be the native two-pointer intersect\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
