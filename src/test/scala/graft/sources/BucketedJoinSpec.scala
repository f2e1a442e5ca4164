package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed tables sort-merge join with no shuffle exchange") {
    val facts = (0 until 20000).map(i => (i.toLong % 700, i.toLong)).toDF("k", "v")
    val dims = (0 until 700).map(i => (i.toLong, s"d$i")).toDF("k2", "name")

    spark.sql("DROP TABLE IF EXISTS graft_fact_bkt")
    spark.sql("DROP TABLE IF EXISTS graft_dim_bkt")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Bucketed.writeBucketed(facts, "graft_fact_bkt", 8, Seq("k"))
      Bucketed.writeBucketed(dims, "graft_dim_bkt", 8, Seq("k2"))
      // force a sort-merge plan so a shuffle would be visible if required
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_fact_bkt")
        .join(spark.table("graft_dim_bkt"), $"k" === $"k2")
      val plan = j.queryExecution.executedPlan.toString
      // both scans report the bucket HashPartitioning, so neither side
      // shuffles: the write-time shuffle is amortized over every join
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(j.count() == 20000)
      // same rows as the unbucketed join
      val plainCnt = facts.join(dims, $"k" === $"k2").count()
      assert(plainCnt == 20000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_fact_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_dim_bkt")
    }
  }

  test("bucket partitioning survives a column alias: only the other side shuffles") {
    // q99's shape: the persistent index is joined through a RENAMED
    // key column; alias-aware output partitioning must still let the
    // bucketed scan feed the sort-merge join exchange-free, so the
    // per-wave shuffle is the wave's, never the corpus's
    val docs = (0 until 5000).map(i => (i.toLong, i % 97)).toDF("doc_id", "v")
    spark.sql("DROP TABLE IF EXISTS graft_alias_bkt")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Bucketed.writeBucketed(docs, "graft_alias_bkt", 8, Seq("doc_id"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val wave = (0 until 100).map(i => (i.toLong * 3, i.toLong)).toDF("idx_id", "w_id")
      val j = wave.join(
        spark.table("graft_alias_bkt").select($"doc_id".as("idx_id"), $"v"),
        "idx_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1, plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(j.count() == 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_alias_bkt")
    }
  }

  test("q91 shape: left_anti vs the bucketed store shuffles only the wave side") {
    // the streaming upsert's per-batch plan: wave.dropDuplicates(key)
    //   .join(store, key, left_anti) — the store scan must feed the
    // join exchange-free (its shuffle was paid at write time), and the
    // wave's dedup exchange must be the ONLY exchange in the plan, so
    // per-batch cost is wave-sized no matter how large the store grows
    val store = (0 until 5000).map(i => (i.toLong, i.toLong)).toDF("user_id", "v")
    spark.sql("DROP TABLE IF EXISTS graft_q91s_bkt")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Bucketed.writeBucketed(store, "graft_q91s_bkt", 8, Seq("user_id"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // shuffle partitions = bucket count (the production config for a
      // bucketed-store pipeline): the wave's dedup exchange then lands
      // pre-aligned with the store's buckets and is reused by the join
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val wave = (0 until 300).map(i => (i.toLong * 17, i.toLong)).toDF("user_id", "x")
      val j = wave.dropDuplicates("user_id")
        .join(spark.table("graft_q91s_bkt").select("user_id"), Seq("user_id"), "left_anti")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"), plan)
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1, plan)
      assert(plan.contains("Bucketed: true"), plan)
      // 300 keys stride 17: those < 5000 and divisible by 17 collide
      assert(j.count() == wave.select("user_id").distinct()
        .filter($"user_id" >= 5000).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.sql("DROP TABLE IF EXISTS graft_q91s_bkt")
    }
  }

  test("compact: epoch-appended index re-buckets to one file set, same rows, still exchange-free") {
    // the index store's maintenance job: each epoch commit appends its
    // own file set per bucket, and the bucket count is a capacity
    // parameter the corpus outgrows — compact() collapses the files
    // AND re-buckets in one paid shuffle, with identical rows and the
    // exchange-free join preserved at the new parallelism
    val t = "graft_compact_bkt"
    val store = Bucketed.EpochStore(spark, graft.queries.Fixtures.scratchRoot,
      Seq(t -> Seq("k")))
    val p = store.path(t)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def epoch(e: Int) = (0 until 2000)
        .map(i => (i.toLong + e * 10000, i.toLong % 7, e)).toDF("k", "v", "epoch")
      store.seed(4, epoch(0))
      (1 to 3).foreach(e => store.commit(epoch(e)))
      val filesBefore = parquetFiles()
      val rowsBefore = spark.table(t).count()
      val sumBefore = spark.table(t).agg(sum($"k")).head.getLong(0)
      assert(rowsBefore == 8000L)

      store.compact(8)

      assert(spark.table(t).count() == rowsBefore, "compact must not change rows")
      assert(spark.table(t).agg(sum($"k")).head.getLong(0) == sumBefore)
      assert(parquetFiles() < filesBefore,
        s"compaction must shrink the file count (before=$filesBefore after=${parquetFiles()})")
      assert(store.buckets(t) == 8)
      // later writes read the count from the catalog, so neither an
      // append nor a tombstone rewrite re-specs the table back to 4
      store.commit(epoch(4))
      assert(store.buckets(t) == 8, "a commit after compaction changed the bucket count")
      store.retract(epoch(4).select("k"))
      assert(store.buckets(t) == 8, "a retract after compaction changed the bucket count")
      assert(spark.table(t).count() == rowsBefore, "retract must drop exactly the epoch-4 rows")
      assert(spark.table(t).agg(sum($"k")).head.getLong(0) == sumBefore)
      // the join is exchange-free on the bucketed side at the NEW
      // bucket count: only the probe side shuffles
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val wave = (0 until 500).map(i => (i.toLong * 13, i.toLong)).toDF("k", "w")
      val j = wave.join(spark.table(t), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1, plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
