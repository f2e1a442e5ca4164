package graft

import graft.plans.BinnedIntervalJoinRule

/** Pins what every session built by [[GraftSession.local]] carries: the
  * load-bearing confs DEPLOYMENT.md lists and the GraftExtensions. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("factory session sets subset co-partitioning, UTC and local[cpus] sizing") {
    assert(spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("BinnedIntervalJoinRule runs in the factory session's optimizer") {
    val p = Seq((1L, 5L)).toDF("pid", "pos")
    val iv = Seq((1L, 1L, 9L)).toDF("iid", "lo", "hi")
    val qe = p.join(iv, $"pos" >= $"lo" && $"pos" <= $"hi").queryExecution
    qe.optimizedPlan
    val rule = qe.tracker.rules.get(BinnedIntervalJoinRule.ruleName)
    assert(rule.exists(_.numEffectiveInvocations > 0),
      s"rule not applied; rules seen: ${qe.tracker.rules.keys.toSeq.sorted.mkString(", ")}")
  }

  test("an injected native function resolves in SQL") {
    val d = spark.sql("SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
  }
}
