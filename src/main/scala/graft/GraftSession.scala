package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession definition behind every entry point (Bench,
  * Verify, Plans, SmokeMain) and the test suites. DEPLOYMENT.md lists
  * the confs set here that a cluster submit must carry too. */
object GraftSession {

  /** Core count for the catalog runners (Bench, Verify). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int): SparkSession = SparkSession.builder()
    .withExtensions(new graft.plans.GraftExtensions)
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // subset co-partitioning (public Spark conf, default true since
    // 3.3): a join keyed (bkey, grp) with both sides already
    // hash-partitioned on bkey must NOT re-shuffle the bucketed
    // store to the full key — the capped wave-vs-index join
    // (MinhashPipeline.verifiedDupPairsCapped) depends on this to
    // keep the band table exchange-free under its widened join key
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
