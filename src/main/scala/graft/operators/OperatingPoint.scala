package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The measure -> select -> serve operating point of the ANN and dedup
  * gates, defined once: a per-probe top-k, the recall@k numerators of
  * approximate top-k sets against the exact one, and the ladder choice
  * ("the lowest rung meeting an integer floor, else the fallback").
  * Each function sits next to its DuckDB SQL generator (`*Sql`), the
  * way [[IvfKmeans.lloydCtes]] sits next to its Spark code; the
  * generators only emit SQL text, so the oracles stay independent.
  *
  * Frames are keyed by probe `qid` and candidate `vec_id`. Every test
  * is integer arithmetic, so both engines pick the same rung.
  *
  * 100 TB: the top-k window and the hit joins key by `qid` only; the
  * choice is one aggregate row that rides as a broadcast into serving,
  * never a driver collect. Continuously Adaptive Similarity Search
  * (SIGMOD 2020, PAPERS.md) treats the search configuration the same
  * way, as a measured choice.
  */
object OperatingPoint {

  /** Per-probe top-k: ranks each `qid`'s rows by `order` and keeps
    * `rn <= k`, with `rn` (int) left on the rows. `order` must be total
    * within a probe (end it on `vec_id`), or the kept set depends on
    * the partitioning. */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
      .filter(col("rn") <= k)

  /** SQL mirror of [[topK]]. `src` is a FROM clause: a relation,
    * optionally with joins and a WHERE. */
  def topKSql(src: String, k: Int, order: String): String =
    s"""SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY $order) AS rn
       |  FROM $src)
       |WHERE rn <= $k""".stripMargin

  /** `exact`'s (qid, vec_id) rows left-joined to each approximate set,
    * with one marker column per set: 1 on a hit, null otherwise. */
  private def hitRows(exact: DataFrame, approx: Seq[(String, DataFrame)]): DataFrame =
    approx.foldLeft(exact.select("qid", "vec_id")) { case (acc, (name, a)) =>
      acc.join(a.select(col("qid"), col("vec_id"), lit(1).as(name)),
        Seq("qid", "vec_id"), "left_outer")
    }

  private def hitRowsSql(exact: String, rels: Seq[String]): String =
    s"FROM $exact ex" + rels.zipWithIndex.map { case (rel, i) =>
      s"\nLEFT JOIN $rel a$i ON a$i.qid = ex.qid AND a$i.vec_id = ex.vec_id" }.mkString

  /** recall@k numerators: one row per `qid` of `exact` with `n_exact`
    * (its exact set size) and, per `(name, approx)`, a long column
    * `name` = |approx ∩ exact| on (qid, vec_id). Approximate rows
    * outside the exact set never count; a probe with no approximate
    * rows scores 0. Each side must be unique on (qid, vec_id), as a
    * top-k is. */
  def recall(exact: DataFrame, approx: (String, DataFrame)*): DataFrame =
    hitRows(exact, approx).groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"), approx.map { case (name, _) => count(col(name)).as(name) }: _*)

  /** SQL mirror of [[recall]]; each pair is (hit column, relation). */
  def recallSql(exact: String, approx: (String, String)*): String = {
    val hits = approx.zipWithIndex.map { case ((name, _), i) =>
      s", count(a$i.vec_id) AS $name" }.mkString
    s"""SELECT ex.qid, count(*) AS n_exact$hits
       |${hitRowsSql(exact, approx.map(_._2))}
       |GROUP BY ex.qid""".stripMargin
  }

  /** A tuning sample's recall as a long-format ladder: one row per
    * `(r, approx)` of `rungs`, with `rung` = r, `n` = the sample's
    * exact row count and `hits` = Σ |approx ∩ exact| over the sample.
    * An empty sample gives `n` = 0 and null `hits`, so [[choose]]
    * falls back rather than trust an unmeasured rung. */
  def recallLadder(exact: DataFrame, rung: String, rungs: (Int, DataFrame)*): DataFrame = {
    val hits = rungs.map { case (r, _) => s"h$r" }
    hitRows(exact, hits.zip(rungs.map(_._2)))
      .agg(count(lit(1)).as("n"), hits.map(h => sum(coalesce(col(h), lit(0L))).as(h)): _*)
      .select(col("n"), explode(array(rungs.zip(hits).map { case ((r, _), h) =>
        struct(lit(r).as(rung), col(h).as("hits")) }: _*)).as("l"))
      .select(col(s"l.$rung"), col("n"), col("l.hits"))
  }

  /** SQL mirror of [[recallLadder]]; each pair is (rung, relation). */
  def recallLadderSql(exact: String, rung: String, rungs: (Int, String)*): String = {
    val hits = rungs.indices.map(i =>
      s"sum(CASE WHEN a$i.vec_id IS NULL THEN 0 ELSE 1 END) AS h$i")
    s"""SELECT unnest([${rungs.map(_._1).mkString(", ")}]) AS $rung, n,
       |  unnest([${rungs.indices.map(i => s"h$i").mkString(", ")}]) AS hits
       |FROM (SELECT count(*) AS n, ${hits.mkString(", ")}
       |  ${hitRowsSql(exact, rungs.map(_._2))})""".stripMargin
  }

  /** The ladder choice: a 1-row frame whose `rung` column holds the
    * lowest `rung` of `ladder` whose integer test `ok` holds (the
    * highest when `lowest` is false), else `fallback`, which is also
    * the answer for an empty ladder. The frame carries the broadcast
    * hint, so a serving join or cross join against it never plans as
    * a shuffle or a cartesian product. */
  def choose(ladder: DataFrame, rung: String, ok: Column, fallback: Long,
             lowest: Boolean = true): DataFrame = {
    val pick = when(ok, col(rung))
    broadcast(ladder.agg(coalesce(if (lowest) min(pick) else max(pick),
      lit(fallback).cast(ladder.schema(rung).dataType)).as(rung)))
  }

  /** SQL mirror of [[choose]]. */
  def chooseSql(ladder: String, rung: String, ok: String, fallback: Long,
                lowest: Boolean = true): String =
    s"""SELECT coalesce(${if (lowest) "min" else "max"}(CASE WHEN $ok THEN $rung END),
       |  $fallback) AS $rung FROM $ladder""".stripMargin
}
