package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed point-in-interval / interval-overlap joins.
  *
  * The reference implements these as per-chromosome in-memory linear
  * scans over sorted interval caches (`GeneCache.getGeneRgdIds:53-98`,
  * `TranscriptFeatureCache`), which caps at one JVM's heap. Here both
  * sides stay distributed: intervals are exploded onto fixed-width
  * genomic bins (`floor(pos/binSize)`), points land in exactly one bin,
  * and the join becomes a plain equi-join on (partitionKey, bin) with a
  * residual range predicate — shuffle-partitioned, AQE/skew friendly,
  * and broadcastable when the interval side is small.
  *
  * At 100 TB scale this is the difference between a
  * BroadcastNestedLoopJoin (quadratic, driver-bound) and a shuffled
  * hash/sort-merge join keyed by (chr, bin): bin width should
  * approximate the typical interval length (1 Mb for gene spans) so
  * interval replication stays near 1-2 rows per interval.
  */
object RangeJoin {

  /** Inner join: rows of `points` paired with every row of `intervals`
    * whose [startCol, stopCol] contains the point (inclusive both ends,
    * matching `GeneCache.getGeneRgdIds` overlap conditions).
    *
    * @param points       point-side DataFrame
    * @param intervals    interval-side DataFrame (columns must not clash
    *                     with the point side; alias/prefix beforehand)
    * @param pointKeys    equality key columns on the point side (e.g. chr)
    * @param intervalKeys matching key columns on the interval side
    * @param pos          point position column (point side)
    * @param start/stop   interval bound columns (interval side)
    * @param binSize      genomic bin width
    * @param broadcastIntervals hint the interval side as broadcastable
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointKeys: Seq[String], intervalKeys: Seq[String],
                      pos: String, start: String, stop: String,
                      binSize: Long = 1000000L,
                      broadcastIntervals: Boolean = false): DataFrame =
    binnedPointJoin(points, intervals, pointKeys, intervalKeys, pos, start, stop,
      binSize, broadcastIntervals, "inner")

  /** Left-outer variant: every point kept; interval columns null when no
    * interval covers it. A point can only match intervals in its own bin,
    * so the left-outer of the binned equi-join is exact.
    */
  def pointInIntervalLeftOuter(points: DataFrame, intervals: DataFrame,
                               pointKeys: Seq[String], intervalKeys: Seq[String],
                               pos: String, start: String, stop: String,
                               binSize: Long = 1000000L,
                               broadcastIntervals: Boolean = false): DataFrame =
    binnedPointJoin(points, intervals, pointKeys, intervalKeys, pos, start, stop,
      binSize, broadcastIntervals, "left_outer")

  /** Bin width of [[covered]]: gene scale, so a merged interval
    * replicates onto one or two bins. */
  private val CoverBin = 100000L

  /** Every row of `points` once, plus boolean `covered`: some interval
    * on the same keys contains `pos` (inclusive both ends) — the
    * genic-status lookup (`GeneCache.getGeneRgdIds`, used by
    * `VariantLoad3.isGenic` and `GenicStatusFixUp`). The intervals are
    * merged first ([[mergeIntervals]]), so the broadcast binned
    * left-outer join matches each point at most once and no per-point
    * aggregate follows. A point with a NULL key or position is not
    * covered; an interval with a NULL bound covers nothing. The
    * interval columns must not clash with the point side. */
  def covered(points: DataFrame, intervals: DataFrame,
              pointKeys: Seq[String], intervalKeys: Seq[String],
              pos: String, start: String, stop: String): DataFrame =
    binnedPointJoin(points, mergeIntervals(intervals, intervalKeys, start, stop),
        pointKeys, intervalKeys, pos, start, stop, CoverBin, broadcastIntervals = true,
        "left_outer")
      .withColumn("covered", col(start).isNotNull)
      .drop(intervalKeys :+ start :+ stop: _*)

  /** DuckDB twin of [[covered]]: a boolean expression, true iff some
    * row of relation `intervals` on the point's keys contains `pos`. A
    * plain BETWEEN existence test, no merge and no bins; NULL keys,
    * positions and bounds never compare true, so they give false as in
    * [[covered]]. Point-side arguments are expressions of the outer
    * query, interval-side ones columns of `intervals`. */
  def coveredSql(intervals: String, pointKeys: Seq[String], intervalKeys: Seq[String],
                 pos: String, start: String, stop: String): String = {
    val keys = pointKeys.zip(intervalKeys).map { case (pk, ik) => s"iv.$ik = $pk AND " }.mkString
    s"EXISTS (SELECT 1 FROM $intervals iv WHERE $keys$pos BETWEEN iv.$start AND iv.$stop)"
  }

  /** The one binned point join behind the lookups above: an
    * equi-join on (keys, bin) with the inclusive range as residual. */
  private def binnedPointJoin(points: DataFrame, intervals: DataFrame,
                              pointKeys: Seq[String], intervalKeys: Seq[String],
                              pos: String, start: String, stop: String,
                              binSize: Long, broadcastIntervals: Boolean,
                              joinType: String): DataFrame = {
    val binned = explodeToBins(intervals, start, stop, binSize)
    val right = if (broadcastIntervals) broadcast(binned) else binned
    val joinCond = pointKeys.zip(intervalKeys)
      .map { case (pk, ik) => points(pk) === right(ik) }
      .foldLeft(
        (floor(points(pos) / binSize) === right("__bin")) &&
          points(pos) >= right(start) && points(pos) <= right(stop))(_ && _)
    points.join(right, joinCond, joinType).drop("__bin")
  }

  /** Interval-overlap inner join: pairs where
    * [lStart,lStop] and [rStart,rStop] overlap (inclusive). Both sides
    * are exploded onto bins; the duplicate matches that arise when an
    * overlapping pair shares several bins are removed by keeping only the
    * bin containing max(lStart, rStart) — a standard dedup-free binned
    * overlap join (no post-hoc dropDuplicates, so the plan stays
    * streaming-friendly). */
  def intervalOverlap(left: DataFrame, right: DataFrame,
                      leftKeys: Seq[String], rightKeys: Seq[String],
                      lStart: String, lStop: String,
                      rStart: String, rStop: String,
                      binSize: Long = 1000000L,
                      broadcastRight: Boolean = false): DataFrame = {
    val lb = explodeToBins(left, lStart, lStop, binSize, "__lbin")
    val rb0 = explodeToBins(right, rStart, rStop, binSize, "__rbin")
    val rb = if (broadcastRight) broadcast(rb0) else rb0
    val keyCond = leftKeys.zip(rightKeys)
      .map { case (lk, rk) => lb(lk) === rb(rk) }
      .reduce(_ && _)
    val overlap = lb(lStart) <= rb(rStop) && lb(lStop) >= rb(rStart)
    // anchor bin = bin of max(start_l, start_r): each overlapping pair is
    // emitted exactly once
    val anchor = floor(greatest(lb(lStart), rb(rStart)) / binSize)
    lb.join(rb, keyCond && lb("__lbin") === rb("__rbin") &&
        lb("__lbin") === anchor && overlap)
      .drop("__lbin").drop("__rbin")
  }

  /** Merge overlapping intervals per key group (classic sweep: a new
    * merged group starts where an interval's start exceeds the running
    * max of all previous stops). Coverage-preserving and DISJOINT: a
    * point lies inside some input interval iff it lies inside exactly
    * ONE merged interval — so a point-in-interval join against the
    * merged set emits at most one row per point, which lets
    * [[covered]] skip the per-point aggregation and join-back. Only
    * the key/start/stop columns survive (identity of the covering
    * interval is gone — by definition of the merge). Both windows
    * partition by the interval keys: this runs on the DIM side
    * (genes), never the corpus.
    *
    * NULL bounds are DROPPED up front: a NULL-start interval sorts
    * first (NULLS FIRST), would start a group, and its stop would feed
    * prevMax — a later interval could merge into it and inherit
    * coverage no real interval has. A NULL-bound interval can never
    * contain a point in any downstream range join (NULL comparisons
    * are never true), so dropping it here preserves the coverage
    * semantics exactly. */
  def mergeIntervals(intervals: DataFrame, keys: Seq[String],
                     start: String, stop: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(start), col(stop))
    val prevMax = max(col(stop))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    intervals.select(keys.map(col) :+ col(start) :+ col(stop): _*)
      .filter(col(start).isNotNull && col(stop).isNotNull)
      .withColumn("__newgrp",
        when(prevMax.isNull || col(start) > prevMax, 1).otherwise(0))
      .withColumn("__grp",
        sum(col("__newgrp")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(keys.map(col) :+ col("__grp"): _*)
      .agg(min(col(start)).as(start), max(col(stop)).as(stop))
      .drop("__grp")
  }

  /** Explode each interval row onto every bin its [start, stop] covers.
    * Adds column `binCol`. */
  private[operators] def explodeToBins(df: DataFrame, start: String, stop: String,
                                       binSize: Long, binCol: String = "__bin"): DataFrame =
    df.withColumn(binCol,
      explode(sequence(floor(col(start) / binSize), floor(col(stop) / binSize))))
}
