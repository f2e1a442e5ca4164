package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** genicStatusDrift re-derives genic status by one map-side join
  * against MERGED gene intervals ([[RangeJoin.mergeIntervals]] under
  * [[RangeJoin.covered]]), not interval join -> per-vid aggregation ->
  * join-back. These specs pin (a) the merge's coverage-equivalence +
  * disjointness on random overlapping data and (b) the drift
  * operator's row-for-row equivalence with the aggregate form on
  * fixtures that exercise nested, duplicated, and chained-overlap
  * coverage. */
class FixupDriftSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7)

  private def randomIntervals(n: Int, span: Long) =
    (0 until n).map { i =>
      val s = rnd.nextLong().abs % span
      (Seq("1", "2", "X")(rnd.nextInt(3)), s, s + rnd.nextInt(150000))
    }

  test("mergeIntervals: coverage-identical and disjoint (random overlapping data)") {
    val ivs = (randomIntervals(120, 2000000L) ++
      randomIntervals(40, 2000000L) ++            // extra overlap density
      Seq(("1", 10L, 100L), ("1", 10L, 100L),     // exact duplicates
        ("1", 20L, 50L),                          // nested
        ("1", 100L, 120L),                        // touching at the stop
        ("1", 121L, 130L)))                       // adjacent, NOT overlapping
      .toDF("chr", "s", "e")
    val merged = RangeJoin.mergeIntervals(ivs, Seq("chr"), "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    // disjoint and strictly ordered per chr
    merged.groupBy(_._1).foreach { case (_, g) =>
      g.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._2, s"overlap survives: $a $b")
        case _ =>
      }
    }
    // coverage-identical on a dense probe grid around every boundary
    val ivRows = ivs.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val probes = ivRows.flatMap { case (c, s, e) =>
      Seq((c, s - 1), (c, s), (c, s + 1), (c, e - 1), (c, e), (c, e + 1))
    }.distinct
    probes.foreach { case (c, p) =>
      val in = ivRows.exists { case (ic, s, e) => ic == c && p >= s && p <= e }
      val inM = merged.exists { case (ic, s, e) => ic == c && p >= s && p <= e }
      assert(in == inM, s"coverage drifted at ($c, $p): raw=$in merged=$inM")
    }
  }

  test("mergeIntervals: NULL-bound intervals are dropped, not merged into (ADVICE r16)") {
    val ivs = Seq[(String, java.lang.Long, java.lang.Long)](
      ("1", 10L, 100L), ("1", null, 500L),   // NULL start: must not seed a group
      ("1", 200L, null),                     // NULL stop: must not feed prevMax
      ("1", 150L, 180L), ("2", null, null))
      .toDF("chr", "s", "e")
    val merged = RangeJoin.mergeIntervals(ivs, Seq("chr"), "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // exactly the non-NULL intervals, unmerged (they are disjoint)
    assert(merged === Set(("1", 10L, 100L), ("1", 150L, 180L)),
      s"NULL-bound interval leaked into the merge: $merged")
  }

  test("numAlleleRecomputed equals the per-site allele counts computed in Scala") {
    val rows = (0 until 600).map { i =>
      val site = rnd.nextInt(60)
      (i.toLong, (site % 5).toLong, s"chr${site % 7}", (site * 13).toLong,
        // ~1/3 out of scope (percent 0), ref=Y sprinkled on BOTH scopes
        // (an out-of-scope Y must not bump the site count)
        if (rnd.nextInt(3) == 0) 0 else 1 + rnd.nextInt(99),
        if (rnd.nextInt(4) == 0) "Y" else "N")
    }
    // NumAllelesFixUp over the percent > 0 scope: the site's in-scope
    // row count, plus one if any in-scope row there saw the ref allele
    val inScope = rows.filter(_._5 > 0).groupBy(r => (r._2, r._3, r._4))
    val want = rows.map { r =>
      r._1 -> (if (r._5 <= 0) None else {
        val site = inScope((r._2, r._3, r._4))
        Some(site.size + (if (site.exists(_._6 == "Y")) 1 else 0))
      })
    }.toMap
    val got = rows.toDF("vid", "sample_id", "chromosome", "start_pos",
        "zygosity_percent_read", "zygosity_ref_allele")
      .select(col("vid"), Fixup.numAlleleRecomputed.as("na"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[Integer](1)).map(_.intValue)).toMap
    assert(want.values.exists(_.exists(_ > 1)) && want.values.exists(_.isEmpty))
    assert(got == want)
  }

  test("genicStatusDrift equals the aggregate form (overlapping/nested genes)") {
    val genes = (randomIntervals(60, 1500000L) ++
      Seq(("1", 0L, 300000L), ("1", 100000L, 400000L), // chained overlaps
        ("1", 150000L, 160000L)))                      // nested
      .zipWithIndex
      .map { case ((c, s, e), i) => (i.toLong, c, s, e) }
      .toDF("gene_id", "g_chr", "g_start", "g_stop")
    val variants = (0 until 800).map { i =>
      (i.toLong, Seq("1", "2", "X")(rnd.nextInt(3)),
        rnd.nextLong().abs % 1700000L,
        if (rnd.nextBoolean()) "genic" else "intergenic")
    }.toDF("vid", "chromosome", "start_pos", "genic_status")

    val got = Fixup.genicStatusDrift(variants, genes)
      .select("vid", "chromosome", "start_pos", "genic_status",
        "recomputed", "drifted")

    // the aggregate form: every matching gene, then a per-vid max
    val hits = RangeJoin.pointInIntervalLeftOuter(
        variants.select(col("vid"), col("chromosome"), col("start_pos")),
        genes, Seq("chromosome"), Seq("g_chr"), "start_pos",
        "g_start", "g_stop", binSize = 100000L, broadcastIntervals = true)
      .groupBy(col("vid"))
      .agg(max(when(col("gene_id").isNotNull, 1).otherwise(0)).as("__hit"))
      .select(col("vid"),
        when(col("__hit") === 1, "genic").otherwise("intergenic").as("recomputed"))
    val want = variants.join(hits, "vid")
      .withColumn("drifted", !(col("genic_status") <=> col("recomputed")))
      .select("vid", "chromosome", "start_pos", "genic_status",
        "recomputed", "drifted")

    assert(got.count() === variants.count(), "must stay one row per variant")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "merged-interval drift disagrees with the aggregate form")
  }
}
