package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.Random

/** The fix-up lifecycle ([[Fixup.run]]) and its jobs. The genic job
  * re-derives genic status by one map-side join against MERGED gene
  * intervals ([[RangeJoin.mergeIntervals]] under [[RangeJoin.covered]]),
  * not interval join -> per-vid aggregation -> join-back. These specs
  * pin (a) the merge's coverage-equivalence + disjointness on random
  * overlapping data, (b) the genic report's equivalence with the
  * aggregate form on fixtures that exercise nested, duplicated, and
  * chained-overlap coverage, and (c) the lifecycle on random tables:
  * drift counts, convergence after the ordered fix, and a clean re-run. */
class FixupDriftSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7)
  private lazy val tmp = java.nio.file.Files.createTempDirectory("fixup").toString

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

  test("the genic job's report equals the aggregate form (overlapping/nested genes)") {
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

    val got = Fixup.run(variants, s"$tmp/genic", Seq(Fixup.genicStatus(genes)))
      .filter(col("check_name") === "genic_status")

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
      .groupBy(lit("genic_status").as("check_name"),
        (!(col("genic_status") <=> col("recomputed"))).as("drifted"),
        col("genic_status").as("stored"), col("recomputed"))
      .agg(count(lit(1)).as("n"), sum(col("vid")).as("sum_vid"))

    assert(got.agg(sum("n")).head().getLong(0) === variants.count(),
      "must count every variant once")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "merged-interval drift disagrees with the aggregate form")
  }

  test("lifecycle property: drift counts match Scala, the fix converges, a re-run finds no drift") {
    val genes = Seq(("1", 50L, 150L), ("1", 140L, 300L), ("2", 1000L, 6000L))
      .toDF("g_chr", "g_start", "g_stop")
    def covered(c: Option[String], p: Option[Long]) = (c, p) match {
      case (Some(c), Some(p)) => Seq(("1", 50L, 150L), ("1", 140L, 300L), ("2", 1000L, 6000L))
        .exists { case (gc, s, e) => gc == c && s <= p && p <= e }
      case _ => false
    }
    // NULL in every stored column; percents on both sides of 0, so the
    // percent fix moves rows into and out of the num-allele scope
    def pick[T](xs: T*): Option[T] = if (rnd.nextInt(8) == 0) None else Some(xs(rnd.nextInt(xs.size)))
    def pct(): Option[Int] = pick(-5, 0, 0, 1 + rnd.nextInt(100), 1 + rnd.nextInt(100))
    val schema = StructType.fromDDL("vid BIGINT, sample_id BIGINT, chromosome STRING, " +
      "start_pos BIGINT, genic_status STRING, variant_type STRING, var_freq INT, " +
      "zygosity_percent_read INT, zygosity_status STRING, zygosity_num_allele INT, " +
      "zygosity_ref_allele STRING")
    for (round <- 0 until 3) {
      val rows: Seq[Row] = (0 until 300).map { i =>
        new GenericRowWithSchema(Array(i.toLong, pick(1L, 2L).map(Long.box).orNull, pick("1", "2").orNull,
          pick(100L, 145L, 200L, 400L, 5000L).map(Long.box).orNull,
          pick("genic", "intergenic").orNull, pick("snv", "snv", "ins").orNull,
          pct().map(Int.box).orNull, pct().map(Int.box).orNull,
          pick("Homozygous", "Heterozygous").orNull,
          pick(1, 2, 3).map(Int.box).orNull, pick("Y", "N").orNull), schema)
      }
      val stored = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

      // the three jobs' scopes and drift, computed row by row in Scala
      def get[T](r: Row, c: String): Option[T] = Option(r.getAs[Any](c)).map(_.asInstanceOf[T])
      def zygScope(r: Row) = get[String](r, "variant_type").contains("snv") &&
        get[Int](r, "zygosity_percent_read") != get[Int](r, "var_freq")
      def naScope(r: Row) = get[Int](r, "zygosity_percent_read").exists(_ > 0)
      val sites = rows.filter(naScope).groupBy(r =>
        (get[Long](r, "sample_id"), get[String](r, "chromosome"), get[Long](r, "start_pos")))
      def naTruth(r: Row) = {
        val site = sites((get[Long](r, "sample_id"), get[String](r, "chromosome"),
          get[Long](r, "start_pos")))
        site.size + (if (site.exists(x => get[String](x, "zygosity_ref_allele").contains("Y"))) 1 else 0)
      }
      val want = Map(
        "genic_status" -> (rows.size, rows.count { r =>
          !get[String](r, "genic_status").contains(
            if (covered(get[String](r, "chromosome"), get[Long](r, "start_pos"))) "genic"
            else "intergenic") }),
        "num_allele" -> (rows.count(naScope), rows.filter(naScope).count(r =>
          !get[Int](r, "zygosity_num_allele").contains(naTruth(r)))),
        "zygosity_perc_read" -> (rows.count(zygScope), rows.count(zygScope)))
      // non-vacuous: rows on both sides of each scope, drift and no
      // drift, and the percent fix moving rows across the num-allele scope
      def crosses(in: Boolean) = rows.exists(r => zygScope(r) && naScope(r) != in &&
        get[Int](r, "var_freq").exists(_ > 0) == in)
      assert(want.values.forall { case (n, d) => d > 0 } &&
        rows.exists(r => !naScope(r)) && rows.exists(r => !zygScope(r)) &&
        want("num_allele")._2 < want("num_allele")._1 && crosses(true) && crosses(false))

      val path = s"$tmp/property$round"
      val jobs = Fixup.siteJobs(genes)
      val report = Fixup.run(stored, path, jobs).collect()
      val got = jobs.map(_.check).map { c =>
        val rs = report.filter(_.getString(0) == c)
        c -> (rs.map(_.getLong(4)).sum, rs.filter(_.getBoolean(1)).map(_.getLong(4)).sum)
      }.toMap
      assert(got == want, s"round $round: report (rows, drifted) per check")
      val after = report.filter(_.getString(0).endsWith(":after_fix"))
      assert(after.length == jobs.size && after.forall(_.getLong(4) == 0L),
        s"round $round: drift left after the fix: ${after.mkString("; ")}")
      val rerun = Fixup.run(spark.read.parquet(s"$path-fixed"), s"$path-rerun", jobs)
      assert(rerun.filter(col("drifted")).isEmpty, s"round $round: a re-run found drift")
    }
  }
}
