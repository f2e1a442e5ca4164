package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)

  private def randomData(nPoints: Int, nIntervals: Int, span: Long) = {
    val chrs = Seq("1", "2", "X")
    val points = (0 until nPoints).map { i =>
      (i.toLong, chrs(rnd.nextInt(3)), rnd.nextLong().abs % span)
    }
    val intervals = (0 until nIntervals).map { i =>
      val s = rnd.nextLong().abs % span
      (i.toLong, chrs(rnd.nextInt(3)), s, s + rnd.nextInt(200000))
    }
    (points, intervals)
  }

  test("binned point-in-interval join equals brute-force scan (random data)") {
    val (pts, ivs) = randomData(500, 80, 3000000L)
    val p = pts.toDF("pid", "chr", "pos")
    val iv = ivs.toDF("iid", "ichr", "istart", "istop")
    val got = RangeJoin.pointInInterval(p, iv, Seq("chr"), Seq("ichr"),
        "pos", "istart", "istop", binSize = 100000L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      (pid, pchr, pos) <- pts
      (iid, ichr, s, e) <- ivs
      if pchr == ichr && pos >= s && pos <= e
    } yield (pid, iid)).toSet
    assert(got == expect)
    assert(expect.nonEmpty, "fixture should produce at least one overlap")
  }

  test("left-outer variant keeps every point exactly once when unmatched") {
    val (pts, ivs) = randomData(300, 40, 3000000L)
    val p = pts.toDF("pid", "chr", "pos")
    val iv = ivs.toDF("iid", "ichr", "istart", "istop")
    val joined = RangeJoin.pointInIntervalLeftOuter(p, iv, Seq("chr"), Seq("ichr"),
      "pos", "istart", "istop", binSize = 100000L)
    val matchedBrute = (for {
      (pid, pchr, pos) <- pts
      (iid, ichr, s, e) <- ivs
      if pchr == ichr && pos >= s && pos <= e
    } yield (pid, iid)).toSet
    val rows = joined.select($"pid", $"iid").collect()
    val gotMatched = rows.filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotMatched == matchedBrute)
    // every unmatched point appears exactly once with null interval
    val unmatchedPids = pts.map(_._1).toSet -- matchedBrute.map(_._1)
    val gotUnmatched = rows.filter(_.isNullAt(1)).map(_.getLong(0))
    assert(gotUnmatched.toSet == unmatchedPids)
    assert(gotUnmatched.length == unmatchedPids.size, "no duplicate null rows")
  }

  test("covered flags every point once, as the brute-force existence test") {
    val (pts0, ivs0) = randomData(500, 80, 3000000L)
    val pts: Seq[(Long, String, java.lang.Long)] = pts0.map { case (i, c, pos) => (i, c, Long.box(pos)) } ++
      Seq((1000L, null, 150L), (1001L, "1", null), (1002L, null, null), // NULL chr/pos
        (1003L, "1", 10L), (1004L, "1", 20L), (1005L, "1", 30L), (1006L, "1", 31L))
    val ivs: Seq[(Long, String, java.lang.Long, java.lang.Long)] = ivs0.map { case (i, c, s, e) => (i, c, Long.box(s), Long.box(e)) } ++
      Seq((100L, "1", 10L, 30L), (101L, "1", 10L, 30L), // duplicates
        (102L, "1", 15L, 20L),                           // nested
        (103L, "1", null, 5000000L), (104L, "1", 0L, null), (105L, null, 0L, 9000000L))
    val got = RangeJoin.covered(pts.toDF("pid", "chr", "pos"),
        ivs.toDF("iid", "ichr", "istart", "istop"), Seq("chr"), Seq("ichr"),
        "pos", "istart", "istop")
      .select("pid", "covered").collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    val expect = pts.map { case (pid, pchr, pos) =>
      pid -> ivs.exists { case (_, ichr, s, e) =>
        pchr != null && pos != null && ichr == pchr && s != null && e != null &&
          pos >= s && pos <= e
      }
    }
    assert(got.sortBy(_._1) == expect.sortBy(_._1)) // every point once, flag exact
    assert(expect.exists(_._2) && expect.exists(!_._2))
    assert(Seq(1000L, 1001L, 1002L, 1006L).forall(p => !expect.toMap.apply(p)))
  }

  test("interval-overlap join emits each overlapping pair exactly once") {
    val left = (0 until 120).map { i =>
      val s = rnd.nextLong().abs % 2000000L
      (i.toLong, "1", s, s + rnd.nextInt(300000))
    }
    val right = (0 until 120).map { i =>
      val s = rnd.nextLong().abs % 2000000L
      (i.toLong, "1", s, s + rnd.nextInt(300000))
    }
    val l = left.toDF("lid", "lchr", "ls", "le")
    val r = right.toDF("rid", "rchr", "rs", "re")
    val got = RangeJoin.intervalOverlap(l, r, Seq("lchr"), Seq("rchr"),
        "ls", "le", "rs", "re", binSize = 100000L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
    val expect = (for {
      (lid, _, ls, le) <- left
      (rid, _, rs, re) <- right
      if ls <= re && le >= rs
    } yield (lid, rid))
    assert(got.sorted.toSeq == expect.sorted.toSeq) // exact multiset: no dup emissions
  }
}
