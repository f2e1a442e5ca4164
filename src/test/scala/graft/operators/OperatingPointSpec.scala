package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import scala.util.Random

/** Golden cases and a seeded property for [[OperatingPoint]]: the
  * top-k window, the recall@k numerators and the ladder choice that
  * q115/q117/q125/q126/q129/q130/q134/q135 share. The gates pin these
  * only as hashed values on one corpus; here the corner cases (ties,
  * empty sets, empty ladders) are stated directly. */
class OperatingPointSpec extends SparkSpec {
  import spark.implicits._

  private val FloorPct = 50
  private def ok = col("hits") * 100 >= col("n") * FloorPct

  private def ladder(rows: Seq[(Int, Long, Long)]): DataFrame =
    rows.toDF("rung", "n", "hits")

  private def chosen(rows: Seq[(Int, Long, Long)], fallback: Long, lowest: Boolean): Int = {
    val out = OperatingPoint.choose(ladder(rows), "rung", ok, fallback, lowest)
    assert(out.schema("rung").dataType == IntegerType, "the choice keeps the rung's type")
    val picked = out.as[Int].collect()
    assert(picked.length == 1, "the choice is a 1-row frame")
    picked.head
  }

  test("choose: lowest and highest qualifying rung, else the fallback (also for an empty ladder)") {
    // rung 1 misses the floor (2/5), rungs 2 and 4 meet it; unsorted
    val rows = Seq((4, 5L, 5L), (1, 5L, 2L), (2, 5L, 3L))
    assert(chosen(rows, 9, lowest = true) == 2)
    assert(chosen(rows, 9, lowest = false) == 4)
    assert(chosen(Seq((1, 5L, 0L), (2, 5L, 2L)), 9, lowest = true) == 9)
    assert(chosen(Nil, 9, lowest = true) == 9)
    assert(chosen(Nil, 9, lowest = false) == 9)
  }

  test("choose equals the lowest (highest) passing rung of 200 seeded random ladders") {
    val rnd = new Random(7)
    for (i <- 0 until 200) {
      val rungs = rnd.shuffle((1 to 12).toList).take(rnd.nextInt(6))
      val rows = rungs.map { r =>
        val n = rnd.nextInt(10).toLong
        (r, n, rnd.nextInt(n.toInt + 1).toLong)
      }
      val lowest = i % 2 == 0
      val passing = rows.filter { case (_, n, h) => h * 100 >= n * FloorPct }.map(_._1)
      val expected =
        (if (lowest) passing.minOption else passing.maxOption).getOrElse(99)
      assert(chosen(rows, 99, lowest) == expected, s"ladder $rows lowest=$lowest")
    }
  }

  test("recall: hits count only approximate rows inside the exact set; no rows score 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("qid", "vec_id")
    // a: qid 1 finds 10 plus 99, which is not in the exact set; nothing for qid 2
    val a = Seq((1L, 10L), (1L, 99L)).toDF("qid", "vec_id")
    // b: two hits for qid 1, one hit plus one miss for qid 2
    val b = Seq((1L, 11L), (1L, 12L), (2L, 21L), (2L, 22L)).toDF("qid", "vec_id")
    val rec = OperatingPoint.recall(exact, "a_hits" -> a, "b_hits" -> b)
    assert(rec.columns.toSeq == Seq("qid", "n_exact", "a_hits", "b_hits"))
    assert(rec.schema.fields.drop(1).forall(_.dataType.typeName == "long"))
    val got = rec.orderBy("qid").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 2L), (2L, 2L, 0L, 1L)))
    // summed over the sample: one ladder row per rung
    val lad = OperatingPoint.recallLadder(exact, "rung", 1 -> a, 2 -> b)
    assert(lad.orderBy("rung").as[(Int, Long, Long)].collect().toSeq ==
      Seq((1, 5L, 1L), (2, 5L, 3L)))
    // an empty tuning sample measures nothing, so the choice falls back
    val none = OperatingPoint.recallLadder(exact.limit(0), "rung", 1 -> a, 2 -> b)
    assert(OperatingPoint.choose(none, "rung", ok, 9, lowest = true).as[Int].head() == 9)
  }

  test("topK: per-probe window keeps k rows, ties broken by the second order key") {
    val rows = Seq((1L, 5L, 10L), (1L, 3L, 10L), (1L, 4L, 9L), (1L, 1L, 7L), (2L, 8L, 1L))
      .toDF("qid", "vec_id", "score")
    val top = OperatingPoint.topK(rows, 2, col("score").desc, col("vec_id"))
    assert(top.schema("rn").dataType == IntegerType)
    val got = top.orderBy("qid", "rn").select("qid", "rn", "vec_id")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((1L, 1, 3L), (1L, 2, 5L), (2L, 1, 8L)))
  }
}
