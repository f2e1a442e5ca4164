package graft.operators

import graft.SparkSpec
import graft.functions.MinhashPipeline
import graft.functions.DedupConfig.JaccThreshold
import org.apache.spark.sql.functions._

/** The shared near-duplicate pair path against a brute-force Jaccard
  * model: the exact-text class collapse ([[SetSimJoin.textClasses]]),
  * the sorted-list verify ([[MinhashPipeline.verifyPairs]]) and the
  * class re-expansion ([[SetSimJoin.expandClassPairs]]), composed the
  * way the class-blocked gates compose them, must report every
  * unordered doc pair whose floor(1000·J) reaches JaccThreshold exactly
  * once, with that value.
  *
  * Seeded random corpora over a small element universe (so near-dups
  * are common) carry copy families, equal sets under different texts
  * (cross-class J=1000 through the verify, not the within-class
  * expansion), one empty-set copy family (the within-class guard; the
  * signing steps drop empty sets before any verify, so two distinct
  * empty texts never reach it) and a planted pair at exactly the
  * size-ratio boundary (|A|=7 ⊂ |B|=10, J = 700). */
class ClassPairVerifySpec extends SparkSpec {
  import spark.implicits._

  /** Doc texts: `v<variant>:<sorted elements>` — the variant gives the
    * same set under different texts. */
  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def text(set: Set[Int], variant: Int) =
      s"v$variant:" + set.toSeq.sorted.mkString(",")
    val sets = (0 until 14).map(_ => (0 until 12).filter(_ => rnd.nextInt(3) > 0).toSet)
    val texts = sets.flatMap { s =>
      (0 until 1 + rnd.nextInt(2)).map(v => text(s, v)) // 1-2 texts per set
    } ++ Seq(text((0 until 7).toSet, 0), text((0 until 10).toSet, 0))
    val docs = texts.flatMap(t => Seq.fill(1 + rnd.nextInt(3))(t)) ++ // copy families
      Seq.fill(3)(text(Set.empty, 0))
    rnd.shuffle(docs).zipWithIndex.map { case (t, i) => (i.toLong * 3 + 1, t) }
  }

  private def elems(t: String): Set[Int] =
    t.split(":", 2)(1).split(",").filter(_.nonEmpty).map(_.toInt).toSet

  /** All unordered doc pairs at or above the threshold, by brute force. */
  private def model(docs: Seq[(Long, String)]): Seq[(Long, Long, Long)] =
    (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      union = (elems(ta) | elems(tb)).size if union > 0
      j = (elems(ta) & elems(tb)).size * 1000L / union if j >= JaccThreshold
    } yield (a, b, j)).sorted

  private def pipeline(docs: Seq[(Long, String)]): Seq[(Long, Long, Long)] = {
    val cls = SetSimJoin.textClasses(docs.toDF("doc_id", "text"))
    val reps = cls.select(col("rid").as("doc_id"), col("dids"),
        sort_array(transform(filter(split(substring_index(col("text"), ":", -1), ","),
          x => x =!= ""), x => x.cast("long"))).as("hl"))
      .withColumn("sz", size(col("hl")).cast("long"))
      .localCheckpoint(true)
    val cand = reps.as("a").join(reps.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"))
    val rpairs = MinhashPipeline.verifyPairs(cand, "ra", "rb", reps, reps)
    SetSimJoin.expandClassPairs(rpairs, reps,
        reps.filter(col("sz") >= 1 && size(col("dids")) >= 2), "doc_a", "doc_b")
      .as[(Long, Long, Long)].collect().toSeq.sorted
  }

  for (seed <- 1L to 5L) test(s"class-blocked sorted verify == brute-force Jaccard (seed $seed)") {
    val docs = corpus(seed)
    val want = model(docs)
    val got = pipeline(docs)
    assert(got == want,
      s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
    // non-vacuous: within-class and cross-class J=1000 pairs, and the
    // planted boundary pair at exactly the threshold
    val byText = docs.toMap
    assert(got.exists { case (a, b, j) => j == 1000 && byText(a) == byText(b) })
    assert(got.exists { case (a, b, j) => j == 1000 && byText(a) != byText(b) })
    assert(got.exists { case (a, b, j) =>
      j == JaccThreshold && Set(byText(a), byText(b)) ==
        Set("v0:0,1,2,3,4,5,6", "v0:0,1,2,3,4,5,6,7,8,9") })
  }
}
