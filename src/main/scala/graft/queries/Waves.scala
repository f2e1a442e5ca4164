package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The planted ingest waves of the index gates (q99–q138), each
  * stratum declared once as data. A stratum is the source rows whose
  * id has `id % m = r`, re-keyed by `+ shift`, with their `text`
  * rewritten by a content rule. Every index gate replays the
  * reference's verify-before-insert load
  * (`VariantLoad3.saveVariants:479-589`): a wave is checked against the
  * committed store and only its novel rows commit, so each stratum is
  * planted to be rejected or accepted. One declaration gives the
  * engine's wave rows ([[Stratum.rows]]), their oracle SELECT
  * ([[Stratum.sql]]) and the id frame an in-gate fate check reads
  * ([[Stratum.ids]], run by [[requireFates]]). */
object Waves {

  /** A rewrite of a stratum's `text` with its SQL twin, in the dialect
    * Spark SQL and DuckDB share. Each is NULL on a NULL text. */
  sealed abstract class Content(val col: Column => Column, val sql: String => String)
  case object Same extends Content(identity, identity)
  case object Reversed extends Content(reverse, t => s"reverse($t)")
  case object Upper extends Content(upper, t => s"upper($t)")
  /** The text followed by its upper case. The twin keeps `||`, which is
    * NULL on a NULL text like Spark's `concat`; DuckDB's `concat` would
    * skip the NULL. */
  case object TextUpper extends Content(t => concat(t, upper(t)), t => s"$t || upper($t)")

  final case class Stratum(id: String, m: Int, r: Int, shift: Long, content: Content = Same) {
    /** True on the source rows the stratum re-keys. */
    def member(c: Column): Column = c % m === r
    def memberSql(c: String): String = s"$c % $m = $r"

    /** The stratum's rows of `src` (`id`, …, [`text`]). */
    def rows(src: DataFrame): DataFrame = {
      val w = src.filter(member(col(id))).withColumn(id, col(id) + shift)
      if (content == Same) w else w.withColumn("text", content.col(col("text")))
    }

    /** Twin of [[rows]]: the SELECT of `cols` (the id first) from `src`. */
    def sql(src: String, cols: Seq[String]): String = {
      val out = cols.tail.map(c => if (c == "text") s"${content.sql(c)} AS $c" else c)
      s"SELECT ${(s"$id + $shift AS $id" +: out).mkString(", ")} FROM $src WHERE ${memberSql(id)}"
    }

    /** The ids [[rows]] gives, as the one column `id`. */
    def ids(src: DataFrame): DataFrame =
      src.filter(member(col(id))).select((col(id) + shift).as(id))
  }

  /** A wave: its strata's rows of `src`, unioned in order. */
  def wave(src: DataFrame, strata: Seq[Stratum]): DataFrame =
    strata.map(_.rows(src)).reduce(_ unionByName _)

  /** Twin of [[wave]] over the relation `src` of `cols`. */
  def waveSql(src: String, cols: Seq[String], strata: Seq[Stratum]): String =
    strata.map(_.sql(src, cols)).mkString("\n  UNION ALL\n  ")

  /** What an in-gate check requires of a stratum in a wave's accept set. */
  sealed trait Fate
  /** No row of the stratum is accepted. */
  case object AllRejected extends Fate
  /** The accept set is not empty. Checked after the wave's other
    * strata are shown all rejected, so its rows are this stratum's:
    * the accept path is alive. */
  case object SomeAccepted extends Fate
  /** The stratum is not empty and every row of it is accepted. */
  case object AllAccepted extends Fate

  /** Requires each `(stratum, fate, why)` of the accept set `acc` of a
    * wave over `src`, in order, one job per condition; `why` names the
    * fault a failed check shows. */
  def requireFates(acc: DataFrame, src: DataFrame)(checks: (Stratum, Fate, String)*): Unit =
    checks.foreach { case (s, fate, why) =>
      def accepted(ids: DataFrame) = acc.join(ids, Seq(s.id), "left_semi").count()
      fate match {
        case AllRejected => require(accepted(s.ids(src)) == 0L, why)
        case SomeAccepted => require(acc.count() > 0L, why)
        case AllAccepted =>
          val ids = s.ids(src).localCheckpoint(true) // count + semi-join
          val n = ids.count()
          require(n > 0L, s"empty stratum, so the check is vacuous: $why")
          val nAcc = accepted(ids)
          require(nAcc == n, s"only $nAcc of $n accepted: $why")
      }
    }

  // ---- the MinHash index gates (q99/q109/q110/q112/q138), over the
  // doc_id % 4 corpus (`QueriesLlm.dedupCorpus`, the `corpus` CTE)
  val DocCols = Seq("doc_id", "lang", "text")
  /** Exact copies of indexed docs: rejected. */
  val Copies = Stratum("doc_id", 20, 0, 200000L)
  /** Reversed-text decoys: their shingle sets differ, so they are
    * accepted; band collisions, if any, die in the verify. */
  val Decoys = Stratum("doc_id", 20, 4, 300000L, Reversed)
  /** The decoy texts again under new ids. After [[Decoys]] committed
    * (q109/q110 wave 2) each is rejected, by its epoch-1 twin or by
    * whatever matched the twin; against the seed alone (q138) they are
    * accepted. */
  val DecoysAgain = Stratum("doc_id", 20, 4, 400000L, Reversed)
  /** Fresh decoys: accepted. */
  val NewDecoys = Stratum("doc_id", 20, 8, 500000L, Reversed)
  /** q99's wave and wave 1 of q109/q110. */
  val EpochWave1 = Seq(Copies, Decoys)
  val EpochWave2 = Seq(DecoysAgain, NewDecoys)
  /** q112: copies of the docs it retracts (its members), accepted once
    * they are gone, and copies of retained docs, still rejected. */
  val RetractedCopies = Stratum("doc_id", 40, 0, 600000L)
  val RetainedCopies = Stratum("doc_id", 40, 20, 700000L)

  // ---- the semantic index gates (q120/q122/q123/q124/q128/q132), over
  // the vector rows (`eall` CTE); the seed is the vec_id % 2 = 0 half
  val VecCols = Seq("vec_id", "v", "qv")
  /** Vectors outside the seed: accepted unless an indexed near-dup
    * covers them (wave 1; q128's wave 1). */
  val NewVecs = Stratum("vec_id", 20, 1, 100000L)
  /** Exact copies of seeded vectors: rejected. */
  val VecCopies = Stratum("vec_id", 10, 0, 200000L)
  /** More vectors outside the seed (wave 2; q128's wave 3). */
  val NewVecs2 = Stratum("vec_id", 20, 11, 300000L)
  /** [[NewVecs]] again: rejected only if epoch 1 committed. */
  val NewVecsAgain = Stratum("vec_id", 20, 1, 400000L)
  val SemWave1 = Seq(NewVecs, VecCopies)
  val SemWave2 = Seq(NewVecs2, NewVecsAgain)
  /** q123: copies of the vectors it retracts (its members), judged
    * against retained neighbours only, and copies of retained ones,
    * still rejected. */
  val RetractedVecCopies = Stratum("vec_id", 8, 0, 600000L)
  val RetainedVecCopies = Stratum("vec_id", 8, 4, 700000L)

  // ---- the multimodal index gates (q133/q136), over the documents as
  // `(vec_id, text)` rows (`dsrc` CTE); every document is seeded
  val TextCols = Seq("vec_id", "text")
  /** Exact byte copies: rejected. */
  val ByteCopies = Stratum("vec_id", 5, 0, 100000L)
  /** Case-flipped content, a new byte distribution: accepted. */
  val Flipped = Stratum("vec_id", 5, 1, 200000L, Upper)
  /** [[Flipped]] again: rejected once epoch 1 is visible (q133). */
  val FlippedAgain = Stratum("vec_id", 5, 1, 300000L, Upper)
  /** Mixed-case concatenations: accepted (q133). */
  val Mixed = Stratum("vec_id", 5, 2, 400000L, TextUpper)
  val MmWave1 = Seq(ByteCopies, Flipped)
  /** q136's probe wave: copies of retained seeds, still rejected, and
    * copies of the retracted epoch-1 content, all accepted again. */
  val SeedCopies = Stratum("vec_id", 4, 2, 400000L)
  val FlippedRetracted = Stratum("vec_id", 5, 1, 500000L, Upper)
}
