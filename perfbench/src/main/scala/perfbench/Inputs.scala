package perfbench

import java.io.{File, PrintWriter}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Every file the engine reads is written here
  * from the seed alone; the engine sees only the files. Each generator
  * also returns the counts a correct loader must reproduce, computed
  * while the file is written (no engine code involved). */
object Inputs {

  /** Rat chromosomes with their lengths in Mbp (rn7). */
  val Chromosomes: Seq[(String, Double)] = Seq(
    "1" -> 260.5, "2" -> 249.1, "3" -> 169.0, "4" -> 182.7, "5" -> 166.9,
    "6" -> 140.7, "7" -> 135.0, "8" -> 123.9, "9" -> 114.2, "10" -> 107.2,
    "11" -> 86.2, "12" -> 46.7, "13" -> 106.8, "14" -> 104.9, "15" -> 101.4,
    "16" -> 84.7, "17" -> 86.5, "18" -> 83.8, "19" -> 57.3, "20" -> 54.4,
    "X" -> 152.5, "Y" -> 18.3)

  val FreshStrains: Seq[String] =
    Seq("BN", "SHR", "WKY", "F344", "LEW", "SD", "WI", "DA", "FHH")
  val RewaveStrains: Seq[String] =
    Seq("ACI", "BBDP", "COP", "GK", "LE", "LH", "LN", "MHS", "MNS")

  /** Sample gender by strain position (odd positions are male). */
  def gender(strains: Seq[String]): Map[String, String] =
    strains.zipWithIndex.map { case (s, i) => s -> (if (i % 2 == 1) "M" else "F") }.toMap

  private val Bases = "ACGT"

  private def writer(f: File)(body: PrintWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 16))
    try body(w) finally w.close()
  }

  // ------------------------------------------------------------ genome

  /** The genome: one random sequence per chromosome, `basesPerMbp`
    * bases per Mbp of the real chromosome. */
  final case class Genome(seqs: Map[String, String]) {
    def lengthOf(chr: String): Int = seqs(chr).length
    def total: Long = seqs.values.map(_.length.toLong).sum
  }

  def genome(seed: Long, basesPerMbp: Int): Genome = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    Genome(Chromosomes.map { case (c, mbp) =>
      val n = math.round(mbp * basesPerMbp).toInt
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb.append(Bases.charAt(rnd.nextInt(4))); i += 1 }
      c -> sb.toString
    }.toMap)
  }

  /** FASTA, 60 bases a line, chromosomes in karyotype order. */
  def writeFasta(g: Genome, f: File): Unit = writer(f) { w =>
    Chromosomes.foreach { case (c, _) =>
      w.println(">" + c)
      g.seqs(c).grouped(60).foreach(w.println)
    }
  }

  // ------------------------------------------------------- transcripts

  final case class Exon(tid: Int, idx: Int, chr: String, start: Long, stop: Long)
  final case class Transcript(tid: Int, chr: String, strand: String,
                              start: Long, stop: Long, exons: Seq[Exon])

  /** Transcripts tiled along each chromosome: spans of 2-6 kb separated
    * by gaps of 1-11 kb (about 40 % of the genome is transcribed), each
    * with 4-5 coding exons of 60-150 bp (about 5 % of the genome). */
  def transcripts(seed: Long, g: Genome): Seq[Transcript] = {
    val rnd = new SplittableRandom(seed * 31 + 11)
    val out = mutable.ArrayBuffer.empty[Transcript]
    var tid = 0
    Chromosomes.foreach { case (c, _) =>
      val len = g.lengthOf(c)
      var pos = 1L + 1000 + rnd.nextInt(10000)
      var txLen = 2000 + rnd.nextInt(4000)
      while (pos + txLen < len - 10) {
        tid += 1
        val nEx = 4 + rnd.nextInt(2)
        val seg = txLen / nEx
        val exons = (0 until nEx).map { i =>
          val eLen = 60 + rnd.nextInt(91)
          val s = pos + i.toLong * seg + rnd.nextInt(seg - eLen)
          Exon(tid, i, c, s, s + eLen - 1)
        }
        out += Transcript(tid, c, if (rnd.nextBoolean()) "+" else "-",
          pos, pos + txLen - 1, exons)
        pos += txLen + 1000 + rnd.nextInt(10000)
        txLen = 2000 + rnd.nextInt(4000)
      }
    }
    out.toSeq
  }

  def writeTranscripts(ts: Seq[Transcript], txFile: File, exFile: File): Unit = {
    writer(txFile) { w =>
      ts.foreach(t => w.println(Seq(t.tid, t.chr, t.strand, t.start, t.stop).mkString("\t")))
    }
    writer(exFile) { w =>
      for (t <- ts; e <- t.exons)
        w.println(Seq(e.tid, e.idx, e.chr, e.start, e.stop).mkString("\t"))
    }
  }

  // --------------------------------------------------------------- VCF

  /** One VCF site: position plus REF/ALT alleles as written. */
  final case class Site(chr: String, pos: Long, ref: String, alts: Seq[String])

  /** What a correct converter and loader must report for one VCF. */
  final case class VcfExpect(genotypeRows: Long, homRef: Long,
                             missing: Long, alleleRows: Long,
                             possibleError: Long, cf2Rows: Long,
                             keys: Set[String])

  /** Sites spread over the chromosomes in proportion to their length:
    * 70 % SNV, 10 % two-allele SNV, 10 % deletion, 10 % insertion. */
  def sites(seed: Long, g: Genome, n: Int): Seq[Site] = {
    val rnd = new SplittableRandom(seed * 31 + 13)
    val total = g.total.toDouble
    Chromosomes.flatMap { case (c, _) =>
      val seq = g.seqs(c)
      val k = math.round(n.toDouble * seq.length / total).toInt
      val ps = Array.fill(k)(2L + rnd.nextInt(seq.length - 8)).distinct.sorted
      ps.toSeq.map(p => site(rnd, seq, c, p))
    }
  }

  private def otherBase(rnd: SplittableRandom, b: Char, not: Char = ' '): String = {
    var x = b
    while (x == b || x == not) x = Bases.charAt(rnd.nextInt(4))
    x.toString
  }

  private def site(rnd: SplittableRandom, seq: String, c: String, p: Long): Site = {
    val b = seq.charAt((p - 1).toInt)
    val r = rnd.nextDouble()
    if (r < 0.70) Site(c, p, b.toString, Seq(otherBase(rnd, b)))
    else if (r < 0.80) {
      val a1 = otherBase(rnd, b)
      Site(c, p, b.toString, Seq(a1, otherBase(rnd, b, a1.charAt(0))))
    } else if (r < 0.90) {
      val k = 1 + rnd.nextInt(3)
      Site(c, p, seq.substring((p - 1).toInt, (p + k).toInt), Seq(b.toString))
    } else {
      val ins = (0 until 1 + rnd.nextInt(3)).map(_ => Bases.charAt(rnd.nextInt(4))).mkString
      Site(c, p, b.toString, Seq(b.toString + ins))
    }
  }

  /** The re-wave's sites: `n` lines, `shared` of them drawn from the
    * first wave's sites (so their keys mostly exist), the rest new. */
  def rewaveSites(seed: Long, g: Genome, first: Seq[Site], n: Int,
                  shared: Double): Seq[Site] = {
    val rnd = new SplittableRandom(seed * 31 + 17)
    val nShared = math.round(n * shared).toInt
    val old = first.map(s => (s.chr, s.pos)).toSet
    val picked = rnd.ints(0, first.size).distinct().limit(nShared.toLong).toArray
      .map(first(_)).toSeq
    val fresh = sites(seed * 7 + 3, g, (n - nShared) * 2)
      .filterNot(s => old.contains((s.chr, s.pos)))
    val fr = fresh.zip(rnd.doubles(fresh.size).toArray)
      .sortBy(_._2).take(n - nShared).map(_._1)
    val order = Chromosomes.map(_._1).zipWithIndex.toMap
    (picked ++ fr).sortBy(s => (order(s.chr), s.pos))
  }

  /** Key of one converted allele after the indel adjustment: the shared
    * padding base is dropped and the position moves past it. */
  def keyOf(s: Site, alt: String): String = {
    val snv = s.ref.length == 1 && alt.length == 1
    val shared = !snv && s.ref.charAt(0) == alt.charAt(0)
    if (shared) s"${s.chr}|${s.pos + 1}|${s.ref.substring(1)}|${alt.substring(1)}"
    else s"${s.chr}|${s.pos}|${s.ref}|$alt"
  }

  /** Write a multi-sample VCF (FORMAT GT:AD:DP). About 30 % of
    * genotypes are hom-ref or missing; het allele fractions spread down
    * to 5 %, so the possible-error rule (<= 15 % of reads) rejects some
    * calls. */
  def writeVcf(seed: Long, ss: Seq[Site], strains: Seq[String], f: File): VcfExpect = {
    val rnd = new SplittableRandom(seed * 31 + 19)
    var homRef, missing, alleleRows, possErr = 0L
    val keys = mutable.HashSet.empty[String]
    writer(f) { w =>
      w.println("##fileformat=VCFv4.2")
      w.println("##source=perfbench")
      w.println("##FORMAT=<ID=GT,Number=1,Type=String>")
      w.println("##FORMAT=<ID=AD,Number=R,Type=Integer>")
      w.println("##FORMAT=<ID=DP,Number=1,Type=Integer>")
      w.println((Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
        "INFO", "FORMAT") ++ strains).mkString("\t"))
      ss.foreach { s =>
        val nAlt = s.alts.size
        val sb = new StringBuilder
        sb.append(s.chr).append('\t').append(s.pos).append("\trs").append(s.pos * 31 % 9999991)
          .append('\t').append(s.ref).append('\t').append(s.alts.mkString(","))
          .append('\t').append(20 + rnd.nextInt(40)).append("\tPASS\tDP=")
          .append(100 + rnd.nextInt(300)).append("\tGT:AD:DP")
        strains.foreach { _ =>
          sb.append('\t')
          val r = rnd.nextDouble()
          val dp = 8 + rnd.nextInt(50)
          if (r < 0.15) {
            homRef += 1
            sb.append("0/0:").append(dp).append(",0" * nAlt).append(':').append(dp)
          } else if (r < 0.30) {
            missing += 1
            sb.append("./.:.:.")
          } else {
            val (g1, g2) =
              if (nAlt == 1) (if (rnd.nextDouble() < 0.55) (0, 1) else (1, 1))
              else Seq((0, 1), (1, 1), (0, 2), (2, 2), (1, 2))(rnd.nextInt(5))
            val ad = Array.fill(nAlt + 1)(0)
            if (g1 == g2) {
              ad(g1) = dp - rnd.nextInt(2); ad(0) = dp - ad(g1)
            } else if (g1 == 0) {
              ad(g2) = math.round(dp * (0.05 + 0.7 * rnd.nextDouble())).toInt
              ad(0) = dp - ad(g2)
            } else {
              ad(g1) = math.round(dp * (0.2 + 0.4 * rnd.nextDouble())).toInt
              ad(g2) = dp - ad(g1)
            }
            sb.append(g1).append('/').append(g2).append(':').append(ad.mkString(","))
              .append(':').append(dp)
            Seq(g1, g2).filter(_ > 0).distinct.foreach { a =>
              alleleRows += 1
              if (ad(a).toDouble * 100.0 / dp.toDouble <= 15) possErr += 1
              else keys += keyOf(s, s.alts(a - 1))
            }
          }
        }
        w.println(sb.toString)
      }
    }
    val gRows = ss.size.toLong * strains.size
    VcfExpect(gRows, homRef, missing, alleleRows, possErr,
      alleleRows - possErr, keys.toSet)
  }
}
