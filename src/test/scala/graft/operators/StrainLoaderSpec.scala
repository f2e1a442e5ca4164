package graft.operators

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.sources.Jdbc
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The strain loader end to end on hand-sized files: a fresh wave, then
  * a re-wave whose VCF shares some keys with the first (the upsert path
  * no catalog query runs). Expected counts and keys come from the
  * fixture lines by the converter's rules, written out here in Scala. */
class StrainLoaderSpec extends SparkSpec with BeforeAndAfterAll {
  import StrainLoaderSpec._

  private lazy val root: Path = Files.createTempDirectory("graft-strain-loader")
  private lazy val p = StrainLoader.Paths(root.toFile)

  private def write(root: Path, name: String, lines: Seq[String]): Unit = {
    val f = root.resolve(s"in/$name")
    Files.createDirectories(f.getParent)
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** The genome, transcripts and exons every pass under `root` reads,
    * then [[StrainLoader.setup]]. */
  private def setup(root: Path, p: StrainLoader.Paths): Unit = {
    write(root, "genome.fa", Seq(">1") ++ Seq.fill(3)("ACGTTGCAAC" * 6) ++ Seq(">2") ++
      Seq.fill(3)(Chr2.take(60)))
    write(root, "transcripts.tsv", Transcripts.map(_.productIterator.mkString("\t")))
    write(root, "exons.tsv", Exons.map(_.productIterator.mkString("\t")))
    StrainLoader.setup(spark, p)
  }

  /** One pass over `root/in/$wave.vcf`: its counters and its wave rows,
    * key -> (rgd_id, is_new, n_samples). */
  private def load(root: Path, p: StrainLoader.Paths, wave: String,
                   strains: Seq[(String, String)], rewave: Boolean) = {
    val out = StrainLoader.Out(root.resolve(s"out/$wave").toString)
    val c = StrainLoader.pass(spark, p.in(s"$wave.vcf"), out, p, strains.toMap, rewave)
      .counters()
    val rows = spark.read.parquet(out.wave).collect().map { r =>
      Seq("chromosome", "position", "ref_nuc", "var_nuc").map(k => String.valueOf(r.getAs[Any](k)))
        .mkString("|") -> (r.getAs[Long]("rgd_id"), r.getAs[Boolean]("is_new"),
          r.getAs[Long]("n_samples"))
    }.toMap
    (c, rows)
  }

  /** Both passes, run once: (counters, wave rows) per wave. */
  private lazy val run = {
    System.setProperty("derby.stream.error.file", root.resolve("derby.log").toString)
    write(root, "wave1.vcf", vcf(Wave1Strains, Wave1))
    write(root, "wave2.vcf", vcf(Wave2Strains, Wave2))
    setup(root, p)
    val w1 = load(root, p, "wave1", Wave1Strains, rewave = false)
    // the re-wave reads the store through a fresh catalog entry, as a
    // loader restarted over an existing store does
    StrainLoader.registerStore(spark, p)
    val w2 = load(root, p, "wave2", Wave2Strains, rewave = true)
    val derbyRows = StrainLoader.derbyCount(p)
    Jdbc.shutdownEmbeddedDerby(p.derby)
    (w1, w2, derbyRows)
  }

  test("a re-wave keeps matched ids, numbers new keys from max+1 in key order and MERGEs every key") {
    val ((_, rows1), (c2, rows2), derbyRows) = run
    val keys1 = expected(Wave1Strains, Wave1).keys
    val keys2 = expected(Wave2Strains, Wave2).keys
    assert(rows1.keySet == keys1 && rows2.keySet == keys2)
    // a fresh wave numbers its keys 1..n in key order
    assert(keys1.toSeq.sorted(KeyOrder).map(k => rows1(k)._1) == (1L to keys1.size))
    val matched = keys2.intersect(keys1)
    val fresh = (keys2 -- keys1).toSeq.sorted(KeyOrder)
    assert(matched.nonEmpty && fresh.nonEmpty)
    matched.foreach(k => assert(rows2(k)._1 == rows1(k)._1 && !rows2(k)._2, k))
    assert(fresh.map(k => rows2(k)._1) == (keys1.size + 1L to keys1.size + fresh.size.toLong))
    assert(fresh.forall(k => rows2(k)._2))
    assert(c2.maxSeedId == keys1.size)
    assert(derbyRows == (keys1 ++ keys2).size)
    assert(c2.mergeAffected == keys2.size)
  }

  test("every counter equals the count computed from the fixture lines") {
    val ((c1, _), (c2, _), _) = run
    assert(c1 == expected(Wave1Strains, Wave1).counters(maxSeedId = 0L, mergeAffected = -1L))
    val e1 = expected(Wave1Strains, Wave1).keys
    val e2 = expected(Wave2Strains, Wave2)
    assert(c2 == e2.counters(maxSeedId = e1.size.toLong, mergeAffected = e2.keys.size.toLong)
      .copy(newKeys = (e2.keys -- e1).size.toLong))
  }

  test("a line short of genotype cells counts them as short rejects and loads its other strains") {
    val ((c1, rows1), _, _) = run
    assert(c1.short == 2L)
    assert(c1.rowsIn == c1.homRef + c1.missing + c1.short + c1.called)
    // the short line's one present cell (S1, 0/1 at 50 %) is loaded
    assert(rows1("2|100|T|C")._3 == 1L)
    val vt = spark.read.parquet(root.resolve("out/wave1/variant_transcript").toString)
    assert(vt.filter(col("syn_status").isNotNull).count() > 0L)
  }

  test("a minus-strand SNV reads its codon off the reverse complement; a multi-base substitution gets no codon effect") {
    run
    val out = StrainLoader.Out(root.resolve("out/wave1").toString)
    val vt = spark.read.parquet(out.vt).filter(col("transcript_id") === 2)
      .join(spark.read.parquet(out.wave), "rgd_id")
      .select(concat_ws("|", col("chromosome"), col("position").cast("string"),
        col("ref_nuc"), col("var_nuc")).as("k"), col("aa_pos"), col("ref_aa"),
        col("var_aa"), col("syn_status"), col("frameshift"))
      .collect().map(r => r.getString(0) -> r).toMap
    // transcript 2 is read on '-' from exons 20-60 and 90-120 of chromosome 2
    val comp = Map('A' -> 'T', 'C' -> 'G', 'G' -> 'C', 'T' -> 'A')
    val coding = (Chr2.slice(19, 60) + Chr2.slice(89, 120)).reverse.map(comp)
    val rel2 = coding.length - (37 - 20)
    val aa = (rel2 + 2) / 3
    val refCodon = coding.slice(3 * aa - 3, 3 * aa)
    val varCodon = refCodon.updated(rel2 - 3 * aa + 2, comp('G'))
    val snv = vt("2|37|A|G")
    assert(snv.getAs[Long]("aa_pos") == aa)
    assert(snv.getAs[String]("ref_aa") == translate(refCodon))
    assert(snv.getAs[String]("var_aa") == translate(varCodon))
    assert(snv.getAs[String]("syn_status") ==
      (if (translate(refCodon) == translate(varCodon)) "synonymous" else "nonsynonymous"))
    val sub = vt("2|27|AC|GT")
    assert(Seq("ref_aa", "var_aa", "syn_status").forall(c => sub.getAs[String](c) == null))
    assert(sub.getAs[String]("frameshift") == "F")
  }

  test("genic status and exon rel_pos of every key, first and last bases included, follow the gene model") {
    run
    val out = StrainLoader.Out(root.resolve("out/wave1").toString)
    def key(r: org.apache.spark.sql.Row): (String, Long) =
      (r.getAs[String]("chromosome"), r.getAs[Number]("position").longValue)
    val wave = spark.read.parquet(out.wave)
    val genic = wave.join(spark.read.parquet(out.genic), "rgd_id").collect()
      .map(r => key(r) -> r.getAs[String]("genic_status")).toMap
    val hits = wave.join(spark.read.parquet(out.vt), "rgd_id").collect()
      .map(r => (key(r), r.getAs[Number]("transcript_id").intValue,
        r.getAs[Number]("rel_pos").longValue)).toSet
    val positions = Wave1Keys.map { k => val f = k.split("\\|", -1); (f(0), f(1).toLong) }
    // a transcript's or an exon's first and last base are inside it
    val bounds = (Transcripts.flatMap(t => Seq((t._2, t._4), (t._2, t._5))) ++
      Exons.flatMap(e => Seq((e._3, e._4), (e._3, e._5)))).toSet
    assert(bounds.subsetOf(positions) && positions.contains(("1", 151L)))
    assert(genic == positions.map(k => k -> (if (Transcripts.exists(t =>
      t._2 == k._1 && t._4 <= k._2 && k._2 <= t._5)) "GENIC" else "INTERGENIC")).toMap)
    assert(hits == positions.flatMap { case (c, pos) =>
      Exons.filter(e => e._3 == c && e._4 <= pos && pos <= e._5).map { e =>
        val prior = Exons.filter(x => x._1 == e._1 && x._2 < e._2).map(x => x._5 - x._4 + 1).sum
        ((c, pos), e._1, prior + pos - e._4 + 1)
      }
    })
  }

  test("a re-wave over an empty store numbers its keys from 1 and MERGEs every key") {
    run // the shared store table is re-registered below, after the other cases
    val root2 = Files.createTempDirectory("graft-strain-loader-empty")
    val p2 = StrainLoader.Paths(root2.toFile)
    try {
      write(root2, "wave2.vcf", vcf(Wave2Strains, Wave2))
      setup(root2, p2)
      // a store registered before any wave wrote a row
      StrainLoader.registerStore(spark, p2)
      assert(spark.table(StrainLoader.StoreTable).count() == 0L)
      val (c, rows) = load(root2, p2, "wave2", Wave2Strains, rewave = true)
      val keys = expected(Wave2Strains, Wave2).keys.toSeq.sorted(KeyOrder)
      assert(rows.keySet == keys.toSet)
      assert(keys.map(k => rows(k)._1) == (1L to keys.size))
      assert(keys.forall(k => rows(k)._2))
      assert(c.maxSeedId == 0L && c.newKeys == keys.size)
      assert(c.mergeAffected == keys.size)
      assert(StrainLoader.derbyCount(p2) == keys.size)
    } finally {
      Jdbc.shutdownEmbeddedDerby(p2.derby)
      graft.queries.Fixtures.rmrf(root2.toFile)
    }
  }

  test("a fresh wave with no called allele loads no key and throws nothing") {
    run // the shared store table is overwritten below, after the other cases
    val root3 = Files.createTempDirectory("graft-strain-loader-homref")
    val p3 = StrainLoader.Paths(root3.toFile)
    try {
      val homRef = Wave1.map { case (c, pos, ref, alt, _) =>
        (c, pos, ref, alt, Wave1Strains.map(_ => "0/0:20,0:20")) }
      write(root3, "homref.vcf", vcf(Wave1Strains, homRef))
      setup(root3, p3)
      val (c, rows) = load(root3, p3, "homref", Wave1Strains, rewave = false)
      assert(c.rowsIn == Wave1.size * Wave1Strains.size && c.homRef == c.rowsIn)
      assert(c == expected(Wave1Strains, homRef).counters(maxSeedId = 0L, mergeAffected = -1L))
      assert(c.cf2Rows == 0L && c.waveKeys == 0L && rows.isEmpty)
      assert(StrainLoader.derbyCount(p3) == 0L)
    } finally {
      Jdbc.shutdownEmbeddedDerby(p3.derby)
      graft.queries.Fixtures.rmrf(root3.toFile)
    }
  }

  test("a call of an allele index past the ALT list drops that allele and loads the rest") {
    run // the shared store table is overwritten below, after the other cases
    val root4 = Files.createTempDirectory("graft-strain-loader-pastalt")
    val p4 = StrainLoader.Paths(root4.toFile)
    try {
      // S1 calls allele 2 of a one-ALT line; S2's allele 1 is real
      val lines = Seq(("1", 15, "A", "G", Seq("0/2:10,10:20", "1/1:0,20:20", "0/0:20,0:20")),
        ("1", 105, "G", "C", Seq("1/2:0,10:20", "0/1:10,10:20", "0/0:20,0:20")))
      write(root4, "pastalt.vcf", vcf(Wave1Strains, lines))
      setup(root4, p4)
      val (c, rows) = load(root4, p4, "pastalt", Wave1Strains, rewave = false)
      val e = expected(Wave1Strains, lines)
      assert(e.keys == Set("1|15|A|G", "1|105|G|C") && e.alleleRows == 3L)
      assert(c == e.counters(maxSeedId = 0L, mergeAffected = -1L))
      assert(rows.keySet == e.keys)
      val cf2 = graft.sources.Cf2.read(spark, StrainLoader.Out(root4.resolve("out/pastalt").toString).cf2)
      assert(cf2.filter(col("var_nuc").isNull).count() == 0L)
      assert(StrainLoader.derbyCount(p4) == e.keys.size)
    } finally {
      Jdbc.shutdownEmbeddedDerby(p4.derby)
      graft.queries.Fixtures.rmrf(root4.toFile)
    }
  }

  override def afterAll(): Unit = {
    try {
      spark.sql(s"DROP TABLE IF EXISTS ${StrainLoader.StoreTable}")
      graft.queries.Fixtures.rmrf(root.toFile)
    } finally super.afterAll()
  }
}

object StrainLoaderSpec {
  val Wave1Strains: Seq[(String, String)] = Seq("S1" -> "F", "S2" -> "M", "S3" -> "F")
  val Wave2Strains: Seq[(String, String)] = Seq("S4" -> "M", "S5" -> "F")

  /** (chrom, pos, ref, alt, cells); a line may carry fewer cells than
    * the header has strains. */
  /** The gene model: transcripts (tid, chr, strand, start, stop) and
    * their exons (tid, exon_idx, chr, start, stop). */
  val Transcripts: Seq[(Int, String, String, Long, Long)] =
    Seq((1, "1", "+", 10L, 150L), (2, "2", "-", 20L, 120L))
  val Exons: Seq[(Int, Int, String, Long, Long)] = Seq((1, 0, "1", 10L, 40L),
    (1, 1, "1", 100L, 150L), (2, 0, "2", 20L, 60L), (2, 1, "2", 90L, 120L))

  /** One called SNV, S1 heterozygous, S2 and S3 hom-ref. */
  private def snv(c: String, pos: Int, ref: String, alt: String) =
    (c, pos, ref, alt, Seq("0/1:10,10:20", "0/0:20,0:20", "0/0:20,0:20"))

  val Wave1: Seq[(String, Int, String, String, Seq[String])] = Seq(
    snv("1", 9, "A", "G"), snv("1", 10, "C", "T"),  // before / at a transcript's first base
    ("1", 15, "A", "G", Seq("0/1:10,10:20", "1/1:0,20:20", "0/0:20,0:20")),
    ("1", 20, "C", "T,G", Seq("1/2:0,10,10:20", "0/2:18,0,2:20", "./.:.:.")),
    ("1", 30, "AT", "A", Seq("0/1:5,15:20", "./.:.:.", "0/1:10,10:20")),
    snv("1", 40, "T", "A"), snv("1", 100, "G", "T"), // an exon's last / first base
    ("1", 105, "G", "C", Seq("1/1:0,20:20", "0/1:19,1:20", "0/1:3,17:20")),
    snv("1", 150, "A", "C"), snv("1", 151, "C", "G"), // at / past a transcript's last base
    snv("2", 20, "G", "C"), snv("2", 60, "T", "G"), snv("2", 90, "C", "A"),
    ("2", 27, "AC", "GT", Seq("1/1:0,20:20", "0/0:20,0:20", "0/0:20,0:20")),
    ("2", 37, "A", "G", Seq("0/1:10,10:20", "0/0:20,0:20", "0/0:20,0:20")),
    ("2", 50, "G", "GCA", Seq("1/1:0,30:30", "0/1:25,5:30", "0/0:30,0:30")),
    ("2", 100, "T", "C", Seq("0/1:10,10:20")),
    snv("2", 120, "G", "T"),
    ("X", 5000000, "A", "T", Seq("0/1:4,16:20", "0/1:4,16:20", "1/1:0,20:20")))
  val Wave2: Seq[(String, Int, String, String, Seq[String])] = Seq(
    ("1", 5, "C", "A", Seq("1/1:0,20:20", "0/0:20,0:20")),
    ("1", 15, "A", "G", Seq("0/1:10,10:20", "0/0:20,0:20")),
    ("1", 30, "AT", "A", Seq("1/1:0,20:20", "0/1:10,10:20")),
    ("1", 60, "G", "A", Seq("0/1:2,18:20", "0/1:10,10:20")),
    ("2", 50, "G", "GT", Seq("0/1:10,10:20", "./.:.:.")))

  /** The natural keys of the first wave. */
  lazy val Wave1Keys: Set[String] = expected(Wave1Strains, Wave1).keys

  /** Chromosome 2 of the fixture genome (bases 1-180). */
  val Chr2: String = "GGCATTACGA" * 18

  /** The standard codon table, TCAG order. */
  def translate(codon: String): String = {
    val i = codon.map("TCAG".indexOf(_))
    "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG"(16 * i(0) + 4 * i(1) + i(2))
      .toString
  }

  val KeyOrder: Ordering[String] = Ordering.by { (k: String) =>
    val f = k.split("\\|", -1); (f(0), f(1).toLong, f(2), f(3))
  }

  def vcf(strains: Seq[(String, String)], lines: Seq[(String, Int, String, String, Seq[String])]): Seq[String] =
    Seq("##fileformat=VCFv4.2",
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT") ++
        strains.map(_._1)).mkString("\t")) ++
      lines.map { case (c, pos, ref, alt, cells) =>
        (Seq(c, pos.toString, ".", ref, alt, "50", "PASS", ".", "GT:AD:DP") ++ cells).mkString("\t")
      }

  final case class Expected(rowsIn: Long, homRef: Long, missing: Long, short: Long,
                            alleleRows: Long, possibleError: Long, keys: Set[String]) {
    def counters(maxSeedId: Long, mergeAffected: Long): StrainLoader.Counters =
      StrainLoader.Counters(rowsIn, homRef, missing, short, rowsIn - homRef - missing - short,
        alleleRows, possibleError, alleleRows - possibleError, keys.size.toLong,
        keys.size.toLong, maxSeedId, mergeAffected)
  }

  /** The converter's rules over the fixture: a cell is hom-ref (0/0),
    * missing (./.), short (absent) or called; each distinct alt allele
    * of a call (an index past the ALT list has none) is rejected when
    * its AD share of DP is <= 15 %, else keyed with the shared padding
    * base of an indel dropped. */
  def expected(strains: Seq[(String, String)],
               lines: Seq[(String, Int, String, String, Seq[String])]): Expected = {
    val cells = for ((c, pos, ref, alt, cs) <- lines; i <- strains.indices)
      yield (c, pos, ref, alt.split(","), cs.lift(i))
    val alleles = for {
      (c, pos, ref, alts, Some(cell)) <- cells
      f = cell.split(":")
      a <- f(0).split("/").flatMap(_.toIntOption).filter(_ > 0).distinct
      va <- alts.lift(a - 1)
    } yield {
      val ad = f(1).split(",")(a).toInt
      val dp = f(2).toInt
      val indel = ref.length != va.length && (ref.length == 1 || va.length == 1)
      val key =
        if (indel && ref.head == va.head) s"$c|${pos + 1}|${ref.tail}|${va.tail}"
        else s"$c|$pos|$ref|$va"
      (ad * 100.0 / dp <= 15, key)
    }
    Expected(cells.size.toLong, cells.count(_._5.exists(_.startsWith("0/0:"))).toLong,
      cells.count(_._5.exists(_.startsWith("./.:"))).toLong,
      cells.count(_._5.isEmpty).toLong, alleles.size.toLong,
      alleles.count(_._1).toLong, alleles.filterNot(_._1).map(_._2).toSet)
  }
}
