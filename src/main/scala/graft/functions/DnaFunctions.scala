package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** DNA-domain scalar functions re-expressed as pure Catalyst `Column`
  * expressions (whole-stage-codegen friendly; no Scala UDFs).
  *
  * Semantics follow the reference implementation:
  *  - codon translation: `VariantPostProcessing.translate`
  *    (reference `VariantPostProcessing.java:612-754`) — standard codon
  *    table, `*` for stop codons, `X` for any codon containing a
  *    non-ACGT character.
  *  - reverse complement: `VariantPostProcessing.reverseComplement`
  *    (reference `VariantPostProcessing.java:589-610`) — A<->T, C<->G,
  *    N->N, '?'->'?', output always upper-case.
  *  - IUPAC ambiguity expansion: reference `convert/IUPAC.java:16-44`.
  *
  * `translateCodonSql` and `reverseComplementSql` are their rules as SQL
  * text in the constructs Spark SQL and DuckDB share (see
  * [[VariantFunctions]]); `translateDnaSql` is DuckDB-only.
  */
object DnaFunctions {

  /** Standard DNA codon table (64 codons). Stop = "*". */
  val CodonTable: Map[String, String] = {
    val bases = Seq("T", "C", "A", "G")
    // amino acids in TCAG-major order (the classic codon-table layout)
    val aa =
      "FFLL" + "SSSS" + "YY**" + "CC*W" + // Txx
      "LLLL" + "PPPP" + "HHQQ" + "RRRR" + // Cxx
      "IIIM" + "TTTT" + "NNKK" + "SSRR" + // Axx
      "VVVV" + "AAAA" + "DDEE" + "GGGG"   // Gxx
    val codons = for {
      b1 <- bases; b2 <- bases; b3 <- bases
    } yield b1 + b2 + b3
    codons.zip(aa.map(_.toString)).toMap
  }

  private def codonMapCol: Column = {
    val entries = CodonTable.toSeq.sortBy(_._1).flatMap { case (c, a) => Seq(lit(c), lit(a)) }
    map(entries: _*)
  }

  /** Translate a single upper-cased codon (3-char string) to a 1-letter
    * amino acid; unknown codons (containing N etc.) -> "X". */
  def translateCodon(codon: Column): Column =
    coalesce(element_at(codonMapCol, upper(codon)), lit("X"))

  def translateCodonSql(codon: String): String =
    CodonTable.toSeq.sortBy(_._1).map { case (c, a) => s"WHEN '$c' THEN '$a'" }
      .mkString(s"CASE upper($codon) ", " ", " ELSE 'X' END")

  /** Translate a DNA string to a protein string, 3 bases per amino acid.
    * Trailing bases beyond a multiple of 3 are ignored (the reference
    * truncates the CDS to a multiple of 3 before translating,
    * `VariantPostProcessing.java:466-489`). Pure higher-order-function
    * pipeline: sequence -> transform(substr) -> array_join; stays inside
    * whole-stage codegen.
    */
  def translateDna(dna: Column): Column = {
    val n = (length(dna) / 3).cast("int")
    when(n >= 1,
      array_join(
        transform(sequence(lit(1), n), i => translateCodon(dna.substr(i * 3 - 2, lit(3)))),
        ""))
      .otherwise(lit(""))
  }

  /** DuckDB twin of [[translateDna]]. */
  def translateDnaSql(dna: String): String =
    s"""CASE WHEN length($dna) >= 3 THEN list_aggregate(
       |  [${translateCodonSql(s"substr($dna, (j - 1) * 3 + 1, 3)")}
       |   FOR j IN generate_series(1, length($dna) // 3)], 'string_agg', '') ELSE '' END""".stripMargin

  /** Reverse complement of a DNA string; case-insensitive input,
    * upper-case output; N and '?' map to themselves. */
  def reverseComplement(dna: Column): Column =
    reverse(translate(upper(dna), "ACGT", "TGCA"))

  def reverseComplementSql(dna: String): String = s"reverse(translate(upper($dna), 'ACGT', 'TGCA'))"

  /** IUPAC ambiguity code -> string of concrete bases (R -> "AG", ...,
    * N -> "ATCG"); concrete bases map to themselves.
    * Reference `convert/IUPAC.java:16-44`. */
  def iupacExpand(code: Column): Column = {
    val m = map(
      lit("A"), lit("A"), lit("C"), lit("C"), lit("G"), lit("G"), lit("T"), lit("T"),
      lit("R"), lit("AG"), lit("Y"), lit("CT"), lit("S"), lit("GC"), lit("W"), lit("AT"),
      lit("K"), lit("GT"), lit("M"), lit("AC"), lit("B"), lit("CGT"), lit("D"), lit("AGT"),
      lit("H"), lit("ACT"), lit("V"), lit("ACG"), lit("N"), lit("ATCG"))
    element_at(m, upper(code))
  }

  /** Wrap a string at `width` chars per line (FASTA 70-col wrap,
    * reference `Polyphen.writeFastaFile:357-372`). */
  def wrapLines(seq: Column, width: Int): Column = {
    val nLines = ((length(seq) + width - 1) / width).cast("int")
    when(length(seq) === 0 || seq.isNull, lit(""))
      .otherwise(array_join(
        transform(sequence(lit(1), nLines), i => seq.substr((i - 1) * width + 1, lit(width))),
        "\n"))
  }
}
