package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** PolyPhen-2 results loader (S15 / F12 / J11) — re-expression of the
  * reference's `PolyphenLoader.java:97-180`:
  *
  *  - the `.polyphen` results file is a 55-column positional TSV with
  *    one `#o_acc …` header line (column indexes hard-coded at
  *    `PolyphenLoader.java:112-169`); every value is `.trim()`ed;
  *  - results where (o_aa1, o_aa2) arrive *swapped* relative to
  *    (aa1, aa2) mean the transcript sequence extracted from the FASTA
  *    differs from the transcript's nucleotide sequence, so the
  *    prediction is misplaced and the row must be rejected
  *    (`PolyphenLoader.java:171-180`, rationale `changes.txt:106-110`);
  *  - surviving rows join the run's `.info` file on the 4-part key
  *    (protein_acc_id, pos, ref_aa, var_aa), with *first match consumed*
  *    (`extractInfo:321-343` removes the matched line from the list, so
  *    duplicate keys pair off positionally — the o_pos fix,
  *    `changes.txt:41-43`); unmatched results are dropped with an error
  *    count.
  *
  * Spark-first shape: the first-match-consumed iterator becomes a
  * `row_number` over the 4-part key on BOTH sides (in file order),
  * appended to the equi-join key (SURVEY §2 W5) — a plain shuffled
  * equi-join, no driver-side list mutation, so it scales to any number
  * of result files.
  */
object Polyphen {

  /** The 55 result columns, in file order (header line of the results
    * file, `PolyphenLoader.java:110-111`). All strings: PolyPhen leaves
    * fields blank at will, and the reference stores them as VARCHARs. */
  val schema: StructType = StructType(Seq(
    "o_acc", "o_pos", "o_aa1", "o_aa2", "rsid", "acc", "pos", "aa1",
    "aa2", "nt1", "nt2", "prediction", "based_on", "effect",
    "pph2_class", "pph2_prob", "pph2_fpr", "pph2_tpr", "pph2_fdr",
    "site", "region", "phat", "dscore", "score1", "score2", "msav",
    "nobs", "nstruct", "nfilt", "pdb_id", "pdb_pos", "pdb_ch", "ident",
    "length", "norm_asa", "sec_str", "map_reg", "dvol", "dprop",
    "b_fact", "h_bonds", "ave_n_het", "min_d_het", "ave_n_int",
    "min_d_int", "ave_n_sit", "min_d_sit", "transv", "cod_pos", "cpg",
    "min_d_jxn", "pfam_hit", "id_pmax", "id_psnp", "id_qmin"
  ).map(StructField(_, StringType)))

  /** The info-file columns (`PolyphenLoader.loadInfos:299-320` header
    * comment; consumed fields `:200-214`): one line per PolyPhen input
    * row, `#` comment lines skipped. */
  val infoSchema: StructType = StructType(Seq(
    StructField("variant_id", LongType),
    StructField("gene_symbol", StringType),
    StructField("protein_acc_id", StringType),
    StructField("i_pos", StringType),
    StructField("ref_aa", StringType),
    StructField("var_aa", StringType),
    StructField("strand", StringType),
    StructField("transcript_rgd_id", IntegerType)))

  /** Read a `.polyphen` results file; the `#o_acc` header line is a
    * comment line to the csv reader. Values are trimmed (the file is
    * space-padded for human eyes; `PolyphenLoader.java:112-169` trims
    * every column). */
  def read(spark: SparkSession, path: String): DataFrame =
    Tsv.read(spark, path, schema, comment = true, trim = true)
  def readSql(files: String): String = Tsv.readSql(files, schema, comment = true, trim = true)

  /** Read a PolyPhen `.info` file (comment lines skipped). */
  def readInfo(spark: SparkSession, path: String): DataFrame =
    Tsv.read(spark, path, infoSchema, comment = true, trim = true)
  def readInfoSql(files: String): String = Tsv.readSql(files, infoSchema, comment = true, trim = true)

  /** S16: scrape a PolyPhen run log for "Unable to locate protein
    * entry" errors (`PolyphenFasta.readProteinAccIds:128-151`): lines
    * starting with the exact prefix yield the whitespace-delimited acc
    * id that follows it; the result is the distinct id set. The
    * reference requires text after the id (it substrings to the next
    * space); the regexp form keeps that contract and simply drops a
    * malformed truncated line instead of throwing. */
  val MissingProteinPrefix = "ERROR: Unable to locate protein entry "
  private val MissingProteinRegex = s"^$MissingProteinPrefix(\\S+) "

  def scrapeMissingProteins(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(col("value").startsWith(MissingProteinPrefix))
      .select(regexp_extract(col("value"), MissingProteinRegex, 1).as("protein_acc_id"))
      .filter(col("protein_acc_id") =!= "")
      .distinct()

  /** DuckDB twin of [[scrapeMissingProteins]] over the lines of `files`. */
  def scrapeMissingProteinsSql(files: String): String =
    s"""SELECT DISTINCT protein_acc_id FROM (
       |  SELECT regexp_extract(value, '$MissingProteinRegex', 1) AS protein_acc_id
       |  FROM (${Tsv.linesSql(files)}) WHERE starts_with(value, '$MissingProteinPrefix'))
       |WHERE protein_acc_id <> ''""".stripMargin

  /** K7/X15: protein-FASTA input writer — re-expression of
    * `Polyphen.writeFastaFile:357-372`: each record is a `>acc` header
    * followed by the sequence wrapped at `width` columns; records in
    * accession order, one output file. `proteins` must have columns
    * (acc, seq). Order survives the coalesce because the range-sorted
    * partitions concatenate in partition order. */
  def writeFasta(spark: SparkSession, proteins: DataFrame, path: String,
                 width: Int = 70): Unit =
    proteins
      .select(col("acc"), concat(lit(">"), col("acc"), lit("\n"),
        graft.functions.DnaFunctions.wrapLines(col("seq"), width)).as("rec"))
      .orderBy(col("acc"))
      .select(col("rec"))
      .coalesce(1)
      .write.mode("overwrite").text(path)

  /** F12: the swapped-AA rejection predicate — true for rows that must
    * be DROPPED (`o_aa1==varAA && o_aa2==refAA`,
    * `PolyphenLoader.java:171-180`). */
  val SwappedAASql = "o_aa1 = aa2 AND o_aa2 = aa1"
  def swappedAA: Column = expr(SwappedAASql)

  /** Rank both sides for positional pairing. Positions are normalized
    * NUMERICALLY (`try_cast` to BIGINT): the reference round-trips
    * `o_pos` through `Integer.parseInt`/`toString` before matching
    * (`PolyphenLoader.java:200-214`), so `042` pairs with `42`.
    * Deliberate deviation: a non-numeric position *throws* in the
    * reference; here it casts to null, never pairs (null != null in the
    * join), and surfaces through [[unmatchedResults]] instead. */
  private def ranked(results: DataFrame, info: DataFrame,
                     resultOrder: Column, infoOrder: Column): (DataFrame, DataFrame, Column) = {
    val rw = Window.partitionBy(PairKey.map(k => col(k._1)): _*).orderBy(resultOrder)
    val iw = Window.partitionBy(PairKey.map(k => col(k._2)): _*).orderBy(infoOrder)
    val r = results.withColumn("__rpos", expr("try_cast(o_pos AS BIGINT)"))
      .withColumn("rn", row_number().over(rw))
    val i = info.withColumn("__ipos", expr("try_cast(i_pos AS BIGINT)"))
      .withColumn("rn", row_number().over(iw))
    (r, i, PairKey.map { case (a, b) => col(a) === col(b) }.reduce(_ && _) && r("rn") === i("rn"))
  }

  /** The 4-part pairing key: (results column, info column). */
  private val PairKey = Seq("o_acc" -> "protein_acc_id", "__rpos" -> "__ipos",
    "o_aa1" -> "ref_aa", "o_aa2" -> "var_aa")

  /** J11/W5: pair results with info lines on
    * (protein_acc_id, numeric pos, ref_aa, var_aa), duplicates consumed
    * positionally in file order (`extractInfo:321-343`). `resultOrder` /
    * `infoOrder` must be genuine in-file order keys — an explicit
    * monotone column (as the q80 fixture bakes into rsid/variant_id) or
    * a per-file line index from a single-split read.
    * `monotonically_increasing_id` alone is NOT one: it is only
    * monotone within a partition, so a multi-split read would not
    * reproduce global file line order.
    * Returns matched rows: all result columns + info enrichment. */
  def pairWithInfo(results: DataFrame, info: DataFrame,
                   resultOrder: Column, infoOrder: Column): DataFrame = {
    val (r, i, cond) = ranked(results, info, resultOrder, infoOrder)
    r.join(i, cond).drop("rn", "__rpos", "__ipos")
  }

  /** K9 QC side: results that fail to pair with any info line — the
    * reference counts and logs these as errors
    * (`PolyphenLoader.java:216-230`) rather than silently dropping
    * them. Anti-join twin of [[pairWithInfo]]. */
  def unmatchedResults(results: DataFrame, info: DataFrame,
                       resultOrder: Column, infoOrder: Column): DataFrame = {
    val (r, i, cond) = ranked(results, info, resultOrder, infoOrder)
    r.join(i, cond, "left_anti").drop("rn", "__rpos")
  }

  /** DuckDB twin of [[ranked]]: `r` `join` `i` on the pairing condition; a
    * position is [[Tsv.number]] of its trimmed text (Spark's `try_cast`). */
  private def rankedSql(join: String, results: String, info: String, resultOrder: String,
                        infoOrder: String): String = {
    def side(rel: String, pos: String, np: String, keys: Seq[String], order: String) =
      s"""(SELECT *, row_number() OVER (PARTITION BY ${keys.mkString(", ")} ORDER BY $order) AS rn
         |  FROM (SELECT *, ${Tsv.number(s"trim($pos)", "BIGINT")} AS $np FROM $rel))""".stripMargin
    s"""${side(results, "o_pos", "__rpos", PairKey.map(_._1), resultOrder)} r
       |$join ${side(info, "i_pos", "__ipos", PairKey.map(_._2), infoOrder)} i
       |  ON ${PairKey.map { case (a, b) => s"r.$a = i.$b AND " }.mkString}r.rn = i.rn""".stripMargin
  }

  /** DuckDB twins of [[pairWithInfo]] and [[unmatchedResults]]; the
    * order arguments are SQL expressions over the two relations. */
  def pairWithInfoSql(results: String, info: String, resultOrder: String,
                      infoOrder: String): String =
    "SELECT r.* EXCLUDE (rn, __rpos), i.* EXCLUDE (rn, __ipos) FROM " +
      rankedSql("JOIN", results, info, resultOrder, infoOrder)
  def unmatchedResultsSql(results: String, info: String, resultOrder: String,
                          infoOrder: String): String =
    "SELECT r.* EXCLUDE (rn, __rpos) FROM " +
      rankedSql("ANTI JOIN", results, info, resultOrder, infoOrder)
}
