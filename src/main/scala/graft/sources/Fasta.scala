package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** FASTA reference-genome source.
  *
  * The reference mmaps one pre-stripped `.nuc` file per chromosome and
  * serves random-access substrings (`ChrFastaFile.java:20-102`,
  * `FastaParser.getSequence`). That caps at one machine's address
  * space and makes every lookup a driver-side call.
  *
  * Distributed re-expression: preprocess FASTA text into a *chunk
  * table* `(chr, chunk_idx, seq)` of fixed-width sequence chunks with
  * deterministic genomic offsets. `fetch` reads the DNA of many
  * intervals at once: the chunk table participates in an equi-join keyed
  * by `(chr, chunk_idx)` so DNA travels to the executors that need it
  * (never broadcast a whole genome; SURVEY §7.4.7).
  *
  * Parsing keeps per-line offsets without a global sort: header rows
  * (`>chr`) are interval-joined to sequence lines exactly like wig
  * declarations; within a chromosome, offsets are prefix sums of line
  * lengths (one window per chromosome — bounded by lines-per-chr, and
  * only over (id, length) pairs, not the sequence bytes).
  */
object Fasta {

  /** Parse (line_id, line) FASTA text into per-line rows
    * (chr, start_off 0-based, seq). */
  def parseLines(lines: DataFrame): DataFrame = {
    val headers = lines.filter(col("line").startsWith(">"))
      .select(col("line_id").as("h_id"),
        regexp_extract(col("line"), ">\\s*(\\S+)", 1).as("chr"))
      // materialized once: the distributed lead's branches would
      // otherwise each re-scan the full text for this tiny frame
      .localCheckpoint(true)
    // successor header ids via the distributed lead (headers scale
    // with file count — no single-partition window)
    val maxLine = lines.agg(max(col("line_id")).as("__max_line"))
    val spans = graft.operators.DistributedLead.withNext(headers, "h_id", "next_id")
      .crossJoin(broadcast(maxLine))
      .withColumn("next_id", coalesce(col("next_id"), col("__max_line") + 1))
      .select(col("h_id"), col("chr"), (col("h_id") + 1).as("lo"), (col("next_id") - 1).as("hi"))
    val seqLines = lines.filter(!col("line").startsWith(">") && length(col("line")) > 0)
    val joined = graft.operators.RangeJoin.pointInInterval(
      seqLines, spans, Seq.empty, Seq.empty, "line_id", "lo", "hi",
      binSize = 4096L, broadcastIntervals = true)
    // per-chromosome prefix sum over (line_id, length) only
    val wc = Window.partitionBy(col("chr")).orderBy(col("line_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    joined
      .withColumn("start_off", coalesce(sum(length(col("line"))).over(wc), lit(0)).cast("long"))
      .select(col("chr"), col("start_off"), col("line").as("seq"))
  }

  /** Re-chunk parsed lines into fixed-width chunks keyed by
    * (chr, chunk_idx): chunk i holds bases [i*width, (i+1)*width). */
  def toChunks(parsed: DataFrame, width: Int = 10000): DataFrame = {
    // a line can straddle two chunks; split each line at chunk borders
    val pieces = parsed
      .withColumn("piece", explode(sequence(
        (col("start_off") / width).cast("int"),
        ((col("start_off") + length(col("seq")) - 1) / width).cast("int"))))
      .select(col("chr"), col("piece").as("chunk_idx"),
        (col("piece").cast("long") * width).as("chunk_base"),
        col("start_off"), col("seq"))
      .withColumn("from_in_seq",
        greatest(col("chunk_base") - col("start_off"), lit(0L)).cast("int"))
      .withColumn("upto_in_seq",
        least(col("chunk_base") + width - col("start_off"), length(col("seq")).cast("long")).cast("int"))
      .select(col("chr"), col("chunk_idx"), col("start_off"),
        expr("substring(seq, from_in_seq + 1, upto_in_seq - from_in_seq)").as("part"))
    pieces.groupBy(col("chr"), col("chunk_idx"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("start_off"), col("part")))),
        x => x("part")), "").as("seq"))
  }

  /** J16: cross-chromosome patch — re-expression of
    * `VariantPostProcessing.getProperChunk:1281-1300`: a feature whose
    * id has a map row on a DIFFERENT chromosome with the SAME start
    * position takes its DNA interval from that row; otherwise the
    * local interval stands.
    *
    * `features` needs (`idCol`, chr, start, stop); `mapData` needs
    * (`idCol`, m_chr, m_start, m_stop). Output is `features` with
    * (src_chr, src_start, src_stop, patched) — the interval the DNA
    * fetch should use. One left-outer equi-join on (id, start) +
    * `coalesce`; no per-row lookups (the reference calls the DB per
    * transcript inside the exon loop).
    *
    * Deliberate deviation: the reference takes the FIRST matching map
    * row in DAO return order (unordered SQL — nondeterministic when an
    * id has several cross-chr rows at the same start); here the match
    * is the (m_chr, m_stop)-minimal row, a deterministic choice over
    * the same candidate set. */
  def patchIntervals(features: DataFrame, mapData: DataFrame,
                     idCol: String): DataFrame = {
    // candidates collapse to one tiny sorted array per (id, start) —
    // the chr-exclusion must evaluate against the FEATURE row's chr
    // (a same-chr map row is skipped, it does not shadow a cross-chr
    // one), so selection happens after the join, over the array
    // the map-side id is renamed so the join stays unambiguous even
    // when mapData shares lineage with features (same parent frame —
    // Spark's self-join attribute-resolution trap)
    val cand = mapData
      .groupBy(col(idCol).as("__m_id"), col("m_start"))
      .agg(sort_array(collect_list(
        struct(col("m_chr"), col("m_stop")))).as("cands"))
    features
      .join(cand,
        col(idCol) === col("__m_id") &&
          col("start") === col("m_start"), "left_outer")
      .drop("__m_id", "m_start")
      .withColumn("m", expr("get(filter(cands, x -> x.m_chr != chr), 0)"))
      .withColumn("patched", col("m").isNotNull)
      .withColumn("src_chr",
        when(col("patched"), col("m.m_chr")).otherwise(col("chr")))
      .withColumn("src_start", col("start"))
      .withColumn("src_stop",
        when(col("patched"), col("m.m_stop")).otherwise(col("stop")))
      .drop("cands", "m")
  }

  /** Adds `dna` to each row of `intervals`: the bases [`start`, `stop`]
    * (1-based, inclusive) of chromosome `chr`, read from the chunk table.
    * Each interval is exploded over its covering chunks and equi-joined
    * on (chr, chunk_idx), so DNA travels to the rows that need it and the
    * genome is never broadcast; the pieces are cut to the interval and
    * concatenated in chunk order. The pieces regroup by every input
    * column, so the rows of `intervals` must be distinct. An interval
    * that no chunk covers drops out. */
  def fetch(intervals: DataFrame, chunks: DataFrame, width: Int,
            chr: String = "chr", start: String = "start",
            stop: String = "stop"): DataFrame = {
    val keys = intervals.columns.map(c => col(s"`$c`"))
    intervals
      .withColumn("__idx", explode(sequence(
        ((col(start) - 1) / width).cast("int"), ((col(stop) - 1) / width).cast("int"))))
      .join(chunks.select(col("chr").as("__chr"), col("chunk_idx").as("__cidx"),
          col("seq").as("__seq")),
        col(chr) === col("__chr") && col("__idx") === col("__cidx"))
      .withColumn("__base", col("__idx").cast("long") * width)
      .withColumn("__cut_from", greatest(col("__base"), col(start) - 1) - col("__base"))
      .withColumn("__cut_upto", least(col("__base") + width, col(stop)) - col("__base"))
      .withColumn("__piece", expr(
        "substring(__seq, CAST(__cut_from + 1 AS INT), CAST(__cut_upto - __cut_from AS INT))"))
      .groupBy(keys: _*)
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__idx"), col("__piece")))),
        x => x("__piece")), "").as("dna"))
  }
}
