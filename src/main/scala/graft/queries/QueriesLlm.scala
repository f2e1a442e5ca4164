package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.functions.VectorFunctions.{dotSql, normSql, byteHist, byteHistSql}
import graft.operators.{IvfKmeans, MinhashIndex, OperatingPoint, SemanticIndex, SetSimJoin}
import graft.streaming.StreamingOps

/** Large-scale training-data pipeline operators over the `documents`
  * and `embeddings` tables: deduplication (exact, MinHash+LSH, SimHash,
  * exact n-gram Jaccard, embedding near-dup), similarity search
  * (brute-force cosine top-k baseline; LSH-bucketed scale path), and
  * text analysis (language ID, quality metrics, token stats,
  * fingerprinting).
  *
  * Every pipeline is pure `Column` expressions + equi-joins, so it
  * scales by shuffle: at 100 TB the LSH variants (q41 bucket join,
  * q45 bucket join) replace the O(n^2)/O(n*q) exact baselines (q43,
  * q44, q46), which are kept both as correctness oracles and as the
  * small-side option.
  *
  * Determinism: all hashes are explicit integer polynomials and all
  * float reductions are sequential left folds (see
  * [[graft.functions.VectorFunctions]]), reproduced verbatim in the
  * DuckDB oracle SQL.
  */
object QueriesLlm {

  /** Typed rows for the q59 Dataset pipeline. */
  final case class TypedEv(user_id: Long, ts_micros: Long, event_id: Long, cents: Long)
  final case class TypedUserStats(user_id: Long, n_events: Long, n_incr: Long)

  // the planted strata of the index gates, declared once as data
  import Waves._

  // dedup-family tuning lives in DedupConfig
  import graft.functions.DedupConfig.{JaccThreshold, sizeRatioOk,
    HotBucketCap, IndexBuckets, VecOffset, SemThreshX1e6, MmThreshX1e6, SemK, SemIters, MmK,
    MmIters, MmAnnK}
  private val Dim = 64                  // embedding dimensionality
  private val Planes = 8                // LSH hyperplanes

  // the near-duplicate pair path and its DuckDB twins, one definition
  // per step for the text-dedup gates
  import graft.functions.MinhashPipeline.{signedDocs, signedDocsWord,
    bitmapSignedDocs, bandKeysOf, bandPairs, bitmapBandPairs, sortedJacc,
    cappedCandidates, hotCapPairs, verifyPairs, contentFp, copyCorpus,
    verifiedDupPairs, copyCorpusSql, shinglesCte, shingleHashesSql,
    wordHashes, wordDocsSql, sigBandCtes, bandCandidatesSql, shingleDictCtes, verifySql,
    minhashCtes, minhashWordCtes, minhashWordClassCtes, hotCapPairsCtes,
    contentFpSql, verifiedDupCte, verifiedDupPairsSql}

  /** The corpus of the MinHash index gates (q99/q109/q110/q112/q138):
    * a doc_id%4 subset, for the same reason as q92 — the template
    * corpus's ~400-shingle universe makes minhash bands collide across
    * non-similar docs (q41's documented artifact), and here every false
    * candidate pays an exact verify; the subset keeps the gates at
    * catalog-friendly cost without changing any operator shape.
    * `length(text) >= 3` on both sides ([[dedupCorpusCte]]) keeps the
    * index corpus free of sub-3-char texts, whose single whole-text
    * shingle the engine and `shinglesCte` both give (COVERAGE). */
  private[graft] def dedupCorpus(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(col("doc_id") % 4 === 0 && length(col("text")) >= 3)
      .select("doc_id", "lang", "text")

  /** Oracle mirror of [[dedupCorpus]]: the `corpus` CTE. */
  private val dedupCorpusCte: String =
    """corpus AS (SELECT doc_id, lang, text FROM documents
      |  WHERE doc_id % 4 = 0 AND len(text) >= 3)""".stripMargin

  /** The two-sequential-waves epoch-dedup oracle, shared VERBATIM by
    * q109 (streaming path) and q110 (batch path with a mid-pipeline
    * index compaction): both engines must produce the identical
    * per-epoch rollup, which is exactly what makes q110's compaction
    * provably semantics-free — same oracle, different physical path. */
  private lazy val epochDedupOracle: String =
    s"""WITH $dedupCorpusCte,
       |w1 AS (
       |  ${waveSql("corpus", DocCols, EpochWave1)}),
       |w2 AS (
       |  ${waveSql("corpus", DocCols, EpochWave2)}),
       |${minhashCtes("i", "corpus")},
       |${minhashCtes("a", "w1")},
       |${minhashCtes("b", "w2")},
       |${MinhashIndex.acceptCtes("acc1", "a", "idocs", "ibands")},
       |${MinhashIndex.commitCtes("i1", "i", "acc1", "a")},
       |${MinhashIndex.acceptCtes("acc2", "b", "i1docs", "i1bands")}
       |${MinhashIndex.rollupSql(0 -> "idocs", 1 -> "acc1", 2 -> "acc2")}""".stripMargin

  /** Gram width of [[splitGrams]]: long enough that collisions mean leakage. */
  private val GramN = 5

  /** Distinct 5-token-gram fingerprints per doc over the q76
    * deterministic train/test split (val dropped) — shared by q93
    * (contamination equi-join) and q104 (Bloom pre-filtered variant).
    * Columns: doc_id, lang, split, fp. Checkpointed: both consumers
    * read it at least twice (test side + train side). */
  private def splitGrams(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val t = table(spark, dir, "documents")
      .withColumn("split", TF.dataSplit(col("doc_id")))
      .filter(col("split") =!= "val")
      .select(col("doc_id"), col("lang"), col("split"),
        TF.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= GramN)
    t.select(col("doc_id"), col("lang"), col("split"),
        explode(array_distinct(transform(sequence(lit(1), size(col("t")) - (GramN - 1)),
          i => contentFp(transform(slice(col("t"), i, lit(GramN)), tok => TF.polyHash(tok))))))
          .as("fp"))
      .localCheckpoint(true)
  }

  /** Twin of [[splitGrams]]: the CTEs `t` and `g(doc_id, lang, split, fp)`. */
  private val splitGramsCtes: String =
    s"""t AS (
       |  SELECT doc_id, lang, ${TF.dataSplitSql("doc_id")} AS split,
       |    ${TF.tokensSql("lower(text)")} AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang, split, unnest(list_distinct([
       |    ${contentFpSql(
              s"list_transform(toks[i:i+${GramN - 1}], tok -> ${TF.polyHashSql("tok")})")}
       |    FOR i IN generate_series(1, len(toks) - ${GramN - 1})])) AS fp
       |  FROM t WHERE len(toks) >= $GramN AND split <> 'val')""".stripMargin

  /** Exact same-language Jaccard near-dup pairs via the SetSimJoin
    * bitmap pipeline — shared by q43 (pair listing) and q52
    * (clustering). Columns: doc_a, doc_b, jacc_x1000. Class-blocked by
    * (lang, text): the O(classes²) bitmap-popcount enumeration replaces
    * the O(docs²) one, and within-class pairs expand at J=1000 guarded
    * by sz >= 1 (an empty shingle set made the doc-level Jaccard NULL
    * — 0 DIV 0 — and the threshold filter dropped it). */
  private def jaccardPairs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val cls = SetSimJoin.textClasses(table(spark, dir, "documents"), keyCols = Seq("lang"))
    val sh = cls.select(col("rid").as("doc_id"), col("lang"), col("dids"),
      TF.shingles(col("text"), 3).as("sh"))
    val bm = SetSimJoin.withBitmap(sh, "doc_id", "sh")
      .select(col("doc_id"), col("lang"), col("dids"), col("sz"), col("bm"))
      // materialized once — both sides of the class self-join read it
      .localCheckpoint(true)
    // the O(classes²) enumeration keeps the doc-level form's row width
    // (id, lang, sz, bm); member lists re-attach to survivors only
    val slim = bm.drop("dids")
    val rpairs = slim.as("a").join(broadcast(slim.as("b")),
        col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          sizeRatioOk(col("a.sz"), col("b.sz")))
      .withColumn("jacc_x1000", SetSimJoin.jaccardX1000(
        col("a.bm"), col("b.bm"), col("a.sz"), col("b.sz")))
      .filter(col("jacc_x1000") >= JaccThreshold)
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"), col("jacc_x1000"))
    SetSimJoin.expandClassPairs(rpairs, bm,
      bm.filter(col("sz") >= 1 && size(col("dids")) >= 2), "doc_a", "doc_b")
  }

  /** DuckDB CTE fragment producing the same near-dup pairs; expects
    * `sh` from [[shCte]] in scope. The quadratic scan runs over
    * DISTINCT (lang, shingle-id set) classes through the exact shingle
    * dictionary (`shingleDictCtes`), with the size-ratio cut as a join
    * predicate; qualifying class pairs re-expand to doc pairs
    * (`expandClassPairsSql`). `pairs` is MATERIALIZED: q52's recursive
    * closure references it through `edges` on every fringe round, and
    * un-materialized DuckDB CTEs re-inline (re-running the quadratic
    * scan per recursion round). */
  private def pairsCteSql: String =
    s"""${shingleDictCtes("shd", "sh", "doc_id", Seq("lang"))},
       |cls AS MATERIALIZED (
       |  SELECT lang, ids, sz, list_sort(list(doc_id)) AS dids,
       |    min(doc_id) AS rid
       |  FROM shd GROUP BY lang, ids, sz),
       |cpx AS (
       |  ${verifySql("x.dids AS da, y.dids AS db",
           "cls x JOIN cls y ON x.lang = y.lang AND x.rid < y.rid", "ids")}),
       |pairs AS MATERIALIZED (
       |  ${SetSimJoin.expandClassPairsSql("cpx",
           "SELECT dids FROM cls WHERE len(dids) >= 2", "doc_a", "doc_b")})""".stripMargin

  // ---- shared DuckDB fragments (mirror the Spark expressions) --------

  /** char 3-gram distinct shingles of lower(text). */
  private val shCte = shinglesCte("sh", "doc_id, lang", "documents")

  /** per-token polynomial rolling hash (BIGINT) of distinct tokens. */
  private val tokHashCte =
    s"""th AS (
       |  SELECT doc_id, list_transform(
       |    list_distinct(${TF.tokensSql("lower(text)")}),
       |    t -> ${TF.polyHashSql("t")}) AS hs
       |  FROM documents)""".stripMargin

  /** The catalog's embedding frame `(vec_id, v)`: the float embedding
    * as the double vector every score reads. [[embCte]] is its twin;
    * [[IvfKmeans.vectors]] adds the norm and the quantized row. */
  private[graft] def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))

  /** DuckDB: embeddings as DOUBLE lists. */
  private val embCte =
    "e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings)"

  /** Twin of [[graft.functions.VectorFunctions.cosine]] over 64-dim
    * embedding lists. */
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b, Dim)}) / (${normSql(a)} * ${normSql(b)})"

  // ---- semantic-index oracle building blocks, shared by the
  // embedding-family lifecycle gates (q120 ingest / q122 compaction /
  // q123 retraction / q124 retrain) the way minhashCtes/verifiedDupCte
  // are shared by the minhash family. All mirror
  // operators/SemanticIndex against the trained-centroid CTE `cents`.
  private val semCents = s"c$SemIters" // the trained chain's last CTE
  private def semSpillCte(name: String, src: String, cents: String = semCents) =
    IvfKmeans.spillAssignCte(name, src, Dim, Seq("v"), cents)
  private def semProbeCte(name: String, src: String, cents: String = semCents) =
    IvfKmeans.spillAssignCte(name, src, Dim, Seq("v", "qv"),
      cents, maxProbe = 1)
  /** `SemanticIndex.acceptWave`'s twin at the semantic family's
    * dimension and threshold: `$a` accepts `wave` against `idx`. */
  private def semAcceptCtes(a: String, wave: String, idx: String,
                            cents: String = semCents) =
    SemanticIndex.acceptWaveCtes(a, wave, idx, cents, Dim, SemThreshX1e6)
  /** `SemanticIndex.commit`'s twin at the semantic family's dimension. */
  private def semCommitCtes(to: String, from: String, acc: String) =
    SemanticIndex.commitCtes(to, from, acc, Dim, semCents)
  /** The semantic family's Lloyd chain (`q`, `c0`..`c3`) over the whole
    * corpus. */
  private val semLloydCtes = IvfKmeans.lloydCtes(SemK, SemIters, Dim, VecOffset)

  /** Twin of `SemanticIndex.retrainReassign` over a committed-corpus
    * CTE `cm` (epoch, vec_id, v): the retrained chain `rq`, `rc0`..
    * and the reassigned store `ri`; later waves probe [[retrainCents]]. */
  private val retrainCents = s"r$semCents"
  private val semRetrainCtes =
    s"""${IvfKmeans.lloydCtes(SemK, SemIters, Dim, VecOffset,
         src = "(SELECT vec_id, v AS embedding FROM cm)", pfx = "r")},
       |rsrc AS (
       |  SELECT cm.epoch, cm.vec_id, cm.v, r.qv
       |  FROM cm JOIN rq r ON r.vec_id = cm.vec_id),
       |${IvfKmeans.spillAssignCte("ri", "rsrc", Dim, Seq("epoch", "v"),
         cents = retrainCents)}""".stripMargin

  /** Twin of `IvfKmeans.vectors(embeddings(...), VecOffset)` without
    * the norm (the wave CTEs hoist it). */
  private val semEallCte =
    s"""eall AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
       |    ${IvfKmeans.quantizeSql("embedding", VecOffset)} AS qv
       |  FROM embeddings)""".stripMargin

  /** Twin of the seed half [[semanticIndex]] trains on and seeds: the
    * trained chain, `eall` and the seed rows `sd`. */
  private val semSeedCtes =
    s"""${IvfKmeans.lloydCtes(SemK, SemIters, Dim, VecOffset, " WHERE vec_id % 2 = 0")},
       |$semEallCte,
       |sd AS (SELECT vec_id, v, qv FROM eall WHERE vec_id % 2 = 0)""".stripMargin

  /** A fresh semantic index at `scratchRoot/dir` seeded with the
    * vec_id % 2 = 0 half of `e` (the [[semanticEpochOracle]] seed). */
  private def semanticIndex(spark: SparkSession, e: DataFrame, dir: String,
                            tbl: String): SemanticIndex.Handle =
    SemanticIndex.build(
      SemanticIndex.store(spark, s"${Fixtures.scratchRoot}/$dir", tbl),
      e.filter(col("vec_id") % 2 === 0), SemK, SemIters, SemThreshX1e6,
      IndexBuckets)

  /** Twin of [[semanticIndex]] and its waves up to wave 1's accept:
    * the seed-trained chain, `eall`, the epoch-0 store `i0`, the waves
    * `w1`/`w2` and wave 1's accept set `ac1`. */
  private val semWave1Ctes =
    s"""$semSeedCtes,
       |${semSpillCte("i0", "sd")},
       |w1 AS (
       |  ${waveSql("eall", VecCols, SemWave1)}),
       |w2 AS (
       |  ${waveSql("eall", VecCols, SemWave2)}),
       |${semAcceptCtes("ac1", "w1", "i0")}""".stripMargin

  /** The two-sequential-waves SEMANTIC epoch-dedup oracle, shared
    * VERBATIM by q120 (plain batch ingest), q122 (ingest with a
    * mid-pipeline index compaction), and q132 (the same waves driven
    * through Structured Streaming micro-batches) — the q109/q110
    * twin-oracle pattern on the embedding family: identical rollup
    * from any physical path is what makes q122's compaction provably
    * semantics-free and q132's batching/staging/commit machinery
    * provably acceptance-neutral. */
  private lazy val semanticEpochOracle: String = {
    s"""WITH $semWave1Ctes,
       |${semCommitCtes("i1", "i0", "ac1")},
       |${semAcceptCtes("ac2", "w2", "i1")},
       |${SemanticIndex.rollupSql(0 -> "(SELECT DISTINCT vec_id FROM i0)",
          1 -> "ac1", 2 -> "ac2")}""".stripMargin
  }

  // ---- multimodal-index oracle building blocks (byte-histogram
  // features, dim 8, accept threshold 0.9), shared by q133 (build +
  // ingest) and q136 (compact + retract) — semWave1Ctes' discipline at
  // the multimodal family's feature granularity, one definition so a
  // feature or threshold retune can never drift the two gates apart.
  /** The multimodal feature row of `(vec_id, text)` rows:
    * [[IvfKmeans.unitVectors]] over the byte histogram. */
  private def mmFeats(src: DataFrame): DataFrame =
    IvfKmeans.unitVectors(src.select(col("vec_id"), byteHist(col("text")).as("v")))
  private def mmFeatsCte(name: String, src: String): String =
    s"""${name}h AS (SELECT vec_id, ${byteHistSql("text")} AS v FROM $src),
       |$name AS (${IvfKmeans.unitVectorsSql("vec_id", s"${name}h")})""".stripMargin
  private val mmCents = s"c$MmIters" // the trained chain's last CTE

  /** The multimodal index q133 and q136 both drive, after its first
    * wave: every document, as `(vec_id, text)` rows, seeded as epoch 0,
    * then [[Waves.MmWave1]] committed as epoch 1. Returns the rows, the
    * handle and wave 1's accept set. [[mmWave1Ctes]] is its twin. */
  private def mmIndexWave1(spark: SparkSession, dir: String, root: String,
                           tbl: String): (DataFrame, SemanticIndex.Handle, DataFrame) = {
    val d = table(spark, dir, "documents").select(col("doc_id").as("vec_id"), col("text"))
    val seed = mmFeats(d).localCheckpoint(true) // feeds training AND the epoch-0 write
    val h = SemanticIndex.build(
      SemanticIndex.store(spark, s"${Fixtures.scratchRoot}/$root", tbl),
      seed, MmK, MmIters, MmThreshX1e6, IndexBuckets)
    val acc1 = SemanticIndex.acceptWave(h, mmFeats(wave(d, MmWave1)))
    requireFates(acc1, d)(
      (ByteCopies, AllRejected, "an exact byte-copy passed the multimodal accept gate"),
      (Flipped, SomeAccepted, "the case-flipped stratum was wholly rejected — accept path dead"))
    SemanticIndex.commit(h, acc1, 1)
    (d, h, acc1)
  }

  private lazy val mmWave1Ctes: String =
    s"""dsrc AS (SELECT doc_id AS vec_id, text FROM documents),
       |${mmFeatsCte("f0", "dsrc")},
       |${IvfKmeans.lloydCtes(MmK, MmIters, 8, 0L,
          src = "(SELECT vec_id, [x / nrm FOR x IN v] AS embedding FROM f0)")},
       |${IvfKmeans.spillAssignCte("i0", "f0", 8, Seq("v"), cents = mmCents)},
       |${mmFeatsCte("w1f", s"(${waveSql("dsrc", TextCols, MmWave1)})")},
       |${mmAcceptCtes("ac1", "w1f", "i0")}""".stripMargin

  /** `SemanticIndex.acceptWave`'s twin at the multimodal family's
    * dimension and threshold. */
  private def mmAcceptCtes(a: String, wave: String, idx: String): String =
    SemanticIndex.acceptWaveCtes(a, wave, idx, mmCents, 8, MmThreshX1e6)

  /** DuckDB LSH bucket of a DOUBLE list column `v`. */
  private def bucketSql(v: String): String =
    (0 until Planes).map { j =>
      val proj =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  [$v[i] * CAST(((${1009 * j} + 2003 * (i - 1)) % 97) - 48 AS DOUBLE)
           |   FOR i IN generate_series(1, $Dim)]), (x, y) -> x + y)""".stripMargin
      s"(CASE WHEN ($proj) > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val MaxProbe = 4 // q117/q125's widest nprobe level

  /** The semantic family's trained quantizer: the full-corpus vector
    * row `(vec_id, v, nrm, qv)` and its SemK cells after SemIters Lloyd
    * iterations. [[semLloydCtes]] is its twin. */
  private def semQuantizer(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
    (e, IvfKmeans.train(e.select(col("vec_id"), col("qv")), SemK, SemIters))
  }

  /** Every vector's trained cell, `(vec_id, qv, cell)`, materialized —
    * the index the IVF searches read on both sides. `assignCte`'s
    * `afin` is its twin. */
  private def semAssigned(e: DataFrame, cents: DataFrame): DataFrame =
    IvfKmeans.assign(e.select(col("vec_id"), col("qv")), cents)
      .select(col("vec_id"), col("qv"), col("cid").as("cell"))
      .localCheckpoint(true)

  /** The IVF search state of q114/q117/q125: the assigned corpus, its
    * probes (vec_id % 17, as `qid`/`pqv`) and the trained cells.
    * Returns (probes, assigned, cents). [[ivfNprobeCtes]] is its twin. */
  private def ivfNprobe(spark: SparkSession, dir: String) = {
    val (e, cents) = semQuantizer(spark, dir)
    val assigned = semAssigned(e, cents)
    val probes = assigned.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("qid"), col("qv").as("pqv"))
    (probes, assigned, cents)
  }

  /** The nprobe candidate join: each probe searches its `maxProbe`
    * nearest cells (all K centroid distances ride in the 1-row
    * broadcast; the (dist, cid) tie-break is the oracle's), so
    * (qid, vec_id, dist, crank). Narrower levels are `crank` filters
    * over it; each corpus vector lives in one cell, so no dedup. */
  private[graft] def ivfCandidates(probes: DataFrame, assigned: DataFrame,
                                   cents: DataFrame, maxProbe: Int): DataFrame =
    IvfKmeans.rankCells(probes, "pqv", cents, maxProbe)
      .join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dist", IvfKmeans.distL2(col("pqv"), col("qv")))
      .select(col("qid"), col("vec_id"), col("dist"), col("crank"))

  /** The exact leg the nprobe recall is measured against: every probe
    * against the whole corpus, (qid, pqv, vec_id, qv, cell, dist).
    * [[ivfExactSql]] is its twin. */
  private def ivfExact(probes: DataFrame, assigned: DataFrame): DataFrame =
    probes.join(assigned, col("vec_id") =!= col("qid"))
      .withColumn("dist", IvfKmeans.distL2(col("pqv"), col("qv")))

  /** SQL twin of [[ivfNprobe]] and [[ivfCandidates]]: the Lloyd and
    * final-assignment CTEs (`afin`), `ps` (probes), `pc` (each probe's
    * `maxProbe` ranked cells) and `cand`. */
  private def ivfNprobeCtes(maxProbe: Int): String = {
    import graft.operators.IvfKmeans.{assignCte, distSql}
    s"""$semLloydCtes,
       |${assignCte(SemIters, Dim)},
       |ps AS (SELECT vec_id AS qid, qv AS pqv FROM afin WHERE vec_id % 17 = 0),
       |pc AS (
       |  SELECT qid, pqv, cid AS cell, crank FROM (
       |    SELECT p.qid, p.pqv, c.cid,
       |      row_number() OVER (PARTITION BY p.qid
       |        ORDER BY ${distSql("p.pqv", "c.cqv", Dim)}, c.cid) AS crank
       |    FROM ps p, $semCents c)
       |  WHERE crank <= $maxProbe),
       |cand AS (
       |  SELECT pc.qid, a.vec_id,
       |    ${distSql("pc.pqv", "a.qv", Dim)} AS dist, pc.crank
       |  FROM pc JOIN afin a ON a.cell = pc.cell AND a.vec_id <> pc.qid)""".stripMargin
  }

  /** SQL twin of [[ivfExact]] over [[ivfNprobeCtes]]: `exd`, with an
    * optional probe filter `where`. */
  private def ivfExactSql(where: String = ""): String =
    s"""exd AS (
       |  SELECT p.qid, a.vec_id,
       |    ${IvfKmeans.distSql("p.pqv", "a.qv", Dim)} AS dist
       |  FROM ps p JOIN afin a ON a.vec_id <> p.qid$where)""".stripMargin

  val all: Seq[Q] = Seq(

    // -- Exact dedup: hash-groupBy on full text. The union constructs
    // known duplicates (every 7th doc re-appears under a new id), so the
    // dedup has real work to do. Scale form: an 8-byte fingerprint of
    // the text is the shuffle key (repartition on (lang, fp); the
    // grouping's ClusteredDistribution on (lang, fp, text) is satisfied
    // by the subset partitioning, so no second exchange) — full-text
    // equality is then checked only WITHIN a fingerprint bucket, and
    // identical texts always share a fingerprint, so the (lang, fp,
    // text) groups are exactly the (lang, text) groups.
    Q("q40_dedup_exact",
      (spark, dir) => {
        copyCorpus(table(spark, dir, "documents").select("doc_id", "lang", "text"))
          .withColumn("fp", xxhash64(col("text")))
          .repartition(col("lang"), col("fp"))
          .groupBy(col("lang"), col("fp"), col("text"))
          .agg(count(lit(1)).as("copies"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("distinct_docs"),
            sum(col("copies")).as("total_rows"),
            sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_groups"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH all_docs AS (
             |  ${copyCorpusSql("lang, text")})
             |SELECT lang, count(*) AS distinct_docs,
             |  CAST(sum(copies) AS BIGINT) AS total_rows,
             |  CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups
             |FROM (SELECT lang, text, count(*) AS copies FROM all_docs GROUP BY lang, text)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // -- MinHash + LSH near-dup detection: shingle -> 16 minhashes ->
    // 4 bands -> bucket equi-join -> candidate pairs -> exact-Jaccard
    // verify. The band join is the scale path: candidates shuffle on
    // (band_idx, band_key) instead of forming n^2 pairs.
    Q("q41_dedup_minhash_lsh",
      (spark, dir) => {
        // class-blocked (SetSimJoin.textClasses): identical texts share
        // the shingle set, hence bitmap, signature and band keys, so the
        // band self-join and its inline verify run over one
        // representative per distinct text (~n/10 rows on copy-dense
        // corpora) and qualifying class pairs re-expand to doc pairs.
        // Within-class pairs collide in every band and are J=1000 by
        // construction; the sz >= 1 guard mirrors the doc form, where an
        // empty set had NULL band keys and NULL Jaccard.
        val cls = SetSimJoin.textClasses(table(spark, dir, "documents"))
        val sig = bitmapSignedDocs(
          cls.select(col("rid").as("doc_id"), col("dids"), col("text")))
        // the bitmap popcount is cheap, so each class pair is verified
        // per band collision and only survivors reach the distinct
        SetSimJoin.expandClassPairs(bitmapBandPairs(sig).distinct(), sig,
            sig.filter(col("sz") >= 1 && size(col("dids")) >= 2),
            "doc_a", "doc_b")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      // class-blocked by shingle SET (`cls0`): signatures, band keys and
      // Jaccard depend only on the set, so the band self-join and the
      // candidate verify run over class representatives, and the verify
      // intersects dictionary ids (`shingleDictCtes`) behind the
      // size-ratio cut. Within-class pairs collide in every band and
      // verify at J = 1000 by construction.
      Some(
        s"""WITH $shCte,
           |cls0 AS MATERIALIZED (
           |  SELECT sh, list_sort(list(doc_id)) AS dids, min(doc_id) AS rid
           |  FROM sh GROUP BY sh),
           |${shingleDictCtes("cls", "cls0", "rid", Seq("dids"))},
           |shlc AS (SELECT rid, ${shingleHashesSql("sh")} AS hl FROM cls0),
           |${sigBandCtes("", "rid", "shlc")},
           |ccand AS (
           |  ${bandCandidatesSql("", "rid")}),
           |cver AS (
           |  ${verifySql("x.dids AS da, y.dids AS db",
               "ccand c JOIN cls x ON x.rid = c.ra JOIN cls y ON y.rid = c.rb", "ids")})
           |SELECT doc_a, doc_b, jacc_x1000 FROM (
           |  ${SetSimJoin.expandClassPairsSql("cver",
               "SELECT dids FROM cls0 WHERE len(dids) >= 2 AND len(sh) >= 1",
               "doc_a", "doc_b")})
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // -- The same Broder band scheme at PRODUCTION shingle granularity:
    // word bigrams instead of char 3-grams (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better", shingle on word
    // n-grams; char 3-grams keep inter-document Jaccard high on ANY
    // corpus because real text shares the common trigrams — quantified
    // against an enriched-vocabulary twin in PLANS.md). Elements are
    // q92's hashed-bigram longs; the verify is q99's allocation-free
    // sorted two-pointer intersect — no bitmap dictionary, because a
    // word-bigram universe is corpus-sized, not 400-element, so a
    // dense per-corpus dictionary would itself be a scale liability.
    // 100 TB: one signature pass, one shuffled band self-join on
    // uniform minhash keys; candidates stay near the true-near-dup
    // count on realistic vocabulary (PLANS.md: 299,765 vs 20.5M for
    // char 3-grams on the same corpus at sf0.1).
    Q("q108_dedup_minhash_word",
      (spark, dir) => {
        // the shared word-bigram front end (one definition for this
        // uncapped BASELINE and q127's hot-capped production form),
        // class-blocked by exact text like q41. Classes whose text fails
        // signedDocsWord's >= 2-token filter drop out, as their member
        // docs did in the doc-level form; surviving classes have a
        // non-empty hl, so every within-class pair collides (identical
        // bands) at J=1000 with no extra guard. The band self-join reads
        // both sides: materialize the signature pass once.
        val cls = SetSimJoin.textClasses(table(spark, dir, "documents"))
          .select(col("rid").as("doc_id"), col("text"), col("dids"))
        val base = signedDocsWord(cls, passthru = Seq("dids"))
          .localCheckpoint(true)
        // band join at the doc-level row width, verified per collision
        val rpairs = sortedJacc(bandPairs(bandKeysOf(base, passthru = Seq("sz", "hl")))
            .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"),
              col("a.hl").as("hl_a"), col("b.hl").as("hl_b"),
              col("a.sz").as("sz_a"), col("b.sz").as("sz_b")))
          .select(col("ra"), col("rb"), col("jacc_x1000"))
          .distinct()
        SetSimJoin.expandClassPairs(rpairs, base, base.filter(size(col("dids")) >= 2),
            "doc_a", "doc_b")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      // class-blocked via minhashWordClassCtes, q41's oracle at word
      // granularity
      Some {
        s"""WITH ${minhashWordClassCtes("w", "documents")},
           |ccand AS (
           |  ${bandCandidatesSql("w", "rid")}),
           |cver AS (
           |  ${verifySql("x.dids AS da, y.dids AS db",
               "ccand c JOIN wcls x ON x.rid = c.ra JOIN wcls y ON y.rid = c.rb", "hl")})
           |SELECT doc_a, doc_b, jacc_x1000 FROM (
           |  ${SetSimJoin.expandClassPairsSql("cver",
               "SELECT dids FROM wcls WHERE len(dids) >= 2", "doc_a", "doc_b")})
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // -- SimHash fingerprints: 16-bit sign-aggregated token-hash sketch
    // per document (near-dup docs land on nearby values; hamming-join
    // happens on chunked bits at scale).
    Q("q42_dedup_simhash",
      (spark, dir) =>
        table(spark, dir, "documents")
          .select(col("doc_id"),
            array_distinct(TF.tokens(lower(col("text")))).as("toks"))
          .withColumn("hs", transform(col("toks"), t => TF.polyHash(t)))
          .select(col("doc_id"), TF.simhash16(col("hs")).as("simhash"))
          .orderBy(col("doc_id")),
      Some {
        val bitTerms = (0 until 16).map { b =>
          s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(hs, h -> ((h >> $b) % 2) * 2 - 1)), (a, x) -> a + x) >= 0
             |  THEN ${1L << b} ELSE 0 END)""".stripMargin
        }.mkString("(", "\n  + ", ")")
        s"""WITH $tokHashCte
           |SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash
           |FROM th ORDER BY doc_id""".stripMargin
      }),

    // -- Exact n-gram Jaccard dedup, language-blocked: the quadratic
    // baseline that q41 approximates. Blocking key (lang) bounds the
    // pair explosion; at 100 TB block on (lang, length-band) and prefer
    // q41.
    // exact quadratic baseline, made scan-cheap: the tiny shingle
    // universe (~400 3-grams here) defeats prefix filtering — every
    // element is frequent and nearly all same-lang pairs are true
    // candidates — so instead each set becomes a dictionary bitmap and
    // the unavoidable pair enumeration costs AND+popcount per pair
    // (SetSimJoin). Blocking (lang equality) plus the size-ratio
    // necessary condition stay in the join predicate; results are
    // provably identical to the plain quadratic scan the oracle runs.
    Q("q43_dedup_ngram_jaccard",
      (spark, dir) => jaccardPairs(spark, dir).orderBy(col("doc_a"), col("doc_b")),
      // shares pairsCteSql with q52 — the class-blocked exact form
      // (same pairs, same jacc: the int shingle dictionary is
      // collision-free and union = sz_a + sz_b - inter on distinct
      // lists)
      Some(
        s"""WITH $shCte,
           |$pairsCteSql
           |SELECT doc_a, doc_b, jacc_x1000 FROM pairs
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // -- Brute-force cosine top-k: the ANN baseline. Query side is tiny
    // and broadcast; the corpus side streams through codegen'd fold
    // expressions (no UDF, no collect).
    Q("q44_knn_bruteforce",
      (spark, dir) => {
        // per-vector norms are computed once on each side, not per pair
        // (sqrt is deterministic, so sim is bit-identical to the inline
        // form the oracle computes)
        val e = IvfKmeans.withNorm(embeddings(spark, dir))
        val q = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
        val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        broadcast(q).join(e, col("vec_id") =!= col("qid"))
          .withColumn("sim", VF.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            VF.quantize1e6(col("sim")).as("sim_x1e6"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(
        s"""WITH $embCte,
           |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0),
           |scored AS (
           |  SELECT q.qid, e.vec_id, ${cosSql("qv", "v")} AS sim
           |  FROM q JOIN e ON e.vec_id <> q.qid)
           |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id,
           |  CAST(floor(sim * 1e6) AS BIGINT) AS sim_x1e6
           |FROM (SELECT qid, vec_id, sim,
           |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           |      FROM scored)
           |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // -- LSH-bucketed ANN: random-hyperplane signatures turn the
    // all-pairs scan into an equi-join on bucket id — the 100 TB path
    // (shuffles by bucket; no broadcast needed when queries are many).
    Q("q45_knn_lsh",
      (spark, dir) => {
        val e = IvfKmeans.withNorm(embeddings(spark, dir))
          .withColumn("bucket", VF.lshBucket(col("v"), Planes, Dim))
        val q = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("bucket").as("qbucket"), col("nrm").as("qnrm"))
        val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        q.join(e, col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
          .withColumn("sim", VF.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            VF.quantize1e6(col("sim")).as("sim_x1e6"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(
        s"""WITH $embCte,
           |eb AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
           |qb AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket
           |       FROM eb WHERE vec_id % 50 = 0),
           |scored AS (
           |  SELECT qb.qid, eb.vec_id, ${cosSql("qv", "eb.v")} AS sim
           |  FROM qb JOIN eb ON eb.bucket = qb.qbucket AND eb.vec_id <> qb.qid)
           |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id,
           |  CAST(floor(sim * 1e6) AS BIGINT) AS sim_x1e6
           |FROM (SELECT qid, vec_id, sim,
           |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           |      FROM scored)
           |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // -- Embedding-cosine near-dup pairs (exact all-pairs baseline;
    // q45's bucket join is the scale path).
    Q("q46_dedup_embedding",
      (spark, dir) => {
        val e = IvfKmeans.withNorm(embeddings(spark, dir))
        e.as("a").join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
          .withColumn("sim", VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .withColumn("sim_x1e6", VF.quantize1e6(col("sim")))
          .filter(col("sim_x1e6") >= SemThreshX1e6)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("sim_x1e6"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some(
        // norms hoisted per vector (the engine's own precomputed-nrm
        // shape; identical doubles) — 3x less per-pair fold work over
        // the O(n^2) join, which is what makes this oracle feasible
        // inline at sf1
        s"""WITH $embCte,
           |en AS MATERIALIZED (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e)
           |SELECT vec_a, vec_b, sim_x1e6 FROM (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |    CAST(floor(((${dotSql("a.v", "b.v", Dim)}) / (a.nrm * b.nrm)) * 1e6)
           |      AS BIGINT) AS sim_x1e6
           |  FROM en a JOIN en b ON a.vec_id < b.vec_id)
           |WHERE sim_x1e6 >= $SemThreshX1e6
           |ORDER BY vec_a, vec_b""".stripMargin)),

    // -- IVF (inverted-file) ANN: the third point on the ANN ladder —
    // q44 scans everything (exact), q45 prunes by random-hyperplane
    // buckets (data-independent), IVF prunes by *coarse quantization*:
    // every vector is assigned to its nearest centroid once, and a
    // query searches only its own cell (nprobe=1 here; higher nprobe =
    // explode the query onto its P nearest cells). Centroids are
    // deterministic stride-sampled seeds standing in for k-means (the
    // cell-index dataflow — assign, shuffle by cell, per-cell top-k —
    // is identical however centroids are trained). At scale: centroids
    // broadcast (k·dim doubles), assignment is one map-side pass
    // (O(N·C·d), no shuffle), the search join shuffles by cell only —
    // candidate count drops by ~C× vs the brute-force scan.
    Q("q53_knn_ivf",
      (spark, dir) => {
        val e = IvfKmeans.withNorm(embeddings(spark, dir))
        val cents = e.filter(col("vec_id") % 40 === 0)
          .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
        // nearest-centroid assignment on quantized sims (stable across
        // engines; ties broken by centroid id)
        val aw = Window.partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("cid"))
        // materialize the assignment once (localCheckpoint) — it feeds
        // both sides of the search self-join, which would otherwise
        // recompute the centroid cross + argmin window twice
        val assign = e.crossJoin(broadcast(cents))
          .withColumn("csim",
            VF.quantize1e6(VF.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))))
          .withColumn("arn", row_number().over(aw))
          .filter(col("arn") === 1)
          .select(col("vec_id"), col("v"), col("nrm"), col("cid").as("cell"))
          .localCheckpoint(true)
        val q = assign.filter(col("vec_id") % 17 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qnrm"), col("cell"))
        val w = Window.partitionBy(col("qid")).orderBy(col("sim_x1e6").desc, col("vec_id"))
        q.join(assign, Seq("cell")).filter(col("vec_id") =!= col("qid"))
          .withColumn("sim_x1e6",
            VF.quantize1e6(VF.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("rn").cast("long").as("rn"),
            col("vec_id"), col("sim_x1e6"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(
        s"""WITH $embCte,
           |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 40 = 0),
           |ascored AS (
           |  SELECT e.vec_id, e.v, c.cid,
           |    CAST(floor((${cosSql("e.v", "cv")}) * 1e6) AS BIGINT) AS csim
           |  FROM e CROSS JOIN c),
           |assign AS (
           |  SELECT vec_id, v, cid AS cell FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY csim DESC, cid) AS arn FROM ascored)
           |  WHERE arn = 1),
           |q AS (SELECT vec_id AS qid, v AS qv, cell FROM assign WHERE vec_id % 17 = 0),
           |cand AS (
           |  SELECT q.qid, a.vec_id,
           |    CAST(floor((${cosSql("qv", "a.v")}) * 1e6) AS BIGINT) AS sim_x1e6
           |  FROM q JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.qid)
           |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, sim_x1e6
           |FROM (SELECT qid, vec_id, sim_x1e6,
           |        row_number() OVER (PARTITION BY qid
           |          ORDER BY sim_x1e6 DESC, vec_id) AS rn
           |      FROM cand)
           |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // -- Gap-based sessionization (operators/Sessionize): the
    // clickstream/training-data primitive — session-length histogram
    // over per-user event streams, 1-hour gap. Two stacked windows,
    // one shuffle.
    Q("q54_sessionize",
      (spark, dir) => {
        val e = table(spark, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.operators.Sessionize.withSessions(
            e, "user_id", "ts", 3600L * 1000000L, Seq("event_id"))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(col("n_events"))
          .agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_events"))
      },
      Some(
        """WITH s AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
          |      THEN 1 ELSE 0 END AS st
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s2 AS (
          |  SELECT user_id, sum(st) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
          |  FROM s),
          |c AS (SELECT user_id, session_seq, count(*) AS n_events
          |      FROM s2 GROUP BY 1, 2)
          |SELECT CAST(n_events AS BIGINT) AS n_events, count(*) AS n_sessions
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- Native session_window sessionization: same histogram as q54
    // but through Spark's built-in merging session windows (the
    // operator Structured Streaming uses for streaming sessions).
    // Boundary semantics differ from the q54 gap rule: session_window
    // merges while the gap is STRICTLY below the duration, so the
    // oracle breaks sessions at diff >= gap.
    Q("q57_session_window",
      (spark, dir) => {
        val e = table(spark, dir, "events")
          .select(col("user_id"), col("ts"))
        e.groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(col("n_events"))
          .agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_events"))
      },
      Some(
        """WITH s AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 3600000000
          |      THEN 1 ELSE 0 END AS st
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s2 AS (
          |  SELECT user_id, sum(st) OVER (PARTITION BY user_id
          |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq
          |  FROM s),
          |c AS (SELECT user_id, session_seq, count(*) AS n_events
          |      FROM s2 GROUP BY 1, 2)
          |SELECT CAST(n_events AS BIGINT) AS n_events, count(*) AS n_sessions
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- KMV (k-minimum-values) distinct sketch vs the exact count:
    // a deterministic integer sketch (unlike HLL, reproducible in any
    // engine), the mergeable cardinality primitive for dedup planning.
    // estimate = (k-1) * HASH_SPACE / h_(k) with k = 16.
    Q("q55_kmv_distinct",
      (spark, dir) => {
        val e = table(spark, dir, "events")
        val h = (col("user_id") * 1103515245L + 12345L) % 2147483647L
        val dh = e.select(col("event_type"), h.as("h")).distinct()
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        val kth = dh.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 16)
          .select(col("event_type"), col("h").as("kth"))
        e.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
          .join(kth, "event_type")
          .select(col("event_type"), col("exact_distinct"),
            expr("(15 * CAST(2147483647 AS BIGINT)) DIV kth").as("kmv_estimate"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH dh AS (
          |  SELECT DISTINCT event_type,
          |    (user_id * 1103515245 + 12345) % 2147483647 AS h FROM events),
          |k AS (
          |  SELECT event_type, h AS kth FROM (
          |    SELECT event_type, h,
          |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          |    FROM dh)
          |  WHERE rn = 16),
          |x AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
          |      FROM events GROUP BY 1)
          |SELECT event_type, CAST(exact_distinct AS BIGINT) AS exact_distinct,
          |  CAST((15 * CAST(2147483647 AS BIGINT)) // kth AS BIGINT) AS kmv_estimate
          |FROM x JOIN k USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // -- Exact rank-selection quantiles (ceil-index p50/p95) per group
    // — the quality-score thresholding primitive; deterministic where
    // percentile interpolation is not.
    Q("q56_quantiles",
      (spark, dir) => {
        val e = table(spark, dir, "events")
          .select(col("event_type"),
            expr(centsSql("value")).as("cents"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        e.withColumn("rn", row_number().over(w).cast("long"))
          .join(e.groupBy(col("event_type")).agg(count(lit(1)).as("n")), "event_type")
          .groupBy(col("event_type"))
          .agg(
            max(when(col("rn") === expr("(n * 50 + 99) DIV 100"), col("cents"))).as("p50_cents"),
            max(when(col("rn") === expr("(n * 95 + 99) DIV 100"), col("cents"))).as("p95_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        s"""WITH e AS (SELECT event_type,
          |            ${centsSql("value")} AS cents FROM events),
          |r AS (SELECT event_type, cents,
          |        row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn
          |      FROM e),
          |n AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1)
          |SELECT event_type,
          |  CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END) AS BIGINT) AS p50_cents,
          |  CAST(max(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS BIGINT) AS p95_cents
          |FROM r JOIN n USING (event_type)
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // -- Multimodal -> embedding -> similarity: a deterministic
    // "feature extractor" over the raw media bytes (8-bin high-nibble
    // byte histogram — the stand-in for a real image/audio encoder,
    // exact in both engines because the test media is ASCII text) feeds
    // the same cosine/top-k machinery as q44/q53. The operator shape —
    // opaque bytes -> small feature vector -> vector search — is the
    // multimodal training-data pipeline end to end.
    Q("q58_multimodal_embed",
      (spark, dir) => {
        val e = IvfKmeans.withNorm(table(spark, dir, "documents")
          .select(col("doc_id"), byteHist(col("text")).as("v")))
        val q = e.filter(col("doc_id") % 37 === 0)
          .select(col("doc_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
        val w = Window.partitionBy(col("qid")).orderBy(col("sim_x1e6").desc, col("doc_id"))
        broadcast(q).join(e, col("doc_id") =!= col("qid"))
          .withColumn("sim_x1e6",
            VF.quantize1e6(VF.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("rn").cast("long").as("rn"),
            col("doc_id"), col("sim_x1e6"))
          .orderBy(col("qid"), col("rn"))
      },
      // norms hoisted per vector (engine's precomputed-nrm shape;
      // identical doubles) — the O(q·n) scored join pays one 8-dim fold
      // per pair instead of three, making the sf1 replay feasible inline
      Some(
        s"""WITH e AS MATERIALIZED (SELECT doc_id, v, ${normSql("v")} AS nrm FROM (
           |  SELECT doc_id, ${byteHistSql("text")} AS v FROM documents)),
           |q AS (SELECT doc_id AS qid, v AS qv, nrm AS qnrm FROM e
           |      WHERE doc_id % 37 = 0),
           |scored AS (
           |  SELECT q.qid, e.doc_id,
           |    CAST(floor((${dotSql("qv", "e.v", 8)})
           |      / (q.qnrm * e.nrm) * 1e6) AS BIGINT) AS sim_x1e6
           |  FROM q JOIN e ON e.doc_id <> q.qid)
           |SELECT qid, CAST(rn AS BIGINT) AS rn, doc_id, sim_x1e6
           |FROM (SELECT qid, doc_id, sim_x1e6,
           |        row_number() OVER (PARTITION BY qid
           |          ORDER BY sim_x1e6 DESC, doc_id) AS rn
           |      FROM scored)
           |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // -- Typed Dataset pipeline: case-class encoders + groupByKey/
    // mapGroups — the per-group imperative escape hatch (the CDS
    // assembly shape, SURVEY A10) on a semantics that SQL windows can
    // also express, so the typed path itself is oracle-checked. Counts
    // per-user "increasing value" steps over the time-ordered event
    // stream. Group payloads are bounded (one user's events); the
    // shuffle is the same groupByKey-by-user as any keyed window.
    Q("q59_typed_groups",
      (spark, dir) => {
        import spark.implicits._
        val ds = table(spark, dir, "events")
          .selectExpr("user_id", "unix_micros(ts) AS ts_micros", "event_id",
            s"${centsSql("value")} AS cents")
          .as[TypedEv]
        ds.groupByKey(_.user_id)
          .mapGroups { (u, it) =>
            val evs = it.toIndexedSeq.sortBy(e => (e.ts_micros, e.event_id))
            val inc = evs.iterator.zip(evs.iterator.drop(1))
              .count { case (a, b) => b.cents > a.cents }
            TypedUserStats(u, evs.size.toLong, inc.toLong)
          }
          .toDF()
          .groupBy((col("user_id") % 10).as("bucket"))
          .agg(sum(col("n_events")).as("n_events"), sum(col("n_incr")).as("n_incr"))
          .orderBy(col("bucket"))
      },
      Some(
        s"""WITH e AS (SELECT user_id, ts, event_id,
          |            ${centsSql("value")} AS cents FROM events),
          |l AS (SELECT user_id,
          |        CASE WHEN cents > lag(cents) OVER (PARTITION BY user_id
          |          ORDER BY ts, event_id) THEN 1 ELSE 0 END AS inc
          |      FROM e),
          |u AS (SELECT user_id, count(*) AS n_events,
          |        CAST(sum(inc) AS BIGINT) AS n_incr FROM l GROUP BY 1)
          |SELECT user_id % 10 AS bucket, CAST(sum(n_events) AS BIGINT) AS n_events,
          |  CAST(sum(n_incr) AS BIGINT) AS n_incr
          |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- Time-dimension breakdown (day-of-month x 6-hour band): the
    // partition-key shape time-partitioned lakes use; extracts chosen
    // for identical semantics in both engines.
    Q("q73_time_breakdown",
      (spark, dir) =>
        table(spark, dir, "events")
          .select(dayofmonth(col("ts")).cast("long").as("dom"),
            (hour(col("ts")).cast("long") / 6).cast("long").as("band"),
            expr(centsSql("value")).as("cents"))
          .groupBy(col("dom"), col("band"))
          .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
          .orderBy(col("dom"), col("band")),
      Some(
        s"""SELECT CAST(extract(day FROM ts) AS BIGINT) AS dom,
          |  CAST(extract(hour FROM ts) // 6 AS BIGINT) AS band,
          |  count(*) AS cnt,
          |  CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_cents
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- Word-bigram top-k per language: token-level n-grams (the
    // phrase-frequency primitive next to the char-shingle machinery),
    // two-stage top-k via window rank.
    Q("q74_bigram_topk",
      (spark, dir) => {
        val toks = table(spark, dir, "documents")
          .select(col("lang"), TF.tokens(lower(col("text"))).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("lang"), explode(TF.wordBigrams(col("t"), "_")).as("bigram"))
        val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram"))
        toks.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("lang"), col("rn").cast("long").as("rn"),
            col("bigram"), col("cnt"))
          .orderBy(col("lang"), col("rn"))
      },
      Some(
        s"""WITH t AS (
          |  SELECT lang, ${TF.tokensSql("lower(text)")} AS t
          |  FROM documents),
          |bg AS (
          |  SELECT lang, unnest(${TF.wordBigramsSql("t", "_")}) AS bigram
          |  FROM t WHERE len(t) >= 2),
          |c AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2)
          |SELECT lang, CAST(rn AS BIGINT) AS rn, bigram, cnt
          |FROM (SELECT lang, bigram, cnt,
          |        row_number() OVER (PARTITION BY lang
          |          ORDER BY cnt DESC, bigram) AS rn
          |      FROM c)
          |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin)),

    // -- Custom mergeable top-k Aggregator in the gate: per event type,
    // top-5 (cents, event_id) via operators/TopK — map-side-bounded
    // buffers (k rows per group per mapper cross the shuffle), checked
    // against the oracle's full window rank.
    Q("q75_topk_agg",
      (spark, dir) => {
        import spark.implicits._
        val ds = table(spark, dir, "events")
          .select(col("event_type"),
            expr(centsSql("value")).as("cents"),
            col("event_id"))
          .as[(String, Long, Long)]
        ds.groupByKey(_._1)
          .mapValues(r => (r._2, r._3))
          .agg(graft.operators.TopK.topK(5).toColumn.name("top"))
          .toDF("event_type", "top")
          .select(col("event_type"), posexplode(col("top")).as(Seq("rank0", "st")))
          .select(col("event_type"), (col("rank0") + 1).cast("long").as("rn"),
            col("st._1").as("cents"), col("st._2").as("event_id"))
          .orderBy(col("event_type"), col("rn"))
      },
      Some(
        s"""SELECT event_type, CAST(rn AS BIGINT) AS rn, cents, event_id
          |FROM (SELECT event_type, cents, event_id,
          |        row_number() OVER (PARTITION BY event_type
          |          ORDER BY cents DESC, event_id) AS rn
          |      FROM (SELECT event_type,
          |              ${centsSql("value")} AS cents,
          |              event_id
          |            FROM events))
          |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin)),

    // -- Heuristic language ID vs the labeled lang column (confusion
    // matrix). Marker lists are deliberately tiny; the operator shape
    // (argmax over per-language token matches) is what scales.
    Q("q47_lang_id",
      (spark, dir) =>
        table(spark, dir, "documents")
          .select(col("lang").as("lang_actual"),
            TF.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang_actual"), col("lang_pred"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("lang_actual"), col("lang_pred")),
      Some(
        s"""SELECT lang_actual, lang_pred, count(*) AS cnt FROM (
           |  SELECT lang AS lang_actual, ${TF.langIdSql("text")} AS lang_pred
           |  FROM documents)
           |GROUP BY lang_actual, lang_pred
           |ORDER BY lang_actual, lang_pred""".stripMargin)),

    // -- Document quality metrics aggregated per language (all exact
    // integers, so the per-doc structs hash-match through the rollup).
    Q("q48_text_quality",
      (spark, dir) =>
        table(spark, dir, "documents")
          .select(col("lang"), TF.qualityMetrics(col("text")).as("m"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("docs"),
            sum(col("m.n_chars")).as("sum_chars"),
            sum(col("m.n_tokens")).as("sum_tokens"),
            sum(col("m.n_subtokens")).as("sum_subtokens"),
            sum(col("m.n_punct")).as("sum_punct"),
            sum(col("m.n_stopwords")).as("sum_stopwords"),
            sum(col("m.mean_tok_len_x100")).as("sum_mean_tok_len_x100"))
          .orderBy(col("lang")),
      Some(
        s"""SELECT lang, count(*) AS docs,
           |  CAST(sum(m.n_chars) AS BIGINT) AS sum_chars,
           |  CAST(sum(m.n_tokens) AS BIGINT) AS sum_tokens,
           |  CAST(sum(m.n_subtokens) AS BIGINT) AS sum_subtokens,
           |  CAST(sum(m.n_punct) AS BIGINT) AS sum_punct,
           |  CAST(sum(m.n_stopwords) AS BIGINT) AS sum_stopwords,
           |  CAST(sum(m.mean_tok_len_x100) AS BIGINT) AS sum_mean_tok_len_x100
           |FROM (SELECT lang, ${TF.qualityMetricsSql("text")} AS m FROM documents)
           |GROUP BY lang ORDER BY lang""".stripMargin)),

    // -- Token frequency top-k (explode -> groupBy -> global top-k with
    // deterministic tiebreak): word-count, the canonical shuffle shape.
    Q("q49_token_topk",
      (spark, dir) =>
        table(spark, dir, "documents")
          .select(explode(TF.tokens(lower(col("text")))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(20),
      Some(
        s"""SELECT token, count(*) AS cnt
          |FROM (SELECT unnest(${TF.tokensSql("lower(text)")}) AS token
          |      FROM documents)
          |GROUP BY token
          |ORDER BY cnt DESC, token
          |LIMIT 20""".stripMargin)),

    // -- Multimodal plumbing: documents as opaque binary media columns,
    // decoded (stub) and frame-sampled via Dataset.mapPartitions (see
    // graft.operators.Multimodal). The test blobs are pure-ASCII text
    // bytes, so DuckDB reproduces the byte features via ascii() — the
    // plumbing under oracle check is schema/encoder/partition-iteration
    // (frame geometry, stride sampling, per-frame byte folds).
    Q("q51_multimodal_frames",
      (spark, dir) => {
        implicit val s = spark
        val media = graft.operators.Multimodal.mediaFromDocuments(
          table(spark, dir, "documents"))
        graft.operators.Multimodal.sampleFrameFeatures(media, frameLen = 16, stride = 4)
          .toDF()
          .groupBy(col("source"))
          .agg(count(lit(1)).as("frames"),
            sum(col("byte_sum")).as("sum_bytes"),
            sum(col("byte_max").cast("long")).as("sum_frame_max"))
          .orderBy(col("source"))
      },
      Some(
        s"""WITH f AS (
          |  SELECT source, doc_id, text,
          |    (length(text) + 15) // 16 AS n_frames
          |  FROM documents),
          |fr AS (
          |  SELECT source, doc_id, frame_idx,
          |    ${TF.asciiCodesSql("substr(text, CAST(frame_idx * 16 + 1 AS INT), 16)")} AS bytes
          |  FROM f, LATERAL (SELECT unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS frame_idx))
          |SELECT source, count(*) AS frames,
          |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), bytes), (a, x) -> a + x)) AS BIGINT) AS sum_bytes,
          |  CAST(sum(list_max(bytes)) AS BIGINT) AS sum_frame_max
          |FROM fr GROUP BY source ORDER BY source""".stripMargin)),

    // -- Near-dup clustering: pairs -> connected components -> one
    // canonical doc (min id) per cluster. Spark runs iterative
    // min-label propagation (operators/ConnectedComponents); the oracle
    // computes the transitive closure with a recursive CTE — same
    // components either way. (componentsStar measured slower here:
    // near-dup clusters are shallow, so O(diameter) rounds is 2-3 and
    // the star variant's heavier per-round dataflow doesn't pay off —
    // it's the high-diameter path, not the default.)
    Q("q52_dedup_clusters",
      (spark, dir) => {
        val pairs = jaccardPairs(spark, dir)
        graft.operators.ConnectedComponents.components(pairs, "doc_a", "doc_b")
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("comp")).as("sum_canonical"))
          .orderBy(col("cluster_size"))
      },
      Some(
        s"""WITH RECURSIVE $shCte,
           |$pairsCteSql,
           |edges AS MATERIALIZED (
           |  SELECT doc_a AS a, doc_b AS b FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a),
           |cl AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp)
           |SELECT CAST(cluster_size AS BIGINT) AS cluster_size, count(*) AS n_clusters,
           |  CAST(sum(comp) AS BIGINT) AS sum_canonical
           |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- Deterministic stratified train/val/test split (`TF.dataSplit`),
    // the dataset-assembly primitive. At 100 TB this is a map-only pass
    // (no shuffle before the per-(lang,split) rollup).
    Q("q76_stratified_split",
      (spark, dir) =>
        table(spark, dir, "documents")
          .withColumn("split", TF.dataSplit(col("doc_id")))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("sum_chars"))
          .orderBy(col("lang"), col("split")),
      Some(
        s"""SELECT lang, split, count(*) AS n_docs,
          |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
          |FROM (SELECT lang, text, ${TF.dataSplitSql("doc_id")} AS split
          |      FROM documents)
          |GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // -- Overlapping token-window chunking (size 32, stride 24): the
    // pretraining/RAG chunker — each doc explodes into fixed-size
    // windows with 8-token overlap, each chunk carrying a deterministic
    // fingerprint (for chunk-level dedup downstream). Map-side explode,
    // no shuffle until a consumer aggregates; chunk counts scale
    // linearly with corpus tokens.
    Q("q77_doc_chunking",
      (spark, dir) => {
        val C = 32 // tokens per chunk
        val S = 24 // stride (C - S = 8-token overlap)
        val toks = table(spark, dir, "documents")
          .filter(col("doc_id") % 25 === 0 && length(trim(col("text"))) > 0)
          .select(col("doc_id"), TF.tokens(lower(col("text"))).as("t"))
        toks
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(1), size(col("t")), lit(S)),
              st => slice(col("t"), st, lit(C)))).as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            size(col("chunk")).cast("long").as("n_toks"),
            contentFp(transform(col("chunk"), t => TF.polyHash(t))).as("chunk_fp"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, ${TF.tokensSql("lower(text)")} AS t
           |  FROM documents WHERE doc_id % 25 = 0 AND length(trim(text)) > 0),
           |ch AS (
           |  SELECT doc_id, CAST((st - 1) // 24 AS BIGINT) AS chunk_idx,
           |    t[st:st + 31] AS chunk
           |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(t), 24)) AS st))
           |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_toks,
           |  ${contentFpSql(s"list_transform(chunk, tok -> ${TF.polyHashSql("tok")})")} AS chunk_fp
           |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // -- Rolling-hash document fingerprint (the exact-dedup / shard-key
    // primitive; engine-independent integer polynomial).
    Q("q50_doc_fingerprint",
      (spark, dir) =>
        table(spark, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), TF.polyHash(col("text")).as("fp"))
          .orderBy(col("doc_id")),
      Some(
        s"""SELECT doc_id, ${TF.polyHashSql("text")} AS fp
          |FROM documents
          |WHERE doc_id % 5 = 0
          |ORDER BY doc_id""".stripMargin)),

    // -- The LARGE-universe exact-Jaccard regime (PPJoin-style prefix
    // filtering, `SetSimJoin.prefixFilterJoin`): the scale path when
    // the element universe is unbounded and the dictionary-bitmap
    // regime (q43) is inapplicable by design. No driver collect, no
    // broadcast: frequencies, rarity-ordered arrays, prefix-token
    // candidate join and exact verify are all shuffled aggregations /
    // equi-joins. The oracle is the plain quadratic form.
    //
    // The gate runs on a doc_id%4 subset: the template-generated test
    // corpus has only ~900 distinct word bigrams, so its "rarest"
    // prefix tokens still occur in hundreds of documents and candidate
    // enumeration approaches quadratic — the exact degenerate case the
    // SetSimJoin scaladoc assigns to the bitmap regime. The subset
    // keeps the correctness gate (operator ≡ brute-force oracle) at
    // catalog-friendly cost; `PrefixFilterSpec` covers the operator's
    // pruning math independently of the corpus.
    Q("q92_dedup_prefix_filter",
      (spark, dir) => {
        // elements are HASHED bigrams (the shared integer polynomial,
        // reproduced in the oracle): long compares/intersections beat
        // string ones throughout the pipeline — the standard
        // hashed-shingle representation. Class-blocked by exact text
        // (SetSimJoin.textClasses): the prefix-filter join runs over
        // class representatives and re-expands. Prefix filtering is
        // exact under ANY global element order (the theorem in
        // SetSimJoin.prefixFilterJoin holds for every total order), so
        // class-level frequencies vs doc-level ones change only which
        // candidates are pruned, never the verified result set.
        // Surviving classes (>= 2 tokens) have non-empty sh, so every
        // within-class pair verifies at J=1000 in the doc form.
        val cls = SetSimJoin.textClasses(
          table(spark, dir, "documents").filter(col("doc_id") % 4 === 0))
        val bg = cls
          .select(col("rid").as("doc_id"), col("dids"),
            TF.tokens(lower(col("text"))).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("dids"), wordHashes(col("t")).as("sh"))
          // read by the prefix join input, the dids re-attach, and the
          // within-class expansion
          .localCheckpoint(true)
        val reps = SetSimJoin
          .prefixFilterJoin(bg.select("doc_id", "sh"), "doc_id", "sh", JaccThreshold)
          .select(col("id_a").as("ra"), col("id_b").as("rb"), col("jacc_x1000"))
        SetSimJoin.expandClassPairs(reps, bg, bg.filter(size(col("dids")) >= 2),
            "id_a", "id_b")
          .orderBy(col("id_a"), col("id_b"))
      },
      // the plain quadratic form, class-blocked like pairsCteSql
      // (Jaccard depends only on the hashed-bigram SET, so identical
      // sets form one class; the all-pairs scan runs over classes and
      // qualifying class pairs re-expand — within-class pairs are
      // J=1000 by construction), with the size-ratio cut.
      Some(
        s"""WITH bg AS (
           |  ${wordDocsSql("doc_id",
               "(SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0)")}),
           |bcls AS MATERIALIZED (
           |  SELECT hl, sz, list_sort(list(doc_id)) AS dids, min(doc_id) AS rid
           |  FROM bg GROUP BY hl, sz),
           |cpx AS (
           |  ${verifySql("x.dids AS da, y.dids AS db",
               "bcls x JOIN bcls y ON x.rid < y.rid", "hl")})
           |SELECT id_a, id_b, jacc_x1000 FROM (
           |  ${SetSimJoin.expandClassPairsSql("cpx",
               "SELECT dids FROM bcls WHERE len(dids) >= 2", "id_a", "id_b")})
           |ORDER BY id_a, id_b""".stripMargin)),

    // -- The dedup ladder composed as ONE production pipeline (the
    // training-data twin of q84's chained genomic flow): corpus with
    // injected exact copies -> exact dedup (fingerprint shuffle key,
    // min-id canonical, q40's shape) -> MinHash+LSH candidate pairs
    // with inline bitmap-Jaccard verify over the survivors (q41's
    // shape) -> connected components (q52's operator) -> canonical
    // selection (cluster minimum) -> per-language retention rollup.
    // 100 TB: stage boundaries are the two localCheckpoints (exact
    // survivors, signature table) — each stage's output is read once
    // by the next; every join is a shuffled/AQE equi-join; nothing
    // corpus-sized broadcasts. This is the composition a real corpus
    // clean actually runs, so it's gated end to end as one artifact.
    Q("q88_dedup_pipeline",
      (spark, dir) => {
        val raw = copyCorpus(table(spark, dir, "documents").select("doc_id", "lang", "text"))
        // stage 1: exact dedup, canonical = min doc_id per (lang, text)
        val exact = raw
          .withColumn("fp", xxhash64(col("text")))
          .repartition(col("lang"), col("fp"))
          .groupBy(col("lang"), col("fp"), col("text"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
          // consumed by the signature build AND the final rollup
          .localCheckpoint(true)
        // stage 2: LSH candidates + inline bitmap verify over exact
        // survivors (q41's shape)
        val sig = bitmapSignedDocs(exact.select(col("doc_id"), col("text")))
        val pairs = bitmapBandPairs(sig)
          .select(col("ra").as("doc_a"), col("rb").as("doc_b"))
        // no distinct here: ConnectedComponents symmetrizes + distincts
        // the edge list as its first step — a pre-distinct would be a
        // second shuffle of the same verified-pair stream
        // stages 3+4: cluster, drop non-canonical members, roll up
        val removed = graft.operators.ConnectedComponents
          .components(pairs, "doc_a", "doc_b")
          .filter(col("node") =!= col("comp"))
          .select(col("node").as("doc_id"), lit(1).as("near_dup"))
        exact.join(removed, Seq("doc_id"), "left_outer")
          .groupBy(col("lang"))
          .agg(sum(col("copies")).as("n_input_rows"),
            count(lit(1)).as("n_exact_unique"),
            sum(when(col("near_dup").isNotNull, 1L).otherwise(0L)).as("n_near_removed"),
            sum(when(col("near_dup").isNull, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("near_dup").isNull, col("doc_id"))).as("sum_kept_ids"))
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH RECURSIVE all_docs AS (
           |  ${copyCorpusSql("lang, text")}),
           |ex AS (
           |  SELECT lang, text, min(doc_id) AS doc_id, count(*) AS copies
           |  FROM all_docs GROUP BY lang, text),
           |${shinglesCte("sh", "doc_id", "ex")},
           |shl AS (SELECT doc_id, ${shingleHashesSql("sh")} AS hl FROM sh),
           |${sigBandCtes("", "doc_id", "shl")},
           |cand AS (
           |  ${bandCandidatesSql("", "doc_id")}),
           |${shingleDictCtes("shd", "sh", "doc_id", Nil)},
           |pairs AS MATERIALIZED (
           |  ${verifySql("c.ra AS doc_a, c.rb AS doc_b",
               "cand c JOIN shd x ON x.doc_id = c.ra JOIN shd y ON y.doc_id = c.rb", "ids")}),
           |edges AS MATERIALIZED (
           |  SELECT doc_a AS a, doc_b AS b FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a),
           |removed AS (SELECT node AS doc_id FROM comp WHERE node <> comp)
           |SELECT e.lang,
           |  CAST(sum(e.copies) AS BIGINT) AS n_input_rows,
           |  count(*) AS n_exact_unique,
           |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_removed,
           |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN e.doc_id END) AS BIGINT) AS sum_kept_ids
           |FROM ex e LEFT JOIN removed r ON e.doc_id = r.doc_id
           |GROUP BY e.lang ORDER BY e.lang""".stripMargin)),

    // -- Train/test contamination check: the eval-integrity gate every
    // training-data pipeline runs before shipping a split. Re-derives
    // q76's deterministic split, fingerprints each doc's distinct
    // 5-token-grams (the shared integer polynomial), and equi-joins
    // test grams against train grams — any collision is leaked eval
    // data. 100 TB: one map-side gram explode + one shuffled equi-join
    // on the gram hash (same shape as the LSH band join); the gram
    // table is materialized once and filtered per side, so the corpus
    // is fingerprinted exactly once. The two COUNT(DISTINCT)s plan as
    // a single expand + one aggregation exchange keyed by test doc.
    Q("q93_contamination",
      (spark, dir) => {
        val grams = splitGrams(spark, dir)
        grams.filter(col("split") === "test").as("te")
          .join(grams.filter(col("split") === "train").as("tr"),
            col("te.fp") === col("tr.fp"))
          .groupBy(col("te.doc_id").as("doc_id"))
          .agg(countDistinct(col("tr.doc_id")).as("n_train_docs"),
            countDistinct(col("te.fp")).as("n_shared_grams"))
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH $splitGramsCtes
           |SELECT te.doc_id, count(DISTINCT tr.doc_id) AS n_train_docs,
           |  count(DISTINCT te.fp) AS n_shared_grams
           |FROM g te JOIN g tr ON te.fp = tr.fp
           |  AND te.split = 'test' AND tr.split = 'train'
           |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin)),

    // -- Repetition-based quality filtering (the Gopher/MassiveText
    // rules): per doc, the top-bigram mass fraction and the
    // duplicate-bigram mass fraction, flagged against thresholds, then
    // rolled up per language. Deliberately NOT explode + groupBy(doc,
    // gram): bigram counts are document-local, so they are computed
    // entirely inside per-row expressions — a map-only pass with the
    // language rollup as the only shuffle. Per-gram counting is
    // `TF.elementCountStats` (sort + one run-length scan, O(g log g)
    // per doc; dup mass falls out as tot - n_singleton) — linear-ish
    // in document length, so a pathologically long document cannot
    // blow up a task the way the earlier count-each-distinct-gram
    // O(g^2) scan could.
    Q("q94_repetition_filter",
      (spark, dir) => {
        val t = table(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), TF.tokens(lower(col("text"))).as("t"))
          .filter(size(col("t")) >= 2)
          .withColumn("gs", TF.wordBigrams(col("t"), " "))
          .withColumn("st", TF.elementCountStats(col("gs")))
          .select(col("lang"),
            col("st.top_c").as("top_c"),
            size(col("gs")).cast("long").as("tot"),
            (size(col("gs")).cast("long") - col("st.n_singleton")).as("dup_mass"))
        t.groupBy(col("lang"))
          .agg(count(lit(1)).as("docs"),
            sum(when(col("top_c") * 1000 >= col("tot") * 100, 1L).otherwise(0L))
              .as("flagged_topbg"),
            sum(when(col("dup_mass") * 1000 >= col("tot") * 150, 1L).otherwise(0L))
              .as("flagged_dup"),
            sum(col("top_c")).as("sum_top_c"),
            sum(col("dup_mass")).as("sum_dup_mass"))
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH t AS (
          |  SELECT lang, ${TF.tokensSql("lower(text)")} AS toks
          |  FROM documents),
          |bg AS (
          |  SELECT lang, ${TF.wordBigramsSql("toks", " ")} AS gs
          |  FROM t WHERE len(toks) >= 2),
          |perdoc AS (
          |  SELECT lang, st.top_c AS top_c, len(gs) AS tot,
          |    len(gs) - st.n_singleton AS dup_mass
          |  FROM (SELECT lang, gs, ${TF.elementCountStatsSql("gs")} AS st FROM bg))
          |SELECT lang, count(*) AS docs,
          |  CAST(sum(CASE WHEN top_c * 1000 >= tot * 100 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS flagged_topbg,
          |  CAST(sum(CASE WHEN dup_mass * 1000 >= tot * 150 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS flagged_dup,
          |  CAST(sum(top_c) AS BIGINT) AS sum_top_c,
          |  CAST(sum(dup_mass) AS BIGINT) AS sum_dup_mass
          |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin)),

    // -- Sequence packing: assemble fixed-budget training contexts by
    // concatenating documents in a deterministic order (the GPT-style
    // concat-and-split packer). Packing is inherently ordered, so the
    // packing DOMAIN must be sub-corpus-sized: documents are sharded
    // into (lang, doc_id % 8) strata and packed independently within
    // each — exactly how production packers parallelize (a global
    // order would serialize the corpus through one window). Each
    // stratum is one keyed window (running token count before the doc)
    // and pack_id = cum_before DIV budget; the shuffle is the window's
    // stratum repartition, nothing else.
    Q("q95_sequence_packing",
      (spark, dir) => {
        val t = table(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), (col("doc_id") % 8).as("shard"),
            TF.tokenCount(lower(col("text"))).cast("long").as("n_tok"))
        val w = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t.withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("pack_id", expr("CAST(cum_before DIV 256 AS BIGINT)"))
          .groupBy(col("lang"), col("shard"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
          .orderBy(col("lang"), col("shard"), col("pack_id"))
      },
      Some(
        s"""WITH t AS (
          |  SELECT doc_id, lang, doc_id % 8 AS shard,
          |    CAST(${TF.tokenCountSql("lower(text)")} AS BIGINT) AS n_tok
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, lang, shard, n_tok,
          |    COALESCE(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          |  FROM t)
          |SELECT lang, shard, CAST(cum_before // 256 AS BIGINT) AS pack_id,
          |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
          |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // -- Incremental dedup against a PERSISTENT MinHash index: the
    // production shape for a continuously-ingested corpus. One-time
    // (amortized) cost: the corpus's shingle-hash lists and exploded
    // LSH band keys are written as bucketed tables — docs by doc_id,
    // bands by the combined band key. Per ingest wave: only the NEW
    // batch is shingled/signed; its band keys join the index's band
    // table and its candidates join the index's doc table, and on both
    // joins the corpus-sized side enters EXCHANGE-FREE (bucket
    // partitioning recognized by the planner; the per-wave shuffle is
    // the wave's, not the corpus's — same amortization as q98, applied
    // to the dedup family). Exact-Jaccard verify runs on the stored
    // hash lists (array_intersect), so no bitmap dictionary and no
    // session state is needed across waves. The wave mixes exact
    // copies (re-keyed %20==0 docs → must match their originals) with
    // reversed-text decoys (%20==4 → shingle sets differ; band
    // collisions, if any, must die in the verify). The oracle replays
    // index build + wave + banding + verify from scratch in DuckDB.
    // The corpus is the shared doc_id%4 subset (`dedupCorpus`).
    Q("q99_incremental_dedup",
      (spark, dir) => {
        val corpus = dedupCorpus(spark, dir)
        // the index is the shared MinhashIndex store; shingle-hash
        // lists + signatures via the shared signedDocs / bandKeysOf
        // front end (hl SORTED for the native two-pointer
        // `sorted_inter_count` verify — allocation-free, codegen; ~3x
        // over array_intersect on the candidate-pair loop; no shingle
        // strings, no bitmap dictionary)
        val idx = MinhashIndex.store(spark, s"${Fixtures.scratchRoot}/dedupindex",
          "graft_q99")
        MinhashIndex.seed(idx, IndexBuckets,
          signedDocs(corpus).localCheckpoint(true)) // docs write + bands write
        // ---- the ingest wave (exact copies + reversed decoys): q109's wave 1
        val wsig = signedDocs(wave(corpus, EpochWave1))
          .localCheckpoint(true) // bands + verify + rollup
        // candidate band join + size-ratio prune + native
        // sorted_inter_count verify — the shared engine-side block
        // (functions/MinhashPipeline), one definition with q109/q110/q112
        val verified = verifiedDupPairs(wsig, MinhashIndex.docs(idx),
          MinhashIndex.bands(idx))
        wsig.select(col("doc_id"), col("lang"))
          .join(verified.groupBy(col("w_id").as("doc_id"))
            .agg(count(lit(1)).as("n_matches"), min(col("idx_id")).as("first_match")),
            Seq("doc_id"), "left_outer")
          .groupBy(col("lang"), col("n_matches").isNotNull.as("is_dup"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("n_matches"), lit(0L))).as("n_pairs"),
            sum(coalesce(col("first_match"), lit(0L))).as("sum_first_match"))
          .orderBy(col("lang"), col("is_dup"))
      },
      Some {
        // shingle/minhash/band replay via the shared minhashCtes mirror
        s"""WITH $dedupCorpusCte,
           |wave AS (
           |  ${waveSql("corpus", DocCols, EpochWave1)}),
           |${minhashCtes("i", "corpus")},
           |${minhashCtes("w", "wave")},
           |verified AS (
           |  ${verifiedDupPairsSql("w", "idocs", "ibands")}),
           |m AS (
           |  SELECT w_id AS doc_id, count(*) AS n_matches, min(idx_id) AS first_match
           |  FROM verified GROUP BY w_id)
           |SELECT wd.lang, (m.doc_id IS NOT NULL) AS is_dup,
           |  count(*) AS n_docs,
           |  CAST(sum(coalesce(m.n_matches, 0)) AS BIGINT) AS n_pairs,
           |  CAST(sum(coalesce(m.first_match, 0)) AS BIGINT) AS sum_first_match
           |FROM wdocs wd LEFT JOIN m ON m.doc_id = wd.doc_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // -- The corpus CLEANING FUNNEL as one gated artifact (the quality
    // twin of q88's dedup ladder): language-ID gate → quality
    // thresholds (token count + mean token length) → repetition gate
    // (q94's top-bigram mass) → exact dedup among survivors, reported
    // as the per-stage attrition table production corpus cleans are
    // monitored by. All per-doc stage flags are map-only, staged as
    // NAMED columns (withColumn) so each intermediate array is
    // materialized once per row — inlining `gs` as a raw expression
    // tree re-built the bigram array inside every higher-order lambda
    // evaluation, which turned the per-doc scan cubic (measured: the
    // inlined form took ~8 min at sf0.1; this form ~1 s). The
    // top-bigram count is `TF.elementCountStats` (sort + one linear
    // run-length scan, O(g log g) per doc), not the
    // count-each-distinct-gram O(g^2) form. The only shuffles are the
    // single count aggregate and the final distinct-text dedup over
    // stage-3 survivors. The oracle replays every stage in SQL.
    Q("q100_cleaning_funnel",
      (spark, dir) => {
        // injected exact copies (re-keyed %9==0 docs) make the final
        // dedup stage do real work, as q88's fixture does
        val d = table(spark, dir, "documents").select("doc_id", "text")
        val corpus = d.unionByName(d.filter(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 400000L))
        val flagged = corpus
          .withColumn("toks", TF.tokens(lower(col("text"))))
          .withColumn("gs", TF.wordBigrams(col("toks"), " "))
          .withColumn("top_c", TF.elementCountStats(col("gs")).getField("top_c"))
          .select(col("doc_id"), col("text"),
            (TF.langId(col("text")) =!= "und").as("f_lang"),
            (size(col("toks")) >= 15 && TF.meanTokLenX100(col("toks")).between(420, 470))
              .as("f_quality"),
            when(size(col("gs")) > 0,
              col("top_c") * 1000 < size(col("gs")).cast("long") * 100)
              .otherwise(true).as("f_rep"))
          // the counts aggregate and the dedup both read the flags
          .localCheckpoint(true)
        val counts = flagged.agg(
          count(lit(1)).as("n0"),
          sum(when(col("f_lang"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("f_lang") && col("f_quality"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("f_lang") && col("f_quality") && col("f_rep"), 1L)
            .otherwise(0L)).as("n3"))
        val n4 = flagged
          .filter(col("f_lang") && col("f_quality") && col("f_rep"))
          .select(col("text")).distinct()
          .agg(count(lit(1)).as("n4"))
        counts.crossJoin(n4)
          .select(explode(array(
            struct(lit(1L).as("stage_idx"), lit("lang_id").as("stage"),
              (col("n0") - col("n1")).as("n_removed"), col("n1").as("n_remaining")),
            struct(lit(2L).as("stage_idx"), lit("quality").as("stage"),
              (col("n1") - col("n2")).as("n_removed"), col("n2").as("n_remaining")),
            struct(lit(3L).as("stage_idx"), lit("repetition").as("stage"),
              (col("n2") - col("n3")).as("n_removed"), col("n3").as("n_remaining")),
            struct(lit(4L).as("stage_idx"), lit("exact_dedup").as("stage"),
              (col("n3") - col("n4")).as("n_removed"), col("n4").as("n_remaining"))))
            .as("s"))
          .select(col("s.*"))
          .orderBy(col("stage_idx"))
      },
      Some(
        // stage predicates are q47's lang pick, q48's mean token
        // length and q94's top-bigram mass, each through its twin
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 400000, text FROM documents WHERE doc_id % 9 = 0),
           |base AS (
           |  SELECT doc_id, text, toks, ${TF.wordBigramsSql("toks", " ")} AS gs
           |  FROM (SELECT doc_id, text, ${TF.tokensSql("lower(text)")} AS toks FROM corpus)),
           |fl AS (
           |  SELECT doc_id, text,
           |    ${TF.langIdSql("text")} <> 'und' AS f_lang,
           |    (len(toks) >= 15 AND ${TF.meanTokLenX100Sql("toks")} BETWEEN 420 AND 470)
           |      AS f_quality,
           |    CASE WHEN len(gs) > 0
           |      THEN (${TF.elementCountStatsSql("gs")}).top_c * 1000 < len(gs) * 100
           |      ELSE TRUE END AS f_rep
           |  FROM base),
           |c AS (
           |  SELECT count(*) AS n0,
           |    CAST(sum(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(sum(CASE WHEN f_lang AND f_quality THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |    CAST(sum(CASE WHEN f_lang AND f_quality AND f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n3
           |  FROM fl),
           |d AS (
           |  SELECT CAST(count(DISTINCT text) AS BIGINT) AS n4
           |  FROM fl WHERE f_lang AND f_quality AND f_rep)
           |SELECT stage_idx, stage, n_removed, n_remaining FROM (
           |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'lang_id' AS stage,
           |    n0 - n1 AS n_removed, n1 AS n_remaining FROM c
           |  UNION ALL
           |  SELECT 2, 'quality', n1 - n2, n2 FROM c
           |  UNION ALL
           |  SELECT 3, 'repetition', n2 - n3, n3 FROM c
           |  UNION ALL
           |  SELECT 4, 'exact_dedup', n3 - d.n4, d.n4 FROM c, d)
           |ORDER BY stage_idx""".stripMargin)),

    // -- PII scrubbing (email + phone redaction with audit counts):
    // the compliance pass every training corpus runs before release.
    // Fixture injects deterministic PII (an email built from doc_id on
    // every %3 doc, a phone on every %5 doc — both engines construct
    // the identical strings), so the regexes do real work and the
    // audit counts are non-trivial. Match counting and redaction are
    // pure regexp expressions — map-only, codegen'd, zero shuffle
    // until the per-language audit rollup; at 100 TB this is a
    // full-scan projection, the cheapest shape there is. Email is
    // redacted before phone on BOTH sides so chars_removed agrees.
    Q("q101_pii_redaction",
      (spark, dir) => {
        val withPii = table(spark, dir, "documents")
          .select(col("doc_id"), col("lang"),
            concat(col("text"),
              when(col("doc_id") % 3 === 0,
                concat(lit(" contact user"), col("doc_id").cast("string"),
                  lit("@example.com now"))).otherwise(lit("")),
              when(col("doc_id") % 5 === 0,
                concat(lit(" call 555-"),
                  lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
                  lit("-0199"))).otherwise(lit(""))).as("text"))
        val scrubbed = withPii
          .withColumn("n_email",
            size(regexp_extract_all(col("text"), lit(TF.EmailRe), lit(0))).cast("long"))
          .withColumn("n_phone",
            size(regexp_extract_all(col("text"), lit(TF.PhoneRe), lit(0))).cast("long"))
          .withColumn("red", regexp_replace(
            regexp_replace(col("text"), TF.EmailRe, "<EMAIL>"), TF.PhoneRe, "<PHONE>"))
        scrubbed.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_email") + col("n_phone") > 0, 1L).otherwise(0L))
              .as("n_docs_with_pii"),
            sum(col("n_email")).as("n_emails"),
            sum(col("n_phone")).as("n_phones"),
            sum(length(col("text")).cast("long") - length(col("red")).cast("long"))
              .as("chars_removed"))
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH p AS (
           |  SELECT lang,
           |    text ||
           |      (CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
           |        CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END) ||
           |      (CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
           |        lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
           |        ELSE '' END) AS text
           |  FROM documents),
           |s AS (
           |  SELECT lang, text,
           |    CAST(len(regexp_extract_all(text, '${TF.EmailRe}')) AS BIGINT) AS n_email,
           |    CAST(len(regexp_extract_all(text, '${TF.PhoneRe}')) AS BIGINT) AS n_phone,
           |    regexp_replace(regexp_replace(text, '${TF.EmailRe}', '<EMAIL>', 'g'),
           |      '${TF.PhoneRe}', '<PHONE>', 'g') AS red
           |  FROM p)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_docs_with_pii,
           |  CAST(sum(n_email) AS BIGINT) AS n_emails,
           |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
           |  CAST(sum(length(text) - length(red)) AS BIGINT) AS chars_removed
           |FROM s GROUP BY lang ORDER BY lang""".stripMargin)),

    // -- Global sub-document (chunk-level) deduplication — the C4 /
    // CCNet "drop duplicated lines across the whole corpus" pass,
    // re-expressed at chunk granularity (the synthetic corpus has no
    // newlines, so the unit is a fixed 20-token window; swap the
    // splitter for `split(text, '\n')` on a real corpus and nothing
    // else changes). FIRST occurrence of each distinct window — ordered
    // by (doc_id, chunk_idx) — survives; later repeats anywhere in the
    // corpus are dropped; each doc is reassembled from its surviving
    // windows in order. Exactly two shuffles, both on balanced keys:
    // (1) by chunk text for the global first-occurrence window (chunk
    // hash space is uniform — no skew), (2) by doc_id for reassembly.
    // No broadcast, no collect, no corpus-sized anything on one node;
    // at 100 TB this is the canonical two-exchange shape of corpus
    // line dedup. The per-chunk window is row_number over a key whose
    // groups are tiny (duplicate count per distinct chunk), so the
    // sort inside each group is O(dups log dups), not O(corpus).
    Q("q102_chunk_dedup",
      (spark, dir) => {
        val cw = 20
        val ws = table(spark, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val nChunks = floor((size(col("ws")) + lit(cw - 1)) / lit(cw)).cast("int")
        val chunks = ws
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0), nChunks - 1),
              i => concat_ws(" ", slice(col("ws"), i * cw + 1, lit(cw)))))
              .as(Seq("chunk_idx", "chunk")))
        val firstOcc = Window.partitionBy(col("chunk"))
          .orderBy(col("doc_id"), col("chunk_idx"))
        chunks
          .withColumn("rn", row_number().over(firstOcc))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
            concat_ws(" ", transform(
              array_sort(collect_list(when(col("rn") === 1,
                struct(col("chunk_idx"), col("chunk"))))),
              s => s.getField("chunk"))).as("cleaned"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |ch AS (
          |  SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_idx,
          |         array_to_string(ws[t.i*20+1 : t.i*20+20], ' ') AS chunk
          |  FROM w, LATERAL unnest(range(0, CAST(ceil(len(ws)/20.0) AS BIGINT))) AS t(i)),
          |rk AS (SELECT *, row_number() OVER
          |         (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn FROM ch)
          |SELECT doc_id, count(*) AS n_chunks,
          |       CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
          |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
          |         ORDER BY chunk_idx), '') AS cleaned
          |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // -- Unigram-LM corpus-frequency scoring (the integer-exact stand-in
    // for perplexity filtering): pass 1 builds the unigram model (one
    // groupBy over the token stream — zipfian head keys collapse in the
    // map-side partial aggregate, so skew never reaches the exchange);
    // pass 2 scores every doc by joining its tokens back to the model.
    // The model is vocabulary-sized (≪ corpus; ~10M rows even at
    // web scale), so the score join BROADCASTS it — that kills both the
    // second token-stream shuffle and the zipfian join skew ("the"
    // matching 10^10 rows lands on one reducer in a shuffle join). All
    // metrics are integer fixed-point (x1000 via integer div), so the
    // DuckDB hash-match is exact — no float-rounding drift. Per-doc
    // outputs: mean token corpus-frequency, rarest-token frequency, and
    // the below-mean-frequency token count — the signals a quality
    // filter thresholds on (docs of rare gibberish score low).
    Q("q103_unigram_lm",
      (spark, dir) => {
        val tok = table(spark, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val lm = tok.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val tot = lm.agg(sum(col("cnt")).as("n_total"),
          count(lit(1)).as("n_vocab"))
        tok.join(broadcast(lm), "word")
          .crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("cnt")).as("sum_freq"),
            min(col("cnt")).as("min_freq"),
            sum(when(col("cnt") * col("n_vocab") < col("n_total"), 1L)
              .otherwise(0L)).as("n_below_mean"))
          .withColumn("avg_freq_x1000", expr("sum_freq * 1000 div n_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("sum_freq"),
            col("avg_freq_x1000"), col("min_freq"), col("n_below_mean"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |lm AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
          |               count(*) AS n_vocab FROM lm)
          |SELECT doc_id, count(*) AS n_tokens,
          |  CAST(sum(cnt) AS BIGINT) AS sum_freq,
          |  CAST((sum(cnt) * 1000) // count(*) AS BIGINT) AS avg_freq_x1000,
          |  CAST(min(cnt) AS BIGINT) AS min_freq,
          |  CAST(count(CASE WHEN cnt * n_vocab < n_total THEN 1 END) AS BIGINT)
          |    AS n_below_mean
          |FROM tok JOIN lm USING (word), tot
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // -- Bloom-pre-filtered contamination check: q93's test-vs-train
    // gram intersection, but test grams first probe a Bloom filter
    // built over the train grams (operators/BloomFilter — declarative
    // bit_or build, broadcast probe) and only Bloom survivors reach
    // the exact-confirm equi-join. Bloom filters have NO false
    // negatives, so the final result is bit-identical to the pure
    // exact join — which is exactly what the DuckDB oracle checks:
    // this gate proves the no-false-negative property end to end on
    // real data, while the FP-rate/probe mechanics are spec'd in
    // BloomFilterSpec. 100 TB: the filter is 128 KB broadcast; with a
    // realistic (non-toy) gram space the probe rejects ~all clean test
    // grams map-side, so the shuffle that q93 pays on the FULL test
    // gram stream shrinks to (true hits + numBits-governed FPs) — the
    // standard trick for cross-corpus membership at scale.
    Q("q104_bloom_prefilter",
      (spark, dir) => {
        val numBits = 1L << 20
        val k = 3
        val grams = splitGrams(spark, dir)
        val train = grams.filter(col("split") === "train")
        val test = grams.filter(col("split") === "test")
        val bloom = graft.operators.BloomFilter.build(train, "fp", numBits, k)
        val candidates = test.crossJoin(broadcast(bloom))
          .filter(graft.operators.BloomFilter.mayContain(
            col("bloom"), col("fp"), numBits, k))
          .drop("bloom")
        // exact confirm: only Bloom survivors enter this exchange
        val hits = candidates
          .join(train.select(col("fp")).distinct(), Seq("fp"), "left_semi")
          .select(col("doc_id"), col("fp")).distinct()
        test.select(col("doc_id"), col("lang")).distinct()
          .join(hits, Seq("doc_id"), "left")
          .groupBy(col("lang"))
          .agg(countDistinct(col("doc_id")).as("n_test_docs"),
            countDistinct(when(col("fp").isNotNull, col("doc_id")))
              .as("n_contaminated"),
            count(col("fp")).as("n_gram_hits"))
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH $splitGramsCtes,
           |hits AS (
           |  SELECT DISTINCT doc_id, fp FROM g
           |  WHERE split = 'test' AND fp IN (SELECT fp FROM g WHERE split = 'train')),
           |td AS (SELECT DISTINCT doc_id, lang FROM g WHERE split = 'test')
           |SELECT td.lang, count(DISTINCT td.doc_id) AS n_test_docs,
           |  count(DISTINCT h.doc_id) AS n_contaminated,
           |  CAST(count(h.fp) AS BIGINT) AS n_gram_hits
           |FROM td LEFT JOIN hits h ON td.doc_id = h.doc_id
           |GROUP BY td.lang ORDER BY td.lang""".stripMargin)),

    // -- Deterministic per-stratum hash sampling (importance sampling /
    // language rebalancing): keep a row iff the md5 hex prefix of its
    // stable id + salt compares below the stratum's threshold string.
    // No RNG state, no sample() nondeterminism — the kept SET is a
    // pure function of (id, salt, rate), identical on any engine, any
    // partitioning, any run, and new rows never perturb old decisions
    // (the property that makes resampled corpus versions diffable).
    // Map-only until the rollup; at 100 TB this is a full-scan filter
    // with zero shuffle cost. Rates here downsample the dominant
    // language (en 20%) and keep 80% of the rest.
    Q("q96_hash_sample",
      (spark, dir) =>
        table(spark, dir, "documents")
          .filter(substring(md5(concat(col("doc_id").cast("string"), lit(":graft"))), 1, 4)
            < when(col("lang") === "en", "3333").otherwise("cccc"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("kept"),
            sum(length(col("text")).cast("long")).as("sum_chars"))
          .orderBy(col("lang")),
      Some(
        """SELECT lang, count(*) AS kept,
          |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
          |FROM documents
          |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) <
          |      CASE WHEN lang = 'en' THEN '3333' ELSE 'cccc' END
          |GROUP BY lang ORDER BY lang""".stripMargin)),

    // -- STREAMING incremental dedup with an EPOCH-VERSIONED index:
    // the continuous-ingestion shape of q99. Documents arrive as a
    // Structured Streaming source in micro-batches (AvailableNow,
    // maxFilesPerTrigger=2); every batch signs ONLY its own docs,
    // band-joins the frozen current-epoch index (bucketed on bkey —
    // the corpus-sized side enters the join EXCHANGE-FREE, q98/q99's
    // amortization), verifies candidates by exact Jaccard on the
    // stored sorted hash lists (`sorted_inter_count`), and stages its
    // accepted (novel) docs. When the wave drains, the staged docs
    // COMMIT as the next epoch (bucketed append to the doc + band
    // tables) — so wave 2 dedups against everything wave 1 accepted.
    //
    // Batches read a FROZEN index and never each other's output —
    // that is what makes the result deterministic under any
    // file-to-batch assignment (and, on a cluster, free of
    // cross-worker read-your-own-write races): dedup workers snapshot
    // the index per ingestion epoch and acceptance commits at epoch
    // boundaries. The fixture proves the epoch semantics both ways:
    // wave 1 mixes exact copies of indexed docs (rejected vs epoch 0)
    // with reversed-text decoys (accepted -> epoch 1); wave 2 replays
    // the SAME decoy texts under new ids — each is rejected either
    // because its twin committed in epoch 1 or because whatever
    // matched the twin in epoch 0 still matches — plus fresh decoys
    // (accepted -> epoch 2). The oracle replays both waves
    // sequentially in SQL. 100 TB: per-batch cost is wave-sized
    // (sign + band join + verify on candidates); the index pays its
    // shuffle once at commit time, never per batch.
    //
    // RETRY SAFETY (at-least-once -> effectively-once): the staged
    // epoch is `StreamingOps.stagedEpoch`, which stages one directory
    // PER BATCH keyed by its batchId with per-batch OVERWRITE — a
    // retry rewrites its own directory instead of blind-appending a
    // second copy of its novelties, and a partially-written attempt
    // is erased by the overwrite. The
    // deeper guarantee is index-level: acceptance is an anti-join
    // against the committed index, so even a whole-wave replay AFTER
    // its epoch committed re-accepts nothing (every novelty now
    // matches its own epoch entry) — the q91 pass-2-adds-0-rows
    // contract applied to the epoch index. That property does not
    // depend on the corpus, so it is pinned once per build by
    // `StreamReplaySpec` (replay acceptance == 0 and staged re-commit
    // == 0 against the committed index this query leaves on disk),
    // not re-derived per bench pass; replay legs add 0 rows by
    // construction.
    Q("q109_stream_dedup",
      (spark, dir) => {
        val root = s"${Fixtures.scratchRoot}/streamdedup"
        // stream sources, checkpoints and stages live beside the index
        Fixtures.rmrf(new java.io.File(root))
        val idx = MinhashIndex.store(spark, root, "graft_q109")
        val corpus = dedupCorpus(spark, dir)
        // ---- epoch 0: the seed index. The bucket count is a CAPACITY
        // parameter (DedupConfig scaladoc); IndexBuckets suits the gate
        // corpora
        MinhashIndex.seed(idx, IndexBuckets,
          signedDocs(corpus).localCheckpoint(true)) // 2 writes
        val staged = signedDocs(corpus.limit(0)).schema
        // each wave streams in 2 micro-batches, each batch accepted
        // against the frozen epoch index (store side exchange-free),
        // and the staged novelties commit as the next epoch, bands
        // before docs (MinhashIndex's declared order)
        for ((strata, epoch) <- Seq(EpochWave1 -> 1, EpochWave2 -> 2))
          MinhashIndex.commit(idx, StreamingOps.stagedEpoch(spark, root, epoch,
              wave(corpus, strata), staged, MinhashIndex.docs(idx), "doc_id") { batch =>
            // 3 consumers (bands, verify, anti) -> materialize once
            MinhashIndex.accept(idx, signedDocs(batch).localCheckpoint(true))
          }, epoch)
        MinhashIndex.rollup(idx)
      },
      Some(epochDedupOracle)),

    // -- Index COMPACTION is semantics-free, proven by oracle: the
    // batch twin of q109 (same corpus contract, same two wave strata,
    // same epoch commits) with one difference — between the epoch-1
    // commit and wave 2, the doc and band index tables are compacted
    // by the index store (epoch file sets collapsed AND bucket
    // count doubled 8 -> 16, the capacity-growth rewrite from the
    // q109 maintenance note in PLANS.md). Wave 2 then dedups against
    // the COMPACTED index — exchange-free at the new bucket count —
    // and the final rollup is hash-compared against the IDENTICAL
    // oracle q109 uses. A compaction that dropped, duplicated, or
    // re-keyed anything would shift acc2 and fail the gate. 100 TB:
    // this is the periodic maintenance job run at epoch barriers;
    // the gate proves it can be dropped into the middle of a live
    // ingestion pipeline without changing any acceptance decision.
    Q("q110_index_compaction",
      (spark, dir) => {
        val idx = MinhashIndex.store(spark, s"${Fixtures.scratchRoot}/compactdedup",
          "graft_q110")
        val corpus = dedupCorpus(spark, dir)
        // ---- epoch 0: the seed index (q109's batch shape)
        MinhashIndex.seed(idx, IndexBuckets,
          signedDocs(corpus).localCheckpoint(true)) // 2 writes
        // commit a wave's accepted (novel) docs vs the CURRENT index
        def ingest(epoch: Int, wave: org.apache.spark.sql.DataFrame): Unit =
          MinhashIndex.commit(idx,
            MinhashIndex.accept(idx, signedDocs(wave)).localCheckpoint(true), // 2 writes
            epoch)
        ingest(1, wave(corpus, EpochWave1))
        // ---- THE OPERATION UNDER TEST: collapse epoch file sets and
        // grow capacity 8 -> 16 buckets, at the epoch barrier
        idx.compact(IndexBuckets * 2)
        ingest(2, wave(corpus, EpochWave2))
        MinhashIndex.rollup(idx)
      },
      Some(epochDedupOracle)),

    // -- INDEX RETRACTION: delete a document set from the persistent
    // dedup index (takedown / retention / right-to-be-forgotten — at
    // corpus scale deletions are a first-class operation, not an
    // edge case) and prove the deletion is SEMANTICALLY REAL, not
    // just fewer rows: after retracting R, a new doc whose only
    // near-dup was in R must now be ACCEPTED, while docs matching
    // retained index entries are still rejected. Physical path is
    // the filtered-rewrite form of q110's compaction (anti-join the
    // tombstone set, one bucketed rewrite per table, run at an epoch
    // barrier); at 100 TB the same tombstone set can instead be
    // anti-joined per batch until the next scheduled compaction
    // physically purges it — both forms are one shuffle amortized
    // over every later wave. The oracle rebuilds its index CTEs from
    // the RETAINED corpus only, so a retraction that left a band
    // entry behind (ghost match -> wrong rejection) or dropped a
    // retained doc (wrong acceptance) shifts the rollup and fails
    // the hash.
    Q("q112_index_retraction",
      (spark, dir) => {
        val idx = MinhashIndex.store(spark, s"${Fixtures.scratchRoot}/retractdedup",
          "graft_q112")
        val corpus = dedupCorpus(spark, dir)
        MinhashIndex.seed(idx, IndexBuckets,
          signedDocs(corpus).localCheckpoint(true)) // 2 writes
        // ---- retract R = every 10th indexed doc (the members of
        // RetractedCopies):
        // tombstone anti-join + staged rewrite of BOTH tables (the band
        // table must lose R's entries too, or ghosts remain); the kept
        // set is written to a sibling path from the OLD files before
        // anything is dropped
        idx.retract(corpus.filter(RetractedCopies.member(col("doc_id")))
          .select("doc_id").localCheckpoint(true)) // 2 rewrites
        // ---- the probe wave: exact copies of RETRACTED docs (must
        // now be accepted — the observable effect of deletion) mixed
        // with exact copies of RETAINED docs (must still be rejected)
        val wsig = signedDocs(wave(corpus, Seq(RetractedCopies, RetainedCopies)))
          .localCheckpoint(true) // bands + verify + anti
        // shared accept: index side exchange-free, verify is the native
        // sorted_inter_count (functions/MinhashPipeline); the epoch-1
        // commit appends band rows as well as docs
        MinhashIndex.commit(idx,
          MinhashIndex.accept(idx, wsig).localCheckpoint(true), 1) // 2 writes
        MinhashIndex.rollup(idx)
      },
      Some(
        s"""WITH $dedupCorpusCte,
           |retained AS (SELECT * FROM corpus
           |  WHERE NOT (${RetractedCopies.memberSql("doc_id")})),
           |wave AS (
           |  ${waveSql("corpus", DocCols, Seq(RetractedCopies, RetainedCopies))}),
           |${minhashCtes("i", "retained")},
           |${minhashCtes("w", "wave")},
           |${MinhashIndex.acceptCtes("acc", "w", "idocs", "ibands")}
           |${MinhashIndex.rollupSql(0 -> "idocs", 1 -> "acc")}""".stripMargin)),

    // -- K-MEANS REFINEMENT STEP (IVF training): one exact Lloyd
    // iteration over the embedding table — assign every vector to its
    // nearest of K=8 seed centroids, emit per-cell membership, the
    // k-means objective (sum of min squared distances), and the
    // new-centroid mass. This is how the q53 IVF cells would actually
    // be TRAINED at scale (q53 consumes cells; this produces them).
    // All arithmetic is integer-exact so the DuckDB gate is a hash
    // match, not a tolerance: embeddings quantize to fixed-point
    // (floor(double(x)*1000) — double on both engines, so the floor
    // is bit-identical), distances are BIGINT sums of squares,
    // tie-break is (dist, cid). 100 TB: the K centroids ride along as
    // ONE collect_list row cross-joined in (a broadcast of K*Dim
    // longs); assignment is map-side arithmetic with NO per-vector
    // shuffle — the plan's only exchange is the final K-row rollup.
    // Lloyd's next iteration needs the per-dim sums, which are the
    // same one-exchange shape (posexplode + groupBy(cid, dim)).
    {
      val K8 = 8
      Q("q113_kmeans_step",
        (spark, dir) => {
          // the vector frame, seeding and argmin are the shared IvfKmeans
          // definitions (offset 0 — a single step needs no positive-sum
          // guarantee); q114 iterates the same definitions
          val q = IvfKmeans.vectors(embeddings(spark, dir), 0L).select("vec_id", "qv")
          val cents = IvfKmeans.seedCents(q, K8)
          val best = q.crossJoin(cents) // 1-row side -> broadcast
            .select(col("vec_id"),
              aggregate(col("qv"), lit(0L), (a, x) => a + x).as("qsum"),
              IvfKmeans.bestCentroid(col("qv"), col("cents")).as("best"))
          best.groupBy(col("best.cid").as("cid"))
            .agg(count(lit(1)).as("n_members"),
              sum(col("vec_id")).as("sum_vid"),
              sum(col("best.dist")).as("obj"),
              sum(col("qsum")).as("centroid_sum"))
            .orderBy(col("cid"))
        },
        // the first step of the shared Lloyd chain: `q`, the rank-seeded
        // `c0` and the argmin `a1`
        Some(
          s"""WITH ${IvfKmeans.lloydCtes(K8, 1, Dim, 0L)}
             |SELECT cid, count(*) AS n_members,
             |  CAST(sum(vec_id) AS BIGINT) AS sum_vid,
             |  CAST(sum(dist) AS BIGINT) AS obj,
             |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
             |    (a, x) -> a + x)) AS BIGINT) AS centroid_sum
             |FROM a1 WHERE rn = 1
             |GROUP BY cid ORDER BY cid""".stripMargin))
    },

    // -- DATA MIXTURE: fill a per-language TOKEN BUDGET with a
    // deterministic, resample-stable document selection — the "data
    // mixing" step of corpus assembly (fix the en/other ratio of a
    // training mix by token count, not doc count). Selection order is
    // the q96 hash rank (md5 of doc_id + salt): a pure function of
    // identity, so growing the corpus never evicts an already-chosen
    // doc except by budget pressure, and any engine reproduces the
    // same set. Greedy fill: a doc is kept iff the tokens of all
    // higher-priority docs in its language total < budget.
    //
    // The ORACLE implements that spec directly as one windowed prefix
    // sum per language. The ENGINE deliberately does NOT: a global
    // per-language sort is the thing you cannot afford at 100 TB, so
    // it runs the two-phase quota fill — (1) histogram token mass by
    // the first 2 hex chars of the hash (256 buckets; tiny aggregate,
    // fully parallel), cumulate ACROSS buckets (a window over <=
    // 256*n_lang rows), admit every bucket that fits entirely within
    // budget WITHOUT any per-doc sort; (2) sort only the single
    // threshold bucket per language (~1/256 of one language's docs) to
    // fill the remainder. The implemented straddle path is one level
    // deep; recursing on further hash chars for a still-too-big bucket
    // is a natural extension, NOT implemented here — at 1/256 per
    // level one level covers any realistic per-language skew.
    // Hash-identical output to the oracle's global sort —
    // the gate proves algorithm-level equivalence, not just row
    // parity. Map-only over the corpus except one tiny aggregate and
    // one 1/256-sized window.
    Q("q111_data_mixture",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = table(spark, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TF.tokenCount(col("text")).cast("long").as("t"),
            md5(concat(col("doc_id").cast("string"), lit(":mix"))).as("h"))
          .withColumn("b", substring(col("h"), 1, 2))
        val budget = when(col("lang") === "en", 8000L).otherwise(5000L)
        val wB = Window.partitionBy(col("lang")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val hist = d.groupBy(col("lang"), col("b")).agg(sum(col("t")).as("bt"))
          .withColumn("cumb", coalesce(sum(col("bt")).over(wB), lit(0L)))
          .withColumn("budget", budget)
        // whole buckets under budget: admitted with NO per-doc sort
        val full = d.join(
          hist.filter(col("cumb") + col("bt") <= col("budget"))
            .select("lang", "b"),
          Seq("lang", "b"))
        // the one straddling bucket per language: sort just its docs
        val wD = Window.partitionBy(col("lang"), col("b"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val straddle = d.join(
          hist.filter(col("cumb") < col("budget") &&
              col("cumb") + col("bt") > col("budget"))
            .select(col("lang"), col("b"), col("cumb"), col("budget")),
          Seq("lang", "b"))
          .withColumn("cumd", coalesce(sum(col("t")).over(wD), lit(0L)))
          .filter(col("cumb") + col("cumd") < col("budget"))
        full.select("doc_id", "lang", "t")
          .unionByName(straddle.select("doc_id", "lang", "t"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"),
            sum(col("doc_id")).as("sum_id"))
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH d AS (
          |  SELECT doc_id, lang,
          |    CAST(${TF.tokenCountSql("text")} AS BIGINT) AS t,
          |    md5(CAST(doc_id AS VARCHAR) || ':mix') AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, lang, t,
          |    COALESCE(SUM(t) OVER (PARTITION BY lang ORDER BY h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          |  FROM d)
          |SELECT lang, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS sum_tokens,
          |  CAST(sum(doc_id) AS BIGINT) AS sum_id
          |FROM c
          |WHERE cum < CASE WHEN lang = 'en' THEN 8000 ELSE 5000 END
          |GROUP BY lang ORDER BY lang""".stripMargin)),

    // -- IVF LIFECYCLE, composed: train -> index -> search in ONE
    // gated query — the pipeline a real user runs, where q113 gates
    // the single Lloyd step and q53 gates search against static
    // seeds. Three Lloyd iterations (operators/IvfKmeans: quantize,
    // assign, truncating-mean update — every step integer-exact) TRAIN
    // the centroids; the full corpus is then assigned to the TRAINED
    // cells; probes (vec_id%17) search only their own cell, top-5 by
    // integer L2. The oracle replays all three iterations, the final
    // assignment, and the search in SQL — a drift anywhere in the
    // train->consume composition (a centroid off by one fixed-point
    // unit, a tie broken differently) shifts cells and fails the hash.
    // 100 TB: per iteration, centroids broadcast as one K*dim row and
    // assignment is map-side; the update's exploded (cid,dim) rollup
    // collapses to <=K*dim rows per task before its exchange; the
    // search shuffles by cell only (candidates drop ~K-fold vs the
    // q44 scan). The plan is gated in PlanAssertionsSpec: no exchange
    // keyed by anything but cell/qid.
    Q("q114_ivf_lifecycle",
      (spark, dir) => {
        // the trained, assigned index (materialized once — it feeds both
        // sides of the search); each probe searches its own cell, the
        // nprobe ladder's p = 1 rung (crank 1 IS the assignment cell)
        val (probes, assigned, cents) = ivfNprobe(spark, dir)
        OperatingPoint.topK(ivfCandidates(probes, assigned, cents, 1),
            5, col("dist"), col("vec_id"))
          .select(col("qid"), col("rn").cast("long").as("rn"),
            col("vec_id"), col("dist"))
          .orderBy(col("qid"), col("rn"))
      },
      Some {
        s"""WITH ${ivfNprobeCtes(1)}
           |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, CAST(dist AS BIGINT) AS dist
           |FROM (${OperatingPoint.topKSql("cand", 5, "dist, vec_id")})
           |ORDER BY qid, rn""".stripMargin
      }),

    // -- ANN RECALL GATE: the search-quality number the approximate
    // family was missing. For one query set (vec_id%50 — q44/q45's),
    // four top-5 result sets are computed over the SAME similarity
    // (quantized cosine, ties by vec_id): EXACT (full scan — the q44
    // ground truth), LSH (q45's hyperplane buckets), MULTI-PROBE LSH
    // (also searching the 8 buckets at Hamming distance 1 — the
    // standard recall recovery when single-table LSH over-partitions:
    // at these corpus sizes 256 buckets over 500-2000 vectors leaves
    // ~2-8 candidates per bucket and single-bucket recall measures
    // ~0, which is exactly the kind of fact a recall gate exists to
    // expose), and trained-IVF (q114's k-means cells, searched by
    // cosine — cells trained by integer L2, the standard IVF split of
    // train-metric vs search-metric). The gate hashes per-query
    // INTEGER hit counts |approx ∩ exact|: recall@5 numerators,
    // deterministic on both engines because every ordering key is an
    // integer. A change that silently degrades retrieval (a bucket
    // function regression, a training drift collapsing cells) shifts
    // hit counts and fails the gate — "similarity search at 100 TB"
    // now has a measured, gated quality number, not just mechanism
    // correctness. Scale: exact is the one O(q*n) pass (kept small by
    // the probe stride — at 100 TB you'd sample probes the same way);
    // LSH/IVF joins shuffle by bucket/cell only; multi-probe costs a
    // 9x probe-side explode, never a corpus-side one.
    Q("q115_ann_recall",
      (spark, dir) => {
        val (e, cents) = semQuantizer(spark, dir)
        // one row per vector with every retrieval key; materialized —
        // it feeds the probe side and all three candidate joins
        val base = e.withColumn("bucket", VF.lshBucket(col("v"), Planes, Dim))
          .join(semAssigned(e, cents).select("vec_id", "cell"), "vec_id")
          .select("vec_id", "v", "nrm", "bucket", "cell")
          .localCheckpoint(true)
        val probes = base.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("v").as("pv"),
            col("nrm").as("pnrm"), col("bucket").as("pbucket"),
            col("cell").as("pcell"))
        def top5(p: org.apache.spark.sql.DataFrame, cond: org.apache.spark.sql.Column) =
          OperatingPoint.topK(p.join(base, cond && col("vec_id") =!= col("qid"))
            .withColumn("sim",
              VF.quantize1e6(VF.dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")))),
            5, col("sim").desc, col("vec_id"))
            .select(col("qid"), col("vec_id"))
        // multi-probe LSH: also search every bucket at Hamming
        // distance 1 from the query's (flip each of the 8 plane bits).
        // Each corpus vector lives in exactly ONE bucket, so the 9
        // probed buckets yield disjoint candidates — no dedup needed.
        val mprobes = probes.select(col("qid"), col("pv"), col("pnrm"),
          explode(array(col("pbucket") +: (0 until Planes).map(j =>
            col("pbucket").bitwiseXOR(lit(1L << j))): _*)).as("pbucket"))
        val exact = top5(probes, lit(true)).localCheckpoint(true) // joined 3x below
        OperatingPoint.recall(exact,
          "lsh_hits" -> top5(probes, col("bucket") === col("pbucket")),
          "mlsh_hits" -> top5(mprobes, col("bucket") === col("pbucket")),
          "ivf_hits" -> top5(probes, col("cell") === col("pcell")))
          .orderBy(col("qid"))
      },
      Some {
        def top5Sql(name: String, probes: String, cond: String) =
          s"""${name}s AS (
             |  SELECT p.qid, eb.vec_id,
             |    CAST(floor((${cosSql("p.pv", "eb.v")}) * 1e6) AS BIGINT) AS sim
             |  FROM $probes p JOIN eb ON eb.vec_id <> p.qid$cond),
             |$name AS (${OperatingPoint.topKSql(s"${name}s", 5, "sim DESC, vec_id")})""".stripMargin
        val flips = (0 until Planes).map(j => s"xor(pbucket, ${1L << j})")
        s"""WITH $semLloydCtes,
           |${IvfKmeans.assignCte(SemIters, Dim)},
           |$embCte,
           |eb AS (
           |  SELECT e.vec_id, e.v, ${bucketSql("e.v")} AS bucket, a.cell
           |  FROM e JOIN afin a USING (vec_id)),
           |ps AS (SELECT vec_id AS qid, v AS pv, bucket AS pbucket, cell AS pcell
           |       FROM eb WHERE vec_id % 50 = 0),
           |mp AS (
           |  SELECT qid, pv,
           |    unnest([CAST(pbucket AS BIGINT), ${flips.mkString(", ")}]) AS pbucket
           |  FROM ps),
           |${top5Sql("ex", "ps", "")},
           |${top5Sql("ls", "ps", " AND eb.bucket = p.pbucket")},
           |${top5Sql("iv", "ps", " AND eb.cell = p.pcell")},
           |${top5Sql("ml", "mp", " AND eb.bucket = p.pbucket")}
           |${OperatingPoint.recallSql("ex",
              "lsh_hits" -> "ls", "mlsh_hits" -> "ml", "ivf_hits" -> "iv")}
           |ORDER BY ex.qid""".stripMargin
      }),

    // -- REAL CONTAINER DECODE under oracle check: deterministic
    // binary-PPM (P6) blobs are assembled per document (ASCII header
    // with per-doc width/height + the doc's first w*h*3 text bytes as
    // the pixel payload), every 5th blob gets a TRUNCATED header, and
    // the whole set runs through the magic-dispatching decoder
    // (operators/Multimodal.decodePpm): well-formed blobs parse as
    // real PPM — per-SCANLINE frames measured from the parsed data
    // offset — while the malformed ones take the documented stub
    // fallback, so both dispatch arms are inside the gate. The oracle
    // rebuilds the same byte streams in SQL and replays both frame
    // geometries via ascii arithmetic (the payload offset is
    // len(content)-w*h*3, exactly the parsed header length). The
    // q51/q58 plumbing claims (binary columns, mapPartitions, no
    // driver) now carry an actual byte-format parse, not only stub
    // geometry. 100 TB: identical shape to q51 — decode is
    // partition-local, only feature rows shuffle.
    Q("q116_multimodal_decode",
      (spark, dir) => {
        implicit val s = spark
        import spark.implicits._
        val d = table(spark, dir, "documents")
          .withColumn("w", (col("doc_id") % 3 + 2).cast("int"))
          .withColumn("h", (col("doc_id") % 2 + 2).cast("int"))
          .filter(length(col("text")) >= col("w") * col("h") * 3)
        val media = d.select(
          col("doc_id").as("media_id"), col("source"),
          lit("image/x-portable-pixmap").as("media_type"),
          when(col("doc_id") % 5 === 0,
            concat(lit("P6\n"), col("w").cast("string"), lit(" ")))
            .otherwise(concat(lit("P6\n"), col("w").cast("string"), lit(" "),
              col("h").cast("string"), lit("\n255\n"),
              expr("substring(text, 1, w * h * 3)")))
            .cast("binary").as("content"))
          .as[graft.operators.Multimodal.MediaRow]
        graft.operators.Multimodal
          .sampleFrameFeatures(media, frameLen = 16, stride = 1)
          .toDF()
          .groupBy(col("source"), col("format"))
          .agg(count(lit(1)).as("frames"),
            sum(col("byte_sum")).as("sum_bytes"),
            sum(col("byte_min").cast("long")).as("sum_min"),
            sum(col("byte_max").cast("long")).as("sum_max"))
          .orderBy(col("source"), col("format"))
      },
      Some(
        s"""WITH d AS (
          |  SELECT doc_id, source, text,
          |    CAST(doc_id % 3 + 2 AS INT) AS w, CAST(doc_id % 2 + 2 AS INT) AS h
          |  FROM documents
          |  WHERE len(text) >= (doc_id % 3 + 2) * (doc_id % 2 + 2) * 3),
          |m AS (
          |  SELECT doc_id, source, w, h,
          |    CASE WHEN doc_id % 5 = 0
          |      THEN 'P6' || chr(10) || CAST(w AS VARCHAR) || ' '
          |      ELSE 'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
          |           || chr(10) || '255' || chr(10) || substr(text, 1, w * h * 3)
          |    END AS content,
          |    CASE WHEN doc_id % 5 = 0 THEN 'raw' ELSE 'ppm' END AS format
          |  FROM d),
          |fr AS (
          |  SELECT m.doc_id, m.source, m.format, fi,
          |    substr(m.content,
          |      CAST(len(m.content) - m.w * m.h * 3 + fi * m.w * 3 + 1 AS INT),
          |      m.w * 3) AS fb
          |  FROM m, LATERAL (SELECT unnest(generate_series(0, CAST(m.h - 1 AS BIGINT))) AS fi)
          |  WHERE m.format = 'ppm'
          |  UNION ALL
          |  SELECT m.doc_id, m.source, m.format, fi,
          |    substr(m.content, CAST(fi * 16 + 1 AS INT), 16)
          |  FROM m, LATERAL (SELECT unnest(generate_series(0,
          |    CAST((len(m.content) + 15) // 16 - 1 AS BIGINT))) AS fi)
          |  WHERE m.format = 'raw'),
          |fc AS (
          |  SELECT source, format,
          |    ${TF.asciiCodesSql("fb")} AS bytes
          |  FROM fr)
          |SELECT source, format, count(*) AS frames,
          |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), bytes), (a, x) -> a + x)) AS BIGINT) AS sum_bytes,
          |  CAST(sum(list_min(bytes)) AS BIGINT) AS sum_min,
          |  CAST(sum(list_max(bytes)) AS BIGINT) AS sum_max
          |FROM fc GROUP BY source, format ORDER BY source, format""".stripMargin)),

    // -- IVF nprobe LADDER: the recall/cost knob q115 measures for LSH
    // (multi-probe) applied to IVF — a query searches its nearest 1, 2,
    // or 4 cells by centroid distance, and the gate hashes per-query
    // INTEGER hit counts |IVF@p ∩ exact| for all three probe widths
    // against the brute-force integer-L2 top-5. Candidate sets nest
    // (the p=2 cells contain the p=1 cell), so hits are monotone in p —
    // IvfNprobeSpec pins that property on an adversarial frame; the
    // hash gate pins the actual values. All arithmetic is quantized
    // integer L2 (IvfKmeans), so both engines agree bit-for-bit on
    // training, cell ranking, and search ordering. 100 TB: nprobe
    // multiplies the PROBE side by p (explode to p cells), never the
    // corpus side — each corpus vector still lives in exactly one cell,
    // so the p-level candidate sets are disjoint unions of cells and
    // the search join still shuffles by cell only; exact ground truth
    // is the one O(q·n) pass, bounded by the probe stride exactly as
    // in q115.
    {
      val Levels = Seq(1, 2, MaxProbe)
      Q("q117_ivf_nprobe",
        (spark, dir) => {
          val (probes, assigned, cents) = ivfNprobe(spark, dir)
          // ONE candidate join at the widest level, materialized
          val cand = ivfCandidates(probes, assigned, cents, MaxProbe)
            .localCheckpoint(true)
          def top5(df: org.apache.spark.sql.DataFrame) =
            OperatingPoint.topK(df, 5, col("dist"), col("vec_id"))
          val exact = top5(ivfExact(probes, assigned))
          OperatingPoint.recall(exact,
            Levels.map(p => s"p${p}_hits" -> top5(cand.filter(col("crank") <= p))): _*)
            .orderBy(col("qid"))
        },
        Some {
          import OperatingPoint.{recallSql, topKSql}
          val tops = Levels.map(p =>
            s"t$p AS (${topKSql(s"cand WHERE crank <= $p", 5, "dist, vec_id")})")
          s"""WITH ${ivfNprobeCtes(MaxProbe)},
             |${ivfExactSql()},
             |ex AS (${topKSql("exd", 5, "dist, vec_id")}),
             |${tops.mkString(",\n")}
             |${recallSql("ex", Levels.map(p => s"p${p}_hits" -> s"t$p"): _*)}
             |ORDER BY ex.qid""".stripMargin
        })
    },

    // -- SEMANTIC DEDUP, the SCALE PATH for q46: q46 is the exact
    // all-pairs cosine near-dup baseline (O(n²), corpus broadcast —
    // honest but unshippable at 100 TB). Here the candidate set is
    // BLOCKED by the trained IVF index with SPILL ASSIGNMENT: every
    // vector indexes into its 2 nearest cells (the standard recall
    // recovery for boundary pairs — a pair split across neighboring
    // cells still collides in the spill cell), candidates are same-cell
    // pairs, and only candidates pay the exact cosine verify at q46's
    // threshold. The oracle replays training, spill assignment,
    // blocking, and verify in SQL, so the gate proves the BLOCKED
    // pipeline end to end — and because blocking is an approximation,
    // the artifacts record its pair recall vs q46's exact set rather
    // than pretending equivalence. 100 TB: no corpus broadcast
    // anywhere — centroids ride as one K·dim row; the candidate join
    // shuffles by cell only; spill bounds index inflation at exactly
    // 2×; candidate pairs drop ~(K/4)-fold vs all-pairs (measured at
    // sf0.1 in artifacts/). DISTINCT collapses the ≤2 copies of pairs
    // sharing both cells.
    Q("q118_semantic_dedup_ivf",
      (spark, dir) => {
        val (e, cents) = semQuantizer(spark, dir)
        // spill-block + cosine-verify is the shared IvfKmeans
        // definition (one block for q118/q119, the acceptAgainstIndex
        // discipline applied to the embedding family)
        IvfKmeans.spillPairs(e, cents, SemThreshX1e6)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some {
        s"""WITH $semLloydCtes,
           |$embCte,
           |${IvfKmeans.spillPairsCtes(Dim, SemThreshX1e6, semCents)}
           |SELECT vec_a, vec_b, sim_x1e6 FROM spairs
           |ORDER BY vec_a, vec_b""".stripMargin
      }),

    // -- COMPOSED SEMANTIC-DEDUP PIPELINE: the q88 shape (candidate →
    // verify → components → canonical) rebuilt on the EMBEDDING family
    // — train IVF cells, spill-block candidates (q118), verify by
    // exact cosine, cluster the surviving pairs (q52's pointer-jumping
    // components), and roll up per-cluster canonicals. The oracle
    // replays training + spill + blocking + verify and then takes the
    // transitive closure of the SAME blocked edge set with a recursive
    // CTE — the components must agree however they're computed, so a
    // drift anywhere in the four stages (a centroid, a spilled cell, a
    // verified pair, a mis-merged cluster) fails the hash. 100 TB:
    // every stage is the gated scale shape it came from — no corpus
    // broadcast, candidate join keyed by cell, components O(diameter)
    // rounds with a 1-scalar driver convergence check; the cluster
    // rollup shuffles cluster-count rows only.
    Q("q119_semantic_dedup_pipeline",
      (spark, dir) => {
        val (e, cents) = semQuantizer(spark, dir)
        // same shared spill-block + verify as q118; only the pair set
        // feeds the clustering here
        val pairs = IvfKmeans.spillPairs(e, cents, SemThreshX1e6)
          .select(col("vec_a"), col("vec_b"))
        graft.operators.ConnectedComponents.components(pairs, "vec_a", "vec_b")
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("comp")).as("sum_canonical"))
          .orderBy(col("cluster_size"))
      },
      // Class-blocked components. Cell assignment and cosine
      // depend only on the embedding, so identical vectors form one
      // class: the same-cell pair join runs over class reps, the
      // recursive closure walks the CLASS graph (~100x fewer edges on
      // gen_sf corpora — the closure was the measured infeasibility,
      // >27 min at sf1), and doc-level components expand exactly: a
      // class component's docs are the union of its classes' doc
      // lists, its canonical id is the min class rep (rep = min doc
      // id), and a class is a NODE iff it has a cross edge or >= 2
      // copies passing the self-cosine verify — the same membership
      // rule the doc-level graph induces.
      Some {
        s"""WITH RECURSIVE $semLloydCtes,
           |$embCte,
           |ecls AS MATERIALIZED (
           |  SELECT v, list_sort(list(vec_id)) AS dids, min(vec_id) AS rid,
           |    ${normSql("v")} AS nrm
           |  FROM e GROUP BY v),
           |qd AS (
           |  SELECT rid AS vec_id, ${IvfKmeans.quantizeSql("v", VecOffset)} AS qv
           |  FROM ecls),
           |${IvfKmeans.spillAssignCte("spc", "qd", Dim, cents = semCents)},
           |evc AS MATERIALIZED (
           |  SELECT sp.vec_id AS rid, sp.cell, e2.v, e2.nrm
           |  FROM spc sp JOIN ecls e2 ON e2.rid = sp.vec_id),
           |cspairs AS MATERIALIZED (
           |  SELECT DISTINCT ra, rb FROM (
           |    SELECT a.rid AS ra, b.rid AS rb,
           |      CAST(floor(((${dotSql("a.v", "b.v", Dim)}) / (a.nrm * b.nrm)) * 1e6)
           |        AS BIGINT) AS sim_x1e6
           |    FROM evc a JOIN evc b ON a.cell = b.cell AND a.rid < b.rid)
           |  WHERE sim_x1e6 >= $SemThreshX1e6),
           |active AS (
           |  SELECT ra AS rid FROM cspairs
           |  UNION SELECT rb FROM cspairs
           |  UNION
           |  SELECT rid FROM ecls
           |  WHERE len(dids) >= 2
           |    AND CAST(floor(((${dotSql("v", "v", Dim)}) / (nrm * nrm)) * 1e6)
           |      AS BIGINT) >= $SemThreshX1e6),
           |cedges AS (
           |  SELECT ra AS x, rb AS y FROM cspairs
           |  UNION SELECT rb, ra FROM cspairs),
           |creach(x, y) AS (
           |  SELECT rid, rid FROM active
           |  UNION
           |  SELECT r.x, g.y FROM creach r JOIN cedges g ON r.y = g.x),
           |ccomp AS (SELECT x AS rid, min(y) AS comp FROM creach GROUP BY x),
           |cl AS (
           |  SELECT comp, CAST(sum(len(dids)) AS BIGINT) AS cluster_size
           |  FROM ccomp JOIN ecls USING (rid) GROUP BY comp)
           |SELECT CAST(cluster_size AS BIGINT) AS cluster_size, count(*) AS n_clusters,
           |  CAST(sum(comp) AS BIGINT) AS sum_canonical
           |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // -- INCREMENTAL SEMANTIC DEDUP vs a PERSISTENT CELL INDEX: the
    // q99 shape (seed index on disk, epoch-committed ingest waves,
    // accept = no near-dup already indexed) rebuilt on the embedding
    // family — the minhash index lifecycle (build q99 / stream q109 /
    // compact q110 / retract q112) gains its semantic sibling. The
    // index stores each vector in its 2 nearest TRAINED cells (q118's
    // spill, so boundary dups still collide), bucketed on `cell` so
    // every wave's candidate join enters exchange-free on the store
    // side; centroids are trained ONCE on the seed corpus and FROZEN
    // (the production pattern: waves assign to frozen cells, retrain
    // is a scheduled maintenance job like q110's compaction). Wave 1
    // carries exact copies of indexed vectors (must reject) + novel
    // vectors (accept unless a semantic near-dup ≥ 0.4 cosine is
    // already indexed); wave 2 carries copies of wave-1 novelties —
    // rejected ONLY if epoch 1 actually committed, so the gate proves
    // commit visibility. A replay of wave 1 after its commit accepts
    // exactly 0 (every acceptance now self-matches its own index
    // entry) — pinned in StreamReplaySpec, not re-proven per bench
    // pass. The oracle replays training, spill indexing, and
    // both sequential waves in SQL; the rollup hashes per-epoch
    // committed (n_vecs, sum_id). 100 TB: waves shuffle only
    // themselves (probe side), the index never re-shuffles; spill
    // bounds index inflation at 2x; the accept join's candidate count
    // is corpus/K per probe cell.
    Q("q120_incremental_semantic_dedup",
      (spark, dir) => {
        val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
        // rank-based seeding (IvfKmeans.seedCents): the restricted
        // training corpus still yields 8 EFFECTIVE cells — a
        // vec_id < k seed would halve this index to 4. The whole
        // ingest lifecycle is the shared SemanticIndex operator (one
        // definition for q120/q122/q123/q124)
        val h = semanticIndex(spark, e, "semdedup", "graft_q120_vecs")
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h, wave(e, SemWave1)), 1)
        // (replay-accepts-0 — every wave-1 acceptance self-matches its
        // own index entry, probe cell ∈ its spilled cells at cos = 1 —
        // is pinned in StreamReplaySpec rather than re-proven per
        // bench pass; see q109's RETRY SAFETY note.)
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h, wave(e, SemWave2)), 2)
        SemanticIndex.rollup(h)
      },
      Some(semanticEpochOracle)),

    // -- HOT-BUCKET-CONTROLLED LSH near-dup join: the q41/q108 band
    // self-join with WORST-CASE CANDIDATE INFLATION BOUNDED. A band
    // key shared by m documents contributes m·(m-1)/2 candidate pairs;
    // on boilerplate-dense content m explodes (q41 engine-only sf1:
    // 891 s, ~20.5M candidates — artifacts/r9_engine_sf1.json), and at
    // 100 TB boilerplate shards ARE that pathology. Naive per-bucket
    // truncation is the wrong fix — on the copy-dense scale-ups the
    // hot buckets hold exactly the exact-copy families, so truncation
    // cuts the true duplicates (measured before this design: 3/29
    // pairs at sf0.01). Instead a hot bucket SPLITS by content
    // fingerprint — a fold of the sorted shingle-hash list
    // (MinhashPipeline.capBands; signature-hash splitting was measured
    // and rejected there — 572 docs shared 8 signatures): copy
    // families — identical shingle SETS — keep generating their pairs;
    // differing-content boilerplate collisions are separated; a per-group cap of the
    // HotBucketCap lowest doc_ids (deterministic tie-break, replayed
    // by the oracle) is the hard bound, so a hot bucket costs
    // O(m·cap), not O(m²). The gate PLANTS exact copies (the q40
    // fixture shape) so it proves copy-pair survival through hot
    // buckets, not just the bound; the recall cost on non-identical
    // coincidental pairs is measured, not assumed
    // (artifacts/r10_hotcap_quality.json), the way q118 records
    // blocked recall. Candidates are DISTINCT'd before the verify
    // (each pair pays the two-pointer intersect once, not once per
    // shared band). 100 TB: the cap windows partition by bkey(, grp)
    // — the band join's own shuffle key — so candidate generation
    // still costs ONE exchange; the verify joins shuffle capped
    // candidates only. Reference anchor: the preload-cache-size
    // discipline of VariantLoad3.java:483-495 (bound the in-flight
    // candidate set, never the corpus).
    Q("q121_dedup_lsh_hotcap",
      (spark, dir) => {
        // one signature pass feeds banding AND both verify sides
        val sig = signedDocs(copyCorpus(
          table(spark, dir, "documents").select("doc_id", "lang", "text")))
          .localCheckpoint(true)
        hotCapPairs(sig, HotBucketCap).orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        s"""WITH cp AS (
           |  ${copyCorpusSql("lang, text")}),
           |${minhashCtes("c", "cp")},
           |${hotCapPairsCtes("c", HotBucketCap)}
           |SELECT doc_a, doc_b, jacc_x1000 FROM cpairs
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // -- SEMANTIC index COMPACTION is semantics-free, proven by
    // oracle: the q110 pattern on the embedding family. Identical
    // corpus/waves/commits to q120, with ONE difference — between the
    // epoch-1 commit and wave 2, the cell-bucketed store is compacted
    // (epoch file sets collapsed AND bucket count doubled 8 -> 16,
    // the capacity-growth rewrite) through the crash-safe staged
    // swap. Wave 2 then dedups against the COMPACTED index —
    // exchange-free at the new bucket count — and the rollup is
    // hash-compared against the IDENTICAL oracle q120 uses: a
    // compaction that dropped, duplicated, or re-celled any spill row
    // would shift ac2 and fail the hash. 100 TB: the periodic
    // maintenance job for the append-grown store, droppable into a
    // live ingest pipeline without changing any acceptance decision.
    Q("q122_semantic_index_compaction",
      (spark, dir) => {
        val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
        val h = semanticIndex(spark, e, "semcompact", "graft_q122_vecs")
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h, wave(e, SemWave1)), 1)
        // ---- THE OPERATION UNDER TEST: collapse epoch file sets and
        // grow capacity 8 -> 16 buckets, at the epoch barrier
        h.store.compact(IndexBuckets * 2)
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h, wave(e, SemWave2)), 2)
        SemanticIndex.rollup(h)
      },
      Some(semanticEpochOracle)),

    // -- SEMANTIC index RETRACTION (takedown / retention deletes on
    // the embedding family — q112's operator for the cell index):
    // tombstone anti-join + bucketed rewrite through the crash-safe
    // staged swap, at an epoch barrier. BOTH spill rows of each
    // tombstoned vector disappear, or a ghost cell entry would keep
    // rejecting future copies. The probe wave proves the deletion is
    // SEMANTICALLY real: exact copies of retracted vectors are
    // re-judged against the retained store only (accepted unless a
    // RETAINED near-dup at >= 0.4 cosine covers them), while copies
    // of retained vectors still self-match and are rejected. The
    // oracle rebuilds its spill index from the retained seed only, so
    // a leftover ghost row (wrong rejection) or an over-delete (wrong
    // acceptance) shifts the rollup and fails the hash. Centroids
    // stay FROZEN through a retraction — geometry maintenance is
    // q124's retrain, not a side effect of deletes.
    Q("q123_semantic_index_retraction",
      (spark, dir) => {
        val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
        val h = semanticIndex(spark, e, "semretract", "graft_q123_vecs")
        // ---- retract R = every 4th seeded vector (vec_id % 8 == 0):
        // filtered rewrite of the store via the staged swap
        val tombstones = e.filter(RetractedVecCopies.member(col("vec_id")))
          .select("vec_id").localCheckpoint(true)
        SemanticIndex.retract(h, tombstones)
        // ---- probe wave: exact copies of RETRACTED vectors (now
        // judged against retained neighbors only) + exact copies of
        // RETAINED vectors (must still self-match and be rejected)
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h,
          wave(e, Seq(RetractedVecCopies, RetainedVecCopies))), 1)
        SemanticIndex.rollup(h)
      },
      Some {
        s"""WITH $semSeedCtes,
           |ret AS (SELECT vec_id, v, qv FROM sd
           |  WHERE NOT (${RetractedVecCopies.memberSql("vec_id")})),
           |${semSpillCte("i0", "ret")},
           |wave AS (
           |  ${waveSql("eall", VecCols, Seq(RetractedVecCopies, RetainedVecCopies))}),
           |${semAcceptCtes("ac1", "wave", "i0")},
           |${SemanticIndex.rollupSql(0 -> "(SELECT DISTINCT vec_id FROM i0)",
              1 -> "ac1")}""".stripMargin
      }),

    // -- CENTROID RETRAIN + REASSIGN — the maintenance half the
    // frozen-centroid design defers to (q110's compaction analog for
    // CELL GEOMETRY, closing the semantic lifecycle: build q120 /
    // compact q122 / retract q123 / retrain here): after the epoch-1
    // commit, fresh centroids are trained on the COMMITTED corpus
    // (seed + acceptances — the corpus the frozen seed geometry no
    // longer represents), every stored vector is spill-reassigned to
    // the new cells (epoch provenance preserved — it is orthogonal to
    // geometry), and the store is swapped crash-safely at a doubled
    // bucket count. Wave 2 then probes the NEW frozen centroids; an
    // in-gate replay of wave 1 against the retrained index must
    // re-accept 0 COMMITTED vectors (self-matches survive any
    // geometry that spills each vector into its own crank-1 cell;
    // previously-rejected borderline vectors may legitimately become
    // acceptable when their blocker moves cells — see the in-gate
    // note). The oracle replays BOTH
    // trainings (lloydCtes' prefixed second chain), the reassignment,
    // and wave 2 under the new geometry; the rollup adds per-epoch
    // DISTINCT CELL COUNTS so the new geometry itself is hashed, not
    // just membership. 100 TB: retraining is iters corpus scans with
    // K·dim-row shuffles (the q114 shape); reassignment is the one
    // paid bucketed rewrite, amortized over every later wave.
    Q("q124_semantic_index_retrain",
      (spark, dir) => {
        val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
        val h = semanticIndex(spark, e, "semretrain", "graft_q124_vecs")
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h, wave(e, SemWave1)), 1)
        // ---- THE OPERATION UNDER TEST: retrain on the committed
        // corpus, reassign the store to the new cells, swap; waves
        // from here on probe the NEW frozen centroids
        val h2 = SemanticIndex.retrainReassign(h, VecOffset, SemK, SemIters,
          IndexBuckets * 2)
        // (post-retrain replay idempotence — no committed vector is
        // re-accepted under the new geometry, because its self-match
        // survives any spill that includes the crank-1 cell — is a
        // STRUCTURAL property of retrainReassign, pinned by
        // SemanticIndexSpec's "keeps self-matches: replay accepts 0"
        // test, not re-proven per bench pass; it contributes 0 rows to
        // the rollup by construction. Scoping note: a previously-
        // REJECTED wave-1 vector MAY legitimately become acceptable
        // under the new geometry — replay idempotence for an index
        // means "never duplicate an existing entry", not "reproduce old
        // rejections".)
        SemanticIndex.commit(h2, SemanticIndex.acceptWave(h2, wave(e, SemWave2)), 2)
        // geometry-visible rollup: per-epoch distinct cells hash the
        // NEW cell assignment, not just membership
        SemanticIndex.geometryRollup(h2).orderBy(col("epoch"))
      },
      Some {
        s"""WITH $semWave1Ctes,
           |cm AS (
           |  SELECT 0 AS epoch, vec_id, v FROM (SELECT DISTINCT vec_id, v FROM i0)
           |  UNION ALL SELECT 1, vec_id, v FROM ac1),
           |$semRetrainCtes,
           |${semAcceptCtes("ac2", "w2", "ri", cents = retrainCents)},
           |${semSpillCte("sp2", "ac2", cents = retrainCents)},
           |fin AS (SELECT epoch, vec_id, cell FROM ri
           |        UNION ALL SELECT 2, vec_id, cell FROM sp2)
           |${SemanticIndex.geometryRollupSql("fin")} ORDER BY epoch""".stripMargin
      }),

    // -- RECALL-TARGETED OPERATING POINT: the config-from-measurement
    // step a production ANN deployment performs on q117's ladder —
    // q115/q117 MEASURE recall, this query CONSUMES the measurement.
    // A held-out TUNING sample of probes (every 2nd probe, qid % 34)
    // gets the exact ground truth and integer recall@5 numerators per
    // nprobe level; the smallest level whose tuning recall meets the
    // floor (hits*100 >= n*FloorPct, integer on both engines; the max
    // ladder level is the fallback if none qualifies) is selected —
    // and the FULL probe workload is served at that operating point.
    // The oracle re-derives the same nprobe from the same integer
    // counts and the same served top-5, so a drift anywhere in
    // measure -> select -> serve fails the hash. 100 TB: the exact
    // O(q_t·n) leg runs ONLY over the tuning sample (you tune on a
    // fixed-size sample, serve everything), with the sample side
    // broadcast; the chosen point rides as a 1-row broadcast into the
    // serving filter — no driver collect; serving itself is q117's
    // shape (ONE candidate join at the widest level, narrower levels
    // are filters).
    {
      val Tune = Seq(1, 2); val FloorPct = 50
      Q("q125_ivf_operating_point",
        (spark, dir) => {
          val (probes, assigned, cents) = ivfNprobe(spark, dir)
          // q117's serving shape: ONE candidate join at the widest
          // level, materialized — the tuning views + the serving pass
          val cand = ivfCandidates(probes, assigned, cents, MaxProbe)
            .localCheckpoint(true)
          def top5(df: org.apache.spark.sql.DataFrame) =
            OperatingPoint.topK(df, 5, col("dist"), col("vec_id"))
          val sample = col("qid") % 34 === 0
          val exactT = top5(ivfExact(broadcast(probes.filter(sample)), assigned))
          val chosen = OperatingPoint.choose(
            OperatingPoint.recallLadder(exactT, "nprobe", Tune.map(p =>
              p -> top5(cand.filter(sample && col("crank") <= p))): _*),
            "nprobe", col("hits") * 100 >= col("n") * FloorPct, MaxProbe)
          top5(cand.crossJoin(chosen).filter(col("crank") <= col("nprobe")))
            .select(col("qid"), col("rn").cast("long").as("rn"),
              col("vec_id"), col("nprobe"))
            .orderBy(col("qid"), col("rn"))
        },
        Some {
          import OperatingPoint._
          val tune = Tune.map(p => s"t$p AS (${topKSql(
            s"cand WHERE qid % 34 = 0 AND crank <= $p", 5, "dist, vec_id")})")
          s"""WITH ${ivfNprobeCtes(MaxProbe)},
             |${ivfExactSql("\n  WHERE p.qid % 34 = 0")},
             |ex AS (${topKSql("exd", 5, "dist, vec_id")}),
             |${tune.mkString(",\n")},
             |lad AS (${recallLadderSql("ex", "nprobe", Tune.map(p => p -> s"t$p"): _*)}),
             |ch AS (${chooseSql("lad", "nprobe", s"hits * 100 >= n * $FloorPct", MaxProbe)})
             |SELECT qid, rn, vec_id, nprobe
             |FROM (${topKSql("cand c, ch WHERE c.crank <= ch.nprobe", 5, "dist, vec_id")})
             |ORDER BY qid, rn""".stripMargin
        })
    },

    // -- LSH PLANE-COUNT operating point: the corrective for q115's
    // headline finding (single-table LSH at 0.05 recall@5 — 2^8
    // buckets over ~2k vectors over-partitions). q125's
    // measure→select→serve loop applied to the HYPERPLANE COUNT:
    // coarser buckets are PREFIX MASKS of the 8-plane bucket (plane j
    // contributes bit j), so the n-plane candidate sets nest and ONE
    // candidate join at the coarsest level serves every level — finer
    // levels are bitmask FILTERS over it, the q117 pattern. A
    // held-out tuning sample (qid % 34) pays the exact leg; the
    // LARGEST plane count meeting the recall floor wins (most
    // selective buckets = cheapest serving; the coarsest level is
    // the fallback — max recall the ladder offers); the FULL probe
    // workload is served at the chosen width. 100 TB: bucket masks
    // are map-side bit ops; the one candidate join shuffles by the
    // coarse bucket; the chosen width rides as a 1-row broadcast —
    // no driver collect; the exact O(q_t·n) leg is tuning-only, with
    // the sample side broadcast.
    {
      val Tune = Seq(8, 6); val FloorPct = 50; val Coarse = 4
      Q("q126_lsh_operating_point",
        (spark, dir) => {
          import org.apache.spark.sql.{Column, DataFrame}
          // same n-plane bucket: equal low n bits of the 8-plane buckets
          def same(n: Column): Column = {
            val mask = call_function("shiftleft", lit(1L), n) - 1
            col("b8").bitwiseAND(mask) === col("qb8").bitwiseAND(mask)
          }
          def top5(df: DataFrame) =
            OperatingPoint.topK(df, 5, col("sim_x1e6").desc, col("vec_id"))
          val sim = VF.quantize1e6(VF.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          val e = IvfKmeans.withNorm(embeddings(spark, dir))
            .withColumn("b8", VF.lshBucket(col("v"), Planes, Dim))
            .localCheckpoint(true) // probe side + corpus side + exact leg
          val q = e.filter(col("vec_id") % 17 === 0)
            .select(col("vec_id").as("qid"), col("v").as("qv"),
              col("nrm").as("qnrm"), col("b8").as("qb8"))
          val cand = q.join(e, same(lit(Coarse)) && col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"), sim.as("sim_x1e6"), col("b8"), col("qb8"))
            .localCheckpoint(true) // the tuning views + the serving pass
          val sample = col("qid") % 34 === 0
          val exactT = top5(broadcast(q.filter(sample))
            .join(e, col("vec_id") =!= col("qid"))
            .withColumn("sim_x1e6", sim))
          val chosen = OperatingPoint.choose(
            OperatingPoint.recallLadder(exactT, "n_planes", Tune.map(p =>
              p -> top5(cand.filter(sample && same(lit(p))))): _*),
            "n_planes", col("hits") * 100 >= col("n") * FloorPct, Coarse,
            lowest = false)
          top5(cand.crossJoin(chosen).filter(same(col("n_planes"))))
            .select(col("qid"), col("rn").cast("long").as("rn"),
              col("vec_id"), col("n_planes"))
            .orderBy(col("qid"), col("rn"))
        },
        Some {
          import OperatingPoint._
          def same(n: Any) = s"(b8 & ((1 << $n) - 1)) = (qb8 & ((1 << $n) - 1))"
          val simSql = s"CAST(floor((${cosSql("q.qv", "e.v")}) * 1e6) AS BIGINT) AS sim_x1e6"
          val order = "sim_x1e6 DESC, vec_id"
          val tune = Tune.map(p => s"t$p AS (${topKSql(
            s"cand WHERE qid % 34 = 0 AND ${same(p)}", 5, order)})")
          s"""WITH $embCte,
             |eb AS (SELECT vec_id, v, ${bucketSql("v")} AS b8 FROM e),
             |qb AS (SELECT vec_id AS qid, v AS qv, b8 AS qb8
             |       FROM eb WHERE vec_id % 17 = 0),
             |cand AS (
             |  SELECT q.qid, e.vec_id, $simSql, e.b8, q.qb8
             |  FROM qb q JOIN eb e ON ${same(Coarse)} AND e.vec_id <> q.qid),
             |exd AS (
             |  SELECT q.qid, e.vec_id, $simSql
             |  FROM qb q JOIN eb e ON e.vec_id <> q.qid
             |  WHERE q.qid % 34 = 0),
             |ex AS (${topKSql("exd", 5, order)}),
             |${tune.mkString(",\n")},
             |lad AS (${recallLadderSql("ex", "n_planes", Tune.map(p => p -> s"t$p"): _*)}),
             |ch AS (${chooseSql("lad", "n_planes", s"hits * 100 >= n * $FloorPct", Coarse,
                lowest = false)})
             |SELECT qid, rn, vec_id, n_planes
             |FROM (${topKSql(s"cand, ch WHERE ${same("ch.n_planes")}", 5, order)})
             |ORDER BY qid, rn""".stripMargin
        })
    },

    // -- HOT-BUCKET CONTROL AT PRODUCTION GRANULARITY: q121's
    // content-fingerprint split + per-group cap applied to the
    // WORD-BIGRAM band join (q108's family — the granularity a real
    // training-data pipeline runs at). q108 stayed the last uncapped
    // band self-join in the engine (engine-only sf1: 242.8 s,
    // artifacts/r10_engine_sf1.json — the same boilerplate pathology
    // q121 fixed for char 3-grams); MinhashPipeline.capBands is
    // granularity-agnostic, so the production path is the identical
    // operator over signedDocsWord. The gate PLANTS exact copies
    // (doc_id % 7 under +100000) so copy-pair survival through hot
    // buckets is proven at this granularity too; the oracle replays
    // the full word-bigram derivation (minhashWordCtes) and the cap
    // (capBandsCte) in SQL. 100 TB: identical posture to q121 — both
    // cap windows partition by bkey(, grp), candidate generation
    // costs ONE exchange, a hot bucket costs O(m·cap) not O(m²).
    // Reference anchor: VariantLoad3.java:483-495 cache-size
    // discipline (bound the in-flight candidate set, never the
    // corpus).
    Q("q127_dedup_word_hotcap",
      (spark, dir) => {
        // one signature pass feeds banding AND both verify sides
        val sig = signedDocsWord(copyCorpus(
          table(spark, dir, "documents").select("doc_id", "text")))
          .localCheckpoint(true)
        hotCapPairs(sig, HotBucketCap).orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        s"""WITH cp AS (
           |  ${copyCorpusSql("text")}),
           |${minhashWordCtes("c", "cp")},
           |${hotCapPairsCtes("c", HotBucketCap)}
           |SELECT doc_a, doc_b, jacc_x1000 FROM cpairs
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // -- DRIFT-TRIGGERED RETRAIN: the measure -> select -> serve
    // discipline (q125/q126) applied to index MAINTENANCE. q124
    // proves retrain+reassign is correct; this gate decides WHEN it
    // pays: after every commit the engine measures cell-occupancy
    // skew on the committed store (max cell rows vs mean — the
    // integer a hot cell inflates, and the quantity that directly
    // prices probe-time candidate lists), and retrains ONLY when
    // max_rows * n_cells * 2 >= total_rows * 3 (max >= 1.5x mean).
    // BOTH branches are exercised and oracle-replayed in one
    // lifecycle: wave 1 is in-distribution growth (trigger HOLDS —
    // wave 2 provably probes the ORIGINAL centroids; a spurious
    // retrain would shift its accept set and fail the hash), wave 2
    // is a planted drifted source — every vector rides a 5x anchor
    // component, so the whole wave crowds into the anchor's Voronoi
    // cone (trigger FIRES; the engine re-requires it), and wave 3
    // probes the post-retrain geometry. The decision integers
    // (max/total/cells/fired, steps 1-3) are hashed alongside the
    // per-epoch rollup, and the oracle re-derives the same signal
    // from the same store, so a drift anywhere in
    // measure -> decide -> retrain fails the gate. The signal read
    // is a 1-row O(store-scan) aggregate collected to the driver —
    // maintenance control flow, not a data path (the q109 commit-loop
    // genre). 100 TB: the skew read piggybacks on store statistics,
    // the retrain itself is q124's shape, and the trigger bounds how
    // often that cost is paid — cadence from measurement, not cron.
    // Reference anchor: VariantLoad3.java:483-495 (bound the hot
    // structure, then rebuild — cache-size discipline as a measured
    // trigger rather than a constant schedule).
    Q("q128_semantic_drift_retrain",
      (spark, dir) => {
        val tbl = "graft_q128_vecs"
        val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
        val h = semanticIndex(spark, e, "semdrift", tbl)
        // the drift signal: occupancy skew over ALL store rows (spill
        // included — spill rows are what a probe actually scans)
        def skew(): (Long, Long, Long) = {
          val r = spark.table(tbl).groupBy(col("cell"))
            .agg(count(lit(1)).as("n"))
            .agg(max(col("n")), sum(col("n")), count(lit(1))).head()
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }
        // wave 1: in-distribution growth -> trigger must HOLD
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h, NewVecs.rows(e)), 1)
        val (mx1, tot1, nc1) = skew()
        val fire1 = mx1 * nc1 * 2 >= tot1 * 3
        require(!fire1, s"drift trigger fired on in-distribution " +
          s"growth ($mx1 rows max cell, $tot1 total over $nc1 cells)")
        // wave 2: planted drifted source — 5x anchor component sends
        // the whole wave into one Voronoi cone. Anchor = lowest
        // never-committed vector (vec_id % 20 = 3), a 1-row broadcast.
        val anchor = e.filter(col("vec_id") % 20 === 3)
          .orderBy(col("vec_id")).limit(1).select(col("v").as("av"))
        val w2 = IvfKmeans.vectors(e.filter(col("vec_id") % 4 === 3)
            .crossJoin(broadcast(anchor)) // 1-row side -> broadcast
            .withColumn("v", zip_with(col("v"), col("av"),
              (x, a) => x + a * lit(5))), VecOffset)
          .withColumn("vec_id", col("vec_id") + 200000L)
          .select("vec_id", "v", "qv", "nrm")
        SemanticIndex.commit(h, SemanticIndex.acceptWave(h, w2), 2)
        val (mx2, tot2, nc2) = skew()
        val fire2 = mx2 * nc2 * 2 >= tot2 * 3
        require(fire2, s"drift trigger held after the drifted wave " +
          s"($mx2 rows max cell, $tot2 total over $nc2 cells)")
        // the decision: retrain fires ONLY because the signal crossed
        val h2 =
          if (fire2) SemanticIndex.retrainReassign(h, VecOffset, SemK, SemIters,
            IndexBuckets * 2)
          else h
        val (mx3, tot3, nc3) = skew() // post-retrain read (informational)
        val fire3 = mx3 * nc3 * 2 >= tot3 * 3
        // wave 3 probes whatever geometry the decision produced
        SemanticIndex.commit(h2, SemanticIndex.acceptWave(h2, NewVecs2.rows(e)), 3)
        // hashed output: decision rows (step 1-3: n_max/n_total =
        // occupancy max/total) + per-epoch rollup rows (step 10+epoch:
        // n_max/n_total = n_vecs/sum_id) on the final geometry
        import spark.implicits._
        val dec = Seq(
          (1L, mx1, tot1, nc1, if (fire1) 1L else 0L),
          (2L, mx2, tot2, nc2, if (fire2) 1L else 0L),
          (3L, mx3, tot3, nc3, if (fire3) 1L else 0L))
          .toDF("step", "n_max", "n_total", "n_cells", "fired")
        val roll = SemanticIndex.geometryRollup(h2)
          .select((col("epoch") + 10).cast("long").as("step"),
            col("n_vecs").as("n_max"), col("sum_id").as("n_total"),
            col("n_cells"), lit(0L).as("fired"))
        dec.unionByName(roll).orderBy(col("step"))
      },
      Some {
        val fireSql = "CASE WHEN max(n) * count(*) * 2 >= sum(n) * 3 " +
          "THEN 1 ELSE 0 END"
        def dSql(step: Int, occ: String) =
          s"""SELECT CAST($step AS BIGINT) AS step,
             |  max(n) AS n_max, CAST(sum(n) AS BIGINT) AS n_total,
             |  count(*) AS n_cells, CAST($fireSql AS BIGINT) AS fired
             |FROM $occ""".stripMargin
        s"""WITH $semSeedCtes,
           |${semSpillCte("i0", "sd")},
           |w1 AS (${NewVecs.sql("eall", VecCols)}),
           |${semAcceptCtes("ac1", "w1", "i0")},
           |${semCommitCtes("i1", "i0", "ac1")},
           |occ1 AS (SELECT cell, count(*) AS n FROM i1 GROUP BY cell),
           |an AS (SELECT v AS av FROM eall WHERE vec_id % 20 = 3
           |       ORDER BY vec_id LIMIT 1),
           |w2 AS (
           |  SELECT vec_id, v, ${IvfKmeans.quantizeSql("v", VecOffset)} AS qv FROM (
           |    SELECT e.vec_id + 200000 AS vec_id,
           |      [e.v[i] + an.av[i] * 5 FOR i IN generate_series(1, $Dim)] AS v
           |    FROM eall e, an WHERE e.vec_id % 4 = 3)),
           |${semAcceptCtes("ac2", "w2", "i1")},
           |${semCommitCtes("i2", "i1", "ac2")},
           |occ2 AS (SELECT cell, count(*) AS n FROM i2 GROUP BY cell),
           |cm AS (
           |  SELECT 0 AS epoch, vec_id, v FROM (SELECT DISTINCT vec_id, v FROM i0)
           |  UNION ALL SELECT 1, vec_id, v FROM ac1
           |  UNION ALL SELECT 2, vec_id, v FROM ac2),
           |$semRetrainCtes,
           |occ3 AS (SELECT cell, count(*) AS n FROM ri GROUP BY cell),
           |w3 AS (${NewVecs2.sql("eall", VecCols)}),
           |${semAcceptCtes("ac3", "w3", "ri", cents = retrainCents)},
           |${semSpillCte("sp3", "ac3", cents = retrainCents)},
           |fin AS (SELECT epoch, vec_id, cell FROM ri
           |        UNION ALL SELECT 3, vec_id, cell FROM sp3),
           |roll AS (
           |  SELECT CAST(epoch + 10 AS BIGINT) AS step, n_vecs AS n_max,
           |    sum_id AS n_total, n_cells, CAST(0 AS BIGINT) AS fired
           |  FROM (${SemanticIndex.geometryRollupSql("fin")}))
           |SELECT * FROM (
           |  ${dSql(1, "occ1")} UNION ALL ${dSql(2, "occ2")}
           |  UNION ALL ${dSql(3, "occ3")} UNION ALL SELECT * FROM roll)
           |ORDER BY step""".stripMargin
      }),

    // -- SEMANTIC-DEDUP THRESHOLD OPERATING POINT: the last fixed
    // constant in the LLM family becomes a measured choice. The
    // 0.4-cosine accept threshold q120/q122-q124 serve at was a
    // constant nothing validated; here the q125/q126 discipline is
    // applied to it: PLANT labeled pairs against the seed index —
    // true near-dups (stored vectors plus a 0.25x/1.0x perturbation
    // component; the 1.0x group lands near cos 0.7, so strict
    // thresholds visibly pay recall) and hard negatives (fresh
    // vectors riding a 0.5x component of a COMMITTED vector — the
    // borderline-correlated distinct content that sits at cos ~0.5)
    // — measure integer TP/FP at a threshold ladder
    // {0.40, 0.55, 0.70}, select the LOWEST threshold meeting a 95%
    // precision floor (reject as much true duplication as possible
    // without dropping distinct content; strictest as fallback), and
    // SERVE a mixed ingest wave at the chosen point. The ladder
    // counts, the chosen threshold, and the served accept set are all
    // hashed; the oracle re-derives all three, so a drift anywhere in
    // measure -> select -> serve fails the gate. Selection is
    // corpus-dependent by design (0.55 on the driver corpora; 0.70 at
    // sf0.1 where denser hard negatives push FP at 0.55 over the
    // floor) — both engines agree because the decision is integer
    // cross-multiplication. 100 TB: the labeled probe set is
    // fixed-size (tuning rides on a sample, serving on everything),
    // maxcos is ONE cell-keyed join per probe set against the
    // 2x-spilled index (acceptWave's exact shape), and the chosen
    // threshold rides as a 1-row broadcast into the serving filter —
    // no driver collect anywhere. Reference anchor:
    // VariantXdbIdLoad.java:73-123 (match-threshold discipline on
    // external-id joins: the accept criterion is data, not code).
    {
      val Ladder = Seq(400000L, 550000L, 700000L); val FloorPct = 95
      Q("q129_semantic_threshold_point",
        (spark, dir) => {
          import org.apache.spark.sql.Column
          val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
          val seed = e.filter(col("vec_id") % 2 === 0)
          val cents = SemanticIndex.trainCells(seed, SemK, SemIters)
          // in-memory 2x-spill index (q118's shape — the operating
          // point is CONFIG, not state; the persistent-store lifecycle
          // is q120/q122-q124's job)
          val idx = IvfKmeans.rankCells(
              seed.select("vec_id", "v", "nrm", "qv"), "qv", cents, 2)
            .select(col("cell"), col("v").as("iv"), col("nrm").as("inrm"))
            .localCheckpoint(true)
          // acceptWave's probe shape: crank-1 cell, max cosine against
          // the cell's index entries; -1 = empty cell (never a dup)
          def maxCos(probe: DataFrame): DataFrame =
            IvfKmeans.rankCells(
                probe.select("vec_id", "v", "nrm", "qv"), "qv", cents, 1)
              .join(idx, Seq("cell"), "left_outer")
              .groupBy(col("vec_id"))
              .agg(coalesce(max(VF.quantize1e6(VF.dot(col("v"), col("iv"))
                / (col("nrm") * col("inrm")))), lit(-1L)).as("mc"))
          def remix(src: DataFrame, comp: DataFrame, compCol: String,
                    eps: Column, offset: Long): DataFrame =
            IvfKmeans.vectors(src
                .crossJoin(broadcast(comp)) // 1-row side -> broadcast
                .withColumn("eps", eps)
                .withColumn("v", zip_with(col("v"), col(compCol),
                  (x, p) => x + p * col("eps"))), VecOffset)
              .withColumn("vec_id", col("vec_id") + offset)
              .select("vec_id", "v", "qv", "nrm")
          val partner = e.filter(col("vec_id") % 20 === 3)
            .orderBy(col("vec_id")).limit(1).select(col("v").as("pv"))
          val anchorC = seed.orderBy(col("vec_id")).limit(1)
            .select(col("v").as("acv"))
          // labeled tuning probes: id < 600000 = true dup, else distinct
          val pos = remix(e.filter(col("vec_id") % 10 === 0), partner, "pv",
            when(expr("(vec_id DIV 10) % 2 = 0"), lit(0.25)).otherwise(lit(1.0)),
            500000L)
          val neg = remix(e.filter(col("vec_id") % 20 === 7), anchorC, "acv",
            lit(0.5), 600000L)
          val mc = maxCos(pos.unionByName(neg)).localCheckpoint(true)
          import spark.implicits._
          val counts = mc.crossJoin(broadcast(Ladder.toDF("t")))
            .groupBy(col("t")).agg(
              sum(when(col("vec_id") < 600000L && col("mc") >= col("t"), 1L)
                .otherwise(0L)).as("tp"),
              sum(when(col("vec_id") >= 600000L && col("mc") >= col("t"), 1L)
                .otherwise(0L)).as("fp"))
            .localCheckpoint(true)
          val chosen = OperatingPoint.choose(counts, "t",
            col("tp") * 100 >= (col("tp") + col("fp")) * FloorPct, Ladder.last)
          // serve a mixed ingest wave at the chosen point: plain fresh
          // vectors + borderline-correlated mixtures whose fate DEPENDS
          // on the selection — a selection drift shifts the accept set
          val fresh = e.filter(col("vec_id") % 20 === 9)
            .withColumn("vec_id", col("vec_id") + 700000L)
            .select("vec_id", "v", "qv", "nrm")
          val border = remix(e.filter(col("vec_id") % 20 === 13), anchorC,
            "acv", lit(0.5), 800000L)
          val served = maxCos(fresh.unionByName(border))
            .crossJoin(chosen)
            .filter(col("mc") < col("t"))
            .select(lit("accept").as("sect"), col("vec_id").as("id"),
              lit(0L).as("n1"), lit(0L).as("n2"))
          counts.select(lit("ladder").as("sect"), col("t").as("id"),
              col("tp").as("n1"), col("fp").as("n2"))
            .unionByName(chosen.select(lit("chosen").as("sect"),
              col("t").as("id"), lit(0L).as("n1"), lit(0L).as("n2")))
            .unionByName(served)
            .orderBy(col("sect"), col("id"))
        },
        Some {
          def mixSql(where: String, comp: String, compCol: String,
                     eps: String, offset: Long) =
            s"""SELECT vec_id, v, ${IvfKmeans.quantizeSql("v", VecOffset)} AS qv FROM (
               |  SELECT e.vec_id + $offset AS vec_id,
               |    [e.v[i] + $compCol[i] * ($eps) FOR i IN generate_series(1, $Dim)] AS v
               |  FROM eall e, $comp WHERE $where)""".stripMargin
          s"""WITH $semSeedCtes,
             |${semSpillCte("idx", "sd")},
             |pn AS (SELECT v AS pv FROM eall WHERE vec_id % 20 = 3
             |       ORDER BY vec_id LIMIT 1),
             |ac AS (SELECT v AS acv FROM eall WHERE vec_id % 2 = 0
             |       ORDER BY vec_id LIMIT 1),
             |tune AS (
             |  ${mixSql("e.vec_id % 10 = 0", "pn", "pn.pv",
                  "CASE WHEN (e.vec_id // 10) % 2 = 0 THEN 0.25 ELSE 1.0 END",
                  500000L)}
             |  UNION ALL
             |  ${mixSql("e.vec_id % 20 = 7", "ac", "ac.acv", "0.5", 600000L)}),
             |${semProbeCte("tp1", "tune")},
             |mc AS (
             |  SELECT p.vec_id,
             |    COALESCE(MAX(CAST(floor((${cosSql("p.v", "i.v")}) * 1e6)
             |      AS BIGINT)), -1) AS mc
             |  FROM tp1 p LEFT JOIN idx i ON i.cell = p.cell
             |  GROUP BY p.vec_id),
             |ladder AS (
             |  ${Ladder.map(t => s"SELECT CAST($t AS BIGINT) AS t").mkString(" UNION ALL ")}),
             |counts AS (
             |  SELECT t,
             |    CAST(sum(CASE WHEN vec_id < 600000 AND mc >= t
             |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |    CAST(sum(CASE WHEN vec_id >= 600000 AND mc >= t
             |      THEN 1 ELSE 0 END) AS BIGINT) AS fp
             |  FROM mc, ladder GROUP BY t),
             |chosen AS (${OperatingPoint.chooseSql("counts", "t",
                s"tp * 100 >= (tp + fp) * $FloorPct", Ladder.last)}),
             |serve AS (
             |  SELECT vec_id + 700000 AS vec_id, v, qv FROM eall
             |  WHERE vec_id % 20 = 9
             |  UNION ALL
             |  ${mixSql("e.vec_id % 20 = 13", "ac", "ac.acv", "0.5", 800000L)}),
             |${semProbeCte("sp1", "serve")},
             |smc AS (
             |  SELECT p.vec_id,
             |    COALESCE(MAX(CAST(floor((${cosSql("p.v", "i.v")}) * 1e6)
             |      AS BIGINT)), -1) AS mc
             |  FROM sp1 p LEFT JOIN idx i ON i.cell = p.cell
             |  GROUP BY p.vec_id)
             |SELECT * FROM (
             |  SELECT 'ladder' AS sect, t AS id, tp AS n1, fp AS n2 FROM counts
             |  UNION ALL
             |  SELECT 'chosen', t, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM chosen
             |  UNION ALL
             |  SELECT 'accept', s.vec_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |  FROM smc s, chosen ch WHERE s.mc < ch.t)
             |ORDER BY sect, id""".stripMargin
        })
    },

    // -- MULTIMODAL ANN (the q58 baseline's PRODUCTION path): the
    // same opaque-bytes -> 8-bin byte-histogram feature extraction,
    // but the similarity search is CELL-BLOCKED by a TRAINED FIXED-K
    // coarse quantizer — IvfKmeans.train over the quantized histogram
    // features, q114's lifecycle on the multimodal feature space. With
    // a trained K=16 quantizer, assignment is O(n·K) — K is CONFIG
    // (sampled centroids, one per 101 documents, would make it
    // O(n·(n/101)), the q58 blowup class), independent
    // of corpus size — and only the per-cell candidate lists grow with
    // the corpus (bounded by retrain/cap, the q128/q131 machinery).
    // The gate also carries its own MEASURED RECALL FLOOR (q125's
    // discipline): a held-out tuning sample of probes (qid % 74) pays
    // the one exact brute-force leg, and per-probe integer recall@3
    // numerators |ivf_top3 ∩ exact_top3| are hashed alongside the
    // served results — an engine/oracle drift shifts the numerators
    // and fails the hash, and an ABSOLUTE in-plan assert_true holds
    // aggregate recall@3 >= 0.7, so a both-sides collapse (a shared
    // IvfKmeans regression that moves engine and oracle identically)
    // fails the gate too, not just asymmetric drift. The oracle
    // replays decode -> feature -> quantize -> train -> assign ->
    // block -> top-3 -> recall end to end. 100 TB: feature extraction
    // is map-only and linear in bytes; training is `iters` corpus
    // scans with K·dim-row shuffles (IvfKmeans.train's contract);
    // assignment is map-side against the K-row broadcast centroid
    // frame; the candidate join shuffles by cell only; the exact leg
    // is tuning-sample-sized, never corpus×corpus. Reference anchor:
    // GeneCache.java:21-46 — a fixed-size lookup structure regardless
    // of variant count.
    Q("q130_multimodal_ann",
      (spark, dir) => {
        // stage checkpoints go through SemanticIndex.materialize, whose
        // plan-inspection hatch (PlanAssertionsSpec) skips them so the
        // COMPLETE declarative plan — search join, exact recall leg,
        // floor assert — is assertable end to end. Join strategies are
        // unchanged (the spec forces the broadcast threshold off, so
        // only the explicit hints decide); normal runs keep the
        // checkpoints, which bound each stage to one execution.
        import SemanticIndex.materialize
        // materialized once — feeds training, assignment, and the
        // exact tuning leg. The quantizer runs on the LENGTH-NORMALIZED
        // histogram (IvfKmeans.unitVectors): measured recall@3 was
        // 0.14/0.21 at sf0.01/sf0.1 on the raw counts vs 0.86+ required.
        val e = materialize(IvfKmeans.unitVectors(table(spark, dir, "documents")
          .select(col("doc_id").as("vec_id"), byteHist(col("text")).as("v"))))
        val cents = materialize(IvfKmeans.train(e.select(col("vec_id"), col("qv")),
          MmAnnK, MmIters))
        // O(n·K) assignment against the trained frozen quantizer;
        // materialized once — probe side + candidate side + recall
        val assign = materialize(IvfKmeans.rankCells(e, "qv", cents, 1)
          .select(col("vec_id"), col("v"), col("nrm"), col("cell")))
        val q = assign.filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("qid"), col("v").as("pv"),
            col("nrm").as("pnrm"), col("cell"))
        def top3(df: org.apache.spark.sql.DataFrame) = OperatingPoint.topK(
          df.withColumn("sim_x1e6",
            VF.quantize1e6(VF.dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")))),
          3, col("sim_x1e6").desc, col("vec_id"))
        val served = materialize(top3(q.join(assign, Seq("cell"))
            .filter(col("vec_id") =!= col("qid")))
          .select(col("qid"), col("rn").cast("long").as("rn"),
            col("vec_id"), col("sim_x1e6"))) // serve rows + recall join below
        // measured recall floor: exact ground truth ONLY over the
        // tuning sample — the one deliberate O(q_t·n) pass. The sample
        // side is EXPLICITLY broadcast (~n/2738 rows): the non-equi
        // join must plan as a broadcast nested loop over the corpus
        // scan, never a corpus×corpus CartesianProduct — the hint is
        // honored even with autoBroadcastJoinThreshold forced off,
        // which is exactly what the q130 plan gate forces.
        val exact = top3(broadcast(q.filter(col("qid") % 74 === 0)
            .drop("cell"))
          .join(e.select(col("vec_id"), col("v"), col("nrm")),
            col("vec_id") =!= col("qid")))
        val rec = materialize(OperatingPoint.recall(exact, "n2" -> served)
          .withColumnRenamed("n_exact", "n1"))
        // ABSOLUTE recall floor, enforced IN-PLAN: the hashed
        // numerators only catch engine/oracle ASYMMETRY — a
        // regression in the shared IvfKmeans definition shifts both
        // sides identically and still hash-matches. assert_true is the
        // absolute bar: aggregate recall@3 over the tuning sample must
        // hold 0.7 (measured: 16/21 = 0.762 at sf0.01 where the sample
        // is 7 probes, 198/204 = 0.97 at sf0.1, 0.997 at sf1; the
        // collapse mode this floor exists to catch — the raw-counts
        // quantizer bug — measured 0.14/0.21), and a violation aborts
        // EVERY materialization of the gate (Verify, bench, sweep), not
        // just a build-time check. The 1-row floor frame broadcasts.
        val floorOk = rec.agg(
          (sum(col("n2")) * 10 >= sum(col("n1")) * 7).as("floor_ok"))
        served.select(lit("serve").as("sect"), col("qid"),
            col("rn").as("n1"), col("vec_id").as("n2"), col("sim_x1e6").as("n3"))
          .unionByName(rec.select(lit("recall").as("sect"), col("qid"),
            col("n1"), col("n2"), lit(0L).as("n3")))
          .crossJoin(broadcast(floorOk))
          .filter(isnull(assert_true(col("floor_ok"),
            lit("multimodal ANN recall@3 collapsed below the 0.7 floor"))))
          .drop("floor_ok")
          .orderBy(col("sect"), col("qid"), col("n1"), col("n2"))
      },
      Some {
        val simSql = s"""CAST(floor(((${dotSql("q.pv", "a.v", 8)}) / (q.pnrm * a.nrm)) * 1e6)
           |      AS BIGINT) AS sim_x1e6""".stripMargin
        s"""WITH he AS (SELECT doc_id AS vec_id, ${byteHistSql("text")} AS v FROM documents),
           |hn AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM he),
           |${IvfKmeans.lloydCtes(MmAnnK, MmIters, 8, 0L,
              src = "(SELECT vec_id, [x / nrm FOR x IN v] AS embedding FROM hn)")},
           |${IvfKmeans.assignCte(MmIters, 8)},
           |ev AS MATERIALIZED (
           |  SELECT a.vec_id, a.cell, h.v, ${normSql("h.v")} AS nrm
           |  FROM afin a JOIN he h USING (vec_id)),
           |qs AS (SELECT vec_id AS qid, v AS pv, nrm AS pnrm, cell FROM ev
           |       WHERE vec_id % 37 = 0),
           |cand AS (
           |  SELECT q.qid, a.vec_id, $simSql
           |  FROM qs q JOIN ev a ON a.cell = q.cell AND a.vec_id <> q.qid),
           |srv AS (${OperatingPoint.topKSql("cand", 3, "sim_x1e6 DESC, vec_id")}),
           |exd AS (
           |  SELECT q.qid, a.vec_id, $simSql
           |  FROM qs q JOIN ev a ON a.vec_id <> q.qid
           |  WHERE q.qid % 74 = 0),
           |ex AS (${OperatingPoint.topKSql("exd", 3, "sim_x1e6 DESC, vec_id")}),
           |rec AS (${OperatingPoint.recallSql("ex", "n2" -> "srv")})
           |SELECT * FROM (
           |  SELECT 'serve' AS sect, qid, rn AS n1, vec_id AS n2, sim_x1e6 AS n3
           |  FROM srv
           |  UNION ALL
           |  SELECT 'recall', qid, n_exact, n2, CAST(0 AS BIGINT) FROM rec)
           |ORDER BY sect, qid, n1, n2""".stripMargin
      }),

    // -- HOT-CELL CONTROL FOR THE SEMANTIC FAMILY: q121/q127 bound the
    // minhash band join's hot buckets at both shingle granularities;
    // this gate bounds the third candidate generator — the
    // IVF-spill-blocked join (q118's shape). A degenerate embedding
    // source (boilerplate: thousands of EXACT copies of one vector)
    // floods a single Voronoi cell under ANY centroid geometry —
    // retraining (q124/q128) fixes cells that are hot because K went
    // stale, but copies co-locate forever, so the ingest path needs
    // its own bound. IvfKmeans.capCells: a cell is HOT iff occupancy
    // exceeds max(cap, 1.5x mean) — the SAME 1.5x-mean line q128's
    // drift trigger fires on, so split-and-cap at ingest and retrain
    // at the barrier key off one measured signal (the mean rides as a
    // 1-row broadcast; no unpartitioned window, no driver collect);
    // hot cells split by content fingerprint of the quantized vector
    // (copy families co-grouped, capped at the cap lowest vec_ids —
    // O(m·cap)), everything else in a hot cell pairs with nothing;
    // COLD cells are untouched. The gate PLANTS both populations:
    // exact copies (vec_id % 7, +100000 — must survive) and a FLOOD
    // (a full boilerplate MIRROR of the base corpus: every row's
    // content replaced by the lowest vector's embedding, +200000 —
    // sized to provably cross the 1.5x-mean line at every SF; a flood
    // SMALLER than a mean cell is deliberately not flagged — it costs
    // no more candidates than any cold cell, and Lloyd parks a
    // dedicated centroid on a flood, so only super-mean floods are
    // the blowup pathology);
    // the oracle replays train -> spill ->
    // cap -> verify end to end (capCellsCte), so a drift in the
    // threshold arithmetic, the fingerprint, or the cap ordering
    // fails the hash. 100 TB: both cap windows partition by
    // cell(, grp) — the candidate join's own shuffle key — so
    // candidate generation still costs one exchange; worst-case hot
    // cells are O(m·cap) instead of O(m²). Reference anchor:
    // VariantLoad3.java:483-495 (bound the in-flight candidate set,
    // never the corpus).
    Q("q131_semantic_hotcell_cap",
      (spark, dir) => {
        val base = embeddings(spark, dir)
        val anchor = base.orderBy(col("vec_id")).limit(1).select(col("v").as("av"))
        val corpus = base
          .unionByName(base.filter(col("vec_id") % 7 === 0)
            .withColumn("vec_id", col("vec_id") + 100000L))
          .unionByName(base
            .crossJoin(broadcast(anchor)) // 1-row side -> broadcast
            .select((col("vec_id") + 200000L).as("vec_id"), col("av").as("v")))
        // materialized once: feeds training AND the spill assignment
        val e = IvfKmeans.vectors(corpus, VecOffset).localCheckpoint(true)
        val cents = SemanticIndex.trainCells(e, SemK, SemIters)
        IvfKmeans.cappedSpillPairs(e, cents, SemThreshX1e6, SemK, HotBucketCap)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some {
        s"""WITH corp AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000, embedding FROM embeddings
           |  WHERE vec_id % 7 = 0
           |  UNION ALL
           |  SELECT e.vec_id + 200000, a.embedding
           |  FROM embeddings e,
           |    (SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1) a),
           |${IvfKmeans.lloydCtes(SemK, SemIters, Dim, VecOffset, src = "corp")},
           |ce AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           |       FROM corp),
           |${IvfKmeans.spillAssignCte("sp", "q", Dim, Seq("qv"), semCents)},
           |${IvfKmeans.capCellsCte("sp", SemK, HotBucketCap)},
           |${IvfKmeans.cellPairsCtes("cpairs", "spcap", "ce", Seq("cell", "grp"),
              Dim, SemThreshX1e6)}
           |SELECT vec_a, vec_b, sim_x1e6 FROM cpairs
           |ORDER BY vec_a, vec_b""".stripMargin
      }),

    // -- STREAMING ingestion for the SEMANTIC index: the q109 shape on
    // the embedding family, completing the lifecycle mirror
    // operator-for-operator (build q99↔q120, STREAM q109↔this,
    // compact q110↔q122, retract q112↔q123). Same corpus contract and
    // wave strata as q120, so it is gated against the IDENTICAL oracle
    // (`semanticEpochOracle`) — the q109/q110 twin-oracle pattern: the
    // oracle has no idea a streaming engine ran, so any
    // batching/staging/commit bug that shifts one acceptance fails the
    // hash. Waves arrive as Structured Streaming micro-batches
    // (AvailableNow, maxFilesPerTrigger=2); each batch probes the
    // FROZEN epoch index via the shared SemanticIndex.acceptWave (cell
    // -keyed candidate join, store side exchange-free) and stages its
    // acceptances per batch; the stage commits as the next epoch only
    // when the wave drains. Acceptance is per-row vs the frozen index
    // (no intra-wave interaction), so the result is deterministic
    // under ANY file-to-batch assignment — on a cluster, concurrent
    // dedup workers need no read-your-own-write coordination.
    //
    // RETRY SAFETY, both layers exactly as q109: staging is one
    // directory PER BATCH with per-batch OVERWRITE (a replayed
    // batchId rewrites itself, never double-stages), commit is an id
    // anti-join against the committed store (a commit-level retry and
    // a checkpoint-cleared whole-wave replay both add 0 vectors — the
    // second is also semantic: every wave-1 acceptance self-matches
    // its own spill entry at cos = 1). Both proofs are pinned in
    // `StreamReplaySpec` rather than re-run per bench pass (q109's
    // RETRY SAFETY note); both gates stage and commit through the one
    // `StreamingOps.stagedEpoch`. 100 TB:
    // per-batch cost is batch-sized (probe assignment vs the 1-row
    // broadcast centroid frame + one cell-keyed join); the store pays
    // one bucketed shuffle per EPOCH at commit, never per batch.
    Q("q132_stream_semantic_dedup",
      (spark, dir) => {
        val root = s"${Fixtures.scratchRoot}/semstream"
        // stream sources, checkpoints and stages live beside the index
        Fixtures.rmrf(new java.io.File(root))
        val e = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
        val tbl = "graft_q132_vecs"
        val h = semanticIndex(spark, e, "semstream", tbl)
        // q120's waves (the shared-oracle contract); each batch is
        // accepted per row against the FROZEN index, so batching
        // cannot change what commits
        for ((strata, epoch) <- Seq(SemWave1 -> 1, SemWave2 -> 2)) {
          val w = wave(e, strata)
          SemanticIndex.commit(h, StreamingOps.stagedEpoch(spark, root, epoch, w,
            w.schema, tbl, "vec_id")(SemanticIndex.acceptWave(h, _)), epoch)
        }
        SemanticIndex.rollup(h)
      },
      Some(semanticEpochOracle)),

    // -- MULTIMODAL PERSISTENT INDEX (build + ingest): the third
    // feature family gets the same persistent dedup index as text
    // (q99/q109/q110/q112) and semantic (q120/q132/q122/q123/q124),
    // via the SAME operator:
    // SemanticIndex is feature-agnostic (a byte-histogram is just a
    // vector), so build + ingest is a FEATURE-EXTRACTION swap, not new
    // index machinery — which is exactly the design thesis the mirror
    // exists to prove. Features are q130's 8-bin byte histograms,
    // LENGTH-NORMALIZED before quantization (q130's lesson: L2 cells
    // over raw counts cluster by document length while accept scores
    // by cosine); accept threshold 0.9 sits between the measured
    // populations (identical bytes -> cos 1.0; case-flipped content
    // -> max 0.12 vs the index; mixed-case concatenations -> max
    // 0.75). Waves plant all three: exact copies (+100000, must
    // reject vs epoch 0), case-flipped content (+200000, must accept
    // — its byte distribution is genuinely new), re-sent copies of
    // the accepted wave (+300000, must reject vs epoch 1 — proves
    // commit visibility), and mixed-case concatenations (+400000,
    // must accept). Rejection/acceptance liveness is require'd
    // per stratum (a reject-everything or accept-everything
    // regression fails in-gate, not just at the hash); the oracle
    // replays feature -> normalize -> train -> spill -> probe ->
    // accept -> commit end to end at dim 8. 100 TB: identical shape
    // to q120 — waves shuffle only themselves against the frozen
    // K-row centroid broadcast, the store pays one bucketed shuffle
    // per epoch, decode/feature extraction is map-only.
    Q("q133_multimodal_index",
      (spark, dir) => {
        val (d, h, _) = mmIndexWave1(spark, dir, "mmindex", "graft_q133_mm")
        val acc2 = SemanticIndex.acceptWave(h, mmFeats(wave(d, Seq(FlippedAgain, Mixed))))
        requireFates(acc2, d)(
          (FlippedAgain, AllRejected, "a copy of an epoch-1 commit re-entered — commit not visible"),
          (Mixed, SomeAccepted, "the mixed-case stratum was wholly rejected — accept path dead"))
        SemanticIndex.commit(h, acc2, 2)
        SemanticIndex.rollup(h)
      },
      Some {
        s"""WITH $mmWave1Ctes,
           |${SemanticIndex.commitCtes("i1", "i0", "ac1", 8, mmCents)},
           |${mmFeatsCte("w2f", s"(${waveSql("dsrc", TextCols, Seq(FlippedAgain, Mixed))})")},
           |${mmAcceptCtes("ac2", "w2f", "i1")},
           |${SemanticIndex.rollupSql(0 -> "(SELECT DISTINCT vec_id FROM i0)",
              1 -> "ac1", 2 -> "ac2")}""".stripMargin
      }),

    // -- INDEX GEOMETRY OPERATING POINT (K from measurement, not
    // config faith): every cell index in the engine trains at a
    // constant K (semantic 8, multimodal 16, IndexBuckets 8) that
    // nothing measured. The q125/q126 measure -> select -> serve
    // discipline applied to the GEOMETRY itself: train a K ladder on a
    // HELD-OUT third of the corpus (training cost is rung-bounded, never
    // corpus-rung×corpus), assign the FULL corpus at each rung
    // (map-side vs the K-row broadcast centroid frame), and measure
    // the occupancy integers (effective cells, max, total). The
    // decision is CAPACITY, not skew (skew at fixed K is q128's
    // retrain trigger; this gate sizes K before skew is even
    // definable): mean occupancy is exactly the per-probe candidate-
    // list price, so the SMALLEST K whose mean occupancy fits the
    // OccBudget=96 serving budget wins (cheapest geometry: fewer
    // centroid comparisons per assignment, smaller broadcast), the
    // largest rung is the fallback when the corpus outgrows the
    // ladder. Effective-cell count is the denominator, so a
    // degenerate training that collapses cells honestly raises the
    // measured mean. The crank-1 assignment is the measured signal
    // (the 2x spill of the production index scales every cell
    // uniformly and cancels against a doubled budget). Ladder rows,
    // the chosen K, and the full-corpus occupancy rollup SERVED at
    // the chosen K are all hashed; the oracle re-derives all three
    // (one prefixed Lloyd chain per rung), so a drift anywhere in
    // measure -> select -> serve fails the gate. Selection is
    // corpus-dependent by design, and the ladder is corpus-SCALED
    // (geometric {4..256}: an arithmetic {4, 8, 16} tops out below
    // bench scale, where only the fallback would run): K=8 on the
    // 500-vector sf0.01 corpus (mean 500/8 <= 96), a REAL above-8
    // selection K=64 at sf0.1 (2000/16 = 125 > 96 but 2000/64 fits),
    // K=256 at sf1 (20000/64 > 96, 20000/256 = 78 fits). Rungs above the corpus
    // degrade honestly: seeding is rank-based (ORDER BY vec_id
    // LIMIT k in both engines), so K=256 over a 167-vector held-out
    // third trains 167 effective cells and the occupancy math stays
    // exact. The family gates (q120/q130/q133) pin their K so their
    // oracles stay static; this gate is where that constant becomes
    // a measured choice, the same split as q129's threshold vs the
    // serving gates. 100 TB: five trainings (one per ladder rung) on
    // a fixed-fraction sample (iters corpus scans, K·dim-row shuffles
    // each), assignment map-only, occupancy one groupBy(cell) whose
    // output is K rows, decision a 5-row aggregate riding as a 1-row
    // broadcast — no driver collect. Reference anchor:
    // VariantLoad3.java:483-495 (cache capacity sized from the data
    // it must hold, rebuilt when outgrown — the same discipline on
    // cell geometry).
    {
      val Ladder = Seq(4, 8, 16, 64, 256); val OccBudget = 96L; val Iters = 2
      Q("q134_index_geometry_point",
        (spark, dir) => {
          val q = IvfKmeans.vectors(embeddings(spark, dir), VecOffset)
            .select("vec_id", "qv")
            .localCheckpoint(true) // 5 trainings + 5 full assignments
          val sample = q.filter(col("vec_id") % 3 === 0)
          val occs = Ladder.map { k =>
            val cents = IvfKmeans.train(sample, k, Iters)
            // full-corpus occupancy at rung k — ladder row + (if chosen)
            // the served rollup read it, so materialize once
            k -> IvfKmeans.assign(q, cents)
              .groupBy(col("cid")).agg(count(lit(1)).as("n"))
              .select(col("cid").as("cell"), col("n"))
              .localCheckpoint(true)
          }
          val ladder = occs.map { case (k, o) =>
            o.agg(count(lit(1)).as("n_cells"), max(col("n")).as("n_max"),
                sum(col("n")).as("n_total"))
              .select(lit(k.toLong).as("k"), col("n_cells"), col("n_max"),
                col("n_total"))
          }.reduce(_ unionByName _)
            .localCheckpoint(true) // 5 rows: ladder section + decision
          val chosen = OperatingPoint.choose(ladder, "k",
            col("n_total") <= col("n_cells") * OccBudget, Ladder.max)
          val occAll = occs.map { case (k, o) =>
            o.select(lit(k.toLong).as("k"), col("cell"), col("n"))
          }.reduce(_ unionByName _)
          ladder.select(lit("ladder").as("sect"), col("k").as("id"),
              col("n_cells").as("n1"), col("n_max").as("n2"),
              col("n_total").as("n3"))
            .unionByName(chosen.select(lit("chosen").as("sect"),
              col("k").as("id"), lit(0L).as("n1"), lit(0L).as("n2"),
              lit(0L).as("n3")))
            .unionByName(occAll.join(chosen, Seq("k"))
              .select(lit("occ").as("sect"), col("cell").as("id"),
                col("n").as("n1"), lit(0L).as("n2"), lit(0L).as("n3")))
            .orderBy(col("sect"), col("id"))
        },
        Some {
          val chains = Ladder.map { k =>
            s"""${IvfKmeans.lloydCtes(k, Iters, Dim, VecOffset,
                 " WHERE vec_id % 3 = 0", pfx = s"g$k")},
               |${IvfKmeans.spillAssignCte(s"a$k", "fq", Dim,
                 cents = s"g${k}c$Iters", maxProbe = 1)},
               |o$k AS (SELECT cell, count(*) AS n FROM a$k GROUP BY cell)"""
              .stripMargin
          }.mkString(",\n")
          val ladSql = Ladder.map(k =>
            s"""SELECT CAST($k AS BIGINT) AS k, count(*) AS n_cells,
               |    max(n) AS n_max, CAST(sum(n) AS BIGINT) AS n_total FROM o$k"""
              .stripMargin).mkString("\n  UNION ALL\n  ")
          val occSql = Ladder.map(k =>
            s"SELECT CAST($k AS BIGINT) AS k, cell, n FROM o$k")
            .mkString("\n  UNION ALL\n  ")
          s"""WITH fq AS (
             |  SELECT vec_id, ${IvfKmeans.quantizeSql("embedding", VecOffset)} AS qv
             |  FROM embeddings),
             |$chains,
             |lad AS (
             |  $ladSql),
             |ch AS (${OperatingPoint.chooseSql("lad", "k",
                s"n_total <= n_cells * $OccBudget", Ladder.max)}),
             |ou AS (
             |  $occSql)
             |SELECT * FROM (
             |  SELECT 'ladder' AS sect, k AS id, n_cells AS n1, n_max AS n2,
             |    n_total AS n3 FROM lad
             |  UNION ALL
             |  SELECT 'chosen', k, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             |    CAST(0 AS BIGINT) FROM ch
             |  UNION ALL
             |  SELECT 'occ', o.cell, o.n, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |  FROM ou o JOIN ch ON o.k = ch.k)
             |ORDER BY sect, id""".stripMargin
        })
    },

    // -- HOT-BUCKET CAP OPERATING POINT: HotBucketCap=32
    // (DedupConfig.scala) was the last load-bearing dedup constant
    // nothing measured; its price is kept pairs = C(min(m, cap), 2)
    // of C(m, 2) (artifacts/r12_semcap_lostpair.md). This gate
    // turns the formula into a measured choice, q125/q129's
    // measure -> select -> serve on the text family's cap: the q127
    // corpus (documents + exact copies of every 7th doc) is extended
    // with a PLANTED MONSTER FAMILY — 48 more exact copies of the
    // lowest-doc_id text, the boilerplate flood class the cap exists
    // to bound (at sf1 the semantic family measured a 20,012-row
    // family; 48 is enough to make every rung's tradeoff visible
    // without a quadratic ground truth). Ground truth is EXACT-SET
    // pair recall — pairs whose full sorted shingle-hash fingerprints
    // match, Σ C(m,2) over fingerprint families, the precise recall
    // class capBands' contract promises to preserve through hot
    // buckets (sub-1.0 near-dup loss is measured separately,
    // artifacts/r10_hotcap_quality.json). Ladder caps {16, 32, 64}
    // each run the capped band self-join; integer TP (same-
    // fingerprint candidate pairs) and candidate count (the O(m·cap)
    // price) are measured per rung; the SMALLEST cap meeting the 50%
    // exact-pair recall floor wins (cheapest bound that keeps
    // majority copy-pair mass; largest rung as fallback when the
    // flood outgrows the ladder), and the FULL verified near-dup pair
    // set is SERVED at the chosen cap via a 1-row broadcast — no
    // driver collect. Selection is corpus-dependent by design: 64 on
    // the 500-doc driver corpora (the 49-family dominates: cap 32
    // keeps 46% < floor), 32 at sf0.1 (724 natural pair-families
    // outweigh the flood). The oracle replays corpus -> sign -> cap
    // ladder -> TP/price -> select -> verify-at-chosen end to end
    // (capBandsCte's `out` naming shares ONE band derivation across
    // rungs). 100 TB: each rung is q127's shape — both cap windows
    // partition by bkey(, grp), candidate generation costs one
    // exchange, hot buckets cost O(m·cap); the ladder multiplies by
    // its length, a config constant. Reference anchor:
    // VariantLoad3.java:483-495 (bound the in-flight candidate set,
    // sized from data, never the corpus).
    {
      val Ladder = Seq(16, 32, 64); val FloorPct = 50L; val MonsterN = 48
      Q("q135_hotcap_operating_point",
        (spark, dir) => {
          val d = table(spark, dir, "documents").select("doc_id", "text")
          // the planted flood: MonsterN exact copies of the lowest-id
          // doc. Offset 9e8 is BY CONSTRUCTION clear of both the source
          // ids (gen_sf key shifts reach k·1e6) and the +100000 copy
          // plant — a colliding doc_id would make the cap windows'
          // row_number tie-break nondeterministic (the q64 bug class)
          val monster = d.orderBy(col("doc_id")).limit(1).select(col("text"))
            .crossJoin(spark.range(MonsterN.toLong).toDF("i"))
            .select((col("i") + 900000000L).as("doc_id"), col("text"))
          // one signature pass feeds every rung's banding + the verify
          // sides + the fingerprint ground truth
          val sig = signedDocsWord(copyCorpus(d).unionByName(monster))
            .localCheckpoint(true)
          val fps = sig.select(col("doc_id"), contentFp(col("hl")).as("fp"))
            .localCheckpoint(true) // ground truth + 3 rungs' TP tagging
          val totalTrue = fps.groupBy(col("fp")).agg(count(lit(1)).as("m"))
            .filter(col("m") >= 2)
            .agg(coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L))
              .as("total_true")) // 1 row -> broadcast
          val rungs = Ladder.map(cap => cap -> cappedCandidates(sig, cap)
            .localCheckpoint(true)) // TP/price row + the serving verify
          val ladder = rungs.map { case (cap, cand) =>
            cand
              .join(fps.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")),
                "doc_a")
              .join(fps.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")),
                "doc_b")
              .agg(coalesce(sum(when(col("fp_a") === col("fp_b"), 1L)
                  .otherwise(0L)), lit(0L)).as("tp"),
                count(lit(1)).as("n_cand"))
              .select(lit(cap.toLong).as("cap"), col("tp"), col("n_cand"))
          }.reduce(_ unionByName _)
            .crossJoin(broadcast(totalTrue))
            .localCheckpoint(true) // 3 rows: ladder section + decision
          val chosen = OperatingPoint.choose(ladder, "cap",
            col("tp") * 100 >= col("total_true") * FloorPct, Ladder.max)
          val pairs = rungs.map { case (cap, cand) =>
            verifyPairs(cand, "doc_a", "doc_b", sig, sig)
              .select(lit(cap.toLong).as("cap"), col("doc_a"), col("doc_b"),
                col("jacc_x1000"))
          }.reduce(_ unionByName _)
          ladder.select(lit("ladder").as("sect"), col("cap").as("id"),
              col("tp").as("n1"), col("n_cand").as("n2"),
              col("total_true").as("n3"))
            .unionByName(chosen.select(lit("chosen").as("sect"),
              col("cap").as("id"), lit(0L).as("n1"), lit(0L).as("n2"),
              lit(0L).as("n3")))
            .unionByName(pairs.join(chosen, Seq("cap"))
              .select(lit("pair").as("sect"), col("doc_a").as("id"),
                col("doc_b").as("n1"), col("jacc_x1000").as("n2"),
                lit(0L).as("n3")))
            .orderBy(col("sect"), col("id"), col("n1"))
        },
        Some {
          // each rung shares the one band derivation (`out` naming)
          val caps = Ladder.map(cap =>
            s"""${hotCapPairsCtes("c", cap, out = s"k$cap")},
               |row$cap AS (
               |  SELECT CAST($cap AS BIGINT) AS cap,
               |    CAST(coalesce(sum(CASE WHEN x.fp = y.fp THEN 1 ELSE 0 END), 0)
               |      AS BIGINT) AS tp,
               |    count(*) AS n_cand
               |  FROM k${cap}cand c
               |  JOIN fps x ON x.doc_id = c.doc_a
               |  JOIN fps y ON y.doc_id = c.doc_b),
               |pr$cap AS (
               |  SELECT CAST($cap AS BIGINT) AS cap, doc_a, doc_b, jacc_x1000
               |  FROM k${cap}pairs)""".stripMargin)
            .mkString(",\n")
          s"""WITH m0 AS (SELECT text FROM documents ORDER BY doc_id LIMIT 1),
             |cp AS (
             |  ${copyCorpusSql("text")}
             |  UNION ALL
             |  SELECT 900000000 + g.i AS doc_id, m0.text
             |  FROM m0, generate_series(0, ${MonsterN - 1}) AS g(i)),
             |${minhashWordCtes("c", "cp")},
             |fps AS (SELECT doc_id, ${contentFpSql("list_sort(hl)")} AS fp FROM cdocs),
             |tt AS (
             |  SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT)
             |    AS total_true
             |  FROM (SELECT count(*) AS m FROM fps GROUP BY fp)
             |  WHERE m >= 2),
             |$caps,
             |lad AS (
             |  SELECT r.cap, r.tp, r.n_cand, t.total_true FROM (
             |    ${Ladder.map(c => s"SELECT * FROM row$c").mkString(" UNION ALL ")}) r, tt t),
             |ch AS (${OperatingPoint.chooseSql("lad", "cap",
                s"tp * 100 >= total_true * $FloorPct", Ladder.max)}),
             |prs AS (
             |  ${Ladder.map(c => s"SELECT * FROM pr$c").mkString(" UNION ALL ")})
             |SELECT * FROM (
             |  SELECT 'ladder' AS sect, cap AS id, tp AS n1, n_cand AS n2,
             |    total_true AS n3 FROM lad
             |  UNION ALL
             |  SELECT 'chosen', cap, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             |    CAST(0 AS BIGINT) FROM ch
             |  UNION ALL
             |  SELECT 'pair', p.doc_a, p.doc_b, p.jacc_x1000, CAST(0 AS BIGINT)
             |  FROM prs p JOIN ch ON p.cap = ch.cap)
             |ORDER BY sect, id, n1""".stripMargin
        })
    },

    // -- MULTIMODAL INDEX COMPACTION + RETRACTION: the remaining
    // lifecycle legs on q133's index, completing the third family's
    // mirror (build+ingest q133 / compact+retract here / retrain is
    // geometry-only and feature-agnostic, q124). Both operations are
    // the SAME `EpochStore`/`SemanticIndex` calls q122/q123 prove on the
    // embedding family — which is the point: the lifecycle machinery
    // is feature-agnostic, so this gate's work is proving it against
    // byte-histogram content. Lifecycle: epoch-0 seed (every doc),
    // wave-1 ingest (exact copies must reject, case-flips accept ->
    // epoch 1), COMPACT (collapse epoch file sets, grow buckets
    // nb -> 2nb), then RETRACT the ENTIRE epoch-1 commit set. The
    // class-level tombstone is deliberate, a feature-resolution fact
    // this gate documents: 8-bin byte histograms of same-case text
    // are mutually cos >= 0.998 (measured at sf0.001/0.01/0.1), so
    // ANY retained same-class row covers a selectively-retracted
    // member at the 0.9 threshold and the deletion would be
    // unobservable; retracting the class makes every ghost row
    // VISIBLE — the probe wave re-sends exact copies of every
    // retracted vector (+500000) and ALL must re-accept (one
    // surviving spill row rejects its copy and fails the in-gate
    // require AND the rollup hash), while copies of retained seeds
    // (+400000) must all still reject (over-delete detector).
    // Selective intra-class retraction is q123's already-proven
    // ground on individually-resolvable 64-dim embeddings. The
    // oracle is compaction-blind and rebuilds the post-retract store
    // from the seed alone, so a compaction that loses or duplicates
    // one row, or a retraction that leaves one ghost, fails the
    // hash; wave-1 acceptance is hashed via the epoch-11 accounting
    // row. 100 TB: compaction is ONE bucketed rewrite at the epoch
    // barrier (q110's cost model), retraction one filtered bucketed
    // rewrite (or per-wave anti-join until the next compaction,
    // q112's note); waves stay wave-sized. Reference anchor:
    // VariantLoad3.java:483-495 (rebuild the bounded structure at
    // the barrier); SURVEY §5.5 retention discipline.
    Q("q136_multimodal_compact_retract",
      (spark, dir) => {
        val (d, h, acc1) = mmIndexWave1(spark, dir, "mmcr", "graft_q136_mm")
        // ---- THE OPERATIONS UNDER TEST, both at the epoch barrier:
        // collapse epoch file sets + grow capacity nb -> 2nb, then
        // tombstone the full epoch-1 commit set (the accepted ids BY
        // CONSTRUCTION — what the store actually holds)
        h.store.compact(IndexBuckets * 2)
        SemanticIndex.retract(h, acc1.select("vec_id"))
        // ---- probe wave against the compacted, retracted store
        val acc2 = SemanticIndex.acceptWave(h,
          mmFeats(wave(d, Seq(SeedCopies, FlippedRetracted))))
        requireFates(acc2, d)(
          (SeedCopies, AllRejected,
            "a copy of a retained seed re-entered — over-delete or ghost accept"),
          (FlippedRetracted, AllAccepted, "copies of retracted content must all " +
            "re-accept — ghost index rows survive retraction"))
        SemanticIndex.commit(h, acc2, 2)
        // epoch-11 accounting row: wave-1's accept set is retracted
        // from the store, so the rollup alone would not hash it
        SemanticIndex.rollup(h).unionByName(
            acc1.agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_id"))
              .select(lit(11).as("epoch"), col("n_vecs"), col("sum_id")))
          .orderBy(col("epoch"))
      },
      Some {
        s"""WITH $mmWave1Ctes,
           |${mmFeatsCte("w2f",
              s"(${waveSql("dsrc", TextCols, Seq(SeedCopies, FlippedRetracted))})")},
           |${mmAcceptCtes("ac2", "w2f", "i0")},
           |${SemanticIndex.rollupSql(0 -> "(SELECT DISTINCT vec_id FROM i0)",
              2 -> "ac2", 11 -> "ac1")}""".stripMargin
      }),

    // -- SELECTIVE multimodal retraction (q123's per-entity shape on
    // the third family): q136 measured WHY its 8-bin byte histograms
    // force class-level retraction (same-case text pairwise
    // cos >= 0.998 — any retained sibling covers a selectively
    // retracted member at the 0.9 threshold). This gate swaps in a
    // feature space with MEASURED entity resolution and proves
    // single-entity retraction is observable. Features: hashed
    // word-bigram 61-bin histograms over the byte stream tokenized at
    // whitespace — bins = (polyhash(tok_i)*31 + polyhash(tok_{i+1}))
    // % 61. Byte-level bins measurably CANNOT resolve this corpus at
    // any width (max inter-doc cos 0.9999 at 37 byte-bigram bins, so
    // no narrower byte-bin variant resolves it either), while word
    // granularity measures p99 inter-doc cos 0.69, far under the
    // family threshold; 61 is prime so case variants never alias
    // (any M dividing 32*(31+1)=1024 maps case-shifted bigrams to
    // one bin). Full numbers: artifacts/r14_mmselect_features.md.
    // One definition: `VF.wordBigramHist` and its twin.
    // Because the corpus deliberately contains near-dup families
    // (and gen_sf corpora carry 10x exact content copies), the
    // retraction target is SELECTED BY MEASUREMENT, not assumed:
    // every seed content re-probes its own crank-1 cell against the
    // store and asks whether ANY FOREIGN cover exists (cos >= Thresh
    // with a DIFFERENT text fingerprint); the lowest-id content with
    // none is the entity X — its only covers are its own exact
    // copies — and the next such content (different fingerprint) is
    // the retained control Y. Tombstone = ALL store rows carrying
    // X's fingerprint (per-ENTITY retraction: a takedown removes the
    // content including its key-shifted copies — vs q136's per-class
    // set and q123's planted-id frame). After retraction, re-sent
    // copies of X (+7e8) MUST all accept — the observability claim:
    // no ghost spill rows AND no sub-threshold neighbor covers them
    // — while re-sent copies of Y's WHOLE fingerprint family (+8e8,
    // the tombstone derivation mirrored onto the retained entity)
    // MUST all reject (over-delete detector). X, Y, the tombstone
    // set, and the post-retract store rollup are all hashed; the
    // oracle re-derives feature -> train -> spill -> cover analysis
    // -> selection -> tombstone -> probe end to end. 100 TB: the
    // cover analysis is ONE cell-blocked ANTI join (the acceptWave
    // shape — existence short-circuits per probe row, no pair set is
    // ever materialized, SemanticIndex.selfCoveredOnly), selection
    // rides as 1-row broadcasts, the retraction is the q112/q123
    // filtered rewrite. The per-cell cost is bounded by cell
    // occupancy, and at deployment that occupancy is NOT this gate's
    // pinned K=8: the cover analysis inherits the q134-measured K
    // for the serving corpus (K=64 at sf0.1, K=256 at sf1 — the
    // measured-band hand-off, OperatingPointBandSpec), which is the
    // 100 TB answer to O((n/K)^2) per-cell growth at a fixed K.
    // Reference anchor: VariantPostProcessing.java:774-846
    // (per-entity, not per-class, sequence bookkeeping).
    Q("q137_multimodal_selective_retract",
      (spark, dir) => {
        val seed = IvfKmeans.unitVectors(table(spark, dir, "documents")
            .select(col("doc_id").as("vec_id"), TF.polyHash(col("text")).as("fp"),
              VF.wordBigramHist(col("text")).as("v"))
            .filter(col("v").isNotNull))
          .localCheckpoint(true) // train + epoch-0 + cover sides + probes
        // the index CARRIES the entity fingerprint as metadata (the
        // per-entity bookkeeping the reference anchor keeps) — so the
        // cover analysis reads fp off the bucket scan with no store
        // re-key, and the fingerprint-keyed tombstone derives from
        // the store itself
        val h = SemanticIndex.build(SemanticIndex.store(spark,
            s"${Fixtures.scratchRoot}/mmsel", "graft_q137_mm"),
          seed, MmK, MmIters, MmThreshX1e6, IndexBuckets, extra = Seq("fp"))
        // cover analysis: each content re-probes its crank-1 cell; a
        // cover is FOREIGN iff its text fingerprint differs, and the
        // selection only needs EXISTENCE. One cell-keyed ANTI join —
        // acceptWave's shape with the fp inequality in the residual
        // (SemanticIndex.selfCoveredOnly, plan-gated): keeps exactly
        // the probes with zero foreign covers
        val nf = SemanticIndex.selfCoveredOnly(h, seed)
          .localCheckpoint(true) // x and y selections both read it
        val xsel = nf.agg(min(col("vec_id")).as("x_id")) // 1 row
        val fpx = seed.join(broadcast(xsel), col("vec_id") === col("x_id"))
          .select(col("fp").as("fp_x")) // 1 row
        val ysel = nf.crossJoin(broadcast(fpx))
          .filter(col("fp") =!= col("fp_x"))
          .agg(min(col("vec_id")).as("y_id")) // 1 row
        val tomb = seed.crossJoin(broadcast(fpx))
          .filter(col("fp") === col("fp_x"))
          .select(col("vec_id"))
          .localCheckpoint(true) // retract + probe stratum + accounting
        require(tomb.count() > 0L,
          "empty tombstone — cover analysis found no self-only entity")
        SemanticIndex.retract(h, tomb)
        // probe strata reuse the seed feature rows under shifted ids
        // (fp rides along so the epoch-2 commit keeps the store's
        // metadata schema; acceptWave itself ignores it)
        val probeX = seed.join(tomb, Seq("vec_id"), "left_semi")
          .select((col("vec_id") + 700000000L).as("vec_id"),
            col("fp"), col("v"), col("nrm"), col("qv"))
          .localCheckpoint(true) // wave + expected-count requires
        // the control stratum mirrors the tombstone derivation on the
        // RETAINED entity: Y's whole fingerprint family re-sent, not
        // just the selected row — so the over-delete detector covers
        // every copy of Y the way the accept check covers every copy
        // of X
        val fpy = seed.join(broadcast(ysel), col("vec_id") === col("y_id"))
          .select(col("fp").as("fp_y")) // 1 row
        val probeY = seed.crossJoin(broadcast(fpy))
          .filter(col("fp") === col("fp_y"))
          .select((col("vec_id") + 800000000L).as("vec_id"),
            col("fp"), col("v"), col("nrm"), col("qv"))
          .localCheckpoint(true)
        val wave = probeX.unionByName(probeY)
        val acc2 = SemanticIndex.acceptWave(h, wave)
        val nX = probeX.count()
        val nXacc = acc2.join(probeX.select("vec_id"), Seq("vec_id"),
          "left_semi").count()
        require(nX > 0L, "empty retraction probe stratum — gate is vacuous")
        require(nXacc == nX,
          s"only $nXacc of $nX copies of the retracted entity re-accepted — " +
            "ghost spill rows or a covering neighbor survive the retraction")
        require(probeY.count() > 0L,
          "empty control stratum — no retained self-only entity")
        require(acc2.join(probeY.select("vec_id"), Seq("vec_id"), "left_semi")
            .count() == 0L,
          "a copy of the RETAINED control entity re-entered — over-delete")
        // epoch-2 commit keeps the fingerprint metadata (joined back
        // from the wave — acceptWave's output drops extras)
        SemanticIndex.commit(h,
          acc2.join(wave.select(col("vec_id"), col("fp")), "vec_id"), 2,
          extra = Seq("fp"))
        SemanticIndex.rollup(h)
          .unionByName(tomb.agg(count(lit(1)).as("n_vecs"),
              sum(col("vec_id")).as("sum_id"))
            .select(lit(11).as("epoch"), col("n_vecs"), col("sum_id")))
          .unionByName(xsel.select(lit(12).as("epoch"), lit(1L).as("n_vecs"),
            col("x_id").as("sum_id")))
          .unionByName(ysel.select(lit(13).as("epoch"), lit(1L).as("n_vecs"),
            col("y_id").as("sum_id")))
          .orderBy(col("epoch"))
      },
      Some {
        // the post-retract epoch-0 store: every doc but the tombstones
        val retained =
          "(SELECT f.vec_id FROM f0 f LEFT JOIN tomb t ON t.vec_id = f.vec_id " +
            "WHERE t.vec_id IS NULL)"
        // The q88 playbook: the corpus carries EXACT text copies
        // (gen_sf corpora are 10x key-shifted copies), and copies share
        // fp, v, nrm, qv and therefore cells — so features are derived ONCE per DISTINCT text (fd) and
        // joined back per doc (f0), and the quadratic cover analysis
        // runs over distinct texts on BOTH sides (pd x idd: ~100x
        // fewer pairs at sf1), as a NOT EXISTS (the engine's anti-join
        // existence semantics — no count, no pair materialization).
        // Exactness: a doc has a foreign cover iff its text does
        // (identical predicate values per copy), and min(vec_id) over
        // zero-foreign docs = min over zero-foreign texts of their
        // min-doc_id representative (rep_id).
        s"""WITH dsrc AS (SELECT doc_id, text FROM documents),
           |dt AS MATERIALIZED (
           |  SELECT text, min(doc_id) AS rep_id FROM dsrc GROUP BY text),
           |fdh AS (
           |  SELECT * FROM (
           |    SELECT text, rep_id,
           |      ${TF.polyHashSql("text")} AS fp,
           |      ${VF.wordBigramHistSql("text")} AS v
           |    FROM dt)
           |  WHERE v IS NOT NULL),
           |fd AS MATERIALIZED (${IvfKmeans.unitVectorsSql("text, rep_id, fp", "fdh")}),
           |f0 AS MATERIALIZED (
           |  SELECT d.doc_id AS vec_id, f.fp, f.v, f.nrm, f.qv
           |  FROM dsrc d JOIN fd f USING (text)),
           |${IvfKmeans.lloydCtes(MmK, MmIters, VF.WordBigramBins, 0L,
              src = "(SELECT vec_id, [x / nrm FOR x IN v] AS embedding FROM f0)")},
           |${IvfKmeans.spillAssignCte("idd",
              "(SELECT rep_id AS vec_id, fp, v, nrm, qv FROM fd)", VF.WordBigramBins,
              Seq("fp", "v", "nrm"), cents = mmCents)},
           |${IvfKmeans.spillAssignCte("pd",
              "(SELECT rep_id AS vec_id, fp, v, nrm, qv FROM fd)", VF.WordBigramBins,
              Seq("fp", "v", "nrm"), cents = mmCents, maxProbe = 1)},
           |nfz AS MATERIALIZED (
           |  SELECT p.vec_id, p.fp FROM pd p
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM idd i
           |    WHERE i.cell = p.cell AND i.fp <> p.fp
           |      AND CAST(floor(((${dotSql("p.v", "i.v", VF.WordBigramBins)}) / (p.nrm * i.nrm))
           |        * 1e6) AS BIGINT) >= $MmThreshX1e6)),
           |xsel AS (SELECT min(vec_id) AS x_id FROM nfz),
           |fpx AS (SELECT f.fp AS fp_x FROM fd f, xsel WHERE f.rep_id = xsel.x_id),
           |ysel AS (SELECT min(n.vec_id) AS y_id FROM nfz n, fpx
           |         WHERE n.fp <> fpx.fp_x),
           |fpy AS (SELECT f.fp AS fp_y FROM fd f, ysel WHERE f.rep_id = ysel.y_id),
           |tomb AS MATERIALIZED (
           |  SELECT f.vec_id FROM f0 f, fpx WHERE f.fp = fpx.fp_x),
           |st2d AS MATERIALIZED (
           |  SELECT i.* FROM idd i, fpx WHERE i.fp <> fpx.fp_x),
           |pw AS (
           |  SELECT f.vec_id + 700000000 AS vec_id, f.v, f.nrm, f.qv
           |  FROM f0 f JOIN tomb t ON t.vec_id = f.vec_id
           |  UNION ALL
           |  SELECT f.vec_id + 800000000, f.v, f.nrm, f.qv
           |  FROM f0 f, fpy WHERE f.fp = fpy.fp_y),
           |${SemanticIndex.acceptWaveCtes("ac2", "pw", "st2d", mmCents,
              VF.WordBigramBins, MmThreshX1e6)},
           |${SemanticIndex.rollupSql(0 -> retained, 2 -> "ac2", 11 -> "tomb",
              12 -> "(SELECT x_id AS vec_id FROM xsel)",
              13 -> "(SELECT y_id AS vec_id FROM ysel)")}""".stripMargin
      }),

    // -- HOT-BUCKET-CONTROLLED wave-vs-INDEX accept: the production
    // form of the index lifecycle's candidate generator. The scaling
    // study (artifacts/r16_scaling_study.md) measured the
    // UNCAPPED wave-vs-index band join of verifiedDupPairs — the
    // accept path q99/q109/q110/q112 gate — at wall ∝ scale^~1.3 on
    // the copy-dense scale-ups while the capped self-join siblings
    // (q121/q127) hold ~linear: a band bucket holding m index docs
    // pairs every colliding wave doc with all m, and m grows with the
    // corpus wherever exact-copy families do (boilerplate at 100 TB —
    // the q121 pathology, on the index join). This gate runs the q121
    // cure adapted to the two-sided join
    // (MinhashPipeline.verifiedDupPairsCapped): index-side hot buckets
    // (occupancy > HotBucketCap) split by content fingerprint with the
    // cap lowest doc_ids kept per (bkey, grp); wave rows compute the
    // same group key from an index-occupancy lookup, so the equi-join
    // key widens to (bkey, grp) and a hot bucket costs O(wave·cap),
    // never O(wave·m). Exact-copy families stay findable through the
    // cap (any surviving member represents them) — PROVEN here, not
    // assumed: the seed index plants a 48-copy flood family (hot at
    // cap=32) and the wave re-sends 6 exact copies of it, which the
    // in-plan require() demands be REJECTED — the one property the
    // oracle hash cannot enforce, since both engines would agree on a
    // cap that silently dropped the family. The uncapped q109/q110
    // accept stays gated as the semantics BASELINE this form degrades
    // from (hot buckets: near-dup -> exact-set-dup, q121's measured
    // tradeoff). 100 TB: the band table (bucketed on bkey) feeds the
    // occupancy count AND the windowed cap exchange-free; the wave
    // pays one bkey shuffle that the (bkey, grp) join reuses;
    // candidates are wave-linear by construction
    // (IndexAcceptCapSpec gates the plan + benign-corpus equivalence).
    Q("q138_index_accept_hotcap",
      (spark, dir) => {
        val idx = MinhashIndex.store(spark, s"${Fixtures.scratchRoot}/idxacccap",
          "graft_q138")
        val corpus = dedupCorpus(spark, dir)
        // flood source: first substantial doc (deterministic; 1 row,
        // read twice — seed family and wave copies)
        val fl = corpus.filter(length(col("text")) >= 50)
          .orderBy(col("doc_id")).limit(1).select("lang", "text")
          .localCheckpoint(true)
        def copies(base: Long, n: Int) = fl
          .select(explode(sequence(lit(0L), lit(n - 1L))).as("i"),
            col("lang"), col("text"))
          .select((lit(base) + col("i")).as("doc_id"), col("lang"), col("text"))
        // seed index = corpus + a 48-copy flood family (hot at cap 32)
        val seed = corpus.unionByName(copies(700000L, 48))
        // band rows carry the content fingerprint the capped join
        // splits hot buckets by — written once at commit time
        MinhashIndex.seed(idx, IndexBuckets,
          signedDocs(seed).localCheckpoint(true)
            .withColumn("sg", contentFp(col("hl"))), passthru = Seq("sg"))
        val wsig = signedDocs(Copies.rows(corpus) // exact copies -> reject
            .unionByName(copies(750000L, 6)) // flood re-sends -> reject THROUGH the hot bucket
            .unionByName(DecoysAgain.rows(corpus))) // decoys -> accept
          .localCheckpoint(true)
        val acc = MinhashIndex.acceptCapped(idx, wsig, HotBucketCap).localCheckpoint(true)
        // recall-through-the-cap proof the oracle hash cannot give:
        // the flood family's wave copies must still be FOUND (rejected)
        // even though their bucket is over-cap
        val floodAccepted = acc
          .filter(col("doc_id") >= 750000L && col("doc_id") <= 750005L).count()
        require(floodAccepted == 0L,
          s"$floodAccepted flood-family wave copies were accepted as novel; " +
            "the hot-bucket cap must keep exact-copy families findable")
        MinhashIndex.langRollup(acc)
      },
      Some {
        s"""WITH $dedupCorpusCte,
           |fl AS (SELECT lang, text FROM corpus WHERE len(text) >= 50
           |       ORDER BY doc_id LIMIT 1),
           |seedt AS (
           |  SELECT doc_id, lang, text FROM corpus
           |  UNION ALL
           |  SELECT 700000 + i.i, lang, text FROM fl, generate_series(0, 47) i(i)),
           |wv AS (
           |  ${Copies.sql("corpus", DocCols)}
           |  UNION ALL
           |  SELECT 750000 + i.i, lang, text FROM fl, generate_series(0, 5) i(i)
           |  UNION ALL
           |  ${DecoysAgain.sql("corpus", DocCols)}),
           |${minhashCtes("i", "seedt")},
           |${minhashCtes("w", "wv")},
           |${MinhashIndex.acceptCtes("acc", "w", "idocs", "ibands", Some(HotBucketCap))}
           |SELECT lang, n_docs, sum_sz, sum_id
           |FROM (${MinhashIndex.rollupSql(1 -> "acc")})""".stripMargin
      })
  )
}
