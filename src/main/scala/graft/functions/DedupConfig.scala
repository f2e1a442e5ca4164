package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{greatest, least}

/** Tuning constants of the dedup families, shared by the gated queries
  * in [[graft.queries.QueriesLlm]], both engines' SQL, and the specs
  * that pin them: the MinHash/LSH/Jaccard family (q41/q43/q52 ...),
  * the index capacity, and the vector families' quantization, accept
  * thresholds and IVF geometry. Each constant has one definition here,
  * so a retune (q129 measures the threshold, q134 the K) changes every
  * engine expression and oracle that reads it at once.
  */
object DedupConfig {
  /** MinHash signature length. */
  val K = 16
  /** LSH bands. */
  val Bands = 4
  /** Signature rows per band. */
  val Rpb: Int = K / Bands
  /** Near-dup decision threshold: jaccard*1000 >= this. */
  val JaccThreshold = 700

  /** Seed bucket count of the persistent dedup indexes — the MinHash
    * index's band and doc tables and the semantic index's cell table,
    * all seeded through `Bucketed.EpochStore.seed`. A CAPACITY
    * parameter, not a tuning constant: the bucket count fixes
    * per-bucket file size and join parallelism for the life of the
    * table, so size it at seed time as `indexBytes / ~256 MB` for the
    * deployment corpus (a 100 TB corpus' band table wants thousands of
    * buckets, not 8) and re-bucket with `EpochStore.compact` when the
    * index outgrows it (q110/q122/q136 grow it to 16). Later commits
    * and retractions keep whatever count the catalog holds. 8 suits the
    * gate corpora. */
  val IndexBuckets = 8

  /** Hot-bucket threshold/cap for the LSH band join
    * ([[MinhashPipeline.capBands]]): a band bucket above this size is
    * SPLIT by content fingerprint — a fold of the sorted shingle-hash
    * list (identical shingle-SET copy families keep generating their
    * pairs; differing-content boilerplate collisions are separated;
    * signature-hash splitting was measured and rejected, see
    * capBands' doc), and each split group is capped at
    * this many lowest-doc_id members as the hard bound. 32 comfortably
    * exceeds the corpora's true-duplicate family sizes (~10-20 exact
    * copies at the gen_sf scale-ups), so intra-family pairs survive
    * whole; a hot bucket's candidate contribution drops from O(m²) to
    * O(m·cap). Size it above the expected copy-family size for the
    * deployment corpus. */
  val HotBucketCap = 32

  /** Fixed-point offset of the embedding quantization
    * ([[graft.operators.IvfKmeans.vectors]]: `floor(x * 1000) +
    * offset`). The embeddings are unit-scale, so +4000 makes every
    * coordinate positive; that keeps Spark's truncating `DIV` and
    * DuckDB's `//` equal on the centroid means. The unit-normalized
    * feature families quantize at offset 0
    * ([[graft.operators.IvfKmeans.unitVectors]]). */
  val VecOffset = 4000L

  /** Near-dup accept threshold of the semantic (embedding) family,
    * as `floor(cos * 1e6)`: a probe with a stored neighbor at cosine
    * >= 0.4 is a duplicate. q129 measures it against a ladder. */
  val SemThreshX1e6 = 400000L

  /** Accept threshold of the multimodal (histogram) family: 0.9 sits
    * between exact byte copies (1.0) and case-flipped content (max
    * 0.12 against the index) or mixed-case concatenations (max 0.75). */
  val MmThreshX1e6 = 900000L

  /** IVF geometry of the semantic family: K cells, Lloyd iterations.
    * K=8 is q134's measured choice on the embeddings corpus
    * (`OperatingPointBandSpec`). */
  val SemK = 8
  val SemIters = 3

  /** IVF geometry of the multimodal index (q133/q136/q137). */
  val MmK = 8
  val MmIters = 2

  /** Cell count of the multimodal ANN search (q130), trained with
    * [[MmIters]] iterations. */
  val MmAnnK = 16

  /** Size-ratio necessary condition for J >= JaccThreshold/1000:
    * J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs failing
    * 1000·min >= JaccThreshold·max cannot reach the threshold — the
    * filter only skips intersections, never changes results.
    * [[sizeRatioOkSql]] is the twin. */
  def sizeRatioOk(sa: Column, sb: Column): Column =
    least(sa, sb) * 1000L >= greatest(sa, sb) * JaccThreshold.toLong

  /** Twin of [[sizeRatioOk]] over two DuckDB size expressions. */
  def sizeRatioOkSql(a: String, b: String): String =
    s"least($a, $b) * 1000 >= greatest($a, $b) * $JaccThreshold"
}
