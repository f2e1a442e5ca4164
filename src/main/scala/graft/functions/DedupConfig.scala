package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{greatest, least}

/** Tuning constants of the MinHash/LSH/Jaccard dedup family, shared by
  * the gated queries (q41/q43/q52 in [[graft.queries.QueriesLlm]]) and
  * the specs that pin them.
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

  /** Size-ratio necessary condition for J >= JaccThreshold/1000:
    * J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs failing
    * 10*min >= 7*max cannot reach 0.700 — the filter only skips
    * intersections, never changes results. Keep the 7:10 literals in
    * sync with [[JaccThreshold]]. */
  def sizeRatioOk(sa: Column, sb: Column): Column =
    least(sa, sb) * 10 >= greatest(sa, sb) * 7
}
