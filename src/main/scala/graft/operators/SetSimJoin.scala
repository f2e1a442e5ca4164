package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact set-similarity (Jaccard) machinery for n-gram/shingle sets.
  *
  * Two regimes exist for exact set-similarity joins:
  *
  *  - **Large element universe** (real-world text shingles): prefix
  *    filtering (PPJoin-style) prunes candidate pairs — sets with
  *    J >= t must share an element among their (1-t)·|A|+1 globally
  *    rarest elements.
  *  - **Small element universe** (numUniverse up to ~100k): pruning is
  *    hopeless because every element is frequent, but the whole
  *    universe fits in a per-row bitmap; |A∩B| becomes AND + popcount
  *    over a handful of longs — two orders of magnitude cheaper than
  *    hash-set intersection of string arrays, which turns the
  *    unavoidable pair enumeration from the bottleneck into a cheap
  *    scan.
  *
  * This object implements both regimes (the test corpus has a
  * ~400-shingle universe for the bitmap one) and the exact-text class
  * collapse the quadratic baselines run under ([[textClasses]],
  * [[expandClassPairs]]); the candidate *enumeration* strategy (LSH
  * bands, language blocking, size-ratio cuts) stays with the caller
  * (`graft.functions.MinhashPipeline` for the LSH family).
  */
object SetSimJoin {

  /** Attach a dense element dictionary and per-row bitmap to `df`,
    * which must carry an array column `shCol` of distinct elements.
    * Output columns: all of `df` plus `sz` (set size) and `bm`
    * (array<long> bitmap, fixed length = ceil(universe/64)).
    *
    * The dictionary index is a row_number over the sorted universe —
    * a single-partition window over universe-many rows (fine up to
    * millions of distinct elements; beyond that, use the prefix-filter
    * regime instead). */
  def withBitmap(df: DataFrame, idCol: String, shCol: String): DataFrame = {
    // materialize the caller's frame once: the (possibly expensive)
    // shingle expression would otherwise re-evaluate for the dictionary
    // job AND again per side of any downstream self-join
    val base = df.withColumn("sz", size(col(shCol))).localCheckpoint(true)
    // dictionary: one job, collected — the bitmap regime bounds the
    // element universe (same smallness contract as a broadcast dim,
    // which also bounds the driver memory this collect holds: a few
    // million distinct elements is a few hundred MB of Rows, the upper
    // end of what a driver should ever hold), and a driver-side
    // dictionary costs one pass where a join form would recompute the
    // distinct for every consumer. Elements are read generically so
    // non-string shingle columns (e.g. hashed long shingles) work too.
    val elemType = base.schema(shCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val universe = base.select(explode(col(shCol)).as("g"))
      .distinct().orderBy(col("g")).collect().map(_.get(0))
    val nWords = (universe.length - 1) / 64 + 1
    // the sorted universe rides as an array literal into the native
    // `dict_bitmap` expression (rank-in-sorted-order == the dictionary
    // index), so attaching the bitmap is a map-only PROJECTION — the
    // former dataflow form (explode → broadcast dict join → bit_or
    // groupBy → word-map groupBy → join back) moved the exploded
    // corpus three times to compute a per-row value
    val universeLit = elemType match {
      case org.apache.spark.sql.types.StringType =>
        lit(universe.map(_.asInstanceOf[String]))
      case org.apache.spark.sql.types.LongType =>
        lit(universe.map(_.asInstanceOf[Long]))
      case t => throw new IllegalArgumentException(
        s"withBitmap supports string/long elements, got ${t.catalogString}")
    }
    base.withColumn("bm",
      call_function("dict_bitmap", col(shCol), universeLit, lit(nWords)))
  }

  /** |A∩B| from two equal-length bitmaps: popcount of the AND, as the
    * native codegen expression `bitmap_inter_count`
    * ([[graft.functions.BitmapIntersectCount]], registered by
    * `GraftExtensions`) — a fused per-pair loop with no intermediate
    * array. */
  def interSize(bmA: Column, bmB: Column): Column =
    call_function("bitmap_inter_count", bmA, bmB)

  /** Built-ins-only form of [[interSize]] (`zip_with` + `aggregate`
    * fold); works without `GraftExtensions`, used to cross-check the
    * native expression. */
  def interSizeFold(bmA: Column, bmB: Column): Column =
    aggregate(zip_with(bmA, bmB, (x, y) => bit_count(x.bitwiseAND(y))),
      lit(0), (acc, x) => acc + x).cast("long")

  /** floor(1000 * J(A,B)) via bitmaps + set sizes (integer division —
    * mirrors `(inter * 1000) DIV union`). */
  def jaccardX1000(bmA: Column, bmB: Column, szA: Column, szB: Column): Column = {
    val inter = interSize(bmA, bmB)
    ((inter * 1000).cast("long") / (szA + szB - inter)).cast("long")
  }

  /** EXACT-TEXT CLASS COLLAPSE: documents with IDENTICAL text have
    * identical shingle/bigram sets, hence identical bitmaps,
    * signatures, band keys, and pairwise similarity against everything
    * — so the quadratic dedup baselines (q41/q43/q52/q92/q108) run
    * their candidate + verify stages over ONE representative per
    * distinct text and re-expand qualifying class pairs to doc pairs
    * with [[expandClassPairs]]. Exactness: within-class pairs are
    * J=1000 by construction (callers guard the non-empty-set condition
    * that made the doc-level Jaccard NULL — 0 DIV 0 — on empty sets),
    * and a cross-class doc pair inherits its class pair's Jaccard
    * because every per-doc derived quantity is a pure function of the
    * text. `ClassBlockingEquivalenceSpec` pins it against the doc-level
    * forms. 100 TB: exact-copy collapse BEFORE a quadratic stage is the
    * q40/q88 discipline — copy-dense corpora are exactly where the
    * baselines' candidate streams explode, and the heavy stage runs on
    * ~n/10 class rows here.
    *
    * Groups by (keyCols..., text) with q40's 8-byte fingerprint as the
    * shuffle key; returns (<keyCols>, text, rid = min doc_id,
    * dids = sorted member doc ids). */
  def textClasses(df: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val keys = keyCols.map(col)
    df.withColumn("fp", xxhash64(col("text")))
      .repartition(keys :+ col("fp"): _*)
      .groupBy(keys :+ col("fp") :+ col("text"): _*)
      .agg(min(col("doc_id")).as("rid"),
        sort_array(collect_list(col("doc_id"))).as("dids"))
      .drop("fp")
  }

  /** Re-expansion of verified class pairs to doc pairs. `rpairs`
    * carries (ra, rb, jacc_x1000) — two class representatives, ra < rb,
    * and their Jaccard; `members` (doc_id, dids) re-attaches each
    * class's member list to the survivors only (the candidate stream
    * keeps the doc-level row width); `within` holds the `dids` of the
    * classes whose members pair with each other at J=1000 (callers
    * pre-filter the guards: >= 2 members, non-empty element set). Each
    * unordered doc pair appears exactly once: cross pairs because each
    * unordered class pair enters once and a doc belongs to exactly one
    * class; within pairs by the x < y cut. [[expandClassPairsSql]] is
    * the twin. */
  def expandClassPairs(rpairs: DataFrame, members: DataFrame, within: DataFrame,
                       aCol: String, bCol: String): DataFrame = {
    val ids = members.select(col("doc_id"), col("dids"))
    val cross = rpairs
      .join(ids.select(col("doc_id").as("ra"), col("dids").as("da")), "ra")
      .join(ids.select(col("doc_id").as("rb"), col("dids").as("db")), "rb")
      .select(explode(col("da")).as("x"), col("db"), col("jacc_x1000"))
      .select(col("x"), explode(col("db")).as("y"), col("jacc_x1000"))
      .select(least(col("x"), col("y")).as(aCol),
        greatest(col("x"), col("y")).as(bCol), col("jacc_x1000"))
    val inner = within
      .select(explode(col("dids")).as("x"), col("dids"))
      .select(col("x"), explode(col("dids")).as("y"))
      .filter(col("x") < col("y"))
      .select(col("x").as(aCol), col("y").as(bCol),
        lit(1000L).as("jacc_x1000"))
    cross.unionByName(inner)
  }

  /** Twin of [[expandClassPairs]]: `cpx` names a relation of verified
    * class pairs (da, db, jacc_x1000) carrying both member lists;
    * `within` is a SELECT of the within-class `dids`. */
  def expandClassPairsSql(cpx: String, within: String, aCol: String,
                          bCol: String): String =
    s"""SELECT least(x, y) AS $aCol, greatest(x, y) AS $bCol, jacc_x1000
       |  FROM $cpx,
       |    LATERAL (SELECT unnest(da) AS x) ux,
       |    LATERAL (SELECT unnest(db) AS y) uy
       |  UNION ALL
       |  SELECT x AS $aCol, y AS $bCol, CAST(1000 AS BIGINT) AS jacc_x1000
       |  FROM ($within) c,
       |    LATERAL (SELECT unnest(dids) AS x) ux,
       |    LATERAL (SELECT unnest(dids) AS y) uy
       |  WHERE x < y""".stripMargin

  /** The LARGE-universe regime: exact Jaccard self-join via PPJoin-style
    * prefix filtering — no dictionary, no driver collect, no bitmap;
    * scales to arbitrarily many distinct elements.
    *
    * Theorem: under any global total order of elements, two sets with
    * J(A,B) >= t must share an element within each one's first
    * `|X| - ceil(t*|X|) + 1` elements (else the overlap cap
    * `|A∩B| >= t*max(|A|,|B|)` is unreachable). Ordering by ascending
    * global frequency makes those prefixes the RAREST elements, so the
    * candidate equi-join shuffles only rare tokens — frequent elements
    * never generate pairs.
    *
    * Plan shape (all shuffled equi-joins / aggregations, 100 TB-safe):
    *  1. element frequencies: one groupBy over exploded elements;
    *  2. rarity-sorted element arrays: join freq back, one groupBy with
    *     an ordered collect (per-document arrays, bounded by doc size);
    *  3. candidates: explode each document's prefix, self-join on the
    *     element, `idA < idB` + size-ratio cut (t*|A| <= |B|), then
    *     distinct — dedup BEFORE verification because the exact
    *     intersection of string arrays is the expensive step here
    *     (opposite trade to q41's cheap bitmap popcount);
    *  4. verify: fetch both arrays by id and compute
    *     `|A∩B|*1000 div |A∪B| >= threshX1000` exactly.
    *
    * `df` must carry `idCol` and an array column `shCol` of DISTINCT
    * elements (empty-set rows are dropped — they can't reach any
    * positive threshold). Returns (id_a, id_b, jacc_x1000). */
  def prefixFilterJoin(df: DataFrame, idCol: String, shCol: String,
                       threshX1000: Int): DataFrame = {
    val base = df.select(col(idCol).as("__id"), col(shCol).as("__sh"))
      .withColumn("__sz", size(col("__sh")))
      .filter(col("__sz") > 0)
      .localCheckpoint(true) // read by freq job, prefix build, and verify
    val el = base.select(col("__id"), explode(col("__sh")).as("__e"))
    val freq = el.groupBy(col("__e")).agg(count(lit(1)).as("__f"))
    val ordered = el.join(freq, "__e")
      .groupBy(col("__id"))
      .agg(transform(
        sort_array(collect_list(struct(col("__f"), col("__e")))),
        x => x("__e")).as("__osh"))
    val pfx = base.select(col("__id"), col("__sz")).join(ordered, "__id")
      .withColumn("__plen",
        expr(s"CAST(__sz - CEIL(__sz * $threshX1000 / 1000.0) + 1 AS INT)"))
      .select(col("__id"), col("__sz"),
        explode(slice(col("__osh"), lit(1), col("__plen"))).as("__e"))
      // consumed by BOTH sides of the candidate self-join: materialize
      // once (the q82 lesson — an un-checkpointed consumed-twice
      // subtree re-runs its whole pipeline per consumer, and estimated
      // sizes downstream of it let AQE pick the wrong join sides)
      .localCheckpoint(true)
    val cand = pfx.select(col("__id").as("id_a"), col("__sz").as("sz_a"), col("__e"))
      .join(pfx.select(col("__id").as("id_b"), col("__sz").as("sz_b"), col("__e")), "__e")
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") * threshX1000 <= col("sz_b") * 1000 &&
        col("sz_b") * threshX1000 <= col("sz_a") * 1000)
      .select(col("id_a"), col("id_b"))
      .distinct()
      .localCheckpoint(true) // real row count known before the verify joins
    cand
      .join(base.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jacc_x1000", expr(
        "CAST(__i * 1000 DIV (size(sh_a) + size(sh_b) - __i) AS BIGINT)"))
      .filter(col("jacc_x1000") >= threshX1000)
      .select(col("id_a"), col("id_b"), col("jacc_x1000"))
  }
}
