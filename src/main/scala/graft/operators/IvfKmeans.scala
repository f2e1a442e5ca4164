package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MinhashPipeline, VectorFunctions => VF}

/** Exact integer-fixed-point k-means (Lloyd) training for IVF
  * similarity search — the producer side of the cell index that
  * q53/q114 search consumes, as one shared definition for the engine
  * expressions AND their DuckDB oracle mirrors (the MinhashPipeline
  * discipline applied to the ANN family: a retune of the quantization
  * or tie-break can never drift a query from its oracle, or q113's
  * single step from q114's iterated training).
  *
  * The row contract of the vector family is defined here once:
  * [[vectors]] turns a `(vec_id, v, …)` frame (`v` an array<double>)
  * into `(vec_id, v, …, nrm, qv)` — the L2 norm the cosine verify
  * divides by and the quantized coordinates the cells are trained and
  * assigned on. [[unitVectors]] is the same row for the histogram
  * feature families, which quantize the length-normalized vector.
  * Every gate, [[SemanticIndex]] and the retrain read their rows from
  * these two, and every DuckDB oracle from [[quantizeSql]] /
  * [[unitVectorsSql]].
  *
  * All arithmetic is integer-exact so the gates are hash matches, not
  * tolerances:
  *  - embeddings quantize to fixed point `floor(double(x) * 1000) +
  *    offset` — double on both engines, so the floor is bit-identical
  *    (a float cast to double is exact, so quantizing the float
  *    embedding and its double `v` give the same integers); an
  *    `offset` large enough to make every coordinate positive
  *    ([[graft.functions.DedupConfig.VecOffset]]) keeps every derived
  *    sum positive, which makes Spark's `DIV` (truncating) and DuckDB's
  *    `//` agree on the centroid mean without sign-dependent fixups.
  *    Assignment is offset-invariant: `(q_d - c_d)` cancels the shift.
  *  - distances are BIGINT sums of squared differences; ties break by
  *    `(dist, cid)` on both engines.
  *  - centroid update is the per-dim BIGINT sum with truncating
  *    division — deterministic, no float accumulation order to drift.
  *
  * 100 TB shape, per Lloyd iteration:
  *  - the K centroids ride as ONE sorted `collect_list` row through a
  *    broadcast cross join (K·dim longs — bytes, not gigabytes);
  *  - assignment is map-side via the native `array_l2sq` codegen
  *    expression (one fused long loop) — no per-vector shuffle;
  *  - the update explodes assigned vectors to (cid, dim, x) rows, but
  *    hash partial aggregation collapses each task's output to at most
  *    K·dim rows before the exchange, so the shuffle carries
  *    ~partitions·K·dim rows regardless of corpus size;
  *  - the K-row centroid reassembly is driver-scale.
  * Training cost is therefore `iters` corpus scans with tiny shuffles —
  * the plan you want for Lloyd at any scale ([[graft.queries]] q113
  * gates the single step's plan; q114 the composed lifecycle).
  *
  * Reference anchor: SURVEY §7.1 step 9 (similarity search as a
  * first-class extension); PAPERS.md top-k similarity literature.
  */
object IvfKmeans {

  /** Fixed-point quantization of a float- or double-array column. */
  def quantize(v: Column, offset: Long): Column =
    transform(v, x => floor(x.cast("double") * 1000).cast("long") + offset)

  /** Twin of [[quantize]] over a DuckDB list expression. */
  def quantizeSql(list: String, offset: Long): String =
    s"list_transform($list, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) + $offset)"

  /** Adds `nrm`, the L2 norm of `v`. For the gates that score by
    * cosine but never quantize. */
  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", VF.norm(col("v")))

  /** The vector row: adds `nrm` and `qv = quantize(v, offset)` to a
    * `(vec_id, v, …)` frame. */
  def vectors(df: DataFrame, offset: Long): DataFrame =
    withNorm(df).withColumn("qv", quantize(col("v"), offset))

  /** The vector row of the histogram feature families: adds `nrm` and
    * the offset-0 quantization of `v / nrm`. Raw counts scale with
    * document length, so an L2 quantizer over them clusters by length
    * while the search ranks by cosine; on unit vectors L2 is monotone
    * in cosine (|a-b|^2 = 2 - 2cos), so the cells block by the same
    * geometry the search scores. */
  def unitVectors(df: DataFrame): DataFrame =
    withNorm(df).withColumn("qv",
      quantize(transform(col("v"), x => x / col("nrm")), 0L))

  /** Twin of [[unitVectors]]: `SELECT $cols, v, nrm, qv` over a `$src`
    * relation carrying `$cols` and the DOUBLE list `v`. */
  def unitVectorsSql(cols: String, src: String): String =
    s"""SELECT $cols, v, nrm, ${quantizeSql("[x / nrm FOR x IN v]", 0L)} AS qv
       |FROM (SELECT $cols, v, ${VF.normSql("v")} AS nrm FROM $src)""".stripMargin

  /** Integer squared-L2 distance between two quantized vectors — the
    * native codegen expression ([[graft.functions.ArrayL2Sq]], one
    * fused long loop in whole-stage codegen). Integer arithmetic has
    * no accumulation-order sensitivity, so this is bit-identical to
    * the HOF fold it replaced and to [[distSql]]'s DuckDB mirror. */
  def distL2(a: Column, b: Column): Column =
    call_function("array_l2sq", a, b)

  /** Per-vector argmin over a 1-row centroid array: the lexicographic
    * `array_min` over `struct(dist, cid)` is exactly the
    * `ORDER BY dist, cid LIMIT 1` tie-break the oracle replays. */
  def bestCentroid(qv: Column, cents: Column): Column =
    array_min(transform(cents, c =>
      struct(distL2(qv, c.getField("cqv")).as("dist"),
        c.getField("cid").as("cid"))))

  /** Deterministic seed centroids: the `k` lowest-vec_id rows OF THE
    * TRAINING FRAME, packed into ONE sorted array-of-structs row
    * (sort_array fixes collect_list's arrival order). Rank-based, not
    * `vec_id < k`: a RESTRICTED training corpus (q120 trains on the
    * seed half, vec_id % 2 == 0) still yields k effective cells —
    * an id-filter form would halve q120's index to 4 cells. For a
    * contiguous-id corpus the two are identical,
    * so every full-corpus gate's rows are unchanged. Scale: the
    * sort+limit plans as TakeOrderedAndProject — per-partition top-k,
    * k rows to the driver, no global sort. */
  def seedCents(q: DataFrame, k: Int): DataFrame =
    q.orderBy(col("vec_id")).limit(k)
      .select(struct(col("vec_id").as("cid"), col("qv").as("cqv")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cents"))

  /** Nearest-centroid assignment of `q` (vec_id, qv) against a 1-row
    * `cents` frame → (vec_id, qv, cid, dist). Map-side: the 1-row side
    * rides an EXPLICIT broadcast hint, so the plan is a broadcast
    * nested loop (never a cartesian) even with
    * autoBroadcastJoinThreshold forced off — which is exactly what the
    * plan-assertion specs force. */
  def assign(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("qv"),
        bestCentroid(col("qv"), col("cents")).as("best"))
      .select(col("vec_id"), col("qv"),
        col("best.cid").as("cid"), col("best.dist").as("dist"))

  /** One Lloyd update: per-dim BIGINT sums per cell, truncating-mean
    * back to a quantized centroid, reassembled into the 1-row cents
    * frame. Cells that lost all members drop out (both engines). */
  def update(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("qv")).as(Seq("dim", "xd")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("xd")).as("sd"), count(lit(1)).as("n"))
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(
        struct(col("dim"), expr("sd DIV n").as("cd")))).as("ds"))
      .select(struct(col("cid"),
        transform(col("ds"), d => d.getField("cd")).as("cqv")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cents"))

  /** Per-row ranked nearest cells against a 1-row `cents` frame: each
    * input row explodes to its `maxProbe` nearest trained cells with a
    * 1-based `crank` (lexicographic (dist, cid) tie-break, same as
    * [[bestCentroid]] — crank=1 IS the assignment cell). All input
    * columns pass through. Two consumers, one definition:
    *  - nprobe SEARCH (q117): probes fan out to their p nearest cells
    *    — the probe side multiplies by p, never the corpus side;
    *  - SPILL ASSIGNMENT (q118): the corpus itself indexes into its 2
    *    nearest cells, so boundary pairs split across neighboring
    *    cells still collide — index inflation bounded at exactly 2x.
    * Map-side: the cents row rides an explicit broadcast hint (see
    * [[assign]]); the explode is per-row. */
  def rankCells(rows: DataFrame, qvCol: String, cents: DataFrame,
                maxProbe: Int): DataFrame = {
    val passthru = rows.columns.map(col).toSeq
    rows.crossJoin(broadcast(cents))
      .select(passthru :+
        posexplode(slice(sort_array(transform(col("cents"), c =>
          struct(distL2(col(qvCol), c.getField("cqv")).as("dist"),
            c.getField("cid").as("cid")))), 1, maxProbe))
          .as(Seq("cr", "cellrec")): _*)
      .select(passthru :+
        (col("cr") + 1).cast("int").as("crank") :+
        col("cellrec.cid").as("cell"): _*)
  }

  /** Spill-blocked, cosine-verified near-duplicate PAIRS: every
    * vector indexes into its 2 nearest trained cells
    * ([[rankCells]] — boundary pairs split across neighboring cells
    * still collide in the spill cell), candidates are same-cell
    * pairs, and only candidates pay the exact cosine verify. ONE
    * definition for the q118 (pair listing) and q119 (clustering
    * pipeline) gates, so a retune cannot drift one from the other
    * ([[graft.functions.MinhashPipeline.acceptAgainstIndex]]'s
    * discipline on the minhash family). `e` needs (vec_id, v, nrm,
    * qv); returns (vec_a, vec_b, sim_x1e6) with vec_a < vec_b,
    * DISTINCT (a pair sharing both cells collides twice).
    * 100 TB: no corpus broadcast — centroids ride as one K·dim row,
    * the candidate join shuffles by cell only, spill bounds index
    * inflation at exactly 2×. [[spillPairsCtes]] is the oracle
    * mirror. */
  def spillPairs(e: DataFrame, cents: DataFrame, threshX1e6: Long): DataFrame =
    // materialized once: the spill assignment feeds both sides of the
    // candidate self-join, which would otherwise replay the centroid
    // ranking twice (at scale this frame IS the index — a bucketed
    // table, cf. q120)
    cellPairs(rankCells(e, "qv", cents, 2)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .localCheckpoint(true), Seq("cell"), threshX1e6)

  /** The same-cell verify both spill forms share: the self-join of a
    * materialized `(vec_id, v, nrm, keys…)` index frame on `keys`,
    * exact cosine for each candidate, pairs at >= `threshX1e6` as
    * (vec_a, vec_b, sim_x1e6), vec_a < vec_b, DISTINCT.
    * [[cellPairsCtes]] is its twin. */
  private def cellPairs(idx: DataFrame, keys: Seq[String],
                        threshX1e6: Long): DataFrame = {
    def side(id: String, v: String, n: String) = idx.select(keys.map(col) ++
      Seq(col("vec_id").as(id), col("v").as(v), col("nrm").as(n)): _*)
    side("vec_a", "va", "na").join(side("vec_b", "vb", "nb"), keys)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim_x1e6",
        VF.quantize1e6(VF.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("sim_x1e6") >= threshX1e6)
      .select(col("vec_a"), col("vec_b"), col("sim_x1e6"))
      .distinct()
  }

  /** HOT-CELL CONTROL for the spill-blocked candidate join —
    * [[graft.functions.MinhashPipeline.capBands]]'s discipline on the
    * SEMANTIC family. A cell of m index rows contributes m·(m-1)/2
    * candidate pairs, and a degenerate source (boilerplate embeddings:
    * thousands of EXACT copies of one vector) floods a single Voronoi
    * cell no matter how the centroids move — retraining (q124/q128)
    * fixes cells that are hot because K is stale, but copies co-locate
    * under ANY geometry, so the ingest path needs its own bound.
    * Two-level rule, mirroring the band cap:
    *  - a cell is HOT iff its occupancy exceeds
    *    `max(cap, 1.5 × mean occupancy)` — the same 1.5×-mean line
    *    q128's drift trigger fires on, so the two responses to a hot
    *    cell (split-and-cap at ingest, retrain at the barrier) key off
    *    ONE measured signal. The mean rides in as a 1-row broadcast
    *    (no unpartitioned window, no driver collect).
    *  - inside a hot cell, rows split by CONTENT FINGERPRINT of the
    *    quantized vector (fold of `qv`): exact-copy families — the
    *    flood — stay co-grouped and their pairs survive (capped at the
    *    `cap` lowest vec_ids, the hard O(m·cap) bound for monster
    *    families); everything else in the hot cell becomes a singleton
    *    group and generates no candidates. A hot cell thus degrades
    *    gracefully from NEAR-dup to EXACT(-quantized)-dup detection,
    *    exactly the capBands tradeoff.
    *  - COLD cells are untouched (grp = 0, no row cap): their pair
    *    cost is bounded by the 1.5×-mean occupancy line, which is
    *    what K (via retrain) controls.
    * Input: a [[rankCells]] spill frame carrying (vec_id, qv, cell);
    * output adds `grp` — self-join on (cell, grp). Both windows
    * partition by cell(, grp), the candidate join's own shuffle key,
    * so candidate generation still costs one exchange.
    * [[capCellsCte]] is the oracle mirror. */
  def capCells(spilled: DataFrame, k: Int, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = spilled.agg(count(lit(1)).as("tot")) // 1 row -> broadcast
    val cw = Window.partitionBy(col("cell"))
    spilled.crossJoin(broadcast(tot))
      .withColumn("hthr",
        greatest(lit(cap.toLong), expr(s"(tot * 3) DIV ${2 * k}")))
      .withColumn("sg", MinhashPipeline.contentFp(col("qv")))
      .withColumn("grp",
        when(count(lit(1)).over(cw) > col("hthr"), col("sg"))
          .otherwise(lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cell"), col("grp")).orderBy(col("vec_id"))))
      .filter(col("grp") === 0L || col("rn") <= cap)
      .drop("sg", "rn", "tot", "hthr")
  }

  /** [[spillPairs]] with [[capCells]] dropped between spill assignment
    * and the candidate self-join — the PRODUCTION form for corpora
    * that may carry embedding floods (the q121/q127 pattern on the
    * semantic family). Same contract: (vec_a, vec_b, sim_x1e6),
    * vec_a < vec_b, DISTINCT. */
  def cappedSpillPairs(e: DataFrame, cents: DataFrame, threshX1e6: Long,
                       k: Int, cap: Int): DataFrame =
    // materialized once: the capped frame feeds both sides of the
    // candidate self-join (the cap windows would otherwise run twice)
    cellPairs(capCells(
        rankCells(e, "qv", cents, 2)
          .select(col("vec_id"), col("v"), col("nrm"), col("qv"), col("cell")),
        k, cap)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("grp"))
      .localCheckpoint(true), Seq("cell", "grp"), threshX1e6)

  /** `iters` Lloyd iterations from the id-seeded centroids. Each
    * iteration's K-row centroid frame is materialized
    * (localCheckpoint) — K·dim longs, and without it iteration t's
    * lineage re-evaluates every earlier iteration's corpus scan. */
  def train(q: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = seedCents(q, k).localCheckpoint(true)
    (1 to iters).foreach { _ =>
      cents = update(assign(q, cents)).localCheckpoint(true)
    }
    cents
  }

  // ---- DuckDB oracle mirrors -----------------------------------------

  /** SQL mirror of [[distL2]] for `$a[i]`/`$b[i]`-style list refs. */
  def distSql(a: String, b: String, dim: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [($a[i] - $b[i]) * ($a[i] - $b[i])
       |       FOR i IN generate_series(1, $dim)]),
       |      (acc, x) -> acc + x)""".stripMargin

  /** CTE chain replaying quantization + seeding + `iters` Lloyd
    * iterations: emits `q` (vec_id, qv), `c0`..`c$iters` centroid
    * tables (cid, cqv). The truncating `//` mean matches the engine's
    * `DIV` because every coordinate is offset-positive. `where`
    * restricts the TRAINING corpus (e.g. a seed-index subset, q120);
    * c0 mirrors [[seedCents]]'s rank-based seeding (ORDER BY vec_id
    * LIMIT k), so a restricted corpus still seeds k cells. `src` is
    * the (vec_id, embedding) relation to train on — a table name or a
    * parenthesized subquery; `pfx` prefixes every emitted CTE name so
    * a SECOND training chain (q124's retrain on the committed corpus)
    * can coexist with the first in one oracle. The centroid CTEs are
    * MATERIALIZED: DuckDB would otherwise inline the chain, and re-run
    * every iteration, at each reference to `c$iters`. */
  def lloydCtes(k: Int, iters: Int, dim: Int, offset: Long,
                where: String = "", src: String = "embeddings",
                pfx: String = ""): String = {
    val head =
      s"""${pfx}q AS (
         |  SELECT vec_id, ${quantizeSql("embedding", offset)} AS qv
         |  FROM $src$where),
         |${pfx}c0 AS MATERIALIZED (SELECT vec_id AS cid, qv AS cqv FROM ${pfx}q ORDER BY vec_id LIMIT $k)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""${pfx}d$t AS (
         |  SELECT q.vec_id, q.qv, c.cid,
         |    ${distSql("q.qv", "c.cqv", dim)} AS dist
         |  FROM ${pfx}q q, ${pfx}c${t - 1} c),
         |${pfx}a$t AS (
         |  SELECT vec_id, qv, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM ${pfx}d$t),
         |${pfx}s$t AS (
         |  SELECT cid, dim, CAST(sum(x) AS BIGINT) AS sd, count(*) AS n
         |  FROM (SELECT cid, unnest(qv) AS x,
         |          unnest(generate_series(1, $dim)) AS dim
         |        FROM ${pfx}a$t WHERE rn = 1)
         |  GROUP BY cid, dim),
         |${pfx}c$t AS MATERIALIZED (SELECT cid, list(sd // n ORDER BY dim) AS cqv FROM ${pfx}s$t GROUP BY cid)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** SQL mirror of one [[rankCells]] spill/probe assignment: emits
    * `$name(vec_id, <passthru>, cell)` — each `$src` row exploded to
    * its `maxProbe` nearest `$cents` cells under the (dist, cid)
    * tie-break. `$cents` is the trained chain's last centroid CTE
    * (`c$iters` of [[lloydCtes]]), so it follows the caller's iteration
    * count. Shared by the q118/q119 pairs mirror ([[spillPairsCtes]])
    * and q120's index/probe CTEs. */
  def spillAssignCte(name: String, src: String, dim: Int,
                     passthru: Seq[String] = Nil, cents: String,
                     maxProbe: Int = 2): String = {
    val outer = passthru.map(c => s", $c").mkString
    val inner = passthru.map(c => s", s.$c").mkString
    s"""$name AS (
       |  SELECT vec_id$outer, cell FROM (
       |    SELECT s.vec_id$inner, c.cid AS cell,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${distSql("s.qv", "c.cqv", dim)}, c.cid) AS crank
       |    FROM $src s, $cents c)
       |  WHERE crank <= $maxProbe)""".stripMargin
  }

  /** Oracle mirror of [[spillPairs]]: spill assignment (`sp`, from the
    * [[lloydCtes]] `q` frame against `$cents`) and the verified-pair
    * set `spairs` (vec_a, vec_b, sim_x1e6) over a CTE `e` of (vec_id, v)
    * double lists. */
  def spillPairsCtes(dim: Int, threshX1e6: Long, cents: String): String =
    s"""${spillAssignCte("sp", "q", dim, cents = cents)},
       |${cellPairsCtes("spairs", "sp", "e", Seq("cell"), dim, threshX1e6)}""".stripMargin

  /** Twin of [[cellPairs]]: `${out}v`, the `$idx` rows (vec_id, keys…)
    * joined to their (vec_id, v) vectors in `$vecs`, and `$out`
    * (vec_a, vec_b, sim_x1e6). Norms are hoisted into the MATERIALIZED
    * `${out}v` (one sqrt-of-fold per VECTOR, the engine's own
    * precomputed-`nrm` shape) and the cosine is computed once per pair
    * then filtered by alias — algebraically identical doubles to the
    * inline form, ~6x less per-pair work in DuckDB, which is what
    * makes the same-cell pair oracles feasible at sf1. */
  def cellPairsCtes(out: String, idx: String, vecs: String, keys: Seq[String],
                    dim: Int, threshX1e6: Long): String =
    s"""${out}v AS MATERIALIZED (
       |  SELECT ${("vec_id" +: keys).map(k => s"s.$k").mkString(", ")}, c.v,
       |    ${VF.normSql("c.v")} AS nrm
       |  FROM $idx s JOIN $vecs c USING (vec_id)),
       |$out AS (
       |  SELECT DISTINCT vec_a, vec_b, sim_x1e6 FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |      CAST(floor(((${VF.dotSql("a.v", "b.v", dim)}) / (a.nrm * b.nrm)) * 1e6)
       |        AS BIGINT) AS sim_x1e6
       |    FROM ${out}v a JOIN ${out}v b
       |      ON ${keys.map(k => s"a.$k = b.$k AND ").mkString}a.vec_id < b.vec_id)
       |  WHERE sim_x1e6 >= $threshX1e6)""".stripMargin

  /** Oracle mirror of [[capCells]] over a spill CTE `$sp` carrying
    * (vec_id, qv, cell) — emits `${sp}cap(vec_id, cell, grp)`. The
    * fingerprint folds `qv` in its natural dim order (a vector is a
    * sequence, not a set — no sort, unlike capBandsCte's hl fold);
    * the hot threshold re-derives the same
    * `max(cap, 1.5 × mean occupancy)` line from a scalar count. */
  def capCellsCte(sp: String, k: Int, cap: Int): String =
    s"""${sp}g AS (
       |  SELECT vec_id, cell,
       |    ${MinhashPipeline.contentFpSql("qv")} AS sg
       |  FROM $sp),
       |${sp}thr AS (SELECT greatest($cap, (count(*) * 3) // ${2 * k}) AS h
       |             FROM $sp),
       |${sp}cap AS (
       |  SELECT vec_id, cell, grp FROM (
       |    SELECT vec_id, cell, grp,
       |      row_number() OVER (PARTITION BY cell, grp ORDER BY vec_id) AS rn
       |    FROM (
       |      SELECT g.vec_id, g.cell,
       |        CASE WHEN count(*) OVER (PARTITION BY g.cell) >
       |                  (SELECT h FROM ${sp}thr)
       |             THEN g.sg ELSE 0 END AS grp
       |      FROM ${sp}g g))
       |  WHERE grp = 0 OR rn <= $cap)""".stripMargin

  /** Final-assignment CTE against `c$iters` → `afin` (vec_id, qv,
    * cell), MATERIALIZED for its several readers. Append after
    * [[lloydCtes]]. */
  def assignCte(iters: Int, dim: Int): String =
    s"""dfin AS (
       |  SELECT q.vec_id, q.qv, c.cid,
       |    ${distSql("q.qv", "c.cqv", dim)} AS dist
       |  FROM q, c$iters c),
       |afin AS MATERIALIZED (
       |  SELECT vec_id, qv, cid AS cell FROM (
       |    SELECT vec_id, qv, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM dfin)
       |  WHERE rn = 1)""".stripMargin
}
