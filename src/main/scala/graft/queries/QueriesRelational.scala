package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator coverage (SURVEY §2.3-§2.8): scans, filters,
  * equi/anti/semi joins, aggregations, rollup, windows, sorts/top-k,
  * set ops — each with a DuckDB oracle.
  *
  * Determinism rules for oracle hash-parity: money sums are computed as
  * integer cents ([[centsSql]]); every output is int/long/string; every
  * window has a total tiebreak order.
  */
object QueriesRelational {

  private val centsL = centsSql("l_extendedprice * (1 - l_discount)")

  val all: Seq[Q] = Seq(

    // A1/A2-style grouped aggregation with filter pushed to parquet scan.
    Q("q01_pricing_summary",
      (spark, dir) => {
        val li = table(spark, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(expr(centsL)).as("revenue_cents"),
            count(lit(1)).as("cnt"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
              |  CAST(sum($centsL) AS BIGINT) AS revenue_cents,
              |  count(*) AS cnt
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // J14-style multi-way join: lineitem |><| orders |><| customer |><|
    // nation |><| region with small dims broadcast.
    Q("q02_revenue_by_nation",
      (spark, dir) => {
        val li = table(spark, dir, "lineitem")
        val o = table(spark, dir, "orders")
        val c = table(spark, dir, "customer")
        val n = table(spark, dir, "nation")
        val r = table(spark, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .filter(r("r_name") === "ASIA")
          .groupBy(n("n_name").as("n_name"))
          .agg(sum(expr(centsL)).as("revenue_cents"), count(lit(1)).as("cnt"))
          .orderBy(col("revenue_cents").desc, col("n_name"))
      },
      Some(s"""SELECT n_name, CAST(sum($centsL) AS BIGINT) AS revenue_cents, count(*) AS cnt
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |GROUP BY n_name
              |ORDER BY revenue_cents DESC, n_name""".stripMargin)),

    // J6/J8-style anti join (NOT EXISTS).
    Q("q03_customers_without_orders",
      (spark, dir) => {
        val c = table(spark, dir, "customer")
        val o = table(spark, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS cnt
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // Semi join (EXISTS).
    Q("q04_customers_with_urgent_orders",
      (spark, dir) => {
        val c = table(spark, dir, "customer")
        val o = table(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("c_nationkey"))
      },
      Some("""SELECT c_nationkey, count(*) AS cnt
             |FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)),

    // W1-style top-k per group with deterministic tiebreak.
    Q("q05_top_orders_per_segment",
      (spark, dir) => {
        val c = table(spark, dir, "customer")
        val o = table(spark, dir, "orders")
        val j = o.join(c, o("o_custkey") === c("c_custkey"))
          .select(c("c_mktsegment").as("seg"), o("o_orderkey").as("o_orderkey"),
            expr(centsSql("o_totalprice")).as("price_cents"))
        val w = Window.partitionBy(col("seg"))
          .orderBy(col("price_cents").desc, col("o_orderkey"))
        j.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("seg"), col("rn").cast("long").as("rn"), col("o_orderkey"), col("price_cents"))
          .orderBy(col("seg"), col("rn"))
      },
      Some(s"""SELECT seg, rn, o_orderkey, price_cents FROM (
             |  SELECT c_mktsegment AS seg, o_orderkey,
             |    ${centsSql("o_totalprice")} AS price_cents,
             |    CAST(row_number() OVER (PARTITION BY c_mktsegment
             |      ORDER BY ${centsSql("o_totalprice")} DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders JOIN customer ON o_custkey = c_custkey)
             |WHERE rn <= 3
             |ORDER BY seg, rn""".stripMargin)),

    // W4-style running prefix sum (integer cents so the cumsum is exact).
    Q("q06_running_value_per_user",
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        table(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            expr(centsSql("value")).as("cents"))
          .withColumn("run_cents", sum(col("cents")).over(w))
          .select(col("user_id"), col("event_id"), col("run_cents"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""SELECT user_id, event_id,
             |  CAST(sum(${centsSql("value")})
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
             |FROM events
             |ORDER BY user_id, event_id""".stripMargin)),

    // A2-style two-granularity rollup.
    Q("q07_rollup_events",
      (spark, dir) => {
        table(spark, dir, "events")
          .select(col("event_type"), (col("user_id") % 10).as("bucket"))
          .rollup(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .select(
            coalesce(col("event_type"), lit("ALL")).as("event_type"),
            coalesce(col("bucket"), lit(-1L)).as("bucket"),
            col("cnt"))
          .orderBy(col("event_type"), col("bucket"))
      },
      Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
             |  coalesce(bucket, -1) AS bucket, count(*) AS cnt
             |FROM (SELECT event_type, user_id % 10 AS bucket FROM events)
             |GROUP BY ROLLUP(event_type, bucket)
             |ORDER BY event_type, bucket""".stripMargin)),

    // Full CUBE (beyond the reference's two-granularity rollup): all
    // four grouping sets in one pass — one shuffle, Expand feeding a
    // single partial+final aggregate, vs four separate groupBys.
    Q("q19_cube_events",
      (spark, dir) => {
        table(spark, dir, "events")
          .select(col("event_type"), (col("user_id") % 10).as("bucket"),
            expr(centsSql("value")).as("cents"))
          .cube(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
          .select(
            coalesce(col("event_type"), lit("ALL")).as("event_type"),
            coalesce(col("bucket"), lit(-1L)).as("bucket"),
            col("cnt"), col("sum_cents"))
          .orderBy(col("event_type"), col("bucket"))
      },
      Some(s"""SELECT coalesce(event_type, 'ALL') AS event_type,
             |  coalesce(bucket, -1) AS bucket, count(*) AS cnt,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM (SELECT event_type, user_id % 10 AS bucket,
             |        ${centsSql("value")} AS cents FROM events)
             |GROUP BY CUBE(event_type, bucket)
             |ORDER BY event_type, bucket""".stripMargin)),

    // Pivot: one row per bucket, one column per event type (explicit
    // value list keeps the schema static — required at scale anyway,
    // since an unlisted pivot collects distinct values to the driver).
    // Oracle: engine-neutral conditional aggregation.
    Q("q37_pivot_events",
      (spark, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        table(spark, dir, "events")
          .select((col("user_id") % 10).as("bucket"), col("event_type"),
            expr(centsSql("value")).as("cents"))
          .groupBy(col("bucket"))
          .pivot("event_type", types)
          .agg(sum(col("cents")))
          .orderBy(col("bucket"))
      },
      Some {
        val cols = Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"CAST(sum(CASE WHEN event_type = '$t' THEN cents END) AS BIGINT) AS $t")
          .mkString(",\n  ")
        s"""SELECT user_id % 10 AS bucket,
           |  $cols
           |FROM (SELECT user_id, event_type,
           |        ${centsSql("value")} AS cents FROM events)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Full-outer join: customers and suppliers per nation — rows
    // survive from BOTH unmatched sides (the one join shape the
    // reference never uses; completes the engine's join matrix).
    Q("q38_full_outer",
      (spark, dir) => {
        val c = table(spark, dir, "customer")
          .groupBy((col("c_nationkey") % 30).as("nk")).agg(count(lit(1)).as("n_cust"))
          .filter(col("nk") % 3 =!= 0)
        val s = table(spark, dir, "supplier")
          .groupBy((col("s_nationkey") % 30).as("nk")).agg(count(lit(1)).as("n_supp"))
          .filter(col("nk") % 4 =!= 0)
        c.join(s, Seq("nk"), "full_outer")
          .select(col("nk"), coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy(col("nk"))
      },
      Some("""WITH c AS (
             |  SELECT nk, count(*) AS n_cust FROM
             |    (SELECT c_nationkey % 30 AS nk FROM customer)
             |  GROUP BY 1 HAVING nk % 3 <> 0),
             |s AS (
             |  SELECT nk, count(*) AS n_supp FROM
             |    (SELECT s_nationkey % 30 AS nk FROM supplier)
             |  GROUP BY 1 HAVING nk % 4 <> 0)
             |SELECT coalesce(c.nk, s.nk) AS nk,
             |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
             |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
             |FROM c FULL JOIN s ON c.nk = s.nk
             |ORDER BY nk""".stripMargin)),

    // INTERSECT / EXCEPT set semantics (multiset-aware forms exist as
    // intersectAll/exceptAll; the distinct forms are shown here).
    Q("q39_set_ops",
      (spark, dir) => {
        val hiVal = table(spark, dir, "orders")
          .filter(col("o_totalprice") > 150000.0).select(col("o_custkey"))
        val urgent = table(spark, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        val both = hiVal.intersect(urgent)
          .select(lit("BOTH").as("side"), col("o_custkey"))
        val hiOnly = hiVal.except(urgent)
          .select(lit("HI_ONLY").as("side"), col("o_custkey"))
        both.unionByName(hiOnly)
          .groupBy(col("side")).agg(count(lit(1)).as("cnt"), sum(col("o_custkey")).as("sum_ck"))
          .orderBy(col("side"))
      },
      Some("""WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0),
             |u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
             |b AS (SELECT 'BOTH' AS side, o_custkey FROM (SELECT * FROM hi INTERSECT SELECT * FROM u)),
             |h AS (SELECT 'HI_ONLY' AS side, o_custkey FROM (SELECT * FROM hi EXCEPT SELECT * FROM u))
             |SELECT side, count(*) AS cnt, CAST(sum(o_custkey) AS BIGINT) AS sum_ck
             |FROM (SELECT * FROM b UNION ALL SELECT * FROM h)
             |GROUP BY side ORDER BY side""".stripMargin)),

    // Window-function breadth: lag (inter-event gap), lead (next
    // value), ntile (quartile assignment) over one shared
    // partition+sort — Catalyst evaluates all three in a single Window
    // operator, one shuffle.
    Q("q70_window_suite",
      (spark, dir) => {
        val e = table(spark, dir, "events")
          .select(col("event_type"), col("ts"), col("event_id"),
            expr(centsSql("value")).as("cents"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
        e.withColumn("gap_us",
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("nxt", lead(col("cents"), 1).over(w))
          .withColumn("tile", ntile(4).over(w).cast("long"))
          .groupBy(col("event_type"), col("tile"))
          .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"),
            max(col("gap_us")).as("max_gap_us"),
            sum(coalesce(col("nxt"), lit(0L))).as("sum_next"))
          .orderBy(col("event_type"), col("tile"))
      },
      Some(s"""WITH e AS (SELECT event_type, ts, event_id,
             |            ${centsSql("value")} AS cents FROM events),
             |w AS (SELECT event_type, cents,
             |        epoch_us(ts) - lag(epoch_us(ts)) OVER win AS gap_us,
             |        lead(cents) OVER win AS nxt,
             |        ntile(4) OVER win AS tile
             |      FROM e
             |      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id))
             |SELECT event_type, CAST(tile AS BIGINT) AS tile, count(*) AS cnt,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(max(gap_us) AS BIGINT) AS max_gap_us,
             |  CAST(sum(coalesce(nxt, 0)) AS BIGINT) AS sum_next
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Argmax/argmin aggregates (min_by/max_by): cheapest and priciest
    // order per market segment in ONE aggregation pass — no window, no
    // self-join. The ordering key is made unique (cents*1e7 + orderkey)
    // so ties cannot make the arg choice engine-dependent.
    Q("q71_arg_aggregates",
      (spark, dir) => {
        val o = table(spark, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            expr(centsSql("o_totalprice")).as("cents"))
          .withColumn("ord", col("cents") * 10000000L + col("o_orderkey"))
        val c = table(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            max_by(col("o_orderkey"), col("ord")).as("top_order"),
            min_by(col("o_orderkey"), col("ord")).as("bottom_order"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
             |  CAST(max_by(o_orderkey, ord) AS BIGINT) AS top_order,
             |  CAST(min_by(o_orderkey, ord) AS BIGINT) AS bottom_order
             |FROM (SELECT o_custkey, o_orderkey,
             |        ${centsSql("o_totalprice")} * 10000000
             |          + o_orderkey AS ord
             |      FROM orders) o
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // A4/U2 distinct.
    Q("q08_distinct_event_types",
      (spark, dir) =>
        table(spark, dir, "events").select(col("event_type")).distinct()
          .orderBy(col("event_type")),
      Some("SELECT DISTINCT event_type FROM events ORDER BY event_type")),

    // U1/U2: union + distinct of two slices.
    Q("q09_union_hi_value_or_urgent",
      (spark, dir) => {
        val o = table(spark, dir, "orders")
        val a = o.filter(col("o_totalprice") > 400000.0)
          .select(col("o_orderkey"), col("o_orderstatus"))
        val b = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderstatus"))
        a.unionByName(b).distinct()
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt FROM (
             |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 400000.0
             |  UNION
             |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT')
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // W1 first-match-per-key, made deterministic with (ts, event_id).
    Q("q10_first_event_per_user",
      (spark, dir) => {
        val e = table(spark, dir, "events")
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        e.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |      FROM events)
             |WHERE rn = 1
             |ORDER BY user_id""".stripMargin)),

    // U3/J5-style composite-key dedup keeping a deterministic first row
    // (reference keeps first-inserted; we impose (orderkey, linenumber)).
    Q("q11_dedup_lineitem_by_part_supp",
      (spark, dir) => {
        val li = table(spark, dir, "lineitem").filter(col("l_partkey") % 97 === 0)
        val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
        li.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"))
          .orderBy(col("l_partkey"), col("l_suppkey"))
      },
      Some("""SELECT l_partkey, l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
             |FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
             |        ORDER BY l_orderkey, l_linenumber) AS rn
             |      FROM lineitem WHERE l_partkey % 97 = 0)
             |WHERE rn = 1
             |ORDER BY l_partkey, l_suppkey""".stripMargin)),

    // O1-style global sort + limit (top-k) with total tiebreak.
    Q("q12_top10_orders",
      (spark, dir) =>
        table(spark, dir, "orders")
          .select(col("o_orderkey"),
            expr(centsSql("o_totalprice")).as("price_cents"))
          .orderBy(col("price_cents").desc, col("o_orderkey"))
          .limit(10),
      Some(s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_cents
             |FROM orders
             |ORDER BY price_cents DESC, o_orderkey
             |LIMIT 10""".stripMargin)),

    // Event-time tumbling windows (the batch form of the streaming
    // windowed aggregation in graft.streaming.StreamingOps; same
    // window() expression Structured Streaming uses).
    Q("q14_event_time_windows",
      (spark, dir) =>
        table(spark, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(expr(centsSql("value"))).as("sum_cents"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
            col("event_type"), col("cnt"), col("sum_cents"))
          .orderBy(col("w_start"), col("event_type")),
      Some(s"""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M') AS w_start,
             |  event_type, count(*) AS cnt,
             |  CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_cents
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // W1-reject: keep only keys with exactly one row (the reference's
    // getVarPos discards rgd_ids mapped to multiple positions,
    // `ClinVar2Vcf.java:420-444`) — count over partition = 1.
    Q("q15_single_position_keys",
      (spark, dir) => {
        val li = table(spark, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        val w = Window.partitionBy(col("l_partkey"))
        li.withColumn("k_rows", count(lit(1)).over(w))
          .filter(col("k_rows") === 1)
          .groupBy((col("l_partkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("cnt"), sum(col("l_orderkey")).as("sum_ok"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT l_partkey % 10 AS bucket, count(*) AS cnt,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
             |FROM (SELECT *, count(*) OVER (PARTITION BY l_partkey) AS k_rows
             |      FROM lineitem WHERE l_orderkey % 7 = 0)
             |WHERE k_rows = 1
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Skew-safe two-phase aggregation (operators/SkewSalt): identical
    // result to a plain groupBy — the oracle runs the plain form.
    Q("q16_salted_agg",
      (spark, dir) => {
        val e = table(spark, dir, "events")
          .select(col("event_type"), (col("user_id") % 100).as("a"),
            expr(centsSql("value")).as("cents"))
        graft.operators.SkewSalt.saltedSumCount(
            e, Seq("event_type"), Seq(col("a"), col("cents")), salts = 16,
            sums = Seq("a", "cents"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(user_id % 100) AS BIGINT) AS sum_a,
             |  CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_cents
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // As-of join (operators/AsofJoin): each purchase picks the most
    // recent prior click of the same user — one keyed window shuffle,
    // no range join. The right side is pre-aggregated to one row per
    // (user, ts) so the match is engine-independently deterministic;
    // the oracle uses DuckDB's native ASOF LEFT JOIN.
    Q("q18_asof_join",
      (spark, dir) => {
        val e = table(spark, dir, "events")
        val cents = expr(centsSql("value"))
        val clicks = e.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts")).agg(max(cents).as("click_cents"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
        graft.operators.AsofJoin.backward(purchases, clicks,
            Seq("user_id"), "ts", "ts", Seq("click_cents"))
          .groupBy((col("user_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_purchases"),
            count(col("click_cents")).as("n_matched"),
            sum(coalesce(col("click_cents"), lit(0L))).as("sum_click_cents"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH e AS (SELECT user_id, ts, event_type,
             |            ${centsSql("value")} AS cents FROM events),
             |c AS (SELECT user_id, ts, CAST(max(cents) AS BIGINT) AS click_cents
             |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
             |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
             |SELECT p.user_id % 10 AS bucket, count(*) AS n_purchases,
             |  CAST(count(c.click_cents) AS BIGINT) AS n_matched,
             |  CAST(sum(coalesce(c.click_cents, 0)) AS BIGINT) AS sum_click_cents
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X10/X12-analog: JSON prop extraction + grouped aggregation.
    Q("q13_json_props",
      (spark, dir) =>
        table(spark, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"), count(lit(1)).as("cnt"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, CAST(sum(k) AS BIGINT) AS sum_k,
             |  CAST(max(k) AS BIGINT) AS max_k, count(*) AS cnt
             |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin))
  )
}
