package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** OLAP operators the reference lacks but Catalyst supplies for free
  * (SURVEY.md §2.5 note) — declared so the engine's analytics surface is
  * explicit and oracle-checked: rollup hierarchies, exact heavy hitters,
  * exact discrete quantiles. */
object AnalyticsQueries {

  private val D = "decimal(18,2)"

  val all: Seq[QueryDef] = Seq(

    // ── rollup: region -> nation hierarchy with subtotals ──
    QueryDef("q42_rollup",
      """SELECT r.r_name AS region, n.n_name AS nation,
        |  CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS total_bal,
        |  COUNT(*) AS n_cust
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP (r.r_name, n.n_name)
        |ORDER BY region NULLS FIRST, nation NULLS FIRST""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(graft.queries.RelationalQueries.moneyStr(
            sum(col("c_acctbal").cast(D)).cast(D)).as("total_bal"),
          count(lit(1)).as("n_cust"))
        .orderBy(col("region").asc_nulls_first, col("nation").asc_nulls_first)
    },

    // ── exact heavy hitters: top-5 parts by order volume, rank-dense ──
    QueryDef("q43_heavy_hitters",
      """SELECT l_partkey, n, rk FROM (
        |  SELECT l_partkey, COUNT(*) AS n,
        |         DENSE_RANK() OVER (ORDER BY COUNT(*) DESC) AS rk
        |  FROM lineitem GROUP BY l_partkey)
        |WHERE rk <= 5
        |ORDER BY rk, l_partkey""".stripMargin) { (s, d) =>
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      // dense_rank() OVER (ORDER BY n DESC) with no partition key would drag
      // every group's count onto one task. The dense rank of a count only
      // depends on the DISTINCT count values above it, and we only keep
      // rk <= 5 — so: top-5 distinct counts via TakeOrdered (map-side
      // partial top-k, a few rows), rank them with a self-join on that tiny
      // set, and broadcast-join the ranks back onto the full counts table.
      val top = counts.select(col("n")).distinct()
        .orderBy(col("n").desc).limit(5)
      val ranked = top.as("a").join(top.as("b"), col("b.n") >= col("a.n"))
        .groupBy(col("a.n").as("n"))
        .agg(count_distinct(col("b.n")).cast("int").as("rk"))
      counts.join(broadcast(ranked), "n")
        .select(col("l_partkey"), col("n"), col("rk"))
        .orderBy(col("rk"), col("l_partkey"))
    },

    // ── skew-safe salted join: 5 pathologically hot keys spread over 8
    //    salt buckets; the salt is an internal rewrite, so the result (and
    //    the oracle) is the plain join ──
    QueryDef("q46_salted_join",
      """WITH f AS (SELECT l_suppkey % 5 AS skew_key,
        |             CAST(l_quantity AS DECIMAL(18,2)) AS qty FROM lineitem),
        |d AS (SELECT s_suppkey % 5 AS skew_key, COUNT(*) AS factor
        |      FROM supplier GROUP BY 1)
        |SELECT f.skew_key,
        |  CAST(CAST(SUM(qty * factor) AS DECIMAL(18,2)) AS VARCHAR) AS weighted,
        |  COUNT(*) AS n
        |FROM f JOIN d ON f.skew_key = d.skew_key
        |GROUP BY f.skew_key
        |ORDER BY f.skew_key""".stripMargin) { (s, d) =>
      val fact = Tables.lineitem(s, d).select(
        (col("l_suppkey") % 5).as("skew_key"),
        col("l_quantity").cast(D).as("qty"))
      val dim = Tables.supplier(s, d)
        .groupBy((col("s_suppkey") % 5).as("skew_key"))
        .agg(count(lit(1)).as("factor"))
      graft.ops.Ops.saltedJoin(fact, dim, Seq("skew_key"), salts = 8)
        .groupBy(col("skew_key"))
        .agg(graft.queries.RelationalQueries.moneyStr(
            sum(col("qty") * col("factor")).cast(D)).as("weighted"),
          count(lit(1)).as("n"))
        .orderBy(col("skew_key"))
    },

    // ── J6: as-of join — each event picks the user's most recent order at
    //    or before the event day (point-in-time feature lookup) ──
    QueryDef("q47_asof_join",
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS event_day
        |           FROM events),
        |o AS (SELECT o_custkey AS user_id,
        |        CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS order_day,
        |        MAX(o_orderkey) AS last_orderkey
        |      FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.event_day,
        |       o.order_day AS last_order_day, o.last_orderkey
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.event_day >= o.order_day
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      // Epoch-day longs on both sides (events carry nanosecond longs; see
      // RelationalQueries.eventsNs). Right side pre-aggregated to one row
      // per (user, day) — max orderkey — so the as-of tie-winner is
      // deterministic across engines.
      val ev = graft.queries.RelationalQueries.eventsNs(s, d).select(
        col("event_id"), col("user_id"),
        Tables.floorDiv("ts", 86400000000000L).as("event_day"))
      val ords = Tables.orders(s, d).select(
          col("o_custkey").as("user_id"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("order_day"),
          col("o_orderkey"))
        .groupBy(col("user_id"), col("order_day"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      graft.ops.Ops.asofJoin(ev, ords, Seq("user_id"), "event_day", "order_day")
        .select(col("event_id"), col("user_id"), col("event_day"),
          col("order_day").as("last_order_day"), col("last_orderkey"))
        .orderBy(col("event_id"))
    },

    // ── exact one-pass column profile (null/distinct/min/max per column,
    //    string-rendered) — the DESCRIBE-style pass every pipeline runs
    //    before trusting a new table ──
    QueryDef("q54_profile",
      """WITH s AS (SELECT COUNT(*) AS total,
        |  COUNT(l_orderkey) AS n1, COUNT(DISTINCT l_orderkey) AS d1,
        |  CAST(MIN(l_orderkey) AS VARCHAR) AS mn1, CAST(MAX(l_orderkey) AS VARCHAR) AS mx1,
        |  COUNT(l_linenumber) AS n2, COUNT(DISTINCT l_linenumber) AS d2,
        |  CAST(MIN(l_linenumber) AS VARCHAR) AS mn2, CAST(MAX(l_linenumber) AS VARCHAR) AS mx2,
        |  COUNT(l_returnflag) AS n3, COUNT(DISTINCT l_returnflag) AS d3,
        |  CAST(MIN(l_returnflag) AS VARCHAR) AS mn3, CAST(MAX(l_returnflag) AS VARCHAR) AS mx3
        |  FROM lineitem)
        |SELECT col_name, n_nonnull, n_null, n_distinct, min_str, max_str FROM (
        |  SELECT 'l_orderkey' AS col_name, n1 AS n_nonnull, total - n1 AS n_null,
        |         d1 AS n_distinct, mn1 AS min_str, mx1 AS max_str FROM s
        |  UNION ALL
        |  SELECT 'l_linenumber', n2, total - n2, d2, mn2, mx2 FROM s
        |  UNION ALL
        |  SELECT 'l_returnflag', n3, total - n3, d3, mn3, mx3 FROM s)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      graft.ops.Profile.profile(Tables.lineitem(s, d),
          Seq("l_orderkey", "l_linenumber", "l_returnflag"))
        .orderBy(col("col_name"))
    },

    // ── exact discrete quantiles of order totals per priority ──
    QueryDef("q44_quantiles",
      """SELECT o_orderpriority,
        |  CAST(CAST(quantile_disc(CAST(o_totalprice AS DECIMAL(18,2)), 0.5)
        |       AS DECIMAL(18,2)) AS VARCHAR) AS p50,
        |  CAST(CAST(quantile_disc(CAST(o_totalprice AS DECIMAL(18,2)), 0.9)
        |       AS DECIMAL(18,2)) AS VARCHAR) AS p90
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // Exact discrete quantile as a true AGGREGATE (partial+final merge on
      // value-count maps), not a rank window: Window.partitionBy(priority)
      // has 5 distinct values, so the windowed formulation lands the whole
      // orders table on 5 tasks — an aggregate scales with shuffle
      // parallelism instead. percentile_disc picks the smallest value whose
      // cume_dist >= q == the ceil(q*n)-th sorted element == duckdb
      // quantile_disc.
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_totalprice").cast(D).as("price"))
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY price)")
            .cast(D).cast("string").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY price)")
            .cast(D).cast("string").as("p90"))
        .orderBy(col("o_orderpriority"))
    },

    // ── strictly-ordered conversion funnel signup→view→purchase: a later
    //    stage counts only when it happens AFTER the user's first qualified
    //    occurrence of the previous stage (sequence order = (ts, event_id)).
    //    One shuffle by user feeds two same-spec window passes (prior-
    //    signup, prior-qualified-view — Catalyst reuses the sort) and a
    //    co-partitioned per-user flag aggregate; the final 3-row stack is
    //    a map-side-combinable sum, never a count-distinct expand. ──
    QueryDef("q88_funnel",
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS t, event_type
        |  FROM events),
        |s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'signup' THEN t END)
        |    OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prior_signup
        |  FROM ev),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view'
        |                      AND prior_signup IS NOT NULL THEN t END)
        |    OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prior_qview
        |  FROM s1),
        |u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS r1,
        |    max(CASE WHEN event_type = 'view'
        |              AND prior_signup IS NOT NULL THEN 1 ELSE 0 END) AS r2,
        |    max(CASE WHEN event_type = 'purchase'
        |              AND prior_qview IS NOT NULL THEN 1 ELSE 0 END) AS r3
        |  FROM s2 GROUP BY 1),
        |a AS (SELECT CAST(sum(r1) AS BIGINT) AS n1,
        |             CAST(sum(r2) AS BIGINT) AS n2,
        |             CAST(sum(r3) AS BIGINT) AS n3 FROM u)
        |SELECT stage, n_users FROM (
        |  SELECT '1_signup' AS stage, n1 AS n_users FROM a
        |  UNION ALL SELECT '2_view', n2 FROM a
        |  UNION ALL SELECT '3_purchase', n3 FROM a)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      val wPrior = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val s2 = graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prior_signup",
          min(when(col("event_type") === "signup", col("ts"))).over(wPrior))
        .withColumn("prior_qview",
          min(when(col("event_type") === "view" && col("prior_signup").isNotNull,
            col("ts"))).over(wPrior))
      s2.groupBy(col("user_id")).agg(
          max(when(col("event_type") === "signup", 1).otherwise(0)).as("r1"),
          max(when(col("event_type") === "view" && col("prior_signup").isNotNull,
            1).otherwise(0)).as("r2"),
          max(when(col("event_type") === "purchase" && col("prior_qview").isNotNull,
            1).otherwise(0)).as("r3"))
        .agg(sum(col("r1")).as("n1"), sum(col("r2")).as("n2"),
          sum(col("r3")).as("n3"))
        .select(expr(
          "stack(3, '1_signup', n1, '2_view', n2, '3_purchase', n3) AS (stage, n_users)"))
        .orderBy(col("stage"))
    },

    // ── weekly cohort retention: users grouped by first-active week, one
    //    cell per (cohort_week, week_offset) counting distinct users active
    //    that week. The distinct (user, week) grid is aggregated BEFORE the
    //    cohort join, so the join and both aggregates carry fixed-width
    //    rows ~ |users|·|weeks|, never raw events. ──
    QueryDef("q89_retention",
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 604800000000000 AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |       count(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val WeekNs = 604800000000000L
      val active = graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"), Tables.floorDiv("ts", WeekNs).as("week"))
        .distinct()
      val cohort = active.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      active.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // ── fuzzy entity resolution over the part-name dictionary: block on
    //    the noun (second token), verify within-block with thresholded
    //    Levenshtein <= 3. The pair space is dictionary-sized (distinct
    //    names), never corpus-sized. ──
    QueryDef("q96_fuzzy_match",
      """WITH d AS (SELECT DISTINCT p_name AS k FROM part),
        |b AS (SELECT k, split_part(k, ' ', 2) AS blk FROM d)
        |SELECT a.k AS key_a, c.k AS key_b, levenshtein(a.k, c.k) AS dist
        |FROM b a JOIN b c ON a.blk = c.blk AND a.k < c.k
        |  AND abs(length(a.k) - length(c.k)) <= 3
        |WHERE levenshtein(a.k, c.k) <= 3
        |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
      graft.ops.Dedup.editDistancePairs(Tables.part(s, d), "p_name",
          k => element_at(split(k, " "), 2), maxDist = 3)
        .orderBy("key_a", "key_b")
    },

    // ── fixed-point PageRank (3 iterations, d = 0.85) over the weighted
    //    customer→supplier purchase graph; suppliers are all dangling, so
    //    the sink correction is exercised every round. All arithmetic is
    //    exact 64-bit integer (ranks in 1e-12 units), so the oracle
    //    unrolls the identical recurrence and matches bit-for-bit —
    //    impossible with IEEE summation-order-dependent double ranks. ──
    QueryDef("q97_pagerank",
      """WITH e AS (
        |  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
        |         COUNT(*) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e
        |      GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM v),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM v CROSS JOIN nn),
        |d0 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d FROM r0
        |       LEFT JOIN ow ON r0.node = ow.src WHERE ow.wout IS NULL),
        |s0 AS (SELECT e.dst, CAST(SUM((r0.r * e.w) // ow.wout)
        |         AS BIGINT) AS insum
        |       FROM e JOIN r0 ON e.src = r0.node
        |              JOIN ow ON e.src = ow.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT v.node, (15000000000000 // (100 * nn.n))
        |         + (85 * (COALESCE(s0.insum, 0) + (d0.d // nn.n))) // 100
        |         AS r
        |       FROM v CROSS JOIN nn CROSS JOIN d0
        |       LEFT JOIN s0 ON v.node = s0.dst),
        |d1 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d FROM r1
        |       LEFT JOIN ow ON r1.node = ow.src WHERE ow.wout IS NULL),
        |s1 AS (SELECT e.dst, CAST(SUM((r1.r * e.w) // ow.wout)
        |         AS BIGINT) AS insum
        |       FROM e JOIN r1 ON e.src = r1.node
        |              JOIN ow ON e.src = ow.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT v.node, (15000000000000 // (100 * nn.n))
        |         + (85 * (COALESCE(s1.insum, 0) + (d1.d // nn.n))) // 100
        |         AS r
        |       FROM v CROSS JOIN nn CROSS JOIN d1
        |       LEFT JOIN s1 ON v.node = s1.dst),
        |d2 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d FROM r2
        |       LEFT JOIN ow ON r2.node = ow.src WHERE ow.wout IS NULL),
        |s2 AS (SELECT e.dst, CAST(SUM((r2.r * e.w) // ow.wout)
        |         AS BIGINT) AS insum
        |       FROM e JOIN r2 ON e.src = r2.node
        |              JOIN ow ON e.src = ow.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT v.node, (15000000000000 // (100 * nn.n))
        |         + (85 * (COALESCE(s2.insum, 0) + (d2.d // nn.n))) // 100
        |         AS r
        |       FROM v CROSS JOIN nn CROSS JOIN d2
        |       LEFT JOIN s2 ON v.node = s2.dst)
        |SELECT node, r AS rank_units FROM r3 ORDER BY node""".stripMargin) {
      (s, d) =>
        // Served from the shared edge frame (r20): q97 and q99 iterate
        // over the SAME lineitem⋈orders groupBy — built once per fixture
        // (SharedFrames.custSuppEdges), the fixed-point iterations stay
        // in the timed body. Result-identical (SharedFramesSpec).
        graft.ops.Graph.pageRankFixedPoint(
            SharedFrames.custSuppEdges(s, d), "src", "dst", "w",
            iters = 3)
          .orderBy("node")
    },

    // ── personalized (topic-sensitive) PageRank: teleport restricted to
    //    every 10th customer, so supplier ranks measure relevance TO that
    //    customer cohort (the related-items shape). Same exact-integer
    //    recurrence as q97, seed-restricted base + dangling terms. ──
    QueryDef("q99_ppr",
      """WITH e AS (
        |  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
        |         COUNT(*) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |sd AS (SELECT node, (node LIKE 'c%' AND
        |         CAST(substr(node, 2) AS BIGINT) % 10 = 0) AS seed FROM v),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e
        |       GROUP BY 1),
        |ns AS (SELECT CAST(SUM(CASE WHEN seed THEN 1 ELSE 0 END)
        |         AS BIGINT) AS ns FROM sd),
        |r0 AS (SELECT node, seed,
        |         CASE WHEN seed THEN 1000000000000 // ns ELSE 0 END AS r
        |       FROM sd CROSS JOIN ns),
        |d0 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d FROM r0
        |       LEFT JOIN ow ON r0.node = ow.src WHERE ow.wout IS NULL),
        |s0 AS (SELECT e.dst, CAST(SUM((r0.r * e.w) // ow.wout)
        |         AS BIGINT) AS insum
        |       FROM e JOIN r0 ON e.src = r0.node
        |              JOIN ow ON e.src = ow.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT sd.node, sd.seed,
        |         CASE WHEN sd.seed THEN 15000000000000 // (100 * ns.ns)
        |              ELSE 0 END
        |         + (85 * (COALESCE(s0.insum, 0) +
        |             CASE WHEN sd.seed THEN d0.d // ns.ns ELSE 0 END)) // 100
        |         AS r
        |       FROM sd CROSS JOIN ns CROSS JOIN d0
        |       LEFT JOIN s0 ON sd.node = s0.dst),
        |d1 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d FROM r1
        |       LEFT JOIN ow ON r1.node = ow.src WHERE ow.wout IS NULL),
        |s1 AS (SELECT e.dst, CAST(SUM((r1.r * e.w) // ow.wout)
        |         AS BIGINT) AS insum
        |       FROM e JOIN r1 ON e.src = r1.node
        |              JOIN ow ON e.src = ow.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT sd.node, sd.seed,
        |         CASE WHEN sd.seed THEN 15000000000000 // (100 * ns.ns)
        |              ELSE 0 END
        |         + (85 * (COALESCE(s1.insum, 0) +
        |             CASE WHEN sd.seed THEN d1.d // ns.ns ELSE 0 END)) // 100
        |         AS r
        |       FROM sd CROSS JOIN ns CROSS JOIN d1
        |       LEFT JOIN s1 ON sd.node = s1.dst),
        |d2 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d FROM r2
        |       LEFT JOIN ow ON r2.node = ow.src WHERE ow.wout IS NULL),
        |s2 AS (SELECT e.dst, CAST(SUM((r2.r * e.w) // ow.wout)
        |         AS BIGINT) AS insum
        |       FROM e JOIN r2 ON e.src = r2.node
        |              JOIN ow ON e.src = ow.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT sd.node, sd.seed,
        |         CASE WHEN sd.seed THEN 15000000000000 // (100 * ns.ns)
        |              ELSE 0 END
        |         + (85 * (COALESCE(s2.insum, 0) +
        |             CASE WHEN sd.seed THEN d2.d // ns.ns ELSE 0 END)) // 100
        |         AS r
        |       FROM sd CROSS JOIN ns CROSS JOIN d2
        |       LEFT JOIN s2 ON sd.node = s2.dst)
        |SELECT node, r AS rank_units FROM r3 ORDER BY node""".stripMargin) {
      (s, d) =>
        graft.ops.Graph.personalizedPageRank(
            SharedFrames.custSuppEdges(s, d), "src", "dst", "w",
            col("node").like("c%") &&
              expr("cast(substring(node, 2) as bigint) % 10 = 0"),
            iters = 3)
          .orderBy("node")
    },

    // ── q100: deterministic HyperLogLog distinct — the mergeable-sketch
    //    answer to COUNT(DISTINCT) at 100 TB (exact distinct shuffles
    //    every value; the sketch shuffles ≤ m=256 register rows per group
    //    and per-shard sketches union by per-register max without
    //    revisiting data). Registers are derived from md5-60, so the
    //    DuckDB oracle replays the sketch bit-for-bit; the harmonic sum is
    //    an exact fixed-point BIGINT (addition-order-proof), and the one
    //    transcendental in the small-range branch (256·ln(256/v)) was
    //    verified to round identically across engines for ALL 255 possible
    //    v (see SketchSpec). ──
    QueryDef("q100_hll_distinct",
      s"""WITH h AS (
        |  SELECT l_returnflag,
        |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        |b AS (SELECT l_returnflag, h % 256 AS bucket,
        |        CASE WHEN (h >> 8) = 0 THEN 53
        |             ELSE 53 - length(bin(h >> 8)) END AS rho
        |      FROM h),
        |regs AS (SELECT l_returnflag, bucket, MAX(rho) AS r
        |         FROM b GROUP BY 1, 2),
        |a AS (SELECT l_returnflag,
        |        SUM(CAST(1 AS BIGINT) << (53 - r)) AS s_ne,
        |        COUNT(*) AS nb
        |      FROM regs GROUP BY 1),
        |f AS (SELECT l_returnflag,
        |        s_ne + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS s,
        |        256 - nb AS v
        |      FROM a)
        |SELECT l_returnflag,
        |  CASE
        |    WHEN v > 0 AND $Hll2C8 <= 1280 * CAST(s AS HUGEINT)
        |    THEN CAST(round(256.0 * ln(256.0 / CAST(v AS DOUBLE))) AS BIGINT)
        |    ELSE CAST(($Hll2C8 + s) // (2 * CAST(s AS HUGEINT)) AS BIGINT)
        |  END AS est
        |FROM f ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      graft.ops.Sketches.hllDistinct(Tables.lineitem(s, d),
          Seq("l_returnflag"), "l_partkey", p = 8)
        .orderBy("l_returnflag")
    },

    // ── q168: HLL intersection estimate (inclusion–exclusion) — the
    //    cross-corpus overlap triage over already-built mergeable
    //    sketches: distinct clicking users ∩ distinct purchasing users,
    //    |A∩B| ≈ est(A)+est(B)−est(A∪B) floored at 0. All three
    //    estimates replay q100's deterministic fixed-point arithmetic;
    //    the union is the per-bucket register max. ──
    QueryDef("q168_hll_intersect",
      s"""WITH ha AS (
         |  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) AS h
         |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         |ba AS (SELECT h % 256 AS bucket,
         |         CASE WHEN (h >> 8) = 0 THEN 53
         |              ELSE 53 - length(bin(h >> 8)) END AS rho FROM ha),
         |ra AS (SELECT bucket, MAX(rho) AS r FROM ba GROUP BY 1),
         |hb AS (
         |  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) AS h
         |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |bb AS (SELECT h % 256 AS bucket,
         |         CASE WHEN (h >> 8) = 0 THEN 53
         |              ELSE 53 - length(bin(h >> 8)) END AS rho FROM hb),
         |rb2 AS (SELECT bucket, MAX(rho) AS r FROM bb GROUP BY 1),
         |ru AS (SELECT bucket, MAX(r) AS r FROM (
         |         SELECT * FROM ra UNION ALL SELECT * FROM rb2) GROUP BY 1),
         |fa AS (SELECT s_ne + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS s,
         |         256 - nb AS v FROM (
         |           SELECT SUM(CAST(1 AS BIGINT) << (53 - r)) AS s_ne,
         |             COUNT(*) AS nb FROM ra)),
         |fb AS (SELECT s_ne + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS s,
         |         256 - nb AS v FROM (
         |           SELECT SUM(CAST(1 AS BIGINT) << (53 - r)) AS s_ne,
         |             COUNT(*) AS nb FROM rb2)),
         |fu AS (SELECT s_ne + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS s,
         |         256 - nb AS v FROM (
         |           SELECT SUM(CAST(1 AS BIGINT) << (53 - r)) AS s_ne,
         |             COUNT(*) AS nb FROM ru)),
         |ests AS (SELECT
         |  (SELECT CASE
         |     WHEN v > 0 AND $Hll2C8 <= 1280 * CAST(s AS HUGEINT)
         |     THEN CAST(round(256.0 * ln(256.0 / CAST(v AS DOUBLE))) AS BIGINT)
         |     ELSE CAST(($Hll2C8 + s) // (2 * CAST(s AS HUGEINT)) AS BIGINT)
         |     END FROM fa) AS est_a,
         |  (SELECT CASE
         |     WHEN v > 0 AND $Hll2C8 <= 1280 * CAST(s AS HUGEINT)
         |     THEN CAST(round(256.0 * ln(256.0 / CAST(v AS DOUBLE))) AS BIGINT)
         |     ELSE CAST(($Hll2C8 + s) // (2 * CAST(s AS HUGEINT)) AS BIGINT)
         |     END FROM fb) AS est_b,
         |  (SELECT CASE
         |     WHEN v > 0 AND $Hll2C8 <= 1280 * CAST(s AS HUGEINT)
         |     THEN CAST(round(256.0 * ln(256.0 / CAST(v AS DOUBLE))) AS BIGINT)
         |     ELSE CAST(($Hll2C8 + s) // (2 * CAST(s AS HUGEINT)) AS BIGINT)
         |     END FROM fu) AS est_union)
         |SELECT est_a, est_b, est_union,
         |  greatest(CAST(0 AS BIGINT), est_a + est_b - est_union)
         |    AS est_intersect
         |FROM ests""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
      val ra = graft.ops.Sketches.hllRegisters(
        ev.where(col("event_type") === "click"), Seq.empty, "user_id")
      val rb = graft.ops.Sketches.hllRegisters(
        ev.where(col("event_type") === "purchase"), Seq.empty, "user_id")
      graft.ops.Sketches.hllIntersectEstimate(ra, rb, Seq.empty)
    },

    // ── q169: KMV intersection estimate — the PRECISION tier q168's
    //    contract points at: same clicking-users ∩ purchasing-users
    //    question, but over k-minimum-values sketches (k=64), where the
    //    intersection is estimated through the Jaccard K∩/|L| instead of
    //    inclusion–exclusion, and everything below sketch size is EXACT.
    //    The oracle replays the whole scheme: distinct md5-60 hashes,
    //    bottom-64 per side, merged bottom-64, two membership probes,
    //    floored-ppm Jaccard, and the count as round-half-up of the exact
    //    rational k_inter·est_union/nu via one integral division
    //    ((2·num + den) // (2·den)) — the last round(<double ratio>)
    //    publication was converted in r18; see the r17 sweep. ──
    QueryDef("q169_kmv_intersect",
      s"""WITH ha AS (
         |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) AS h
         |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         |la AS (SELECT h FROM ha ORDER BY h LIMIT 64),
         |hb AS (
         |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) AS h
         |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |lb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
         |lu AS (SELECT DISTINCT h FROM (
         |         SELECT h FROM la UNION ALL SELECT h FROM lb)
         |       ORDER BY h LIMIT 64),
         |ea AS (SELECT count(*) AS n, max(h) AS hk FROM la),
         |eb AS (SELECT count(*) AS n, max(h) AS hk FROM lb),
         |eu AS (SELECT count(*) AS n, max(h) AS hk FROM lu),
         |ki AS (SELECT count(*) AS c FROM lu
         |       WHERE h IN (SELECT h FROM la) AND h IN (SELECT h FROM lb)),
         |ests AS (SELECT
         |  (SELECT CAST(CASE WHEN n < 64 OR hk = 0 THEN n
         |     ELSE ($Kmv2C64 + hk) // (2 * CAST(hk AS HUGEINT))
         |     END AS BIGINT) FROM ea) AS est_a,
         |  (SELECT CAST(CASE WHEN n < 64 OR hk = 0 THEN n
         |     ELSE ($Kmv2C64 + hk) // (2 * CAST(hk AS HUGEINT))
         |     END AS BIGINT) FROM eb) AS est_b,
         |  (SELECT CAST(CASE WHEN n < 64 OR hk = 0 THEN n
         |     ELSE ($Kmv2C64 + hk) // (2 * CAST(hk AS HUGEINT))
         |     END AS BIGINT) FROM eu) AS est_union,
         |  (SELECT c FROM ki) AS k_inter,
         |  (SELECT n FROM eu) AS nu)
         |SELECT est_a, est_b, est_union, k_inter,
         |  CAST(k_inter * CAST(1000000 AS BIGINT) // nu AS BIGINT) AS jaccard_ppm,
         |  CAST((2 * CAST(k_inter AS HUGEINT) * est_union + nu)
         |    // (2 * CAST(nu AS HUGEINT)) AS BIGINT) AS est_intersect
         |FROM ests""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
      val sa = graft.ops.Sketches.kmvSketch(
        ev.where(col("event_type") === "click"), Seq.empty, "user_id", k = 64)
      val sb = graft.ops.Sketches.kmvSketch(
        ev.where(col("event_type") === "purchase"), Seq.empty, "user_id", k = 64)
      graft.ops.Sketches.kmvIntersectEstimate(sa, sb, Seq.empty, k = 64)
    },

    // ── q170: pairwise Cohen's kappa — the inter-annotator QC matrix of
    //    a labeling operation (which rater pairs agree beyond chance).
    //    Fixture: each event is a rating — item = event_id div 8, rater =
    //    event_id % 8 (≤ one rating per (item, rater) by construction),
    //    label = event_type. Kappa is ONE integer ratio (n·agree −
    //    Σ naᶜ·nbᶜ over n² − Σ naᶜ·nbᶜ), HUGEINT-replayed and published
    //    as SIGNED integer ppm (sign split out, |num|·10⁶ // den —
    //    trunc-toward-zero on both engines; never a rounded double). ──
    QueryDef("q170_annotator_kappa",
      """WITH r AS (SELECT event_id // 8 AS i, event_id % 8 AS ra,
        |             event_type AS l FROM events),
        |p AS (SELECT x.ra AS a, y.ra AS b, x.l AS la, y.l AS lb
        |      FROM r x JOIN r y ON x.i = y.i AND x.ra < y.ra),
        |bse AS (SELECT a, b, count(*) AS n,
        |         CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
        |           AS agree
        |       FROM p GROUP BY 1, 2),
        |ma AS (SELECT a, b, la AS c, count(*) AS na FROM p GROUP BY 1, 2, 3),
        |mb AS (SELECT a, b, lb AS c, count(*) AS nb FROM p GROUP BY 1, 2, 3),
        |pe AS (SELECT ma.a, ma.b, sum(CAST(na AS HUGEINT) * nb) AS pen
        |       FROM ma JOIN mb ON ma.a = mb.a AND ma.b = mb.b AND ma.c = mb.c
        |       GROUP BY 1, 2)
        |SELECT bse.a AS rater_a, bse.b AS rater_b, n, agree,
        |  CASE WHEN CAST(n AS HUGEINT) * n - pen <> 0
        |    THEN CAST((CASE WHEN CAST(n AS HUGEINT) * agree - pen < 0
        |           THEN -1 ELSE 1 END) *
        |      (abs(CAST(n AS HUGEINT) * agree - pen) * 1000000
        |        // (CAST(n AS HUGEINT) * n - pen)) AS BIGINT)
        |  END AS kappa_ppm
        |FROM bse JOIN pe ON bse.a = pe.a AND bse.b = pe.b
        |ORDER BY rater_a, rater_b""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
      val ratings = ev.select(expr("event_id div 8").as("item"),
        pmod(col("event_id"), lit(8L)).as("rater"),
        col("event_type").as("lab"))
      graft.ops.Scoring.cohenKappaPairs(ratings, "item", "rater", "lab")
        .orderBy("rater_a", "rater_b")
    },

    // ── q171: nDCG@8 per query — graded-relevance retrieval eval
    //    closing the ranking-eval tier (q149 recall = binary, q160 RBO =
    //    ranking-vs-ranking, this = ranking-vs-labels). Fixture: each
    //    user is a query, the run ranks their events by value desc
    //    (event_id tie-break), labels grade event_type purchase=3 /
    //    signup=2 / click=1 / else 0; IDCG from the full label set
    //    (trec_eval semantics). Gains are COMPILE-TIME LITERALS shared
    //    with the op (Scoring.ndcgGainCaseSql — no run-time ln() on
    //    either engine; the cross-libm round-6 hazard, see r15),
    //    summed as DECIMAL(18,6); the published ratio is integer ppm
    //    via ONE exact-decimal integral division (div ≡ //, trunc ≡
    //    floor on the non-negative ratio) — round-6 of the double
    //    quotient diverged cross-engine on boundary-adjacent rationals
    //    in BOTH the r15 and r16 driver runs (see ndcgAtK doc). r17
    //    found the REAL driver-red root cause: dcg/idcg left the query
    //    as DECIMAL(18,6) — the one type the moneyStr contract forbids
    //    (the driver's hasher canonicalizes decimals asymmetrically per
    //    engine, so identical values hash-differ data-independently).
    //    Both sides now publish lossless micro-unit BIGINTs
    //    dcg_u/idcg_u; SparkEntrySpec bans DecimalType outputs. ──
    QueryDef("q171_ndcg",
      s"""WITH ev AS (SELECT user_id AS q, event_id AS doc, value AS v,
        |              event_type AS t FROM events WHERE value IS NOT NULL),
        |runs AS (SELECT q, doc, row_number() OVER (
        |           PARTITION BY q ORDER BY v DESC, doc) AS rnk FROM ev),
        |r8 AS (SELECT q, doc, rnk FROM runs WHERE rnk <= 8),
        |qrels AS (SELECT q, doc, CASE t WHEN 'purchase' THEN 3
        |            WHEN 'signup' THEN 2 WHEN 'click' THEN 1
        |            ELSE 0 END AS rel FROM ev),
        |dg AS (SELECT r8.q, CAST(sum(
        |           ${graft.ops.Scoring.ndcgGainCaseSql(
                       "coalesce(rel, 0)", "rnk", maxRel = 3, k = 8)})
        |         AS DECIMAL(18,6)) AS dcg
        |       FROM r8 LEFT JOIN qrels ON r8.q = qrels.q
        |         AND r8.doc = qrels.doc
        |       GROUP BY 1),
        |ideal AS (SELECT q, rel, row_number() OVER (
        |            PARTITION BY q ORDER BY rel DESC, doc) AS ipos
        |          FROM qrels),
        |ig AS (SELECT q, CAST(sum(
        |           ${graft.ops.Scoring.ndcgGainCaseSql(
                       "rel", "ipos", maxRel = 3, k = 8)})
        |         AS DECIMAL(18,6)) AS idcg
        |       FROM ideal WHERE ipos <= 8 GROUP BY 1)
        |SELECT dg.q AS query_id,
        |  CAST(dcg * 1000000 AS BIGINT) AS dcg_u,
        |  CAST(idcg * 1000000 AS BIGINT) AS idcg_u,
        |  CASE WHEN idcg > 0
        |    THEN CAST((CAST(dcg * 1000000 AS HUGEINT) * 1000000)
        |      // CAST(idcg * 1000000 AS HUGEINT) AS BIGINT)
        |  END AS ndcg_ppm
        |FROM dg JOIN ig ON dg.q = ig.q
        |ORDER BY query_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .where(col("value").isNotNull)
        .select(col("user_id").as("query_id"), col("event_id").as("doc"),
          col("value"), col("event_type"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("value").desc, col("doc").asc)
      val runs = ev.withColumn("rnk", row_number().over(w))
        .select(col("query_id"), col("doc"), col("rnk"))
      val qrels = ev.select(col("query_id"), col("doc"),
        when(col("event_type") === "purchase", 3L)
          .when(col("event_type") === "signup", 2L)
          .when(col("event_type") === "click", 1L)
          .otherwise(0L).as("rel"))
      graft.ops.Scoring.ndcgAtK(runs, "query_id", "doc", "rnk",
          qrels, "rel", k = 8)
        .orderBy("query_id")
    },

    // ── q172: MAP/MRR@8 per query — the binary-relevance companions to
    //    q171's nDCG over the same run (events ranked by value desc per
    //    user); a doc is relevant when its type is purchase/signup/click.
    //    Pure integer ppm end to end: precision-at-hit terms are
    //    cum·10⁶ // rnk micro-units summed as BIGINT, AP divides the sum
    //    by min(R, k) with R from the FULL label set (missed positives
    //    count against the run), RR is 10⁶ // first_hit — no double
    //    ratio is ever rounded (the q171 divergence class). ──
    QueryDef("q172_map_mrr",
      """WITH ev AS (SELECT user_id AS q, event_id AS doc, value AS v,
        |              event_type AS t FROM events WHERE value IS NOT NULL),
        |runs AS (SELECT q, doc, row_number() OVER (
        |           PARTITION BY q ORDER BY v DESC, doc) AS rnk FROM ev),
        |r8 AS (SELECT q, doc, rnk FROM runs WHERE rnk <= 8),
        |qrels AS (SELECT q, doc, CASE WHEN t IN ('purchase', 'signup',
        |            'click') THEN 1 ELSE 0 END AS pos FROM ev),
        |nr AS (SELECT q, CAST(sum(pos) AS BIGINT) AS n_rel
        |       FROM qrels GROUP BY 1),
        |sc AS (SELECT r8.q, r8.rnk, coalesce(pos, 0) AS pos,
        |         sum(coalesce(pos, 0)) OVER (
        |           PARTITION BY r8.q ORDER BY r8.rnk) AS cum
        |       FROM r8 LEFT JOIN qrels ON r8.q = qrels.q
        |         AND r8.doc = qrels.doc),
        |pq AS (SELECT q, CAST(sum(pos) AS BIGINT) AS hits,
        |         min(CASE WHEN pos = 1 THEN rnk END) AS first_hit,
        |         sum(CASE WHEN pos = 1 THEN CAST(cum AS BIGINT) *
        |           CAST(1000000 AS BIGINT) // rnk END) AS psum
        |       FROM sc GROUP BY 1)
        |SELECT nr.q AS query_id, n_rel,
        |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
        |  CAST(coalesce(CAST(1000000 AS BIGINT) // first_hit, 0)
        |    AS BIGINT) AS rr_ppm,
        |  CASE WHEN n_rel > 0 THEN CAST(
        |    coalesce(psum, 0) // least(n_rel, 8) AS BIGINT) END AS ap_ppm
        |FROM nr LEFT JOIN pq ON nr.q = pq.q
        |ORDER BY query_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .where(col("value").isNotNull)
        .select(col("user_id").as("query_id"), col("event_id").as("doc"),
          col("value"), col("event_type"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("value").desc, col("doc").asc)
      val runs = ev.withColumn("rnk", row_number().over(w))
        .select(col("query_id"), col("doc"), col("rnk"))
      val qrels = ev.select(col("query_id"), col("doc"),
        when(col("event_type").isin("purchase", "signup", "click"), 1L)
          .otherwise(0L).as("rel"))
      graft.ops.Scoring.mapMrrAtK(runs, "query_id", "doc", "rnk",
          qrels, "rel", k = 8)
        .orderBy("query_id")
    },

    // ── q101: Count-Min frequency sketch, probed for a deterministic item
    //    subset. The sketch is d=4 rows of w=512 counters (md5-60 row
    //    hashes — oracle-replayable), built with ONE map-side-combined
    //    groupBy whose shuffle carries ≤ d·w counter rows per partition,
    //    never the data; estimates (min over rows) can only over-count.
    //    At scale the 2 KB sketch is broadcast to the probe side. ──
    QueryDef("q101_cms_counts",
      """WITH vals AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem
        |  WHERE l_partkey IS NOT NULL),
        |cells AS (
        |  SELECT i, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || v),
        |           1, 15) AS BIGINT) % 512 AS cell, COUNT(*) AS cnt
        |  FROM vals CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
        |  GROUP BY 1, 2),
        |probe AS (SELECT p_partkey AS item FROM part WHERE p_partkey % 13 = 0),
        |pc AS (
        |  SELECT item, i,
        |    CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
        |           CAST(item AS VARCHAR)), 1, 15) AS BIGINT) % 512 AS cell
        |  FROM probe CROSS JOIN (VALUES (0), (1), (2), (3)) t(i))
        |SELECT item, MIN(COALESCE(cnt, 0)) AS est
        |FROM pc LEFT JOIN cells USING (i, cell)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val cms = graft.ops.Sketches.cmsSketch(Tables.lineitem(s, d),
        "l_partkey", depth = 4, width = 512)
      val probes = Tables.part(s, d)
        .where(col("p_partkey") % 13 === 0).select(col("p_partkey"))
      graft.ops.Sketches.cmsEstimate(cms, probes, "p_partkey",
          depth = 4, width = 512)
        .orderBy("item")
    },

    // ── q102: mergeable fixed-bin histogram + interpolated quantiles —
    //    the sketch answer to exact percentiles (q44) when the data no
    //    longer fits a sort: the histogram build is one map-side-combined
    //    groupBy bounded by the bin count, per-shard histograms merge by
    //    per-bin sum, and the quantile scan touches only the 1000-row
    //    sketch. All counts are exact integers; the interpolation is a
    //    fixed IEEE expression both engines evaluate identically. ──
    QueryDef("q102_hist_quantiles",
      """WITH h AS (
        |  SELECT LEAST(GREATEST(CAST(floor(CAST(o_totalprice AS DOUBLE)
        |           / 500.0) AS BIGINT), 0), 999) AS bin
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |hist AS (SELECT bin, COUNT(*) AS cnt FROM h GROUP BY 1),
        |cum AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum
        |        FROM hist),
        |n AS (SELECT SUM(cnt) AS n FROM hist),
        |probes AS (SELECT CAST(q AS DOUBLE) AS q FROM
        |  (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(q))
        |SELECT q,
        |  CAST(floor((0.0 + 500.0 * (bin +
        |    (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
        |      / CAST(cnt AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS est_u
        |FROM probes CROSS JOIN n JOIN cum
        |  ON CAST(cum - cnt AS DOUBLE) < q * CAST(n AS DOUBLE)
        | AND q * CAST(n AS DOUBLE) <= CAST(cum AS DOUBLE)
        |ORDER BY q""".stripMargin) { (s, d) =>
      val hist = graft.ops.Sketches.histogram(Tables.orders(s, d),
        "o_totalprice", lo = 0.0, hi = 500000.0, bins = 1000)
      graft.ops.Sketches.histQuantiles(hist,
          Seq(0.25, 0.5, 0.75, 0.9, 0.99), lo = 0.0, hi = 500000.0,
          bins = 1000)
        .orderBy("q")
    },

    // ── q103: per-node triangle counts over the part co-purchase graph
    //    (parts linked when they appear in the same order) — the clustering
    //    /cohesion primitive of graph-based corpus curation. Degree-ordered
    //    orientation (Suri & Vassilvitskii 2011) makes each triangle
    //    countable from exactly one wedge and caps wedge fan-out at the
    //    oriented out-degree, the hub defense that survives skewed graphs;
    //    the oracle replays the identical orientation and joins. ──
    QueryDef("q103_triangles",
      s"""WITH $CoPurchaseCtes,
        |deg AS (SELECT node, COUNT(*) AS deg FROM
        |  (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END
        |           AS src,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END
        |           AS dst,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END
        |           AS dd
        |  FROM (SELECT u, v, d1.deg AS du, d2.deg AS dv
        |        FROM und JOIN deg d1 ON und.u = d1.node
        |                 JOIN deg d2 ON und.v = d2.node)),
        |w AS (
        |  SELECT e1.src, e1.dst AS x, e2.dst AS y
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src
        |  WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
        |tri AS (
        |  SELECT w.src AS n0, w.x AS n1, w.y AS n2
        |  FROM w JOIN o ON w.x = o.src AND w.y = o.dst),
        |cnt AS (SELECT node, COUNT(*) AS triangles FROM
        |  (SELECT n0 AS node FROM tri UNION ALL SELECT n1 FROM tri
        |   UNION ALL SELECT n2 FROM tri)
        |  GROUP BY 1)
        |SELECT deg.node, COALESCE(cnt.triangles, 0) AS triangles
        |FROM deg LEFT JOIN cnt ON deg.node = cnt.node
        |ORDER BY deg.node""".stripMargin) { (s, d) =>
      // Served from the shared canonical edge frame (r20): the ops'
      // internal canonicalization over the already-canonical frame is an
      // idempotent distinct of the (small) edge set — the per-order pair
      // explosion is paid once per fixture, not per graph query per rep.
      graft.ops.Graph.triangleCounts(SharedFrames.coPurchase(s, d), "u", "v")
        .orderBy("node")
    },

    // ── q105: semi-supervised label propagation — spread brand labels
    //    from a 20% seeded subset of parts across the co-purchase graph
    //    (the graph-based classification primitive: propagate
    //    quality/topic/spam labels from a small labeled set over a
    //    similarity or link graph). Two synchronous majority-vote rounds,
    //    ties to the smallest label, seeds clamped — deterministic, so
    //    the oracle unrolls the identical votes. ──
    QueryDef("q105_label_prop",
      s"""WITH $CoPurchaseCtes,
        |adj AS (SELECT u AS node, v AS nbr FROM und
        |        UNION ALL SELECT v, u FROM und),
        |seeds AS (SELECT CAST(p_partkey AS VARCHAR) AS node,
        |            MIN(p_brand) AS seed
        |          FROM part WHERE p_partkey % 5 = 0 GROUP BY 1),
        |nodes AS (SELECT DISTINCT node FROM adj),
        |l0 AS (SELECT nodes.node, seeds.seed AS label
        |       FROM nodes LEFT JOIN seeds USING (node)),
        |v1 AS (SELECT adj.node, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l0 l ON adj.nbr = l.node
        |       WHERE l.label IS NOT NULL GROUP BY 1, 2),
        |p1 AS (SELECT node, label AS voted FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
        |         FROM v1) WHERE rn = 1),
        |l1 AS (SELECT n.node, COALESCE(s.seed, p1.voted, l0.label) AS label
        |       FROM nodes n LEFT JOIN seeds s USING (node)
        |         LEFT JOIN p1 USING (node) LEFT JOIN l0 USING (node)),
        |v2 AS (SELECT adj.node, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l1 l ON adj.nbr = l.node
        |       WHERE l.label IS NOT NULL GROUP BY 1, 2),
        |p2 AS (SELECT node, label AS voted FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
        |         FROM v2) WHERE rn = 1),
        |l2 AS (SELECT n.node, COALESCE(s.seed, p2.voted, l1.label) AS label
        |       FROM nodes n LEFT JOIN seeds s USING (node)
        |         LEFT JOIN p2 USING (node) LEFT JOIN l1 USING (node))
        |SELECT node, label FROM l2 ORDER BY node""".stripMargin) { (s, d) =>
      val seeds = Tables.part(s, d)
        .where(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").cast("string").as("node"),
          col("p_brand").as("brand"))
      graft.ops.Graph.labelPropagation(SharedFrames.coPurchase(s, d),
          "u", "v", seeds, "node", "brand", iters = 2)
        .orderBy("node")
    },

    // ── q106: deterministic random walks — the DeepWalk/node2vec corpus
    //    generator over the co-purchase graph: 2 walks × 4 hops from every
    //    node, each hop hash-seeded (md5-60(start:walk:t:cur) mod degree
    //    over the sorted neighbor list) instead of RNG-seeded, so the walk
    //    corpus is a pure function of the graph and the oracle replays
    //    every hop. ──
    QueryDef("q106_random_walks", WalkOracleSql) { (s, d) =>
      graft.ops.Graph.randomWalks(SharedFrames.coPurchase(s, d), "u", "v",
          walksPerNode = 2, walkLen = 4)
        .orderBy("start", "walk")
    },

    // ── q111: entity clustering — q96's fuzzy pairs closed into canonical
    //    entities by connected components (the full Fellegi–Sunter ER
    //    pipeline: block → verify → cluster → canonicalize). Every
    //    distinct name gets an entity_id (the smallest member) and a keep
    //    flag for the canonical representative; the oracle replays the
    //    closure with a recursive CTE over the identical pair SQL. ──
    QueryDef("q111_entity_clusters",
      s"""WITH RECURSIVE d AS (SELECT DISTINCT p_name AS k FROM part),
        |b AS (SELECT k, split_part(k, ' ', 2) AS blk FROM d),
        |pairs AS (
        |  SELECT a.k AS key_a, c.k AS key_b
        |  FROM b a JOIN b c ON a.blk = c.blk AND a.k < c.k
        |    AND abs(length(a.k) - length(c.k)) <= 3
        |  WHERE levenshtein(a.k, c.k) <= 3),
        |${OracleSql.closureCtes("pairs", "key_a", "key_b", "name", "eid")}
        |SELECT d.k AS name, COALESCE(c.eid, d.k) AS entity_id,
        |  CAST(COALESCE(c.eid, d.k) = d.k AS INT) AS keep
        |FROM d LEFT JOIN comp c ON d.k = c.name
        |ORDER BY name""".stripMargin) { (s, d) =>
      val part = Tables.part(s, d)
      val pairs = graft.ops.Dedup.editDistancePairs(part, "p_name",
        k => element_at(split(k, " "), 2), maxDist = 3)
      graft.ops.Dedup.dedupAssign(
          part.select(col("p_name").as("name")).distinct(), "name",
          pairs, aCol = "key_a", bCol = "key_b")
        .select(col("name"), col("cluster_id").as("entity_id"), col("keep"))
        .orderBy("name")
    },

    // ── q112: order-independent table checksum — dataset-equality
    //    validation at 100 TB without sorting or moving rows: per-group
    //    (n_rows, bit_xor of md5-60 row hashes, exact decimal row-hash
    //    sum). XOR is associative+commutative (any partitioning, any
    //    order), the decimal sum catches the XOR blind spot (row pairs
    //    canceling), and the count catches empty-vs-empty. Two engines /
    //    two snapshots agree on these three numbers per group iff the row
    //    multisets agree (up to md5 collisions). ──
    QueryDef("q112_table_checksum",
      """WITH h AS (
        |  SELECT lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
        |      1, 15) AS BIGINT) AS h
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_rows, bit_xor(h) AS checksum_xor,
        |  CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT) AS VARCHAR)
        |    AS checksum_sum
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          graft.ops.Dedup.md5Hash60(concat(col("doc_id").cast("string"),
            lit(":"), col("text"))).as("h"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("checksum_xor"),
          sum(col("h").cast("decimal(38,0)")).cast("string")
            .as("checksum_sum"))
        .orderBy("lang")
    },

    // ── q115: k-core extraction (k=3) over the REPEAT-co-purchase graph —
    //    the standard graph-cleanup filter separating the cohesive core
    //    from tree-like fringe (Seidman 1983). Iterative peeling to the
    //    fixpoint in the engine (10 cascade rounds at sf0.01); the oracle
    //    unrolls 16 peels — peeling a fixpoint is the identity, so the
    //    over-unroll is harmless and the equality proves the engine found
    //    the true core. NOTE: the 16-round unroll is a FIXTURE constant
    //    with a 1.6x margin over the observed depth; a fixture whose peel
    //    cascade exceeds 16 rounds would need KCoreOracleSql's constant
    //    raised (the engine side is depth-independent). ──
    QueryDef("q115_kcore", KCoreOracleSql) { (s, d) =>
      graft.ops.Graph.kCore(SharedFrames.coPurchaseW2(s, d), "u", "v", k = 3)
        .orderBy("node")
    },

    // ── q116: common-neighbor link prediction (Liben-Nowell–Kleinberg)
    //    over the repeat-co-purchase graph: pairs sharing ≥ 2 neighbors,
    //    counting only shared neighbors of degree ≤ 50 — the hub cap that
    //    bounds wedge fan-out on power-law graphs (co-occurring at a
    //    mega-hub is not relatedness evidence, the IDF argument). ──
    QueryDef("q116_common_neighbors",
      s"""WITH $CoPurchaseW2Ctes,
         |adj AS (SELECT u AS node, v AS nbr FROM und
         |        UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT node, COUNT(*) AS dg FROM adj GROUP BY 1),
         |centers AS (SELECT node FROM deg WHERE dg <= 50),
         |capped AS (SELECT adj.node, adj.nbr FROM adj
         |           JOIN centers USING (node)),
         |w AS (SELECT e1.node, e1.nbr AS node_a, e2.nbr AS node_b
         |      FROM capped e1 JOIN capped e2 ON e1.node = e2.node
         |      WHERE e1.nbr < e2.nbr),
         |cn AS (SELECT node_a, node_b, COUNT(*) AS common
         |       FROM w GROUP BY 1, 2)
         |SELECT node_a, node_b, common FROM cn WHERE common >= 2
         |ORDER BY node_a, node_b""".stripMargin) { (s, d) =>
      graft.ops.Graph.commonNeighborPairs(SharedFrames.coPurchaseW2(s, d),
          "u", "v", maxDeg = 50, minCommon = 2)
        .orderBy("node_a", "node_b")
    },

    // ── q117: per-group histogram quantiles — the mergeable-sketch
    //    counterpart of q44's EXACT per-priority quantiles: per-group
    //    histograms are group×bins-bounded, merge by per-(key,bin) sum,
    //    and the cumulative window partitions on the group key so no
    //    task ever sees more than one group's 1000 bins. ──
    QueryDef("q117_grouped_quantiles",
      """WITH h AS (
        |  SELECT o_orderpriority,
        |    LEAST(GREATEST(CAST(floor(CAST(o_totalprice AS DOUBLE)
        |      / 500.0) AS BIGINT), 0), 999) AS bin
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |hist AS (SELECT o_orderpriority, bin, COUNT(*) AS cnt
        |         FROM h GROUP BY 1, 2),
        |cum AS (SELECT o_orderpriority, bin, cnt,
        |          SUM(cnt) OVER (PARTITION BY o_orderpriority
        |                         ORDER BY bin) AS cum
        |        FROM hist),
        |n AS (SELECT o_orderpriority, SUM(cnt) AS n FROM hist GROUP BY 1),
        |probes AS (SELECT CAST(q AS DOUBLE) AS q FROM
        |  (VALUES (0.5), (0.9), (0.99)) t(q))
        |SELECT n.o_orderpriority, q,
        |  CAST(floor((0.0 + 500.0 * (bin +
        |    (q * CAST(n.n AS DOUBLE) - CAST(cum.cum - cum.cnt AS DOUBLE))
        |      / CAST(cum.cnt AS DOUBLE))) * 1000000 + 0.5) AS BIGINT)
        |    AS est_u
        |FROM probes CROSS JOIN n JOIN cum
        |  ON cum.o_orderpriority = n.o_orderpriority
        | AND CAST(cum.cum - cum.cnt AS DOUBLE) < q * CAST(n.n AS DOUBLE)
        | AND q * CAST(n.n AS DOUBLE) <= CAST(cum.cum AS DOUBLE)
        |ORDER BY n.o_orderpriority, q""".stripMargin) { (s, d) =>
      val keys = Seq("o_orderpriority")
      val hist = graft.ops.Sketches.histogram(Tables.orders(s, d),
        "o_totalprice", lo = 0.0, hi = 500000.0, bins = 1000, keyCols = keys)
      graft.ops.Sketches.histQuantiles(hist, Seq(0.5, 0.9, 0.99),
          lo = 0.0, hi = 500000.0, bins = 1000, keyCols = keys)
        .orderBy("o_orderpriority", "q")
    },

    // ── q119: AUTO-ranged histogram quantiles — the first-pass profiling
    //    case q102/q117 cannot serve: nobody knows [lo, hi] yet. One
    //    extra exact min/max aggregate per group, broadcast back onto the
    //    scan, then the same mergeable binning + containing-bin
    //    interpolation; the sketch rows carry their derived bounds. All
    //    arithmetic is fixed IEEE expressions over exact integer counts,
    //    so the oracle replays bounds, bins and estimates bit-for-bit. ──
    QueryDef("q119_auto_quantiles",
      """WITH v AS (SELECT l_returnflag AS k,
        |             CAST(l_extendedprice AS DOUBLE) AS v
        |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |st AS (SELECT k, MIN(v) AS lo, MAX(v) AS hi FROM v GROUP BY 1),
        |b AS (SELECT v.k, st.lo, st.hi,
        |        CASE WHEN st.hi = st.lo THEN 0
        |             ELSE CAST(LEAST(floor((v.v - st.lo)
        |                    / ((st.hi - st.lo) / 512)), 511.0) AS INT)
        |        END AS bin
        |      FROM v JOIN st USING (k)),
        |hist AS (SELECT k, lo, hi, bin, COUNT(*) AS cnt
        |         FROM b GROUP BY 1, 2, 3, 4),
        |cum AS (SELECT k, lo, hi, bin, cnt,
        |          SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum
        |        FROM hist),
        |n AS (SELECT k, SUM(cnt) AS n FROM hist GROUP BY 1),
        |probes AS (SELECT CAST(q AS DOUBLE) AS q FROM
        |  (VALUES (0.5), (0.9), (0.99)) t(q))
        |SELECT n.k AS l_returnflag, q,
        |  CAST(floor((CASE WHEN cum.hi = cum.lo THEN cum.lo
        |        ELSE cum.lo + ((cum.hi - cum.lo) / 512) * (cum.bin +
        |          (q * CAST(n.n AS DOUBLE)
        |            - CAST(cum.cum - cum.cnt AS DOUBLE))
        |            / CAST(cum.cnt AS DOUBLE)) END) * 1000000 + 0.5)
        |    AS BIGINT) AS est_u
        |FROM probes CROSS JOIN n JOIN cum
        |  ON cum.k = n.k
        | AND CAST(cum.cum - cum.cnt AS DOUBLE) < q * CAST(n.n AS DOUBLE)
        | AND q * CAST(n.n AS DOUBLE) <= CAST(cum.cum AS DOUBLE)
        |ORDER BY l_returnflag, q""".stripMargin) { (s, d) =>
      val keys = Seq("l_returnflag")
      // pinned: the sketch feeds BOTH the cumulative and the per-group
      // total branch of the quantile scan — without it the two-pass
      // auto-bounds build runs twice (the q113 multi-branch lesson).
      val hist = graft.core.Caches.pin(graft.ops.Sketches.histogramAuto(
          Tables.lineitem(s, d)
            .select(col("l_returnflag"), col("l_extendedprice")),
          "l_extendedprice", bins = 512, keyCols = keys))
      graft.ops.Sketches.histQuantilesAuto(hist, Seq(0.5, 0.9, 0.99),
          keyCols = keys)
        .orderBy("l_returnflag", "q")
    },

    // ── q121: sessionization — split each user's event stream into
    //    sessions at >6h inactivity gaps (the clickstream / interaction-
    //    log / agent-trajectory segmentation), then roll each session up.
    //    ONE exchange on user_id; both window passes share the per-key
    //    sort. Timestamps floor to µs on BOTH engines first so the gap
    //    comparison can't straddle DuckDB's µs timestamp precision;
    //    tied timestamps can never start a session, so session_seq is a
    //    pure function of the event multiset. ──
    QueryDef("q121_sessionize",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |           FROM events),
        |x AS (SELECT user_id, us, event_type,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 21600000000
        |             THEN 1 ELSE 0 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT user_id, us, event_type,
        |        CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY us
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |      FROM x)
        |SELECT user_id, seq AS session_seq, MIN(us) AS start_us,
        |  MAX(us) AS end_us, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM s GROUP BY 1, 2
        |ORDER BY user_id, session_seq""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"), Tables.floorDiv("ts", 1000L).as("us"),
          col("event_type"))
      graft.ops.Ops.sessionize(ev, "user_id", "us", gap = 21600000000L)
        .groupBy("user_id", "session_seq")
        .agg(min("us").as("start_us"), max("us").as("end_us"),
          count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id", "session_seq")
    },

    // ── q180: ordered-step session funnel — over q121's sessions, how
    //    many reach view → click → purchase IN ORDER (greedy earliest
    //    chain, strict-after tie rule — a pure function of the event
    //    multiset). One exchange for sessionization, one bounded
    //    aggregate per step, one-row funnel exploded long. ──
    QueryDef("q180_session_funnel",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |           FROM events),
        |x AS (SELECT user_id, us, event_type,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 21600000000
        |             THEN 1 ELSE 0 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT user_id, us, event_type,
        |        CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY us
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |      FROM x),
        |t1 AS (SELECT user_id, seq,
        |         min(CASE WHEN event_type = 'view' THEN us END) AS t1
        |       FROM s GROUP BY 1, 2),
        |t2 AS (SELECT s.user_id, s.seq, t1.t1,
        |         min(CASE WHEN event_type = 'click' AND us > t1
        |             THEN us END) AS t2
        |       FROM s JOIN t1 ON s.user_id = t1.user_id AND s.seq = t1.seq
        |       GROUP BY 1, 2, 3),
        |t3 AS (SELECT s.user_id, s.seq, t2.t1, t2.t2,
        |         min(CASE WHEN event_type = 'purchase' AND us > t2
        |             THEN us END) AS t3
        |       FROM s JOIN t2 ON s.user_id = t2.user_id AND s.seq = t2.seq
        |       GROUP BY 1, 2, 3, 4),
        |w AS (SELECT count(*) AS total, count(t1) AS c1, count(t2) AS c2,
        |        count(t3) AS c3 FROM t3)
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        |  c1 AS sessions, c1 * CAST(1000000 AS BIGINT) // total
        |    AS conversion_ppm FROM w
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', c2,
        |  c2 * CAST(1000000 AS BIGINT) // total FROM w
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', c3,
        |  c3 * CAST(1000000 AS BIGINT) // total FROM w
        |ORDER BY step_idx""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"), Tables.floorDiv("ts", 1000L).as("us"),
          col("event_type"))
      graft.ops.Ops.sessionFunnel(ev, "user_id", "us", "event_type",
          Seq("view", "click", "purchase"), gap = 21600000000L)
        .orderBy("step_idx")
    },

    // ── q184: reciprocal-rank fusion — merge a value-ranked run with a
    //    recency-ranked run per user (the lexical+vector fusion shape
    //    without score calibration): each source contributes
    //    floor(1e6/(60+rank)) micro-units, exact integers end to end,
    //    fused re-rank by (score desc, doc asc), top-5. ──
    QueryDef("q184_rrf_fusion",
      """WITH ev AS (SELECT user_id AS q, event_id AS doc, value AS v,
        |              epoch_us(ts) AS us FROM events
        |            WHERE value IS NOT NULL),
        |ra AS (SELECT q, doc, row_number() OVER (
        |         PARTITION BY q ORDER BY v DESC, doc) AS rnk FROM ev),
        |rb AS (SELECT q, doc, row_number() OVER (
        |         PARTITION BY q ORDER BY us DESC, doc) AS rnk FROM ev),
        |u AS (SELECT q, doc, rnk FROM ra WHERE rnk <= 8
        |      UNION ALL SELECT q, doc, rnk FROM rb WHERE rnk <= 8),
        |f AS (SELECT q, doc,
        |        CAST(sum(CAST(1000000 AS BIGINT) // (60 + rnk)) AS BIGINT)
        |          AS rrf_micro
        |      FROM u GROUP BY 1, 2),
        |r AS (SELECT q, doc, rrf_micro, CAST(row_number() OVER (
        |        PARTITION BY q ORDER BY rrf_micro DESC, doc) AS BIGINT)
        |        AS fused_rank
        |      FROM f)
        |SELECT q AS query_id, doc, rrf_micro, fused_rank
        |FROM r WHERE fused_rank <= 5
        |ORDER BY query_id, fused_rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .where(col("value").isNotNull)
        .select(col("user_id").as("query_id"), col("event_id").as("doc"),
          col("value"), Tables.floorDiv("ts", 1000L).as("us"))
      val wa = Window.partitionBy(col("query_id"))
        .orderBy(col("value").desc, col("doc").asc)
      val wb = Window.partitionBy(col("query_id"))
        .orderBy(col("us").desc, col("doc").asc)
      val ra = ev.withColumn("rnk", row_number().over(wa))
        .where(col("rnk") <= 8).select("query_id", "doc", "rnk")
      val rb = ev.withColumn("rnk", row_number().over(wb))
        .where(col("rnk") <= 8).select("query_id", "doc", "rnk")
      graft.ops.Scoring.rrfFuse(ra.unionByName(rb), "query_id", "doc",
          "rnk", k = 60, topK = 5)
        .orderBy("query_id", "fused_rank")
    },

    // ── q185: corpus report card — the one-row dataset-card summary
    //    (docs / tokens / vocabulary / empties / exact-dup rate) with
    //    every number an exact integer; dup counting uses the q14
    //    content-hash key so the report agrees with the dedup stage. ──
    QueryDef("q185_corpus_report",
      """WITH t AS (SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |      AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, text,
        |        len(list_filter(toks, x -> x <> '')) AS ntok FROM t),
        |a AS (SELECT count(*) AS n_docs, CAST(sum(ntok) AS BIGINT)
        |          AS n_tokens,
        |        CAST(sum(CASE WHEN ntok = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS empty_docs,
        |        count(DISTINCT md5(text)) AS n_uniq
        |      FROM d),
        |v AS (SELECT count(DISTINCT tok) AS vocab FROM (
        |        SELECT unnest(toks) AS tok FROM t) WHERE tok <> '')
        |SELECT n_docs, n_tokens, vocab, empty_docs,
        |  n_docs - n_uniq AS dup_docs,
        |  (n_docs - n_uniq) * CAST(1000000 AS BIGINT) // n_docs AS dup_ppm
        |FROM a CROSS JOIN v""".stripMargin) { (s, d) =>
      graft.ops.Profile.corpusReport(Tables.documents(s, d), "doc_id",
        "text")
    },

    // ── q186: Benford first-digit audit over l_extendedprice — the
    //    fabricated-data tripwire. Digit extraction is LOG-FREE (two
    //    comparison ladders against exact power-of-ten literals — a
    //    log10+floor sits one ulp from a bucket flip and libm
    //    implementations differ); expectations are compile-time integer
    //    ppm shared with the op. ──
    QueryDef("q186_benford", {
      val ppm = graft.ops.Profile.BenfordPpm.mkString("[", ", ", "]")
      val mant = (7 to 1 by -1)
        .map(e => s"WHEN x >= 1.0e$e THEN x / 1.0e$e").mkString(" ")
      val dig = (9 to 2 by -1)
        .map(d => s"WHEN m >= $d THEN $d").mkString(" ")
      s"""WITH v AS (SELECT l_extendedprice AS raw,
         |    abs(CAST(l_extendedprice AS DOUBLE)) AS x FROM lineitem),
         |inc AS (SELECT x FROM v WHERE raw IS NOT NULL AND NOT isnan(x)
         |        AND x >= 1.0 AND x < 1.0e8),
         |tot AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM inc) AS n_included,
         |    (SELECT CAST(sum(CASE WHEN raw IS NULL OR isnan(x)
         |         OR x < 1.0 OR x >= 1.0e8 THEN 1 ELSE 0 END) AS BIGINT)
         |     FROM v) AS n_excluded),
         |g AS (SELECT CASE $mant ELSE x END AS m FROM inc),
         |dg AS (SELECT CAST(CASE $dig ELSE 1 END AS BIGINT) AS digit
         |       FROM g),
         |c AS (SELECT digit, count(*) AS cnt FROM dg GROUP BY 1),
         |d9 AS (SELECT unnest(generate_series(1, 9)) AS digit)
         |SELECT d9.digit, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt,
         |  CASE WHEN n_included > 0 THEN coalesce(cnt, 0) *
         |    CAST(1000000 AS BIGINT) // n_included ELSE 0 END AS obs_ppm,
         |  CAST(($ppm)[d9.digit] AS BIGINT) AS exp_ppm,
         |  n_included, n_excluded
         |FROM d9 LEFT JOIN c USING (digit) CROSS JOIN tot
         |ORDER BY d9.digit""".stripMargin
    }) { (s, d) =>
      graft.ops.Profile.benfordAudit(Tables.lineitem(s, d),
          "l_extendedprice", maxExp = 7)
        .orderBy("digit")
    },

    // ── q187: two-proportion A/B readout — arms by user_id parity,
    //    conversion = the user ever purchased; lift in exact floored
    //    ppm, pooled z as one IEEE chain over four exact counts in
    //    floor-milli units. ──
    QueryDef("q187_ab_test",
      """WITH u AS (SELECT user_id, user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
        |      AS conv
        |  FROM events GROUP BY 1, 2),
        |ar AS (SELECT arm, count(*) AS n,
        |         CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS c
        |       FROM u GROUP BY 1),
        |aa AS (SELECT arm, n, c FROM ar ORDER BY arm LIMIT 1),
        |bb AS (SELECT arm, n, c FROM ar ORDER BY arm DESC LIMIT 1),
        |nn AS (SELECT count(*) AS n_arms FROM ar)
        |SELECT aa.arm AS arm_a, aa.n AS n_a, aa.c AS conv_a,
        |  bb.arm AS arm_b, bb.n AS n_b, bb.c AS conv_b, n_arms,
        |  aa.c * CAST(1000000 AS BIGINT) // aa.n -
        |    bb.c * CAST(1000000 AS BIGINT) // bb.n AS lift_ppm,
        |  CASE WHEN n_arms = 2
        |      AND (CAST(aa.c AS DOUBLE) + CAST(bb.c AS DOUBLE)) /
        |          (CAST(aa.n AS DOUBLE) + CAST(bb.n AS DOUBLE)) > 0
        |      AND (CAST(aa.c AS DOUBLE) + CAST(bb.c AS DOUBLE)) /
        |          (CAST(aa.n AS DOUBLE) + CAST(bb.n AS DOUBLE)) < 1
        |    THEN CAST(floor(
        |      (CAST(aa.c AS DOUBLE) / CAST(aa.n AS DOUBLE) -
        |       CAST(bb.c AS DOUBLE) / CAST(bb.n AS DOUBLE)) /
        |      sqrt(((CAST(aa.c AS DOUBLE) + CAST(bb.c AS DOUBLE)) /
        |            (CAST(aa.n AS DOUBLE) + CAST(bb.n AS DOUBLE))) *
        |           (CAST(1 AS DOUBLE) -
        |            (CAST(aa.c AS DOUBLE) + CAST(bb.c AS DOUBLE)) /
        |            (CAST(aa.n AS DOUBLE) + CAST(bb.n AS DOUBLE))) *
        |           (CAST(1 AS DOUBLE) / CAST(aa.n AS DOUBLE) +
        |            CAST(1 AS DOUBLE) / CAST(bb.n AS DOUBLE)))
        |      * CAST(1000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |  END AS z_milli
        |FROM aa CROSS JOIN bb CROSS JOIN nn""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
      val units = ev.groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
        .agg((max(when(col("event_type") === "purchase", 1).otherwise(0))
          === 1).as("conv"))
      graft.ops.Profile.abTestProportions(units, "arm", "conv")
    },

    // ── q188: Markov transition matrix — per-user consecutive event
    //    pairs ((us, event_id) total order, the q152 convention) with
    //    row-conditional probabilities in floored ppm. ──
    QueryDef("q188_transition_matrix",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |             event_type AS t FROM events),
        |nx AS (SELECT user_id, t, lead(t) OVER w AS t2
        |       FROM e WINDOW w AS (PARTITION BY user_id
        |                           ORDER BY us, event_id)),
        |p AS (SELECT t AS from_type, t2 AS to_type FROM nx
        |      WHERE t2 IS NOT NULL),
        |c AS (SELECT from_type, to_type, count(*) AS cnt
        |      FROM p GROUP BY 1, 2),
        |ft AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot
        |       FROM c GROUP BY 1)
        |SELECT c.from_type AS from_type, c.to_type AS to_type, cnt,
        |  cnt * CAST(1000000 AS BIGINT) // tot AS p_ppm
        |FROM c JOIN ft ON c.from_type = ft.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"), Tables.floorDiv("ts", 1000L).as("us"),
          col("event_id"), col("event_type"))
      graft.ops.Ops.transitionMatrix(ev, "user_id", "event_type",
          Seq(col("us").asc, col("event_id").asc))
        .orderBy("from_type", "to_type")
    },

    // ── q189: market-basket lift over (user, event_type) baskets —
    //    pairwise co-occurrence with support in floored ppm and lift as
    //    floor(1e6·n·n_ab/(n_a·n_b)) of one IEEE chain over exact
    //    counts. ──
    QueryDef("q189_basket_lift",
      """WITH b AS (SELECT DISTINCT user_id AS k, event_type AS i
        |           FROM events),
        |ni AS (SELECT i, count(*) AS n1 FROM b GROUP BY 1),
        |nt AS (SELECT count(DISTINCT k) AS n FROM b),
        |p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_ab
        |      FROM b x JOIN b y ON x.k = y.k AND x.i < y.i
        |      GROUP BY 1, 2)
        |SELECT item_a, item_b, n_ab,
        |  n_ab * CAST(1000000 AS BIGINT) // n AS support_ppm,
        |  CAST(floor(CAST(n AS DOUBLE) * CAST(n_ab AS DOUBLE)
        |      * CAST(1000000 AS DOUBLE)
        |      / (CAST(na.n1 AS DOUBLE) * CAST(nb.n1 AS DOUBLE)))
        |    AS BIGINT) AS lift_ppm
        |FROM p
        |JOIN ni na ON na.i = p.item_a
        |JOIN ni nb ON nb.i = p.item_b
        |CROSS JOIN nt
        |ORDER BY item_a, item_b""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
      graft.ops.Ops.basketLift(ev, "user_id", "event_type")
        .orderBy("item_a", "item_b")
    },

    // ── q190: pivoted cohort × event-type counts — the wide-report
    //    surface (Spark .pivot with an explicit value list keeps the
    //    plan a single Expand-free aggregate; the oracle is conditional
    //    aggregation with identical column names). ──
    QueryDef("q190_pivot_counts",
      """SELECT user_id % 5 AS cohort,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
      ev.groupBy((col("user_id") % 5).as("cohort"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(coalesce(count(lit(1)), lit(0L)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("cohort")
    },

    // ── q199: χ² independence audit of lang × source — the composition
    //    drift alarm (did the crawl's language mix shift by host?). Full
    //    R×C grid incl. zero-observed cells (NULL categories dropped up
    //    front); every term a pure IEEE rational chain — the same double
    //    on both engines — quantized by floor(term·10⁶ + 0.5) (floor
    //    works on the BINARY value everywhere; round-6's decimal-repr
    //    path is the q171 class) and summed as exact BIGINT micro-units.
    //    p-value deliberately not computed (regularized Γ is a
    //    cross-libm swamp) — compare (chi2_ppm, dof) against a literal
    //    critical-value table in micro-units. ──
    QueryDef("q199_chi2_independence",
      """WITH c AS (SELECT lang AS a, source AS b, count(*) AS o
        |           FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL
        |           GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS ra FROM c GROUP BY 1),
        |cb AS (SELECT b, sum(o) AS cb FROM c GROUP BY 1),
        |nn AS (SELECT sum(o) AS n, count(DISTINCT a) AS r,
        |              count(DISTINCT b) AS cc FROM c),
        |g AS (SELECT ra.a, cb.b, ra.ra, cb.cb FROM ra CROSS JOIN cb),
        |t AS (SELECT CAST(coalesce(o, 0) AS DOUBLE) AS o,
        |        CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) /
        |          CAST((SELECT n FROM nn) AS DOUBLE) AS e
        |      FROM g LEFT JOIN c USING (a, b))
        |SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n,
        |  (SELECT CAST((r - 1) * (cc - 1) AS BIGINT) FROM nn) AS dof,
        |  CAST(sum(CAST(floor((o - e) * (o - e) / e * 1000000.0 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS chi2_ppm
        |FROM t""".stripMargin) { (s, d) =>
      graft.ops.Profile.chiSquareIndependence(
        graft.queries.Tables.documents(s, d), "lang", "source")
    },

    // ── q200: Gini concentration of character mass across sources — the
    //    one-number corpus-inequality audit (0 balanced → 1 one source
    //    owns everything). Ranking by the range-exchange global row
    //    number, sums DECIMAL(38)-exact, ppm published via ONE integral
    //    division (div ≡ //, trunc ≡ floor on the non-negative
    //    numerator). ──
    QueryDef("q200_gini_sources",
      """WITH m AS (SELECT source AS k, CAST(sum(n_chars) AS BIGINT) AS x
        |           FROM documents GROUP BY 1),
        |r AS (SELECT k, x, row_number() OVER (ORDER BY x, k) AS i FROM m),
        |a AS (SELECT count(*) AS n, sum(x) AS t,
        |        sum(CAST(i AS HUGEINT) * x) AS s1 FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS total,
        |  CASE WHEN t > 0 THEN CAST(
        |    ((2 * s1 - (CAST(n AS HUGEINT) + 1) * t) * 1000000)
        |      // (CAST(n AS HUGEINT) * t) AS BIGINT) END AS gini_ppm
        |FROM a""".stripMargin) { (s, d) =>
      graft.ops.Profile.giniConcentration(
        graft.queries.Tables.documents(s, d), "source", "n_chars")
    },

    // ── q152: Bradley–Terry preference strengths — pairwise outcomes
    //    (here: consecutive same-user events duel, higher `value` wins)
    //    reduced to one strength per item by 3 exact MM rounds — the
    //    aggregation step of preference-data curation. The oracle unrolls
    //    the 3 rounds verbatim in INTEGER MICRO-UNITS: every per-opponent
    //    term, update, and normalization is an integral division
    //    (HUGEINT // ≡ Spark decimal div) summed order-free, so both
    //    engines walk the identical arithmetic — no double ever divides
    //    (the q171 divergence class would compound once per round).
    //    Timestamps floor to µs first (q121's precision contract). ──
    QueryDef("q152_bradley_terry",
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |              event_type AS t, value AS v FROM events),
        |nx AS (SELECT user_id, t, v, lead(t) OVER w AS t2,
        |         lead(v) OVER w AS v2
        |       FROM ev WINDOW w AS (PARTITION BY user_id
        |                            ORDER BY us, event_id)),
        |pr AS (SELECT CASE WHEN v > v2 THEN t ELSE t2 END AS w,
        |              CASE WHEN v > v2 THEN t2 ELSE t END AS l
        |       FROM nx WHERE t2 IS NOT NULL AND t <> t2 AND v <> v2),
        |e2 AS (SELECT w AS i, l AS j FROM pr
        |       UNION ALL SELECT l, w FROM pr),
        |g AS (SELECT i, j, count(*) AS n FROM e2 GROUP BY 1, 2),
        |wi AS (SELECT w AS i, count(*) AS wins FROM pr GROUP BY 1),
        |b AS (SELECT gg.i, gg.games, coalesce(wi.wins, 0) AS wins
        |      FROM (SELECT i, sum(n) AS games FROM g GROUP BY 1) gg
        |      LEFT JOIN wi USING (i)),
        |s0 AS (SELECT i, games, wins, CAST(1000000 AS HUGEINT) AS su
        |       FROM b),
        |d1 AS (SELECT g.i,
        |         sum(CAST(g.n AS HUGEINT) * 1000000000000
        |           // greatest(si.su + sj.su, 1)) AS den
        |       FROM g JOIN s0 si ON si.i = g.i JOIN s0 sj ON sj.i = g.j
        |       GROUP BY 1),
        |u1 AS (SELECT s.i, s.games, s.wins,
        |         (CAST(s.wins + 1 AS HUGEINT) * 1000000000000)
        |           // (d.den + CAST(2 AS HUGEINT) * 1000000000000
        |                // (s.su + 1000000)) AS su
        |       FROM s0 s JOIN d1 d ON d.i = s.i),
        |t1 AS (SELECT sum(su) AS tot FROM u1),
        |s1 AS (SELECT i, games, wins, (su * 1000000) // tot AS su
        |       FROM u1 CROSS JOIN t1),
        |d2 AS (SELECT g.i,
        |         sum(CAST(g.n AS HUGEINT) * 1000000000000
        |           // greatest(si.su + sj.su, 1)) AS den
        |       FROM g JOIN s1 si ON si.i = g.i JOIN s1 sj ON sj.i = g.j
        |       GROUP BY 1),
        |u2 AS (SELECT s.i, s.games, s.wins,
        |         (CAST(s.wins + 1 AS HUGEINT) * 1000000000000)
        |           // (d.den + CAST(2 AS HUGEINT) * 1000000000000
        |                // (s.su + 1000000)) AS su
        |       FROM s1 s JOIN d2 d ON d.i = s.i),
        |t2 AS (SELECT sum(su) AS tot FROM u2),
        |s2 AS (SELECT i, games, wins, (su * 1000000) // tot AS su
        |       FROM u2 CROSS JOIN t2),
        |d3 AS (SELECT g.i,
        |         sum(CAST(g.n AS HUGEINT) * 1000000000000
        |           // greatest(si.su + sj.su, 1)) AS den
        |       FROM g JOIN s2 si ON si.i = g.i JOIN s2 sj ON sj.i = g.j
        |       GROUP BY 1),
        |u3 AS (SELECT s.i, s.games, s.wins,
        |         (CAST(s.wins + 1 AS HUGEINT) * 1000000000000)
        |           // (d.den + CAST(2 AS HUGEINT) * 1000000000000
        |                // (s.su + 1000000)) AS su
        |       FROM s2 s JOIN d3 d ON d.i = s.i),
        |t3 AS (SELECT sum(su) AS tot FROM u3),
        |s3 AS (SELECT i, games, wins, (su * 1000000) // tot AS su
        |       FROM u3 CROSS JOIN t3)
        |SELECT i AS item, CAST(games AS BIGINT) AS games,
        |  CAST(wins AS BIGINT) AS wins, CAST(su AS BIGINT) AS strength_ppm
        |FROM s3 ORDER BY item""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"), Tables.floorDiv("ts", 1000L).as("us"),
          col("event_id"), col("event_type").as("t"), col("value").as("v"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val pr = ev
        .select(col("t"), col("v"), lead(col("t"), 1).over(w).as("t2"),
          lead(col("v"), 1).over(w).as("v2"))
        .where(col("t2").isNotNull && col("t") =!= col("t2") &&
          col("v") =!= col("v2"))
        .select(when(col("v") > col("v2"), col("t")).otherwise(col("t2"))
            .as("winner"),
          when(col("v") > col("v2"), col("t2")).otherwise(col("t"))
            .as("loser"))
      graft.ops.Scoring.bradleyTerry(pr, "winner", "loser", iters = 3)
        .orderBy("item")
    },

    // ── q113: time-series resampling with forward fill — regularize each
    //    user's irregular event stream onto a daily grid, carrying the
    //    last observation forward (the gap-filling step before any
    //    fixed-step model). Per-user grids come from one explode bounded
    //    by the user's own span; the fill is the engine's as-of machinery
    //    (per-key window over the union — no per-grid-point probe join).
    //    filled_from records the observation day each grid row carries
    //    (its staleness). Observations collapse to MAX(value) per
    //    (user, day) first so the fill source — and thus the whole grid —
    //    is deterministic across engines. ──
    QueryDef("q113_resample_ffill",
      """WITH e AS (SELECT user_id,
        |             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS obs_day,
        |             MAX(value) AS v
        |           FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(obs_day) AS lo, MAX(obs_day) AS hi
        |         FROM e GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
        |         FROM span)
        |SELECT g.user_id, g.day, e.obs_day AS filled_from, e.v AS value
        |FROM grid g ASOF LEFT JOIN e
        |  ON g.user_id = e.user_id AND g.day >= e.obs_day
        |ORDER BY g.user_id, g.day""".stripMargin) { (s, d) =>
      // pinned: the observation table feeds BOTH the span/grid branch
      // and the as-of fill side — without it the events scan + per-day
      // aggregate runs twice (the q109 double-scan lesson).
      val obs = graft.core.Caches.pin(graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"),
          Tables.floorDiv("ts", 86400000000000L).as("obs_day"),
          col("value"))
        .groupBy("user_id", "obs_day").agg(max("value").as("v")))
      val grid = obs.groupBy("user_id")
        .agg(min("obs_day").as("lo"), max("obs_day").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      graft.ops.Ops.asofJoin(grid, obs, Seq("user_id"), "day", "obs_day")
        .select(col("user_id"), col("day"), col("obs_day").as("filled_from"),
          col("v").as("value"))
        .orderBy("user_id", "day")
    },

    // ── q114: sliding (hopping) window aggregation — 7-day windows, 1-day
    //    hop, per event type: each event expands to the 7 windows covering
    //    it (one bounded explode), then ONE map-side-combined groupBy —
    //    the shuffle carries windows, not events, so a 100 TB stream costs
    //    its scan plus a window-cardinality-sized aggregate. DECIMAL sums
    //    (layout-stable), same money rendering as q13. ──
    QueryDef("q114_sliding_window",
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |             value
        |           FROM events),
        |w AS (SELECT unnest(generate_series(day - 6, day)) AS win_start,
        |        event_type, value
        |      FROM e)
        |SELECT win_start, event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS VARCHAR) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) {
      (s, d) =>
        graft.queries.RelationalQueries.eventsNs(s, d)
          .select(Tables.floorDiv("ts", 86400000000000L).as("day"),
            col("event_type"), col("value"))
          .select(
            explode(sequence(col("day") - 6, col("day"))).as("win_start"),
            col("event_type"), col("value"))
          .groupBy("win_start", "event_type")
          .agg(count(lit(1)).as("n"),
            graft.queries.RelationalQueries.moneyStr(
              sum(col("value").cast(D)).cast(D)).as("sum_value"))
          .orderBy("win_start", "event_type")
    },

    // ── event-time sliding windows through the STREAMING op itself
    //    (r19): q114 replays a sliding window with a hand explode, but
    //    the streaming tier's EventStream.slidingAgg — Spark's native
    //    window(col, dur, slide), the exact code a readStream pipeline
    //    runs — had spec coverage only. Batch mode eliminates the
    //    watermark, so the same op body is oracle-checkable here: 1 h
    //    windows sliding by 30 min put every event in exactly two
    //    windows, starts 30m·⌊t/30m⌋ and 30m·(⌊t/30m⌋−1) — the oracle
    //    unrolls that membership. window_start leaves as epoch micros
    //    (timestamps never cross engines raw), the sum as the moneyStr
    //    contract. ──
    QueryDef("q206_sliding_window_agg",
      """WITH e AS (SELECT epoch_us(ts) AS t_us, event_type, value
        |           FROM events WHERE ts IS NOT NULL),
        |w AS (SELECT ((t_us // 1800000000) - k) * 1800000000
        |        AS window_start_us, event_type, value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |SELECT window_start_us, event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS VARCHAR) AS sum_value
        |FROM w GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .where(col("ts").isNotNull)
        .select(col("ts").as("ts_ns"), col("event_type"), col("value"))
      graft.streaming.EventStream
        .slidingAgg(ev, windowDur = "1 hour", slide = "30 minutes")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"),
          graft.queries.RelationalQueries.moneyStr(col("sum_value"))
            .as("sum_value"))
        .orderBy("window_start_us", "event_type")
    },

    // ── z-order clustering key (r19): the round-8 ZOrder sink quantizes
    //    by data-derived min/max (one stats row — right for one-shot
    //    compaction, but the key depends on the dataset and cannot be
    //    replayed by a foreign engine). zValueFixed is its deterministic
    //    twin: caller-supplied literal bounds, floor-on-shared-double
    //    bin (power-of-two bounds make the multiplier exact), Morton
    //    interleave — so the oracle replays bin + 16-term interleave
    //    verbatim, and appends never re-bin old rows. ZOrderSpec asserts
    //    the locality win the key exists for; this query pins the
    //    arithmetic cross-engine. ──
    QueryDef("q207_zorder_key",
      s"""WITH z AS (
         |  SELECT event_id,
         |    GREATEST(0, LEAST(255, CAST(floor(
         |      (COALESCE(value, 0.0) - 0.0) * 0.5) AS BIGINT))) AS ba,
         |    GREATEST(0, LEAST(255, CAST(floor(
         |      (COALESCE(CAST(user_id AS DOUBLE), 0.0) - 0.0) * 0.0625)
         |      AS BIGINT))) AS bb
         |  FROM events)
         |SELECT event_id, ${MortonSql("ba", "bb", 8)} AS zvalue
         |FROM z ORDER BY event_id""".stripMargin) { (s, d) =>
      graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("event_id"),
          graft.sinks.ZOrder.zValueFixed(Seq(
            (col("value"), 0.0, 512.0),
            (col("user_id").cast("double"), 0.0, 4096.0)), bits = 8)
            .as("zvalue"))
        .orderBy("event_id")
    },

    // ── q208: pane-pre-aggregated sliding windows (r20) — the scale form
    //    q206's op names: a fine slide multiplies the DIRECT formulation's
    //    shuffle rows by window/slide, while count/sum are reassociable,
    //    so slidingAggPanes aggregates into tumbling slide-sized panes
    //    first (shuffle carries panes, not events) and rolls each pane
    //    into its ⌈window/slide⌉ windows after. 2 h windows / 30 min
    //    slide here (ratio 4 — a different shape than q206's 2): every
    //    event belongs to the four windows starting 30m·(⌊t/30m⌋−k),
    //    k ∈ 0..3 — the oracle unrolls that membership directly, so a
    //    wrong pane→window assignment or a lost partial hash-mismatches.
    //    Same publication contract as q206: window starts as epoch
    //    micros, decimal sums via moneyStr. ──
    QueryDef("q208_sliding_panes_agg",
      """WITH e AS (SELECT epoch_us(ts) AS t_us, event_type, value
        |           FROM events WHERE ts IS NOT NULL),
        |w AS (SELECT ((t_us // 1800000000) - k) * 1800000000
        |        AS window_start_us, event_type, value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
        |SELECT window_start_us, event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS VARCHAR) AS sum_value
        |FROM w GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .where(col("ts").isNotNull)
        .select(col("ts").as("ts_ns"), col("event_type"), col("value"))
      graft.streaming.EventStream
        .slidingAggPanes(ev, windowDur = "2 hours", slide = "30 minutes")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"),
          graft.queries.RelationalQueries.moneyStr(col("sum_value"))
            .as("sum_value"))
        .orderBy("window_start_us", "event_type")
    },

    // ── q209: KMV set-DIFFERENCE estimate (r20) — the remaining sketched
    //    set operation (crawl-vs-crawl novelty, |A\B|, at sketch cost):
    //    clicking-users \ purchasing-users and the reverse, over the same
    //    k=64 bottom-hash sketches as q169, estimated through the merged
    //    sketch's membership split K_{A\B}/|L| · est(∪) instead of the
    //    error-amplifying est(A) − est(∩) subtraction. Everything below
    //    sketch size is EXACT (the sketches hold the full sets); the
    //    count publishes as round-half-up of the exact rational via one
    //    integral division, the ratio as floored ppm — the engine-exact
    //    classes, never round(<double ratio>). ──
    QueryDef("q209_kmv_difference",
      s"""WITH ha AS (
         |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) AS h
         |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         |la AS (SELECT h FROM ha ORDER BY h LIMIT 64),
         |hb AS (
         |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) AS h
         |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |lb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
         |lu AS (SELECT DISTINCT h FROM (
         |         SELECT h FROM la UNION ALL SELECT h FROM lb)
         |       ORDER BY h LIMIT 64),
         |ea AS (SELECT count(*) AS n, max(h) AS hk FROM la),
         |eb AS (SELECT count(*) AS n, max(h) AS hk FROM lb),
         |eu AS (SELECT count(*) AS n, max(h) AS hk FROM lu),
         |kab AS (SELECT count(*) AS c FROM lu
         |        WHERE h IN (SELECT h FROM la)
         |          AND h NOT IN (SELECT h FROM lb)),
         |kba AS (SELECT count(*) AS c FROM lu
         |        WHERE h IN (SELECT h FROM lb)
         |          AND h NOT IN (SELECT h FROM la)),
         |ests AS (SELECT
         |  (SELECT CAST(CASE WHEN n < 64 OR hk = 0 THEN n
         |     ELSE ($Kmv2C64 + hk) // (2 * CAST(hk AS HUGEINT))
         |     END AS BIGINT) FROM ea) AS est_a,
         |  (SELECT CAST(CASE WHEN n < 64 OR hk = 0 THEN n
         |     ELSE ($Kmv2C64 + hk) // (2 * CAST(hk AS HUGEINT))
         |     END AS BIGINT) FROM eb) AS est_b,
         |  (SELECT CAST(CASE WHEN n < 64 OR hk = 0 THEN n
         |     ELSE ($Kmv2C64 + hk) // (2 * CAST(hk AS HUGEINT))
         |     END AS BIGINT) FROM eu) AS est_union,
         |  (SELECT c FROM kab) AS k_diff_ab,
         |  (SELECT c FROM kba) AS k_diff_ba,
         |  (SELECT n FROM eu) AS nu)
         |SELECT est_a, est_b, est_union, k_diff_ab, k_diff_ba,
         |  CAST((2 * CAST(k_diff_ab AS HUGEINT) * est_union + nu)
         |    // (2 * CAST(nu AS HUGEINT)) AS BIGINT) AS est_diff_ab,
         |  CAST((2 * CAST(k_diff_ba AS HUGEINT) * est_union + nu)
         |    // (2 * CAST(nu AS HUGEINT)) AS BIGINT) AS est_diff_ba
         |FROM ests""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
      val sa = graft.ops.Sketches.kmvSketch(
        ev.where(col("event_type") === "click"), Seq.empty, "user_id", k = 64)
      val sb = graft.ops.Sketches.kmvSketch(
        ev.where(col("event_type") === "purchase"), Seq.empty, "user_id", k = 64)
      graft.ops.Sketches.kmvDifferenceEstimate(sa, sb, Seq.empty, k = 64)
    }
  )

  /** The Morton bit-interleave of two binned values as SQL — bit i of `a`
    * at output bit 2i, of `b` at 2i+1 (the exact arithmetic
    * `Layout.interleave` runs; q207's oracle replays it term by term). */
  private def MortonSql(a: String, b: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($a >> $i) & 1) << ${2 * i})",
      s"((($b >> $i) & 1) << ${2 * i + 1})")).mkString("(", " | ", ")")

  /** q106's oracle: the co-purchase adjacency list plus one unrolled CTE
    * per hop, each replaying the identical md5-60 index expression the
    * Spark op evaluates. */
  private lazy val WalkOracleSql: String = {
    def hop(prev: String, t: Int): String = {
      val idx = s"CAST(CAST('0x' || substr(md5($prev.start || ':' || " +
        s"CAST($prev.walk AS VARCHAR) || ':' || '$t' || ':' || " +
        s"$prev.cur), 1, 15) AS BIGINT) % len(a.nbrs) AS INT) + 1"
      s"""s${t + 1} AS (
         |  SELECT $prev.start, $prev.walk, a.nbrs[$idx] AS cur,
         |    $prev.path || ' ' || a.nbrs[$idx] AS path
         |  FROM $prev JOIN adjl a ON $prev.cur = a.node)""".stripMargin
    }
    val hops = (0 until 4)
      .map(t => hop(if (t == 0) "s0" else s"s$t", t)).mkString(",\n")
    s"""WITH $CoPurchaseCtes,
       |adj AS (SELECT u AS node, v AS nbr FROM und
       |        UNION ALL SELECT v, u FROM und),
       |adjl AS (SELECT node, list(nbr ORDER BY nbr) AS nbrs
       |         FROM adj GROUP BY 1),
       |s0 AS (SELECT node AS start, r AS walk, node AS cur, node AS path
       |       FROM adjl CROSS JOIN (VALUES (0), (1)) t(r)),
       |$hops
       |SELECT start, walk, path FROM s4
       |ORDER BY start, walk""".stripMargin
  }

  /** The matching oracle CTEs (pr = distinct per-order parts, und = the
    * canonical undirected edge set) — ONE text shared by the q103/q105/
    * q106 oracles so engine and oracle cannot diverge on the graph
    * definition. */
  private lazy val CoPurchaseCtes: String =
    """pr AS (
      |  SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS VARCHAR) AS pk
      |  FROM lineitem),
      |und AS (
      |  SELECT DISTINCT least(a.pk, b.pk) AS u, greatest(a.pk, b.pk) AS v
      |  FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk <> b.pk)""".stripMargin

  /** The REPEAT-co-purchase graph (pairs co-occurring in ≥ 2 orders) —
    * sparser and structured, used by q115/q116 where the full graph's
    * homogeneity would make cores/overlaps degenerate. Spark builder +
    * matching oracle CTEs, single definitions. */
  // private[graft]: GraphSpec's q115 peel-margin guard measures this
  // fixture's cascade depth against the oracle's 16-peel unroll.
  private[graft] def coPurchaseW2(s: org.apache.spark.sql.SparkSession,
                                  d: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"),
        col("l_partkey").cast("string").as("pk"))
      .distinct()
    li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select(col("u"), col("v"))
  }

  private lazy val CoPurchaseW2Ctes: String =
    """pr AS (
      |  SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS VARCHAR) AS pk
      |  FROM lineitem),
      |und AS (
      |  SELECT u, v FROM (
      |    SELECT a.pk AS u, b.pk AS v, COUNT(*) AS w
      |    FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk < b.pk
      |    GROUP BY 1, 2)
      |  WHERE w >= 2)""".stripMargin

  /** q115's oracle: 16 unrolled peel rounds (peeling a fixpoint is the
    * identity, so over-unrolling beyond the data's peel depth — 10 rounds
    * at sf0.01 — is harmless). Every per-round CTE is MATERIALIZED:
    * DuckDB inlines plain CTEs at each reference, and with e(i+1)
    * referencing e(i) three times the inlined scan tree grows 3^16-fold —
    * the un-materialized form exhausts file handles before it exhausts
    * CPU. */
  private lazy val KCoreOracleSql: String = {
    val rounds = (0 until 16).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, COUNT(*) AS dg FROM
         |  (SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i)
         |  GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE dg >= 3),
         |e${i + 1} AS MATERIALIZED (SELECT e$i.u, e$i.v FROM e$i
         |  JOIN k$i ku ON e$i.u = ku.node
         |  JOIN k$i kv ON e$i.v = kv.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CoPurchaseW2Ctes,
       |e0 AS MATERIALIZED (SELECT u, v FROM und),
       |$rounds
       |SELECT node, COUNT(*) AS deg_in_core FROM
       |  (SELECT u AS node FROM e16 UNION ALL SELECT v FROM e16)
       |GROUP BY 1 ORDER BY node""".stripMargin
  }

  /** q100's doubled HLL alpha numerator 2·α·m²·2^(B+1) (p=8) as an exact
    * HUGEINT-ranged integer literal: the raw estimate publishes as
    * round-half-up of the exact rational C/s via (2C + s) // (2s), and
    * the small-range branch test as 2C ≤ 5m·s — no %.17g double since
    * the r18 conversion (round(<double ratio>) was the q171 r15/r16
    * divergence class). */
  private lazy val Hll2C8: String =
    (graft.ops.Sketches.hllAlphaNumerator(8) * 2).toString

  /** q169's doubled KMV estimator numerator 2·(k−1)·2⁶⁰ (k=64) as an
    * exact HUGEINT-ranged integer literal — the round-half-up integral
    * division (2C + hk) // (2·hk) replays the Spark plan's exact
    * arithmetic (no %.17g double needed since the r18 conversion). */
  private lazy val Kmv2C64: String =
    (graft.ops.Sketches.kmvNumerator(64) * 2).toString
}
