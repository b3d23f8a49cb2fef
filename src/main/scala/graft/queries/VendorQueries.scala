package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Na
import graft.functions.Exprs
import graft.ops.Ops

/** Vendor-pipeline operator coverage (SURVEY.md §2.2 P9–P13, §2.3 F-family,
  * §2.4 U3, §2.6 J5, §2.8 E1–E4) re-expressed over the TESTDATA tables so
  * every operator gets a DuckDB oracle. Input strings are SYNTHESIZED from
  * keys inside each query (deterministically on both sides) because the
  * parquet tables don't carry spreadsheet-style junk. */
object VendorQueries {

  private val D = "decimal(18,2)"

  val all: Seq[QueryDef] = Seq(

    // ── P13: two-digit branch gets '1' prefixed ──
    QueryDef("q25_branch_prefix",
      """SELECT s_suppkey, branch,
        |  CASE WHEN regexp_matches(branch, '^\d{2}$') THEN '1' || branch
        |       ELSE branch END AS fixed
        |FROM (SELECT s_suppkey, CAST(s_suppkey % 120 AS VARCHAR) AS branch
        |      FROM supplier)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val branch = ($"s_suppkey" % 120).cast("string")
      Tables.supplier(s, d).select(
          $"s_suppkey", branch.as("branch"),
          when(branch.rlike("^\\d{2}$"), concat(lit("1"), branch))
            .otherwise(branch).as("fixed"))
        .orderBy($"s_suppkey")
    },

    // ── S3/F20: PO-line parse — NA/dashless drop, split on first dash ──
    QueryDef("q26_po_split",
      """WITH raw AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'nah'
        |         WHEN o_orderkey % 13 = 0 THEN CAST(o_orderkey AS VARCHAR)
        |         WHEN o_orderkey % 3 = 0
        |           THEN CAST(o_custkey AS VARCHAR) || '–' || CAST(o_orderkey AS VARCHAR)
        |         ELSE CAST(o_custkey AS VARCHAR) || '-' || CAST(o_orderkey AS VARCHAR)
        |    END AS po
        |  FROM orders)
        |SELECT o_orderkey, po AS po_number,
        |  regexp_extract(po, '^([^-–—]*)', 1) AS store,
        |  regexp_replace(po, '^[^-–—]*[-–—]', '') AS item
        |FROM raw
        |WHERE NOT regexp_matches(lower(trim(po)), '^(|na|n/a|nan|none|null|nah)$')
        |  AND regexp_matches(po, '[-–—]')
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val po =
        when($"o_orderkey" % 11 === 0, lit("nah"))
          .when($"o_orderkey" % 13 === 0, $"o_orderkey".cast("string"))
          .when($"o_orderkey" % 3 === 0,
            concat($"o_custkey".cast("string"), lit("–"), $"o_orderkey".cast("string")))
          .otherwise(
            concat($"o_custkey".cast("string"), lit("-"), $"o_orderkey".cast("string")))
      Tables.orders(s, d).select($"o_orderkey", po.as("po"))
        .where(!Na.isNa($"po") && $"po".rlike("[-\\u2013\\u2014]"))
        .select($"o_orderkey", $"po".as("po_number"),
          element_at(Exprs.splitFirstDash($"po"), 1).as("store"),
          element_at(Exprs.splitFirstDash($"po"), 2).as("item"))
        .orderBy($"o_orderkey")
    },

    // ── P10: membership filter with remap (490->498, drop 457/453) ──
    QueryDef("q27_dock_filter",
      """SELECT p_partkey, dock
        |FROM (SELECT p_partkey,
        |        CASE WHEN p_partkey % 600 = 490 THEN 498
        |             ELSE p_partkey % 600 END AS dock
        |      FROM part)
        |WHERE dock NOT IN (457, 453) AND dock IN (189, 436, 407, 498, 499, 114)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val dock0 = $"p_partkey" % 600
      val dock = when(dock0 === 490, lit(498)).otherwise(dock0)
      Tables.part(s, d).select($"p_partkey", dock.as("dock"))
        .where(!$"dock".isin(457, 453) && $"dock".isin(189, 436, 407, 498, 499, 114))
        .orderBy($"p_partkey")
    },

    // ── A2: group-sum with null keys KEPT (pandas dropna=False) ──
    QueryDef("q28_null_key_groupsum",
      """SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL
        |            ELSE o_custkey % 7 END AS bucket,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS total,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY 1
        |ORDER BY bucket NULLS FIRST""".stripMargin) { (s, d) =>
      val bucket = when($"o_custkey" % 7 === 0, lit(null)).otherwise($"o_custkey" % 7)
      Tables.orders(s, d)
        .groupBy(bucket.as("bucket"))
        .agg(RelationalQueries.moneyStr(sum($"o_totalprice".cast(D)).cast(D)).as("total"),
          count(lit(1)).as("n"))
        .orderBy($"bucket".asc_nulls_first)
    },

    // ── U3+F2+A1: melt accounting-formatted strings, parse, group-sum ──
    QueryDef("q29_accounting_melt",
      """WITH wide AS (
        |  SELECT p_partkey,
        |    '$' || CAST(p_partkey % 100 AS VARCHAR) || '.50' AS s114,
        |    '(' || CAST(p_partkey % 50 AS VARCHAR) || ')' AS s123,
        |    CASE WHEN p_partkey % 5 = 0 THEN 'n/a'
        |         ELSE CAST(p_partkey % 25 AS VARCHAR) || '-' END AS s142
        |  FROM part),
        |long AS (
        |  SELECT p_partkey, 's114' AS store, s114 AS raw FROM wide
        |  UNION ALL SELECT p_partkey, 's123', s123 FROM wide
        |  UNION ALL SELECT p_partkey, 's142', s142 FROM wide),
        |parsed AS (
        |  SELECT store,
        |    CASE
        |      WHEN regexp_matches(raw, '^\(.*\)$')
        |        THEN -TRY_CAST(regexp_replace(regexp_replace(raw, '[()]', '', 'g'),
        |                                      '[^0-9.\-]', '', 'g') AS DOUBLE)
        |      WHEN regexp_matches(raw, '^[^-]*-$')
        |        THEN -TRY_CAST(regexp_replace(rtrim(raw, '-'), '[^0-9.\-]', '', 'g') AS DOUBLE)
        |      ELSE TRY_CAST(regexp_replace(raw, '[^0-9.\-]', '', 'g') AS DOUBLE)
        |    END AS v
        |  FROM long)
        |SELECT store, CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS total
        |FROM parsed WHERE v IS NOT NULL
        |GROUP BY store
        |ORDER BY store""".stripMargin) { (s, d) =>
      val wide = Tables.part(s, d).select(
        $"p_partkey",
        concat(lit("$"), ($"p_partkey" % 100).cast("string"), lit(".50")).as("s114"),
        concat(lit("("), ($"p_partkey" % 50).cast("string"), lit(")")).as("s123"),
        when($"p_partkey" % 5 === 0, lit("n/a"))
          .otherwise(concat(($"p_partkey" % 25).cast("string"), lit("-"))).as("s142"))
      Ops.meltToLong(wide, Seq("p_partkey"), Seq("s114", "s123", "s142"), "store", "raw")
        .select($"store", Exprs.parseAccounting($"raw").as("v"))
        .where($"v".isNotNull)
        .groupBy($"store")
        .agg(RelationalQueries.moneyStr(sum($"v".cast(D)).cast(D)).as("total"))
        .orderBy($"store")
    },

    // ── E1/E3/E4: canonical mega-script output schema with constants ──
    QueryDef("q30_canonical_output",
      """SELECT CAST(l_suppkey AS BIGINT) AS branch,
        |  lpad(CAST(l_partkey AS VARCHAR), 7, '0') AS item,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS distro_size,
        |  81214 AS supplier_on_record, 'P2E' AS ww_buyer,
        |  '' AS warehouse, '' AS additional_xdck, '' AS amount_code,
        |  '' AS xdck, '' AS post_xdck, '' AS fob,
        |  format('{:.2f}', CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |                        AS DOUBLE)) AS sum_price_2dp
        |FROM lineitem
        |GROUP BY l_suppkey, l_partkey
        |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) <> 0
        |ORDER BY branch, item""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy($"l_suppkey", $"l_partkey")
        .agg(
          sum($"l_quantity".cast(D)).cast("bigint").as("distro_size"),
          sum($"l_extendedprice".cast(D)).cast(D).as("sum_price"))
        .where($"distro_size" =!= 0)
        .select(
          $"l_suppkey".cast("bigint").as("branch"),
          Exprs.itemCode7($"l_partkey".cast("string")).as("item"),
          $"distro_size",
          lit(81214).as("supplier_on_record"),
          lit("P2E").as("ww_buyer"),
          lit("").as("warehouse"), lit("").as("additional_xdck"),
          lit("").as("amount_code"), lit("").as("xdck"),
          lit("").as("post_xdck"), lit("").as("fob"),
          // The formatted value is an exact 2-dp decimal, so Java's HALF_UP
          // and fmt's shortest-round render identically (no .005 boundary).
          format_string("%.2f", $"sum_price".cast("double")).as("sum_price_2dp"))
        .orderBy($"branch", $"item")
    },

    // ── F13: next-M/W/F shipping date over a date column ──
    QueryDef("q31_next_mwf",
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE) + CASE dayofweek(CAST(o_orderdate AS DATE))
        |    WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1 WHEN 3 THEN 2
        |    WHEN 4 THEN 1 WHEN 5 THEN 3 ELSE 2 END, '%Y-%m-%d') AS ship_day
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
          $"o_orderkey",
          date_format(Exprs.nextMWF(to_date($"o_orderdate")), "yyyy-MM-dd").as("ship_day"))
        .orderBy($"o_orderkey")
    },

    // ── J5: store-code expansion — explode digits found in a header cell ──
    QueryDef("q32_store_expand",
      """SELECT o_orderkey, CAST(store AS VARCHAR) AS store
        |FROM (SELECT o_orderkey,
        |        unnest(regexp_extract_all(
        |          CAST(o_custkey % 900 AS VARCHAR) || '/' ||
        |          CAST(o_custkey % 77 AS VARCHAR), '\d+')) AS store
        |      FROM orders WHERE o_orderkey % 10 = 0)
        |ORDER BY o_orderkey, store""".stripMargin) { (s, d) =>
      val header = concat(($"o_custkey" % 900).cast("string"), lit("/"),
        ($"o_custkey" % 77).cast("string"))
      Tables.orders(s, d)
        .where($"o_orderkey" % 10 === 0)
        .select($"o_orderkey",
          explode(regexp_extract_all(header, lit("(\\d+)"), lit(1))).as("store"))
        .orderBy($"o_orderkey", $"store")
    },

    // ── A6: set difference on keys (customers minus recent purchasers —
    //    the "needed - got" PO completeness check) ──
    QueryDef("q33_set_difference",
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select($"c_custkey")
        .except(Tables.orders(s, d).where($"o_orderkey" % 3 === 0)
          .select($"o_custkey".as("c_custkey")))
        .orderBy($"c_custkey")
    },

    // ── O4: sort by store then lot-last4 key with missing->sentinel ──
    QueryDef("q34_lot_sort",
      """WITH keyed AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_suppkey % 40 AS VARCHAR) AS store,
        |    CASE WHEN l_partkey % 9 = 0 THEN 'NO LOT'
        |         ELSE CAST(l_suppkey AS VARCHAR) || '-' ||
        |              CAST(l_partkey AS VARCHAR) END AS lot
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, store, lot,
        |  ROW_NUMBER() OVER (ORDER BY TRY_CAST(store AS DOUBLE),
        |    COALESCE(TRY_CAST(right(list_extract(regexp_extract_all(lot, '\d+'), -1), 4)
        |                      AS BIGINT), 1000000000),
        |    l_orderkey, l_linenumber, lot NULLS LAST) AS rn
        |FROM keyed
        |ORDER BY rn""".stripMargin) { (s, d) =>
      val lot = when($"l_partkey" % 9 === 0, lit("NO LOT"))
        .otherwise(concat($"l_suppkey".cast("string"), lit("-"), $"l_partkey".cast("string")))
      val keyed = Tables.lineitem(s, d).select(
        $"l_orderkey", $"l_linenumber",
        ($"l_suppkey" % 40).cast("string").as("store"), lot.as("lot"))
      // globalRowNumber's output is already globally ordered by rn (range
      // partitions in key order, sorted within) — a trailing orderBy(rn)
      // would re-sample and re-shuffle the whole result for nothing.
      // `lot` closes the order: (l_orderkey, l_linenumber) can repeat, and
      // globalRowNumber needs a total order.
      Ops.globalRowNumber(keyed, Seq(
          Exprs.numericSortKey($"store").asc_nulls_last,
          coalesce(Exprs.lotLast4($"lot"), lit(1000000000L)).asc,
          $"l_orderkey".asc, $"l_linenumber".asc, $"lot".asc_nulls_last), "rn")
    },

    // ── A8/F18: parse-rate aggregate driving majority-vote numeric cast ──
    QueryDef("q40_parse_rate",
      """WITH raw AS (
        |  SELECT p_partkey,
        |    CASE p_partkey % 4
        |      WHEN 0 THEN CAST(p_partkey AS VARCHAR)
        |      WHEN 1 THEN CAST(p_partkey AS VARCHAR) || '.50'
        |      WHEN 2 THEN 'junk-' || CAST(p_partkey AS VARCHAR)
        |      ELSE NULL END AS v,
        |    CASE WHEN p_partkey % 2 = 0 THEN 'colA' ELSE 'colB' END AS grp
        |  FROM part)
        |SELECT grp,
        |  COUNT(v) AS n_nonnull,
        |  COUNT(CASE WHEN regexp_matches(trim(v), '^[+-]?(\d+\.?\d*|\.\d+)$')
        |             THEN 1 END) AS n_parse,
        |  CASE WHEN COUNT(CASE WHEN regexp_matches(trim(v), '^[+-]?(\d+\.?\d*|\.\d+)$')
        |                       THEN 1 END) * 2 >= COUNT(v)
        |       THEN 'numeric' ELSE 'string' END AS decision
        |FROM raw
        |GROUP BY grp
        |ORDER BY grp""".stripMargin) { (s, d) =>
      val v = when($"p_partkey" % 4 === 0, $"p_partkey".cast("string"))
        .when($"p_partkey" % 4 === 1, concat($"p_partkey".cast("string"), lit(".50")))
        .when($"p_partkey" % 4 === 2, concat(lit("junk-"), $"p_partkey".cast("string")))
      val grp = when($"p_partkey" % 2 === 0, lit("colA")).otherwise(lit("colB"))
      Tables.part(s, d).select(v.as("v"), grp.as("grp"))
        .groupBy($"grp")
        .agg(
          count($"v").as("n_nonnull"),
          count(when(Exprs.tryDouble($"v").isNotNull, 1)).as("n_parse"))
        .withColumn("decision",
          when($"n_parse" * 2 >= $"n_nonnull", lit("numeric")).otherwise(lit("string")))
        .orderBy($"grp")
    },

    // ── F7: whole-grid cell coercion (NA->0, x.0->int, decimals kept) ──
    QueryDef("q41_cell_coerce",
      """SELECT p_partkey,
        |  CASE p_partkey % 6
        |    WHEN 0 THEN CAST(p_partkey AS VARCHAR) || '.0'
        |    WHEN 1 THEN CAST(p_partkey AS VARCHAR) || '.00'
        |    WHEN 2 THEN CAST(p_partkey AS VARCHAR) || '.50'
        |    WHEN 3 THEN 'n/a' WHEN 4 THEN '  ' ELSE ' text ' END AS raw,
        |  CASE p_partkey % 6
        |    WHEN 0 THEN CAST(p_partkey AS VARCHAR)
        |    WHEN 1 THEN CAST(p_partkey AS VARCHAR)
        |    WHEN 2 THEN CAST(p_partkey AS VARCHAR) || '.5'
        |    WHEN 3 THEN '0' WHEN 4 THEN '0' ELSE 'text' END AS coerced
        |FROM part
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val raw = when($"p_partkey" % 6 === 0, concat($"p_partkey".cast("string"), lit(".0")))
        .when($"p_partkey" % 6 === 1, concat($"p_partkey".cast("string"), lit(".00")))
        .when($"p_partkey" % 6 === 2, concat($"p_partkey".cast("string"), lit(".50")))
        .when($"p_partkey" % 6 === 3, lit("n/a"))
        .when($"p_partkey" % 6 === 4, lit("  "))
        .otherwise(lit(" text "))
      Tables.part(s, d).select($"p_partkey", raw.as("raw"))
        .withColumn("coerced",
          graft.pipelines.SouthernCrossPipeline.coerceCell($"raw"))
        .orderBy($"p_partkey")
    },

    // ── beyond-reference: lag/lead deltas per key ──
    QueryDef("q35_lag_delta",
      """SELECT user_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value,
        |  CAST(CAST(value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id)
        |       AS DECIMAL(18,2)) AS VARCHAR) AS delta
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"event_id")
      RelationalQueries.eventsNs(s, d).select(
          $"user_id", $"event_id",
          RelationalQueries.moneyStr($"value".cast(D)).as("value"),
          RelationalQueries.moneyStr(($"value" - lag($"value", 1).over(w)).cast(D)).as("delta"))
        .orderBy($"user_id", $"event_id")
    },

    // ── beyond-reference: gap-based sessionization via window cumsum ──
    QueryDef("q36_sessionize",
      """WITH gaps AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS t,
        |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts))
        |           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        |         > 1800000000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, event_id,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM gaps)
        |SELECT user_id, session_id, COUNT(*) AS n_events
        |FROM sessions
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val gaps = RelationalQueries.eventsNs(s, d).select(
        $"user_id", $"event_id", $"ts",
        when($"ts" - lag($"ts", 1).over(w) > 1800000000000L, lit(1))
          .otherwise(lit(0)).as("new_session"))
      gaps.withColumn("session_id",
          sum($"new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"session_id")
    },

    // ── EP1 end-to-end: the full 247 allocation pipeline — P2 header
    //    promotion -> P3 Total trim -> P7 header clean -> P11 last-row drop
    //    -> P5 desc drop -> U1 melt -> A1 group-sum -> zero-drop -> O1 sort
    //    -> E1 constants -> E3/E4 canonical conform — as ONE declared query
    //    under the DuckDB oracle, over a grid synthesized from `part`.
    //    Ref: /root/reference/247/tools/allocation_tool.py:7-207. ──
    QueryDef("q56_allocation_e2e",
      """WITH src AS (
        |  SELECT p_partkey, CAST(p_partkey % 500 AS VARCHAR) AS item,
        |    CAST(p_partkey % 7 AS VARCHAR) || '.0' AS b114,
        |    CASE WHEN p_partkey % 5 = 0 THEN 'n/a'
        |         ELSE CAST(p_partkey % 4 AS VARCHAR) END AS b27,
        |    CAST(p_partkey % 3 AS VARCHAR) AS b9,
        |    CAST(p_partkey % 2 AS VARCHAR) AS bc05
        |  FROM part
        |  WHERE p_partkey < (SELECT max(p_partkey) FROM part)),
        |long AS (
        |  SELECT item, '114' AS branch, b114 AS v FROM src
        |  UNION ALL SELECT item, '27', b27 FROM src
        |  UNION ALL SELECT item, '9', b9 FROM src
        |  UNION ALL SELECT item, 'C05', bc05 FROM src),
        |agg AS (
        |  SELECT branch, item,
        |    CAST(SUM(COALESCE(CAST(TRY_CAST(v AS DOUBLE) AS BIGINT), 0)) AS BIGINT)
        |      AS distro_size
        |  FROM long GROUP BY branch, item
        |  HAVING SUM(COALESCE(CAST(TRY_CAST(v AS DOUBLE) AS BIGINT), 0)) <> 0)
        |SELECT
        |  COALESCE(CAST(TRY_CAST(branch AS DOUBLE) AS BIGINT), 0) AS branch,
        |  COALESCE(CAST(TRY_CAST(item AS DOUBLE) AS BIGINT), 0) AS item,
        |  '' AS description,
        |  distro_size,
        |  CAST(81214 AS BIGINT) AS supplier_on_record,
        |  DATE '2026-08-14' AS expected_delivery_date,
        |  'P2E' AS ww_buyer,
        |  '' AS warehouse, '' AS additional_xdck, '' AS amount_code,
        |  CAST(NULL AS DOUBLE) AS xdck, '' AS post_xdck,
        |  CAST(NULL AS DOUBLE) AS fob
        |FROM agg
        |ORDER BY branch, item, distro_size""".stripMargin) { (s, d) =>
      // Only the Seq->DF conversions: a full implicits._ import would make
      // the $"…" interpolator ambiguous with this file's Dollar helper.
      import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
      import graft.core.SchemaOps.RowIdx
      val cols = Seq(RowIdx, "c0", "c1", "c2", "c3", "c4", "c5", "c6")
      // Two literal rows — a junk title (dropped by headerIdx=1 promotion)
      // and the header row itself — unioned with DISTRIBUTED data rows
      // derived from the part table (row ids offset past the header).
      val header = Seq(
        (0L, "Allocation Report", "", "", "", "", "", ""),
        (1L, "Item#", "Item Description", "114.0", "27.0", "9", "C05", "Total"))
        .toDF(cols: _*)
      val dataRows = Tables.part(s, d).select(
        ($"p_partkey" + 1).cast("long").as(RowIdx),
        ($"p_partkey" % 500).cast("string").as("c0"),
        concat(lit("desc "), $"p_partkey".cast("string")).as("c1"),
        concat(($"p_partkey" % 7).cast("string"), lit(".0")).as("c2"),
        when($"p_partkey" % 5 === 0, lit("n/a"))
          .otherwise(($"p_partkey" % 4).cast("string")).as("c3"),
        ($"p_partkey" % 3).cast("string").as("c4"),
        ($"p_partkey" % 2).cast("string").as("c5"),
        lit("999").as("c6"))
      val grid = header.unionByName(dataRows)
      graft.pipelines.AllocationPipeline.run(grid, edd = Some("8/14/2026"))
        .select(
          $"Branch".as("branch"), $"Item".as("item"),
          $"Description".as("description"),
          col("`Distro Size`").as("distro_size"),
          col("`Supplier On Record`").as("supplier_on_record"),
          col("`Expected Delivery Date`").as("expected_delivery_date"),
          col("`WW Buyer`").as("ww_buyer"),
          $"Warehouse".as("warehouse"),
          $"AdditionalXDCK".as("additional_xdck"),
          $"AmountCode".as("amount_code"),
          $"XDCK".as("xdck"), $"POSTXDCK".as("post_xdck"), $"FOB".as("fob"))
    }
  )

  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
}
