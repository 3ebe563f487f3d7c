package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q
import graft.core.{Num, Tables}
import graft.operators.AsOfJoin

/** The relational operator surface (SURVEY.md §2) re-expressed Spark-first
  * over the TPC-H-ish corpus: scans, projections/filters, the full join
  * matrix, hash aggregation (plain / conditional / multi-distinct /
  * rollup), window functions, sorts/top-k, set operations, scalar
  * expressions, JSON extraction, and an as-of join.
  *
  * Determinism rules (shared with the DuckDB oracles):
  *   - money/measure sums via exact DECIMAL ([[graft.core.Num]]) — never a
  *     raw double SUM (order-dependent, nondeterministic at scale);
  *   - every LIMIT is fully tie-broken by unique keys;
  *   - derived integer columns cast to BIGINT on both sides.
  *
  * Reference anchors (PauloZapata/logicash-etl): aggregation shapes follow
  * `glue_jobs/etl_job.py:147-175`, `qa/validate_data.py:93-148`,
  * `qa/validate_data_fast.py:119-171`, `sql/ddl_gold.sql:22-62`.
  */
object Relational {
  import Num._

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** A1/A2 analog (TPC-H Q1 shape): pushed-down timestamp filter, then
    * hash-agg with exact-decimal sums and deterministic means.
    * Ref: daily/top aggs at `glue_jobs/etl_job.py:147-175`. */
  val q1PricingSummary: Q = Q(
    "q1_pricing_summary",
    "scan+filter+groupBy/agg: count/sum/avg with exact decimal sums",
    (s, d) => {
      // rebalanced scan, MEASURED against Tables.raw (r15): six exact
      // decimal aggregates per row are the dominant cost here, and the
      // rebalance parallelizes them (raw: 1.42s serial partial agg;
      // rebalanced: 1.21s) — unlike the cheap-agg queries (q3/q5/q21)
      // where raw wins by dropping the extra exchange
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit(Timestamp.valueOf("2001-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("count_order"),
          dsumD(col("l_quantity")).as("sum_qty"),
          dsumD(col("l_extendedprice")).as("sum_base_price"),
          sum(netD(col("l_extendedprice"), col("l_discount")))
            .cast(DecimalType(38, 4)).cast(DoubleType).as("sum_disc_price"),
          davgD(col("l_quantity")).as("avg_qty"),
          davgD(col("l_discount"), 6).as("avg_disc"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             COUNT(*) AS count_order,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
             CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '2001-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      """),
    headline = true)

  /** A1 + O1 analog: broadcast join (dim ≪ fact, ref heuristic at
    * `glue_jobs/etl_job.py:68-71`), agg, tie-broken top-k. */
  val q2TopCustomers: Q = Q(
    "q2_top_customers",
    "broadcast inner join + groupBy + orderBy/limit (top-k)",
    (s, d) => {
      // raw scan: broadcast join + partial agg both fuse into the scan
      // stage; only the per-customer merge exchange remains
      val o = Tables.raw(s, d, "orders")
      val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_orders"), dsumD(col("o_totalprice")).as("total_spent"))
        .orderBy(desc("total_spent"), col("c_custkey"))
        .limit(10)
    },
    Some("""
      SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total_spent
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
      ORDER BY total_spent DESC, c_custkey
      LIMIT 10
      """),
    headline = true)

  /** A2 analog (daily summary, ref `glue_jobs/etl_job.py:163-174`). */
  val q3DailySummary: Q = Q(
    "q3_daily_summary",
    "to_date derived column + groupBy day: count/sum/min/max/avg",
    (s, d) =>
      // raw scan: partial agg fuses into the scan stage (agg-first shape)
      Tables.raw(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("order_day"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsumD(col("o_totalprice")).as("total_sales"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          davgD(col("o_totalprice")).as("avg_price")),
    Some("""
      SELECT CAST(o_orderdate AS DATE) AS order_day,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total_sales,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS avg_price
      FROM orders
      GROUP BY 1
      """))

  /** A3 analog: scalar agg, non-null counting (`qa/validate_data.py:127-136`). */
  val q4ScalarCounts: Q = Q(
    "q4_scalar_counts",
    "global scalar aggregate: COUNT(*) vs COUNT(col), COUNT(DISTINCT)",
    (s, d) =>
      Tables.raw(s, d, "events").agg(
        count(lit(1)).as("n_rows"),
        count(col("user_id")).as("n_user"),
        count(col("props")).as("n_props"),
        countDistinct(col("user_id")).as("n_distinct_users"),
        countDistinct(col("event_type")).as("n_event_types"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value")),
    Some("""
      SELECT COUNT(*) AS n_rows, COUNT(user_id) AS n_user, COUNT(props) AS n_props,
             COUNT(DISTINCT user_id) AS n_distinct_users,
             COUNT(DISTINCT event_type) AS n_event_types,
             MIN(value) AS min_value, MAX(value) AS max_value
      FROM events
      """))

  /** A4 analog: range + conditional count + distinct cardinality
    * (`qa/validate_data.py:139-148`). */
  val q5RangeCheck: Q = Q(
    "q5_range_check",
    "min/max range check, conditional COUNT(CASE WHEN), COUNT(DISTINCT)",
    (s, d) =>
      Tables.raw(s, d, "lineitem").agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(when(col("l_discount") > 0.05, 1)).as("n_high_discount"),
        countDistinct(col("l_partkey")).as("n_parts")),
    Some("""
      SELECT MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
             MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
             COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_discount,
             COUNT(DISTINCT l_partkey) AS n_parts
      FROM lineitem
      """))

  /** A5 analog: several COUNT(DISTINCT)s in one pass (Catalyst Expand;
    * `qa/validate_data_fast.py:158-171`). */
  val q6MultiDistinct: Q = Q(
    "q6_multi_distinct",
    "single-pass combined quality agg with two+ distinct aggregates",
    (s, d) =>
      // rebalanced scan, measured (r15): the 3-way Expand + wide distinct
      // partial state is per-row heavy — raw's serial scan stage loses
      // more than the saved exchange (1.36s raw vs 1.27s rebalanced)
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        davgD(col("l_quantity")).as("avg_qty")),
    Some("""
      SELECT COUNT(*) AS n_rows,
             COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_suppliers,
             COUNT(DISTINCT l_orderkey) AS n_orders,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem
      """))

  /** A7 analog: pivoted conditional aggregation + arithmetic between
    * aggregates (`sql/ddl_gold.sql:37-47`, flujo_neto pattern). */
  val q7StatusPivot: Q = Q(
    "q7_status_pivot",
    "SUM(CASE WHEN ...) pivot by status + net-flow arithmetic",
    (s, d) => {
      def bucket(status: String) =
        sum(when(col("o_orderstatus") === status, dec(col("o_totalprice")))
          .otherwise(dec(lit(0)))).cast(DoubleType)
      Tables.raw(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          bucket("F").as("fulfilled_total"),
          bucket("O").as("open_total"),
          bucket("P").as("pending_total"))
        .withColumn("net_flow", col("fulfilled_total") - col("open_total"))
    },
    Some("""
      WITH p AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS fulfilled_total,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS open_total,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS pending_total
        FROM orders GROUP BY o_custkey)
      SELECT o_custkey, fulfilled_total, open_total, pending_total,
             fulfilled_total - open_total AS net_flow
      FROM p
      """))

  /** A8 analog: ranking aggregation (`sql/ddl_gold.sql:52-62`). */
  val q8SupplierRanking: Q = Q(
    "q8_supplier_ranking",
    "join + groupBy + full ORDER BY (ranking table)",
    (s, d) => {
      val li = Tables.raw(s, d, "lineitem")
      val sup = t(s, d, "supplier")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(netD(col("l_extendedprice"), col("l_discount")))
            .cast(DecimalType(38, 4)).cast(DoubleType).as("total_revenue"))
        .orderBy(desc("total_revenue"), col("s_suppkey"))
    },
    Some("""
      SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
             COUNT(*) AS n_items,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
      ORDER BY total_revenue DESC, s_suppkey
      """))

  /** A9 analog: SELECT DISTINCT dedup (`sql/ddl_gold.sql:23-32`). */
  val q9Distinct: Q = Q(
    "q9_distinct_pairs",
    "SELECT DISTINCT projection",
    (s, d) =>
      t(s, d, "customer").select(col("c_mktsegment"), col("c_nationkey")).distinct(),
    Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"))

  /** W1 analog: global ROW_NUMBER ranking (`qa/validate_data_fast.py:144`).
    * The unpartitioned window runs over the *aggregated* (tiny) result —
    * same shape as the reference; never over raw data at scale. */
  val q10RowNumber: Q = Q(
    "q10_rownum_ranking",
    "ROW_NUMBER() OVER (ORDER BY ...) on aggregated ranking",
    (s, d) => {
      val li = Tables.raw(s, d, "lineitem")
      val sup = t(s, d, "supplier")
      val agg = li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(dsumD(col("l_quantity")).as("total_qty"))
      agg.withColumn(
        "rank_pos",
        row_number().over(Window.orderBy(desc("total_qty"), col("s_suppkey")))
          .cast(LongType))
    },
    Some("""
      WITH agg AS (
        SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS total_qty
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2)
      SELECT s_suppkey, s_name, total_qty,
             CAST(ROW_NUMBER() OVER (ORDER BY total_qty DESC, s_suppkey) AS BIGINT) AS rank_pos
      FROM agg
      """))

  /** Partitioned ranking windows: RANK / DENSE_RANK per nation. */
  val q11RankInNation: Q = Q(
    "q11_rank_in_nation",
    "RANK/DENSE_RANK OVER (PARTITION BY ... ORDER BY ...)",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      t(s, d, "customer")
        .select(
          col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          rank().over(w).cast(LongType).as("bal_rank"),
          dense_rank().over(w).cast(LongType).as("bal_dense_rank"))
    },
    Some("""
      SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_rank,
             CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_dense_rank
      FROM customer
      """))

  /** Frame windows: running decimal sum (exact → order-independent even
    * under segment-tree evaluation) + LAG + date arithmetic. */
  val q12RunningTotal: Q = Q(
    "q12_running_total",
    "running SUM frame + LAG + datediff per customer",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      // keyed rebalance doubles as the window's per-customer exchange
      Tables.keyed(s, d, "orders", "o_custkey")
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          sum(dec(col("o_totalprice"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running_total"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          datediff(to_date(col("o_orderdate")), lag(to_date(col("o_orderdate")), 1).over(w))
            .cast(LongType).as("days_since_prev"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) OVER w AS DOUBLE) AS running_total,
             LAG(o_totalprice, 1) OVER w AS prev_price,
             CAST(DATE_DIFF('day',
                            LAG(CAST(o_orderdate AS DATE), 1) OVER w,
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      """))

  /** Left-semi join (EXISTS). */
  val q13SemiJoin: Q = Q(
    "q13_customers_with_orders",
    "left_semi join (EXISTS)",
    (s, d) => {
      val c = t(s, d, "customer")
      val o = Tables.raw(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      """))

  /** Left-anti join (NOT EXISTS). */
  val q14AntiJoin: Q = Q(
    "q14_customers_without_orders",
    "left_anti join (NOT EXISTS)",
    (s, d) => {
      val c = t(s, d, "customer")
      val o = Tables.raw(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      """))

  /** Full-outer join between two aggregates (USING-key coalesced). */
  val q15FullOuter: Q = Q(
    "q15_nation_full_outer",
    "full outer join of per-nation customer vs supplier counts",
    (s, d) => {
      val cc = t(s, d, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"))
      val ss = t(s, d, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"))
      cc.join(ss, Seq("nationkey"), "full_outer")
    },
    Some("""
      WITH cc AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1),
           ss AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
      SELECT COALESCE(cc.nationkey, ss.nationkey) AS nationkey, n_customers, n_suppliers
      FROM cc FULL OUTER JOIN ss ON cc.nationkey = ss.nationkey
      """))

  /** UNION ALL with source tag. */
  val q16UnionAll: Q = Q(
    "q16_union_all",
    "UNION ALL of tagged projections",
    (s, d) => {
      val c = t(s, d, "customer")
        .select(lit("customer").as("src"), col("c_nationkey").as("nationkey"))
      val sup = t(s, d, "supplier")
        .select(lit("supplier").as("src"), col("s_nationkey").as("nationkey"))
      c.union(sup)
    },
    Some("""
      SELECT 'customer' AS src, c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT 'supplier' AS src, s_nationkey AS nationkey FROM supplier
      """))

  /** INTERSECT (distinct set semantics). */
  val q17Intersect: Q = Q(
    "q17_intersect",
    "INTERSECT of key sets",
    (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))),
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier
      """))

  /** EXCEPT (distinct set semantics). */
  val q18Except: Q = Q(
    "q18_except",
    "EXCEPT of key sets",
    (s, d) =>
      t(s, d, "nation").select(col("n_nationkey").as("nationkey"))
        .except(t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))),
    Some("""
      SELECT n_nationkey AS nationkey FROM nation
      EXCEPT
      SELECT s_nationkey AS nationkey FROM supplier
      """))

  /** Multi-way star join (TPC-H Q5 shape): small dims broadcast, one
    * shuffle for the orders⋈lineitem equi-join, then hash agg. */
  val q19RegionRevenue: Q = Q(
    "q19_region_revenue",
    "5-way join region⋈nation⋈customer⋈orders⋈lineitem + agg",
    (s, d) => {
      val r = t(s, d, "region")
      val n = t(s, d, "nation")
      val c = t(s, d, "customer")
      // keyed rebalance: the local single-row-group corpus needs one
      // spread-out exchange anyway — hash it on the join key so it IS
      // the fact-fact join's exchange (round-robin would pay this
      // shuffle AND the join's own hash shuffle back to back); at scale
      // the rebalance is a no-op and the join exchanges normally
      val o = Tables.keyed(s, d, "orders", "o_orderkey")
      val li = Tables.keyed(s, d, "lineitem", "l_orderkey")
      // two-level aggregate instead of countDistinct: pre-grouping by
      // (group keys, o_orderkey) makes the distinct a plain count and
      // — the scale win — removes the Expand that would DOUBLE every
      // shuffled row to carry the sum and distinct branches separately.
      // One exchange on (r,n,orderkey), then a near-free regroup of
      // O(orders) rows. Exact: per-order decimal sums re-sum losslessly.
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"), o("o_orderkey"))
        .agg(sum(netD(col("l_extendedprice"), col("l_discount"))).as("__rev"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("__rev"))
            .cast(DecimalType(38, 4)).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
    },
    Some("""
      SELECT r_name, n_name,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
             COUNT(DISTINCT o_orderkey) AS n_orders
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      """),
    headline = true)

  /** JSON field extraction + group (events.props is a JSON string). */
  val q20JsonGroup: Q = Q(
    "q20_json_group",
    "get_json_object + cast + groupBy",
    (s, d) =>
      Tables.raw(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"), dsumD(col("value")).as("total_value")),
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1
      """))

  /** Time-bucketed event aggregation (batch analog of the streaming
    * tumbling window; integer/date outputs avoid ns-vs-us timestamp
    * representation drift between engines). */
  val q21HourlyEvents: Q = Q(
    "q21_hourly_events",
    "date/hour bucketing + groupBy over events",
    (s, d) =>
      // raw scan: bucketing exprs + partial agg fuse into the scan stage
      Tables.raw(s, d, "events")
        .groupBy(
          to_date(col("ts")).as("event_day"),
          hour(col("ts")).cast(LongType).as("event_hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsumD(col("value")).as("total_value")),
    Some("""
      SELECT CAST(ts AS DATE) AS event_day,
             CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS event_hour,
             event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2, 3
      """),
    headline = true)

  /** Scalar expression surface: string funcs, CASE, cast, decimal round,
    * arithmetic (F1-F8 in SURVEY.md §2.8). */
  val q22ScalarExpr: Q = Q(
    "q22_scalar_expr",
    "projection with string/case/cast/round/arithmetic scalars",
    (s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
        length(col("p_name")).cast(LongType).as("name_len"),
        when(col("p_size") > 25, "large")
          .when(col("p_size") > 10, "medium")
          .otherwise("small").as("size_class"),
        round(col("p_retailprice").cast(DecimalType(18, 4)), 2)
          .cast(DoubleType).as("price_rounded"),
        (col("p_retailprice") * lit(0.9)).as("price_discounted"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type")),
    Some("""
      SELECT p_partkey,
             UPPER(SUBSTRING(p_name, 1, 8)) AS name_prefix,
             CAST(LENGTH(p_name) AS BIGINT) AS name_len,
             CASE WHEN p_size > 25 THEN 'large'
                  WHEN p_size > 10 THEN 'medium'
                  ELSE 'small' END AS size_class,
             CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS price_rounded,
             p_retailprice * 0.9 AS price_discounted,
             CONCAT_WS('-', p_brand, p_type) AS brand_type
      FROM part
      """))

  /** O1 analog: global top-k with full tie-break
    * (TakeOrderedAndProject — no full sort at scale). */
  val q23TopLineitems: Q = Q(
    "q23_top_lineitems",
    "ORDER BY ... DESC LIMIT k (top-k)",
    (s, d) =>
      Tables.raw(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .limit(20),
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 20
      """))

  /** A6 analog: CTE-combined report — the *same* ANSI SQL string runs on
    * Spark (over a temp view) and DuckDB (`qa/validate_data_fast.py:124-147`). */
  private val q24Sql = """
      WITH cust_stats AS (
        SELECT o_custkey,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
        FROM orders GROUP BY o_custkey),
      pri_stats AS (
        SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority)
      SELECT 'n_customers_over_500k' AS metric, CAST(COUNT(*) AS DOUBLE) AS metric_value
      FROM cust_stats WHERE total > 500000
      UNION ALL
      SELECT 'max_priority_bucket' AS metric, CAST(MAX(n) AS DOUBLE) AS metric_value
      FROM pri_stats
      UNION ALL
      SELECT 'total_orders' AS metric, CAST(COUNT(*) AS DOUBLE) AS metric_value
      FROM orders
      """

  val q24CteReport: Q = Q(
    "q24_cte_report",
    "CTE + UNION ALL report; identical SQL text on Spark and the oracle",
    (s, d) => {
      Tables.raw(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(q24Sql)
    },
    Some(q24Sql))

  /** ROLLUP grouping sets (beyond the reference's surface). */
  val q25Rollup: Q = Q(
    "q25_rollup",
    "GROUP BY ROLLUP(status, priority) with subtotal rows",
    (s, d) =>
      Tables.raw(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), dsumD(col("o_totalprice")).as("total_price")),
    Some("""
      SELECT o_orderstatus, o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total_price
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      """))

  /** As-of join: for each event, the latest order (by date) of the
    * matching customer at or before the event time. Spark lacks a native
    * as-of join; [[graft.operators.AsOfJoin]] composes it from a
    * union + partitioned window (one shuffle, no range explosion).
    * DuckDB validates via its native ASOF LEFT JOIN. */
  val q26AsOf: Q = Q(
    "q26_asof_join",
    "as-of join events→orders (latest order at or before event ts)",
    (s, d) => {
      // Right side deduped to one row per (custkey, ts): max orderkey wins —
      // makes the as-of pick deterministic in both engines. Implemented as
      // an argmax AGGREGATE (max over a struct led by the unique
      // o_orderkey — same winning row as the ROW_NUMBER() DESC window,
      // no ties possible). The gain is a sort, not shuffle volume: the
      // window form's partial WindowGroupLimit already cut its exchange
      // to one row per (partition, group), but it sorted every order row
      // before and after that exchange. The aggregate (a SortAggregate:
      // a struct max buffer is not hash-aggregatable) sorts once, on the
      // partitions of the keyed rebalance on o_custkey, which already
      // clusters (custkey, orderdate) — plans/r15/q26_asof_join_*.txt.
      val orders = Tables.keyed(s, d, "orders", "o_custkey")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("__top"))
        .select(
          col("o_custkey"), col("o_orderdate"),
          col("__top.o_orderkey").as("o_orderkey"),
          col("__top.o_totalprice").as("o_totalprice"))
      // raw scan: the event side's first operator is the as-of union's
      // window exchange — a round-robin rebalance before it is wasted
      val events = Tables.raw(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOfJoin.leftAsOf(
        left = events, right = orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        rightPayload = Seq("o_orderkey", "o_totalprice"))
        .select(
          col("event_id"), col("user_id"),
          col("o_orderkey").as("last_order_key"),
          col("o_totalprice").as("last_order_total"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                           ORDER BY o_orderkey DESC) AS rn
              FROM orders)
        WHERE rn = 1)
      SELECT e.event_id AS event_id, e.user_id AS user_id,
             o.o_orderkey AS last_order_key, o.o_totalprice AS last_order_total
      FROM events e
      ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      """),
    headline = true)

  /** Range join without an equi key ([[graft.operators.RangeJoin]]):
    * bucketed time-proximity self-join — hash join + bounded 3× explode
    * instead of the nested-loop cartesian the theta join would plan.
    * The oracle states the naive theta semantics; results are identical. */
  val q27ProximityPairs: Q = Q(
    "q27_proximity_pairs",
    "bucketed range join: event pairs within 30s of each other",
    (s, d) =>
      graft.operators.RangeJoin.proximityPairs(
        // keyed scan (pinned width): the old unpinned repartition was
        // AQE-coalescible, which would serialize the bucket-explode map
        // side; the keyed rebalance is one pinned exchange (r15)
        Tables.keyed(s, d, "events", "event_id"),
        idCol = "event_id", tsCol = "ts", toleranceMs = 30000L)
      .select(
        col("id_a").as("event_a"), col("id_b").as("event_b"), col("delta_ms")),
    Some("""
      SELECT a.event_id AS event_a, b.event_id AS event_b,
             epoch_ms(CAST(b.ts AS TIMESTAMP)) - epoch_ms(CAST(a.ts AS TIMESTAMP)) AS delta_ms
      FROM events a JOIN events b
        ON a.event_id < b.event_id
       AND abs(epoch_ms(CAST(a.ts AS TIMESTAMP)) - epoch_ms(CAST(b.ts AS TIMESTAMP))) <= 30000
      """))

  /** CUBE grouping sets (all 4 subtotal combinations). */
  val q28Cube: Q = Q(
    "q28_cube",
    "GROUP BY CUBE(returnflag, linestatus)",
    (s, d) =>
      Tables.raw(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), dsumD(col("l_quantity")).as("total_qty")),
    Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS total_qty
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      """))

  /** Ordered string aggregation (LISTAGG semantics): deterministic via
    * sort_array over the collected list — collect_list alone is
    * partition-order-dependent and would never hash-match. */
  val q29StringAgg: Q = Q(
    "q29_string_agg",
    "per-segment ordered string aggregation (LISTAGG)",
    (s, d) =>
      t(s, d, "customer")
        .filter(col("c_custkey") <= 100)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_customers"),
          array_join(sort_array(collect_list(col("c_name"))), ",").as("names")),
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_customers,
             string_agg(c_name, ',' ORDER BY c_name) AS names
      FROM customer WHERE c_custkey <= 100
      GROUP BY c_mktsegment
      """))

  /** Array/higher-order-function surface over the embedding column:
    * element count, strict-fold norm, conditional element count. */
  val q30ArrayOps: Q = Q(
    "q30_array_ops",
    "array HOFs: size, L2 norm via fold, positive-element count",
    (s, d) => {
      val v = col("embedding").cast(ArrayType(DoubleType))
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(v).cast(LongType).as("dim"),
        sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x)).as("l2_norm"),
        filter(v, _ > 0).cast(ArrayType(DoubleType)).alias("__p")).select(
        col("vec_id"), col("dim"), col("l2_norm"),
        size(col("__p")).cast(LongType).as("n_positive"))
    },
    Some("""
      SELECT vec_id,
             CAST(len(embedding) AS BIGINT) AS dim,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding::DOUBLE[], x -> x * x)), (a, b) -> a + b)) AS l2_norm,
             CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS BIGINT) AS n_positive
      FROM embeddings
      """))

  /** Two-phase exact distinct count — the skew-safe rewrite: phase 1
    * dedupes on (key, value) [shuffle spread over the full pair domain],
    * phase 2 counts per key. Equivalent to COUNT(DISTINCT) but never
    * concentrates one hot key's values in one task's hash set; this is
    * the hand-written form of what Catalyst's Expand does for single
    * distinct aggs, kept explicit as the 100 TB-safe pattern. */
  val q31TwoPhaseDistinct: Q = Q(
    "q31_two_phase_distinct",
    "skew-safe two-phase COUNT(DISTINCT user) per event_type",
    (s, d) =>
      Tables.raw(s, d, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_distinct_users")),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
      FROM events GROUP BY event_type
      """))

  /** Deterministic per-key sampling via the [[graft.operators.BottomKSample]]
    * typed Aggregator: bottom-5 by rolling-hash priority per event_type.
    * O(k) state per group (map-side partial agg), stable across
    * partitionings and engines — the oracle draws the same sample. */
  val q32BottomKSample: Q = Q(
    "q32_bottomk_sample",
    "per-key deterministic sample: bottom-5 by hash priority (Aggregator)",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      import graft.operators.{BottomKSample, Prioritized}
      val prio = graft.functions.GraftFunctions.rollingHash(
        concat(col("event_id").cast(StringType), lit(":42")))
      t(s, d, "events")
        .select(
          col("event_type"),
          struct(
            prio.as("priority"),
            col("event_id").cast(StringType).as("payload")).as("p"))
        .as[(String, Prioritized)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new BottomKSample(5).toColumn.name("sample"))
        .flatMap { case (et, ps) => ps.map(p => (et, p.payload, p.priority)) }
        .toDF("event_type", "event_id", "priority")
    },
    Some("""
      WITH p AS (
        SELECT event_type, CAST(event_id AS VARCHAR) AS payload,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(length(CAST(event_id AS VARCHAR) || ':42')),
                   i -> CAST(unicode(substr(CAST(event_id AS VARCHAR) || ':42', CAST(i+1 AS INTEGER), 1)) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS priority
        FROM events),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY priority, payload) AS rn
            FROM p)
      SELECT event_type, payload AS event_id, priority FROM r WHERE rn <= 5
      """))

  /** Native session windows (batch): per-user sessions that close after
    * 30 min of inactivity. Spark's session_window end is EXCLUSIVE — an
    * event exactly `gap` after the last one opens a new session — so the
    * oracle's gaps-and-islands break uses `>= gap`. */
  val q33SessionAgg: Q = Q(
    "q33_session_agg",
    "session_window(ts, 30 min) per user: start, size, exact value sum",
    (s, d) =>
      // raw scan: the session agg's own per-user exchange is the first
      // operator; a round-robin rebalance before it is a second shuffle
      Tables.raw(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsumD(col("value")).as("total_value"))
        .select(
          col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("total_value")),
    Some("""
      WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      m AS (SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_s
            FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
      FROM g GROUP BY user_id, sid
      """),
    headline = true)

  /** Salted two-stage aggregation ([[graft.operators.SaltedAgg]]): the
    * skew-safe form of groupBy(hot key).agg — exact decimal math makes
    * the salted result bit-identical to the plain plan the oracle runs. */
  val q34SaltedAgg: Q = Q(
    "q34_salted_agg",
    "skew-safe salted sum/count per event_type (two-stage agg)",
    (s, d) =>
      graft.operators.SaltedAgg.sumCount(
        t(s, d, "events"), Seq("event_type"), "value")
        .select(col("event_type"), col("n_rows"), col("total")),
    Some("""
      SELECT event_type, COUNT(*) AS n_rows,
             CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total
      FROM events GROUP BY event_type
      """))

  /** Sketch surface: HLL++ distinct approximation. The sketch estimate
    * itself is engine-private (no cross-engine oracle exists for HLL
    * internals), so the oracle-checkable output is the EXACT
    * `COUNT(DISTINCT)` (hash-matched against DuckDB) plus `within_bound`,
    * the in-engine relative-error assertion |approx−exact|/exact ≤ 5×rsd
    * computed from the sketch in the same pass — the oracle emits TRUE,
    * so an out-of-spec estimate fails the hash compare. rsd=0.01 keeps
    * the bound tight; both distincts share one shuffle (Expand). */
  val q35ApproxDistinct: Q = Q(
    "q35_approx_distinct",
    "exact vs approx_count_distinct (HLL++) per event_type with error bound",
    (s, d) =>
      // two-phase distinct (no Expand, skew-safe): dedup (type, user)
      // with a partial-agged shuffle, then count exactly AND sketch over
      // the already-distinct pairs — the HLL registers are identical on
      // a deduplicated input, so the estimate is unchanged
      Tables.raw(s, d, "events")
        // group over ALL events (a NULL user_id row keeps its event_type
        // group alive with n_users=0, matching COUNT(DISTINCT) semantics),
        // then count only the non-null deduplicated pairs
        .groupBy(col("event_type"), col("user_id")).agg(lit(1).as("__one"))
        .groupBy(col("event_type"))
        .agg(
          count(col("user_id")).as("n_users"),
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
        .select(
          col("event_type"), col("n_users"),
          when(col("n_users") === 0, col("approx_users") === 0)
            .otherwise(
              abs(col("approx_users") - col("n_users")).cast("double") /
                col("n_users") <= 0.05).as("within_bound")),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
             TRUE AS within_bound
      FROM events GROUP BY event_type
      """))

  val all: Seq[Q] = Seq(
    q33SessionAgg, q34SaltedAgg, q35ApproxDistinct,
    q1PricingSummary, q2TopCustomers, q3DailySummary, q4ScalarCounts,
    q5RangeCheck, q6MultiDistinct, q7StatusPivot, q8SupplierRanking,
    q9Distinct, q10RowNumber, q11RankInNation, q12RunningTotal,
    q13SemiJoin, q14AntiJoin, q15FullOuter, q16UnionAll, q17Intersect,
    q18Except, q19RegionRevenue, q20JsonGroup, q21HourlyEvents,
    q22ScalarExpr, q23TopLineitems, q24CteReport, q25Rollup, q26AsOf,
    q27ProximityPairs, q28Cube, q29StringAgg, q30ArrayOps,
    q31TwoPhaseDistinct, q32BottomKSample)
}
