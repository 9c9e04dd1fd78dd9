package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Relational operator surface (SURVEY.md §2.B): scans with pushdown,
  * projection/filter, aggregation, broadcast + shuffle + semi + anti
  * joins, windows (running / rank / lag), rollup, sort/limit/top-k,
  * set ops, scalar function library.
  *
  * The reference (meteorhacks/kdb) has none of these — they are the
  * extended engine surface mandated by the north star. Every def is
  * written for 100 TB scale: dimension joins are `broadcast(...)`,
  * aggregations are partial-agg friendly (plain groupBy on natural
  * keys), filters sit directly on scan columns so Catalyst pushes
  * them into the parquet reader.
  */
object RelationalQueries extends QueryModule {

  /** TPC-H Q1 shape: single-pass scan + partial-aggregable groupBy. */
  private val q1Agg = QueryDef(
    "q1_agg",
    (s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-01-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q6 shape: highly selective predicate → pushed to parquet. */
  private val q6Filter = QueryDef(
    "q6_filter_pushdown",
    (s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    },
    Some("""
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""))

  /** TPC-H Q3 shape: shuffle join fact×fact with broadcast dim. */
  private val q3TopOrders = QueryDef(
    "q3_shuffle_join_topk",
    (s, d) => {
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, d).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = lineitem(s, d).filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("odate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1997-01-01'
      GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  /** TPC-H Q5 shape: star join — every dimension broadcast. */
  private val q5Star = QueryDef(
    "q5_broadcast_star_join",
    (s, d) => {
      val r = region(s, d).filter(col("r_name") === "ASIA")
      val n = nation(s, d)
      val c = customer(s, d)
      val sup = supplier(s, d)
      lineitem(s, d)
        .join(orders(s, d).filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY n_name"""))

  /** Left-semi join (EXISTS): orders having a heavy lineitem. */
  private val qSemi = QueryDef(
    "q_semi_join",
    (s, d) => {
      val heavy = lineitem(s, d).filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      orders(s, d)
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  private val qAnti = QueryDef(
    "q_anti_join",
    (s, d) => {
      customer(s, d)
        .join(orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_customers,
             round(sum(c_acctbal), 2) AS total_bal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** Running window: cumulative revenue per supplier over ship time.
    * Window key = supplier ⇒ one shuffle by l_suppkey; deterministic
    * frame order via (shipdate, orderkey, linenumber) tie-break. */
  private val qWindowRunning = QueryDef(
    "q_window_running_sum",
    (s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      lineitem(s, d)
        .filter(col("l_suppkey") < 5)
        .withColumn("rn", row_number().over(w))
        .withColumn("running_qty",
          sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("l_suppkey"), col("rn"),
          col("l_orderkey"), col("l_linenumber"),
          round(col("running_qty"), 2).as("running_qty"))
        .orderBy(col("l_suppkey"), col("rn"))
    },
    Some("""
      SELECT l_suppkey, rn, l_orderkey, l_linenumber, running_qty FROM (
        SELECT l_suppkey,
               row_number() OVER w AS rn,
               l_orderkey, l_linenumber,
               round(sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        FROM lineitem
        WHERE l_suppkey < 5
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
      ) ORDER BY l_suppkey, rn"""))

  /** Ranked top-k per group: 3 priciest parts per brand. */
  private val qTopkPerGroup = QueryDef(
    "q_window_topk_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      part(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("rk"), col("p_partkey"),
          round(col("p_retailprice"), 2).as("price"))
        .orderBy(col("p_brand"), col("rk"))
    },
    Some("""
      SELECT p_brand, rk, p_partkey, round(p_retailprice, 2) AS price FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rk
        FROM part
      ) WHERE rk <= 3
      ORDER BY p_brand, rk"""))

  /** Lag window: inter-order gap days per customer. */
  private val qLag = QueryDef(
    "q_window_lag",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .filter(col("prev_date").isNotNull)
        .select(col("o_custkey"),
          datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_gaps"),
          round(avg(col("gap_days")), 4).as("avg_gap_days"))
        .filter(col("o_custkey") < 100)
        .orderBy(col("o_custkey"))
    },
    Some("""
      SELECT o_custkey, count(*) AS n_gaps,
             round(avg(gap_days), 4) AS avg_gap_days
      FROM (
        SELECT o_custkey,
               date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
        FROM orders
      ) WHERE gap_days IS NOT NULL AND o_custkey < 100
      GROUP BY o_custkey
      ORDER BY o_custkey"""))

  /** RANGE window frame (value-based, not row-based): per supplier,
    * revenue shipped within the trailing 30 days of each lineitem —
    * the frame width is a data value, so peers at equal ship days
    * share a frame regardless of row count. */
  private val qRangeFrame = QueryDef(
    "q_window_range_frame",
    (s, d) => {
      val epochDay = datediff(col("l_shipdate"), lit("1970-01-01").cast("timestamp"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("ship_day"))
        .rangeBetween(-30, 0)
      lineitem(s, d)
        .filter(col("l_suppkey") < 10)
        .withColumn("ship_day", epochDay)
        .withColumn("rev30",
          round(sum(col("l_extendedprice")).over(w), 2))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_rows"),
          round(max(col("rev30")), 2).as("max_rev30"),
          round(avg(col("rev30")), 4).as("avg_rev30"))
        .orderBy(col("l_suppkey"))
    },
    Some("""
      WITH f AS (
        SELECT l_suppkey,
               date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ship_day,
               l_extendedprice
        FROM lineitem WHERE l_suppkey < 10),
      r AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice) OVER (
                 PARTITION BY l_suppkey ORDER BY ship_day
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS rev30
        FROM f)
      SELECT l_suppkey, count(*) AS n_rows,
             round(max(rev30), 2) AS max_rev30,
             round(avg(rev30), 4) AS avg_rev30
      FROM r
      GROUP BY l_suppkey
      ORDER BY l_suppkey"""))

  /** Ordered string aggregation: comma-joined sorted member lists —
    * collect_list + array_sort keeps the result deterministic under
    * any shuffle order (never rely on engine-native agg order). */
  private val qStringAgg = QueryDef(
    "q_string_agg",
    (s, d) => {
      nation(s, d)
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy(col("r_name"))
    },
    Some("""
      SELECT r_name,
             string_agg(n_name, ',' ORDER BY n_name) AS nations,
             count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name"""))

  /** ROLLUP grouping sets (reference has none; extended surface). */
  private val qRollup = QueryDef(
    "q_rollup",
    (s, d) => {
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy(col("rflag"), col("lstatus"))
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rflag,
             coalesce(l_linestatus, 'ALL') AS lstatus,
             count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rflag, lstatus"""))

  /** Global sort + limit (TakeOrderedAndProject — no full sort at scale). */
  private val qSortLimit = QueryDef(
    "q_sort_limit",
    (s, d) => {
      orders(s, d)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col("o_orderstatus"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(15)
    },
    Some("""
      SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderstatus
      FROM orders
      ORDER BY price DESC, o_orderkey
      LIMIT 15"""))

  /** Set operations: intersect / except over customer key sets. */
  private val qSetOps = QueryDef(
    "q_set_ops",
    (s, d) => {
      val o = orders(s, d)
      val fCust = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val oCust = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val both = fCust.intersect(oCust).agg(count(lit(1)).as("n")).withColumn("which", lit("both"))
      val fOnly = fCust.except(oCust).agg(count(lit(1)).as("n")).withColumn("which", lit("f_only"))
      val all = fCust.union(oCust).distinct().agg(count(lit(1)).as("n")).withColumn("which", lit("union"))
      both.union(fOnly).union(all).select(col("which"), col("n")).orderBy(col("which"))
    },
    Some("""
      WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
           o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      SELECT 'both' AS which, count(*) AS n FROM (SELECT * FROM f INTERSECT SELECT * FROM o)
      UNION ALL
      SELECT 'f_only' AS which, count(*) AS n FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
      UNION ALL
      SELECT 'union' AS which, count(*) AS n FROM (SELECT * FROM f UNION SELECT * FROM o)
      ORDER BY which"""))

  /** Scalar function library parity: string / math / conditional. */
  private val qScalarFuncs = QueryDef(
    "q_scalar_functions",
    (s, d) => {
      part(s, d)
        .filter(col("p_partkey") < 300)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 4).as("prefix"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          (col("p_size") % 7).as("size_mod"),
          abs(col("p_size") - lit(25)).as("size_dist"),
          round(sqrt(col("p_retailprice")), 4).as("price_sqrt"),
          when(col("p_size") < 10, "small")
            .when(col("p_size") < 30, "medium")
            .otherwise("large").as("size_class"),
          replace(col("p_type"), lit("A"), lit("@")).as("repl"))
        .orderBy(col("p_partkey"))
    },
    Some("""
      SELECT p_partkey,
             upper(p_name) AS uname,
             length(p_name) AS name_len,
             substring(p_name, 1, 4) AS prefix,
             concat_ws('-', p_brand, p_type) AS brand_type,
             p_size % 7 AS size_mod,
             abs(p_size - 25) AS size_dist,
             round(sqrt(p_retailprice), 4) AS price_sqrt,
             CASE WHEN p_size < 10 THEN 'small'
                  WHEN p_size < 30 THEN 'medium'
                  ELSE 'large' END AS size_class,
             replace(p_type, 'A', '@') AS repl
      FROM part
      WHERE p_partkey < 300
      ORDER BY p_partkey"""))

  /** Distinct-count shapes: exact countDistinct per group. */
  private val qDistinctAgg = QueryDef(
    "q_distinct_agg",
    (s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT l_partkey) AS n_parts,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** CUBE grouping sets: all four subtotal combinations in one pass
    * (Spark expands to a single shuffle over the grouping-set id). */
  private val qCube = QueryDef(
    "q_cube",
    (s, d) => {
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n_rows"), col("sum_price"))
        .orderBy(col("rflag"), col("lstatus"))
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rflag,
             coalesce(l_linestatus, 'ALL') AS lstatus,
             count(*) AS n_rows,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY rflag, lstatus"""))

  /** ntile + percent_rank windows: quartile assignment per customer's
    * order history (deterministic frame order via unique tiebreak). */
  private val qNtile = QueryDef(
    "q_ntile",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, d)
        .filter(col("o_custkey") < 30)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pct_rank"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(o_totalprice, 2) AS price,
             ntile(4) OVER w AS quartile,
             round(percent_rank() OVER w, 4) AS pct_rank
      FROM orders
      WHERE o_custkey < 30
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  /** Correlated scalar subquery shape: parts priced above their brand
    * average. Spark decorrelates to an aggregate + broadcast
    * join (brand cardinality is tiny) — the plan a 100 TB run needs. */
  private val qCorrSubquery = QueryDef(
    "q_corr_subquery",
    (s, d) => {
      val brandAvg = part(s, d).groupBy(col("p_brand"))
        .agg(avg(col("p_retailprice")).as("brand_avg"))
      // membership compares against the ROUNDED average: an unrounded
      // double here is the one place summation-order noise could flip
      // a row in or out of the result between engines
      part(s, d)
        .join(broadcast(brandAvg), "p_brand")
        .filter(col("p_retailprice") > round(col("brand_avg"), 4))
        .select(col("p_partkey"), col("p_brand"),
          round(col("p_retailprice"), 2).as("price"),
          round(col("brand_avg"), 4).as("brand_avg"))
        .orderBy(col("p_partkey"))
    },
    Some("""
      SELECT p_partkey, p_brand,
             round(p_retailprice, 2) AS price,
             round((SELECT avg(p2.p_retailprice) FROM part p2
                    WHERE p2.p_brand = p.p_brand), 4) AS brand_avg
      FROM part p
      WHERE p_retailprice > round((SELECT avg(p2.p_retailprice) FROM part p2
                                   WHERE p2.p_brand = p.p_brand), 4)
      ORDER BY p_partkey"""))

  /** Exact interpolated percentiles per group (median + p90). */
  private val qPercentile = QueryDef(
    "q_percentile",
    (s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_quantity"), lit(0.5)), 4).as("p50_qty"),
          round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Date/time function library parity. dayofweek: Spark is 1=Sunday,
    * DuckDB dow is 0=Sunday — oracle shifts by one. */
  private val qDatetime = QueryDef(
    "q_datetime_functions",
    (s, d) => {
      orders(s, d)
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofweek(col("o_orderdate")).as("dow"),
          last_day(col("o_orderdate")).as("month_end"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             year(o_orderdate) AS y,
             month(o_orderdate) AS m,
             day(o_orderdate) AS dom,
             quarter(o_orderdate) AS qtr,
             dayofweek(o_orderdate) + 1 AS dow,
             last_day(CAST(o_orderdate AS DATE)) AS month_end,
             CAST(o_orderdate AS DATE) + 30 AS plus30
      FROM orders
      WHERE o_orderkey < 500
      ORDER BY o_orderkey"""))

  /** String function library parity (beyond q_scalar_functions). */
  private val qStringFuncs = QueryDef(
    "q_string_functions",
    (s, d) => {
      customer(s, d)
        .filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          lpad(col("c_name"), 25, "*").as("padded"),
          reverse(col("c_name")).as("rev"),
          expr("left(c_name, 8)").as("l8"),
          expr("right(c_name, 4)").as("r4"),
          expr("split_part(c_name, '#', 2)").as("cust_num"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("transl"),
          repeat(substring(col("c_name"), 1, 2), 3).as("rep"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey,
             lpad(c_name, 25, '*') AS padded,
             reverse(c_name) AS rev,
             left(c_name, 8) AS l8,
             right(c_name, 4) AS r4,
             split_part(c_name, '#', 2) AS cust_num,
             translate(c_mktsegment, 'AEIOU', 'aeiou') AS transl,
             repeat(substring(c_name, 1, 2), 3) AS rep
      FROM customer
      WHERE c_custkey < 200
      ORDER BY c_custkey"""))

  /** NULL semantics: nullif-generated NULLs through count/sum/avg
    * (aggregates skip NULLs; count(*) does not) and coalesce repair. */
  private val qNullSemantics = QueryDef(
    "q_null_semantics",
    (s, d) => {
      val nd = nullif(col("l_discount"), lit(0.0))
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(nd).as("n_discounted"),
          round(sum(nd), 2).as("sum_disc"),
          round(avg(nd), 6).as("avg_disc_nonzero"),
          round(avg(coalesce(nd, lit(0.0))), 6).as("avg_disc_all"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(*) AS n_rows,
             count(nullif(l_discount, 0.0)) AS n_discounted,
             round(sum(nullif(l_discount, 0.0)), 2) AS sum_disc,
             round(avg(nullif(l_discount, 0.0)), 6) AS avg_disc_nonzero,
             round(avg(coalesce(nullif(l_discount, 0.0), 0.0)), 6) AS avg_disc_all
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Array function library over tokenized text. */
  private val qArrayFuncs = QueryDef(
    "q_array_functions",
    (s, d) => {
      val toks = split(col("text"), " ")
      documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          size(toks).as("n"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"),
          element_at(sort_array(toks), 1).as("min_tok"),
          concat_ws(" ", slice(toks, 1, 3)).as("head3"),
          array_contains(toks, "the").cast("int").as("has_the"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id,
             len(toks) AS n,
             toks[1] AS first_tok,
             toks[len(toks)] AS last_tok,
             list_sort(toks)[1] AS min_tok,
             array_to_string(toks[1:3], ' ') AS head3,
             CAST(list_contains(toks, 'the') AS INT) AS has_the
      FROM t
      ORDER BY doc_id"""))

  /** Explicit GROUPING SETS (the general form behind rollup/cube) with
    * grouping_id() to disambiguate which set produced each row —
    * Catalyst plans one Expand + one shuffle for all three sets, not
    * three scans. gid is cast to BIGINT on the DuckDB side (its
    * GROUPING() is narrower; the driver hash is type-sensitive). */
  private val qGroupingSets = QueryDef(
    "q_grouping_sets",
    (s, d) => {
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("gid"), col("n_rows"), col("sum_qty"))
        .orderBy(col("gid"), col("rflag"), col("lstatus"))
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rflag,
             coalesce(l_linestatus, 'ALL') AS lstatus,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      ORDER BY gid, rflag, lstatus"""))

  /** Unpivot (wide→long): melt three measure columns into (metric,
    * val) rows via Dataset.unpivot — a generator, not a shuffle; rows
    * triple before any exchange so map-side ops absorb the fan-out. */
  private val qUnpivot = QueryDef(
    "q_unpivot",
    (s, d) => {
      lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          round(col("val"), 2).as("val"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    },
    Some("""
      WITH u AS (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
        FROM lineitem WHERE l_orderkey < 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        FROM lineitem WHERE l_orderkey < 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey < 100)
      SELECT l_orderkey, l_linenumber, metric, round(val, 2) AS val
      FROM u
      ORDER BY l_orderkey, l_linenumber, metric"""))

  /** Deterministic hash sampling: keep a row iff the md5 of its key
    * falls below the rate threshold (~16% here). Unlike TABLESAMPLE or
    * rand(), the sample is reproducible across engines, partitionings,
    * and reruns, and sampling on a JOIN key keeps referential
    * integrity across tables. The filter is a pure per-row predicate —
    * fully parallel, no shuffle before the rollup. */
  private val qSampleHash = QueryDef(
    "q_sample_hash",
    (s, d) => {
      lineitem(s, d)
        .withColumn("k",
          md5(concat_ws("-", col("l_orderkey"), col("l_linenumber")).cast("binary")))
        .filter(substring(col("k"), 1, 2) < "29")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_sampled"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(*) AS n_sampled,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      WHERE substr(md5(l_orderkey || '-' || l_linenumber), 1, 2) < '29'
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Approximate quantiles (the sketch path for percentiles at 100 TB
    * — fixed-size partial state, one shuffle, vs exact percentile's
    * per-group sort). Like kdb_approx_distinct, the sketch value is
    * implementation-specific, so the oracle checks an ACCURACY
    * PROPERTY: the estimate must land within 5% of the exact quantile,
    * which DuckDB asserts as a constant-true column. */
  private val qApproxQuantile = QueryDef(
    "q_approx_quantile",
    (s, d) => {
      orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("est_p50"),
          expr("percentile(o_totalprice, 0.5)").as("ex_p50"),
          count(lit(1)).as("n_rows"))
        .select(col("o_orderstatus"), col("n_rows"),
          round(col("ex_p50"), 2).as("exact_p50"),
          (abs(col("est_p50") - col("ex_p50")) <=
            abs(col("ex_p50")) * lit(0.05)).cast("int").as("approx_ok"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus,
             count(*) AS n_rows,
             round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
             1 AS approx_ok
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** Fixed-width histogram: value → bucket ordinal via floored
    * division — one narrow scan, one shuffle on the (tiny) bucket key.
    * The declarative histogram shape every profiling pass uses. */
  private val qHistogram = QueryDef(
    "q_histogram",
    (s, d) => {
      lineitem(s, d)
        .select((floor(col("l_quantity") / 5.0).cast("long")).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .select(col("bucket"), (col("bucket") * 5).as("lo"),
          ((col("bucket") + 1) * 5).as("hi"), col("n"))
        .orderBy(col("bucket"))
    },
    Some("""
      SELECT CAST(floor(l_quantity / 5.0) AS BIGINT) AS bucket,
             CAST(floor(l_quantity / 5.0) AS BIGINT) * 5 AS lo,
             (CAST(floor(l_quantity / 5.0) AS BIGINT) + 1) * 5 AS hi,
             count(*) AS n
      FROM lineitem
      GROUP BY 1
      ORDER BY bucket"""))

  /** JSON extraction: pull a typed field out of a JSON string column
    * (events.props) and aggregate on it — semi-structured columns are
    * how real event tables carry the long tail of attributes. Spark's
    * get_json_object is codegen'd per-row work; the aggregation is one
    * ordinary shuffle after extraction, so the JSON never crosses the
    * wire — only the extracted long does. */
  private val qJsonFuncs = QueryDef(
    "q_json_functions",
    (s, d) => {
      events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          count(when(col("k") >= 50, 1)).as("n_high"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             count(*) AS n,
             min(CAST(props->>'k' AS BIGINT)) AS min_k,
             max(CAST(props->>'k' AS BIGINT)) AS max_k,
             count(CASE WHEN CAST(props->>'k' AS BIGINT) >= 50 THEN 1 END) AS n_high,
             count(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_distinct_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Distribution-position window functions: percent_rank, cume_dist,
    * first/nth_value — the remaining quarter of the window-function
    * library (rank/row_number/ntile/lag/frames are covered elsewhere).
    * The custkey tiebreak in the ordering makes every rank-derived
    * value deterministic; value functions use an explicit
    * unbounded-both frame so row 1's nth_value(…, 2) is defined
    * identically in both engines (the default frame would NULL it). */
  private val qWindowDist = QueryDef(
    "q_window_dist_functions",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      customer(s, d)
        .filter(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_nationkey"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"),
          round(first(col("c_acctbal")).over(wAll), 2).as("lowest_bal"),
          round(nth_value(col("c_acctbal"), 2).over(wAll), 2).as("second_bal"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_nationkey,
             round(percent_rank() OVER w, 4) AS pr,
             round(cume_dist() OVER w, 4) AS cd,
             round(first_value(c_acctbal) OVER wa, 2) AS lowest_bal,
             round(nth_value(c_acctbal, 2) OVER wa, 2) AS second_bal
      FROM customer
      WHERE c_custkey <= 300
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
             wa AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY c_custkey"""))

  /** SCD2 interval build: turn a change stream into validity
    * intervals — each signup event's value holds [valid_from,
    * valid_to) until the user's next signup; the open interval is the
    * current row. One lead() window per user (single shuffle), the
    * standard temporal-table construction every warehouse needs.
    * µs precision and an event_id tiebreak keep both engines'
    * intervals identical. */
  private val qScd2 = QueryDef(
    "q_scd2_intervals",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from_us"), col("event_id"))
      events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("valid_from_us"), // int64 ns → µs (DuckDB parity)
          round(col("value"), 2).as("value"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
        .withColumn("is_current", col("valid_to_us").isNull.cast("int"))
        .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id,
             epoch_us(ts) AS valid_from_us,
             round(value, 2) AS value,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS valid_to_us,
             CASE WHEN lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) IS NULL THEN 1 ELSE 0 END AS is_current
      FROM events
      WHERE event_type = 'signup'
      ORDER BY user_id, valid_from_us, event_id"""))

  /** Point-in-time (PIT) join against the SCD2 dimension: each
    * purchase picks the signup VERSION valid at its timestamp — the
    * temporal-table lookup every warehouse fact load runs. Scale
    * shape: NOT an interval join (which explodes candidates per
    * fact); a single union + one per-user window with
    * last(ignoreNulls) carries the current version to each fact row —
    * one shuffle on user_id, rows ≤ facts + versions, the
    * kdb_asof_join discipline. Tie semantics mirror the interval
    * builder exactly: at equal timestamps version rows sort before
    * facts (a fact AT a version start matches it), and of two
    * same-instant versions the later event_id wins — the earlier one
    * holds an empty [t, t) interval. The DuckDB oracle IS the
    * interval join (validity-range predicate over q_scd2_intervals'
    * construction) — a genuinely different plan reaching the same
    * rows, which is the point of the gate. */
  private val qScd2Pit = QueryDef(
    "q_scd2_pit_join",
    (s, d) => {
      val ev = events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id").as("oid"), lit(0).as("kind"),
          col("event_id").as("sig_id"), round(col("value"), 2).as("sig_val"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id").as("oid"), lit(1).as("kind"),
          lit(null).cast("long").as("sig_id"),
          lit(null).cast("double").as("sig_val"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("kind"), col("oid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      su.union(pu)
        .withColumn("v_id", last(col("sig_id"), ignoreNulls = true).over(w))
        .withColumn("v_val", last(col("sig_val"), ignoreNulls = true).over(w))
        .withColumn("v_from", last(when(col("kind") === 0, col("ts_us")),
          ignoreNulls = true).over(w))
        .filter(col("kind") === 1 && col("v_id").isNotNull)
        .select(col("user_id"), col("oid").as("p_id"), col("ts_us"),
          col("v_id").as("sig_id"), col("v_val").as("sig_val"),
          (col("ts_us") - col("v_from")).as("version_age_us"))
        .orderBy(col("user_id"), col("p_id"))
    },
    Some("""
      WITH iv AS (
        SELECT user_id, event_id AS sig_id, epoch_us(ts) AS vf,
               round(value, 2) AS sig_val,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS vt
        FROM events WHERE event_type = 'signup'),
      p AS (
        SELECT user_id, event_id AS p_id, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, p.p_id, p.ts_us, iv.sig_id, iv.sig_val,
             p.ts_us - iv.vf AS version_age_us
      FROM p JOIN iv
        ON p.user_id = iv.user_id AND p.ts_us >= iv.vf
           AND (iv.vt IS NULL OR p.ts_us < iv.vt)
      ORDER BY p.user_id, p.p_id"""))

  /** Duplicate-preserving set ops: INTERSECT ALL / EXCEPT ALL keep
    * per-key multiplicities (min / truncated-difference of counts) —
    * distinct physical operators from their DISTINCT cousins, and the
    * semantics bag-relational pipelines actually need (e.g. "how many
    * F-orders per customer beyond their O-orders"). */
  private val qSetOpsAll = QueryDef(
    "q_set_ops_all",
    (s, d) => {
      val o = orders(s, d)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val oo = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val interAll = f.intersectAll(oo).agg(count(lit(1)).as("n"))
        .withColumn("which", lit("intersect_all"))
      val exceptAll = f.exceptAll(oo).agg(count(lit(1)).as("n"))
        .withColumn("which", lit("except_all"))
      val unionAll = f.union(oo).agg(count(lit(1)).as("n"))
        .withColumn("which", lit("union_all"))
      interAll.union(exceptAll).union(unionAll)
        .select(col("which"), col("n")).orderBy(col("which"))
    },
    Some("""
      WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
           o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      SELECT 'except_all' AS which, count(*) AS n
        FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM o)
      UNION ALL
      SELECT 'intersect_all' AS which, count(*) AS n
        FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM o)
      UNION ALL
      SELECT 'union_all' AS which, count(*) AS n
        FROM (SELECT * FROM f UNION ALL SELECT * FROM o)
      ORDER BY which"""))

  /** Full outer join with unmatched rows on BOTH sides (ranges chosen
    * to overlap partially): the join kind reconciliation jobs need —
    * every key from either side survives, null-extended where absent.
    * Coalesced key + presence flags keep the output total-ordered and
    * null-free for hashing. */
  private val qFullOuter = QueryDef(
    "q_full_outer_join",
    (s, d) => {
      val cust = customer(s, d).filter(col("c_custkey") <= 100)
        .select(col("c_custkey"), col("c_nationkey"))
      val ords = orders(s, d).filter(col("o_custkey") >= 50 && col("o_custkey") <= 150)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.cast("int").as("has_customer"),
          col("o_custkey").isNotNull.cast("int").as("has_orders"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("custkey"))
    },
    Some("""
      WITH c AS (
        SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey <= 100),
      o AS (
        SELECT o_custkey, count(*) AS n_orders
        FROM orders WHERE o_custkey BETWEEN 50 AND 150
        GROUP BY o_custkey)
      SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
             CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_customer,
             CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_orders,
             coalesce(o.n_orders, 0) AS n_orders
      FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
      ORDER BY custkey"""))

  /** Table profiling (the ANALYZE/data-quality pass): per-column row
    * count, non-null count, exact NDV, and min/max — numerics (and
    * the timestamp, as epoch µs) through `min_num`/`max_num`, strings
    * through `min_str`/`max_str`. One aggregation branch PER COLUMN,
    * unioned: each branch's parquet scan prunes to its single column
    * and its lone countDistinct plans as a two-level distinct
    * aggregate — no Expand. (The one-job multi-distinct alternative
    * multiplies every full-width row by (distinct columns + 1)
    * through Expand; measured 4× slower at sf0.1. At 100 TB swap
    * exact NDV for approx_count_distinct and the branches collapse
    * to one pass.) */
  /** One-pass approximate profile — the 100 TB path the exact
    * q_profile_table's doc promises: approx_count_distinct is a
    * fixed-size HLL sketch, so EVERY column's NDV + null counts come
    * from a single scan and one partial-agg exchange (no Expand, no
    * per-column branches). Gated by the sketch-query pattern
    * (kdb_approx_distinct precedent): exact counts hash-compare, the
    * HLL estimate is asserted as a within-10%-of-exact int flag
    * (deterministic: xxhash64 sketches, no RNG). The exact-NDV
    * branches here exist only to compute that flag — a production
    * run ships the one-pass plan alone. */
  private val qProfileApprox = QueryDef(
    "q_profile_table_approx",
    (s, d) => {
      val li = lineitem(s, d)
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      val aggs = cols.flatMap { c => Seq(
        count(col(c)).as(s"${c}_nn"),
        approx_count_distinct(col(c)).as(s"${c}_andv")) }
      val onePass = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val melted = onePass.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col("n_rows"),
          col(s"${c}_nn").as("n_nonnull"),
          col(s"${c}_andv").as("ndv_approx"))): _*)).as("r"))
        .select(col("r.col_name"), col("r.n_rows"), col("r.n_nonnull"), col("r.ndv_approx"))
      val exact = cols.map(c => li.select(col(c))
          .agg(countDistinct(col(c)).as("ndv"))
          .select(lit(c).as("col_name"), col("ndv")))
        .reduce(_ unionByName _)
      melted.join(exact, Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nonnull"),
          when(abs(col("ndv_approx") - col("ndv")) <= col("ndv") * 0.1, lit(1))
            .otherwise(lit(0)).as("ndv_ok"))
        .orderBy(col("col_name"))
    },
    Some("""
      WITH a AS (
        SELECT count(*) AS n_rows,
               count(l_orderkey) AS ok_nn, count(l_quantity) AS q_nn,
               count(l_returnflag) AS rf_nn, count(l_shipdate) AS sd_nn
        FROM lineitem)
      SELECT 'l_orderkey' AS col_name, n_rows, ok_nn AS n_nonnull, 1 AS ndv_ok FROM a
      UNION ALL
      SELECT 'l_quantity', n_rows, q_nn, 1 FROM a
      UNION ALL
      SELECT 'l_returnflag', n_rows, rf_nn, 1 FROM a
      UNION ALL
      SELECT 'l_shipdate', n_rows, sd_nn, 1 FROM a
      ORDER BY col_name"""))

  private val qProfile = QueryDef(
    "q_profile_table",
    (s, d) => {
      val nullD = lit(null).cast("double")
      val nullS = lit(null).cast("string")
      def num(c: String, toNum: Column => Column = identity) =
        lineitem(s, d).select(col(c)).agg(
          count(lit(1)).as("n_rows"), count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"),
          toNum(min(col(c))).cast("double").as("min_num"),
          toNum(max(col(c))).cast("double").as("max_num"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_num"), col("max_num"),
            nullS.as("min_str"), nullS.as("max_str"))
      def str(c: String) =
        lineitem(s, d).select(col(c)).agg(
          count(lit(1)).as("n_rows"), count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).as("min_str"), max(col(c)).as("max_str"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), nullD.as("min_num"), nullD.as("max_num"),
            col("min_str"), col("max_str"))
      num("l_orderkey")
        .unionByName(num("l_quantity"))
        .unionByName(str("l_returnflag"))
        // l_shipdate reads as TIMESTAMP_NTZ; the session is pinned UTC,
        // so the NTZ→timestamp cast is drift-free for unix_micros.
        .unionByName(num("l_shipdate", m => unix_micros(m.cast("timestamp"))))
        .orderBy(col("col_name"))
    },
    Some("""
      WITH a AS (
        SELECT count(*) AS n_rows,
               count(l_orderkey) AS ok_nn, count(DISTINCT l_orderkey) AS ok_ndv,
               CAST(min(l_orderkey) AS DOUBLE) AS ok_min, CAST(max(l_orderkey) AS DOUBLE) AS ok_max,
               count(l_quantity) AS q_nn, count(DISTINCT l_quantity) AS q_ndv,
               min(l_quantity) AS q_min, max(l_quantity) AS q_max,
               count(l_returnflag) AS rf_nn, count(DISTINCT l_returnflag) AS rf_ndv,
               min(l_returnflag) AS rf_min, max(l_returnflag) AS rf_max,
               count(l_shipdate) AS sd_nn, count(DISTINCT l_shipdate) AS sd_ndv,
               CAST(epoch_us(min(l_shipdate)) AS DOUBLE) AS sd_min,
               CAST(epoch_us(max(l_shipdate)) AS DOUBLE) AS sd_max
        FROM lineitem)
      SELECT 'l_orderkey' AS col_name, n_rows, ok_nn AS n_nonnull, ok_ndv AS n_distinct,
             ok_min AS min_num, ok_max AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a
      UNION ALL
      SELECT 'l_quantity', n_rows, q_nn, q_ndv, q_min, q_max, NULL, NULL FROM a
      UNION ALL
      SELECT 'l_returnflag', n_rows, rf_nn, rf_ndv, NULL, NULL, rf_min, rf_max FROM a
      UNION ALL
      SELECT 'l_shipdate', n_rows, sd_nn, sd_ndv, sd_min, sd_max, NULL, NULL FROM a
      ORDER BY col_name"""))

  /** CDC merge-apply (batch MERGE INTO semantics): a derived change
    * set — deletes (key % 11 = 0), updates (+100 balance on key % 7 =
    * 0, delete wins), inserts (key+1000000 clones of key % 13 = 0) —
    * applied to the customer base as anti-join (delete) + left-join
    * coalesce (update) + union (insert), the relational twin of the
    * engine's LWW upsert path. All three legs join on c_custkey, so
    * one hash partitioning serves the whole apply; at 100 TB this is
    * the bucketed-merge shape (change set shuffled once against a
    * bucketed base). Output is the action audit + final checksum. */
  private val qCdcMerge = QueryDef(
    "q_cdc_merge_apply",
    (s, d) => {
      val base = customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      val dels = base.filter(col("c_custkey") % 11 === 0).select(col("c_custkey"))
      val upds = base.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("new_bal"))
      val ins = base.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), lit(0.0).as("c_acctbal"))
      val merged = base
        .join(dels, Seq("c_custkey"), "left_anti")
        .join(upds, Seq("c_custkey"), "left_outer")
        .select(col("c_custkey"), coalesce(col("new_bal"), col("c_acctbal")).as("c_acctbal"))
        .unionByName(ins)
      // base cardinality as a lazy 1-row aggregate riding a broadcast
      // cross join (an eager .count() here would fire a Spark job at
      // plan-construction time and scan customer twice)
      val nBase = base.agg(count(lit(1)).as("n_base"))
      merged.agg(
          count(lit(1)).as("n_final"),
          count(when(col("c_custkey") > 1000000L, 1)).as("n_inserted"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .crossJoin(broadcast(nBase))
        .select(col("n_base"), col("n_final"), col("n_inserted"), col("sum_bal"))
    },
    Some("""
      WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
      dels AS (SELECT c_custkey FROM base WHERE c_custkey % 11 = 0),
      upds AS (SELECT c_custkey, c_acctbal + 100.0 AS new_bal FROM base WHERE c_custkey % 7 = 0),
      ins AS (SELECT c_custkey + 1000000 AS c_custkey, 0.0 AS c_acctbal
              FROM base WHERE c_custkey % 13 = 0),
      merged AS (
        SELECT b.c_custkey, coalesce(u.new_bal, b.c_acctbal) AS c_acctbal
        FROM base b
        LEFT JOIN upds u USING (c_custkey)
        WHERE NOT EXISTS (SELECT 1 FROM dels x WHERE x.c_custkey = b.c_custkey)
        UNION ALL SELECT * FROM ins)
      SELECT (SELECT count(*) FROM base) AS n_base,
             count(*) AS n_final,
             count(CASE WHEN c_custkey > 1000000 THEN 1 END) AS n_inserted,
             round(sum(c_acctbal), 2) AS sum_bal
      FROM merged"""))

  /** Exact decimal (money) arithmetic: revenue per return flag with
    * prices and discounts as DECIMAL — the bookkeeping-grade path
    * where double rounding drift is not acceptable. Inputs cast to
    * DECIMAL(12,2) at the scan and the product/aggregate carried
    * exactly in DECIMAL end-to-end; the OUTPUT columns are the exact
    * decimal rendered as canonical fixed-scale strings. (Pinned
    * decimal128 outputs hash-matched value-for-value but fell over in
    * the driver's pandas-side compare, where DuckDB decimals surface
    * as float64 while Spark parquet decimal128 stays Decimal — r4
    * gate: rows/schema ok, hash mismatch. A fixed-scale string is the
    * type-system-proof canonical form; exactness is still asserted by
    * the spec on the pre-render DECIMAL(38,_) schema.) */
  private val qDecimal = QueryDef(
    "q_decimal_money",
    (s, d) => decimalMoneyExact(s, d)
      .select(
        col("l_returnflag"),
        col("gross").cast("string").as("gross"),
        col("net").cast("string").as("net"),
        col("n_rows")),
    Some("""
      SELECT l_returnflag,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS gross,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DECIMAL(38,4)) AS VARCHAR) AS net,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** The exact-DECIMAL aggregation underlying q_decimal_money, with
    * outputs pinned to DECIMAL(38,2)/(38,4) — the library-facing form
    * (spec-asserted); the oracle query renders it to strings. */
  def decimalMoneyExact(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(price).cast("decimal(38,2)").as("gross"),
        sum(price * (lit(1).cast("decimal(3,2)") - disc))
          .cast("decimal(38,4)").as("net"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q7 shape: bilateral trade volume between two REGIONS by
    * year — the five-way join where only the fact table is big. Both
    * nation→region dimension legs broadcast (≤25 rows each after the
    * region filter), orders broadcasts nothing it doesn't need
    * (pruned to the join key + date), and the lineitem↔orders join is
    * the single shuffle; the (supp_nation, cust_nation, year) rollup
    * is partial-agg friendly. Revenue rounds at 2dp per the q1/q3
    * precedent. */
  private val qTradeVolume = QueryDef(
    "q_trade_volume",
    (s, d) => {
      val ns = nation(s, d).join(broadcast(
          region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val nc = nation(s, d).join(broadcast(
          region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nc), col("c_nationkey") === col("c_nkey"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some("""
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN region sr ON sn.n_regionkey = sr.r_regionkey AND sr.r_name = 'EUROPE'
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region cr ON cn.n_regionkey = cr.r_regionkey AND cr.r_name = 'ASIA'
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2, 3
      ORDER BY supp_nation, cust_nation, l_year"""))

  /** TPC-H Q10 shape: returned-item revenue per customer, top 20.
    * The lineitem('R')↔orders join is the one shuffle; customer and
    * nation broadcast; the final top-20 on the ROUNDED revenue (both
    * engines order by the same 2dp value — ordering by the raw double
    * on one side would flip rows at the cutoff) compiles to
    * TakeOrderedAndProject, never a global sort. */
  private val qReturnedRevenue = QueryDef(
    "q_returned_revenue",
    (s, d) => {
      lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_return_lines"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""
      SELECT c_custkey, c_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n_return_lines
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""))

  /** TPC-H Q18 shape: large-quantity orders. The HAVING pre-aggregate
    * runs on lineitem alone (one partial-agg shuffle on l_orderkey);
    * only the surviving ~1% of order keys join back — as a broadcast,
    * since the filtered key set is tiny relative to the fact tables it
    * gates. Quantity threshold 250 ≈ the p99 of per-order quantity at
    * every SF, so survivors exist at sf0.001 and stay ~1% at scale. */
  private val qHeavyOrders = QueryDef(
    "q_heavy_orders",
    (s, d) => {
      val heavy = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 250)
      orders(s, d)
        .join(broadcast(heavy), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          round(col("o_totalprice"), 2).as("total_price"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(50)
    },
    Some("""
      WITH heavy AS (
        SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING round(sum(l_quantity), 2) > 250)
      SELECT c_custkey, c_name, o_orderkey,
             CAST(o_orderdate AS DATE) AS odate,
             round(o_totalprice, 2) AS total_price, total_qty
      FROM orders
      JOIN heavy ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_qty DESC, o_orderkey
      LIMIT 50"""))

  /** TPC-H Q13 shape: customer order-count distribution ("how many
    * customers placed N orders, including zero"). The LEFT OUTER join
    * keeps orderless customers; count(o_orderkey) counts matches (0
    * for them). Both aggregations are partial-agg shuffles on keys
    * that shrink fast (customers, then distinct order counts). */
  private val qCustDist = QueryDef(
    "q_custdist",
    (s, d) => {
      customer(s, d).select(col("c_custkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      SELECT c_count, count(*) AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""))

  /** TPC-H Q22 shape: "idle rich" — customers with above-average
    * balance and no URGENT orders, rolled up per nation. (The
    * driver's corpus gives every customer at least one order, so the
    * anti-join targets the urgent slice to stay a real filter; the
    * plan shape — anti-join against a filtered fact — is identical
    * to Q22's "no orders at all".) The balance threshold is
    * Σcents/count (exact integer sum, ONE double division) instead
    * of avg() over doubles — engine-native double summation order
    * would drift and flip membership at the threshold; the
    * integer-cent path is bit-identical. The threshold broadcasts
    * (1 row), the order check is a left-anti join, nation
    * broadcasts. */
  private val qIdleRich = QueryDef(
    "q_idle_rich",
    (s, d) => {
      val c = customer(s, d)
        .withColumn("bal_cents", round(col("c_acctbal") * 100, 0).cast("long"))
      val thr = c.filter(col("bal_cents") > 0)
        .agg((sum(col("bal_cents")) / count(lit(1)).cast("double")).as("avg_cents"))
        .withColumn("one", lit(1))
      c.withColumn("one", lit(1))
        .join(broadcast(thr), "one")
        .filter(col("bal_cents").cast("double") > col("avg_cents"))
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("bal_cents")).as("total_bal_cents"))
        .orderBy(col("n_name"))
    },
    Some("""
      WITH c AS (
        SELECT c_custkey, c_nationkey,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        FROM customer),
      thr AS (
        SELECT sum(bal_cents) / CAST(count(*) AS DOUBLE) AS avg_cents
        FROM c WHERE bal_cents > 0)
      SELECT n_name, count(*) AS n_custs,
             CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
      FROM c
      CROSS JOIN thr
      JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(bal_cents AS DOUBLE) > avg_cents
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
      GROUP BY n_name
      ORDER BY n_name"""))

  /** TPC-H Q14 shape: promo revenue share per month. Revenue is
    * quantized to integer cents PER ROW before summing (the
    * engine-gated rollup discipline — double sums are summation-order
    * dependent across engines; per-row round then integer sum is
    * exact), so the share is one division of exact integers. Part
    * broadcasts; one fact shuffle on the month rollup. */
  private val qPromoShare = QueryDef(
    "q_promo_share",
    (s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(part(s, d).select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("rev_cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long"))
        .groupBy(month(col("l_shipdate")).as("ship_month"))
        .agg(sum(when(col("p_type") === "PROMO", col("rev_cents")).otherwise(0L))
          .as("promo_cents"),
          sum(col("rev_cents")).as("total_cents"),
          count(lit(1)).as("n_lines"))
        .withColumn("promo_share",
          round(col("promo_cents") / col("total_cents").cast("double"), 4))
        .orderBy(col("ship_month"))
    },
    Some("""
      WITH l AS (
        SELECT month(l_shipdate) AS ship_month, p_type,
               CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
                 AS rev_cents
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01')
      SELECT ship_month,
             CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cents ELSE 0 END) AS BIGINT)
               AS promo_cents,
             CAST(sum(rev_cents) AS BIGINT) AS total_cents,
             count(*) AS n_lines,
             round(sum(CASE WHEN p_type = 'PROMO' THEN rev_cents ELSE 0 END)
                   / CAST(sum(rev_cents) AS DOUBLE), 4) AS promo_share
      FROM l
      GROUP BY ship_month
      ORDER BY ship_month"""))

  /** TPC-H Q19 shape: bracketed OR-of-ANDs discount revenue — three
    * (brand, size, quantity-range) brackets that Catalyst must keep
    * pushable (the part filters prune the broadcast build side; the
    * quantity/bracket residual evaluates post-join). Single-row
    * output in exact integer cents. */
  private val qBracketRevenue = QueryDef(
    "q_bracket_revenue",
    (s, d) => {
      val p = part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
      val j = lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val bracket =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 35))
      j.filter(bracket)
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    },
    Some("""
      SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             count(*) AS n_lines
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 15)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 25)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 35)"""))

  /** TPC-H Q8 shape: a supplier nation's market share inside one
    * region's customer market for one part type, by order year. The
    * numerator/denominator both sum integer cents (per-row quantized
    * — the q_promo_share discipline), so the share divides exact
    * integers once per year. Every dimension broadcasts; lineitem ↔
    * orders is the one shuffle. */
  private val qMarketShare = QueryDef(
    "q_market_share",
    (s, d) => {
      val custAsia = customer(s, d)
        .join(broadcast(nation(s, d)
          .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNation = supplier(s, d)
        .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      lineitem(s, d)
        .join(broadcast(part(s, d).filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .withColumn("rev_cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_7", col("rev_cents"))
          .otherwise(0L)).as("nation_cents"),
          sum(col("rev_cents")).as("total_cents"))
        .withColumn("mkt_share",
          round(col("nation_cents") / col("total_cents").cast("double"), 4))
        .orderBy(col("o_year"))
    },
    Some("""
      WITH asia_cust AS (
        SELECT c_custkey FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'),
      l AS (
        SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation,
               CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
                 AS rev_cents
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN asia_cust ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey)
      SELECT o_year,
             CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_cents ELSE 0 END)
                  AS BIGINT) AS nation_cents,
             CAST(sum(rev_cents) AS BIGINT) AS total_cents,
             round(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_cents ELSE 0 END)
                   / CAST(sum(rev_cents) AS DOUBLE), 4) AS mkt_share
      FROM l
      GROUP BY o_year
      ORDER BY o_year"""))

  /** Trade-flow matrix: q_trade_volume's TPC-H Q7 corridor
    * generalized to the FULL (supplier nation → customer nation) ×
    * year revenue matrix over every differing pair — the export/
    * import dashboard behind "who trades with whom". Revenue is
    * quantized to integer cents PER ROW before summing (per-row
    * round then int sum is exact across engines; q_promo_share
    * discipline — the corridor variant deliberately exercises the
    * round(sum) path instead). The lineitem↔orders join is the one
    * big shuffle; supplier/customer broadcast at gate scale (at 100×
    * AQE flips them to shuffle joins off the same declarative plan),
    * nation broadcasts twice. Output is bounded: |nations|² × years. */
  private val qNationTrade = QueryDef(
    "q_nation_trade",
    (s, d) => {
      val n1 = nation(s, d)
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = nation(s, d)
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      lineitem(s, d)
        .withColumn("rev_cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("l_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg((sum(col("rev_cents")) / 100.0).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(o_orderdate) AS l_year,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                           AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2, 3
      ORDER BY supp_nation, cust_nation, l_year"""))

  /** TPC-H Q19 shape: disjunctive multi-attribute revenue — three
    * OR'd (brand, size range, quantity range) branches. The point is
    * the PLAN: the disjunction over part attributes joins first
    * (broadcast part), then one filter evaluates all three branches;
    * the quantity half of each branch refers only to lineitem columns
    * and Catalyst extracts the common l_quantity <= 36 bound into the
    * scan's pushed filters — predicate weakening a hand-written
    * engine would need bespoke logic for. Revenue in per-row integer
    * cents (q_promo_share discipline). */
  private val qBrandDisjunct = QueryDef(
    "q_brand_disjunct",
    (s, d) => {
      val branch1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 12)
      val branch2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 25) && col("l_quantity").between(10, 24)
      val branch3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 35) && col("l_quantity").between(24, 36)
      lineitem(s, d)
        .withColumn("rev_cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long"))
        .join(broadcast(part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .filter(branch1 || branch2 || branch3)
        .groupBy(col("p_brand"))
        .agg((sum(col("rev_cents")) / 100.0).as("revenue"),
          count(lit(1)).as("n_lines"),
          (sum(round(col("l_quantity") * 100, 0).cast("long")) / 100.0)
            .as("total_qty"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                           AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
             count(*) AS n_lines,
             CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
               / 100.0 AS total_qty
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 12)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 24)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 24 AND 36)
      GROUP BY p_brand
      ORDER BY p_brand"""))

  /** TPC-H Q4 shape: order-priority count over an EXISTS semi-join.
    * "Late" adapts Q4's commit/receipt lag to this corpus's columns:
    * a lineitem shipped more than 60 days after the order date. The
    * semi-join carries the non-equi lateness predicate INTO the join
    * condition, so Spark plans one hash semi-join on l_orderkey (the
    * fact shuffle) and each order contributes at most once regardless
    * of how many late lines it has — the dedup a naive inner-join +
    * distinct would pay a second shuffle for. Output is bounded:
    * 5 priority rows. */
  private val qPriorityWait = QueryDef(
    "q_priority_wait",
    (s, d) => {
      val o = orders(s, d).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      o.join(l,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** TPC-H Q12 shape: conditional two-way counts per category. The
    * corpus has no l_shipmode, so the category is l_linestatus and
    * "late" is ship > order date + 90 days; the CASE-sum pair (urgent
    * vs other priority) is the Q12 signature — one fact join on
    * l_orderkey, then a 2-row rollup with both counts computed in the
    * same partial aggregate (one pass, no second join). */
  private val qLateByStatus = QueryDef(
    "q_late_by_status",
    (s, d) => {
      val o = orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
    Some("""
      SELECT l_linestatus,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      GROUP BY l_linestatus
      ORDER BY l_linestatus"""))

  /** TPC-H Q15 shape: top supplier by quarterly revenue — the
    * max-equality scalar subquery. Revenue is per-row integer cents so
    * "equals the max" is an exact int64 compare in both engines (the
    * raw-double variant can disagree at the max boundary under
    * different summation orders). The per-supplier rollup is the one
    * fact shuffle; the 1-row max and the supplier dim both broadcast
    * back onto it, so no second pass over lineitem. */
  private val qTopSupplier = QueryDef(
    "q_top_supplier",
    (s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .withColumn("rev_cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("rev_cents")).as("total_cents"))
      val mx = rev.agg(max(col("total_cents")).as("max_cents"))
      rev.join(broadcast(mx), col("total_cents") === col("max_cents"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("total_cents") / 100.0).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                             AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_cents / 100.0 AS total_revenue
      FROM supplier JOIN rev ON l_suppkey = s_suppkey
      WHERE total_cents = (SELECT max(total_cents) FROM rev)
      ORDER BY s_suppkey"""))

  /** TPC-H Q17 shape: small-quantity-order revenue — the correlated
    * per-part average. The threshold compare q < 0.2 * avg(q) is
    * restated as the integer inequality 5·q_cents·cnt < sum_q_cents
    * (all positive), so the cutoff can never flip on double summation
    * order. Brand filter broadcasts into the fact scan first; the
    * per-part stats rollup and its join back to the surviving lines
    * share the l_partkey shuffle key, and the final result is one
    * global 1-row aggregate from exact cents. */
  private val qSmallQtyRevenue = QueryDef(
    "q_small_qty_revenue",
    (s, d) => {
      val p = part(s, d).filter(col("p_brand") === "Brand#4")
        .select(col("p_partkey"))
      val l = lineitem(s, d)
        .select(col("l_partkey"),
          round(col("l_quantity") * 100, 0).cast("long").as("qty_cents"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val stats = l.groupBy(col("l_partkey").as("sp"))
        .agg(sum(col("qty_cents")).as("sum_qc"), count(lit(1)).as("cnt"))
      l.join(stats, col("l_partkey") === col("sp"))
        .filter(col("qty_cents") * col("cnt") * lit(5L) < col("sum_qc"))
        .agg(round(sum(col("price_cents")) / 100.0 / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },
    Some("""
      WITH l AS (
        SELECT l_partkey,
               CAST(round(l_quantity * 100, 0) AS BIGINT) AS qty_cents,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#4'),
      stats AS (
        SELECT l_partkey AS sp, CAST(sum(qty_cents) AS BIGINT) AS sum_qc,
               count(*) AS cnt
        FROM l GROUP BY 1)
      SELECT round(CAST(sum(price_cents) AS BIGINT) / 100.0 / 7.0, 2) AS avg_yearly,
             count(*) AS n_lines
      FROM l JOIN stats ON l_partkey = sp
      WHERE qty_cents * cnt * 5 < sum_qc"""))

  /** TPC-H Q21 shape: suppliers who kept orders waiting — the
    * EXISTS / NOT-EXISTS pair. "Late" adapts to ship > order date +
    * 90 days on 'F' orders. Instead of three correlated passes over
    * lineitem (the literal SQL), one window over the l_orderkey
    * partition annotates each line with the order's distinct-supplier
    * set and late-supplier set (orders are bounded — at most a few
    * lines — so the per-partition collect_set buffers O(1)); a line
    * qualifies iff it is late, the order is multi-supplier, and its
    * supplier is the ONLY late one. Single fact shuffle, then a tiny
    * supplier rollup → top-20 via TakeOrderedAndProject. */
  private val qWaitingSuppliers = QueryDef(
    "q_waiting_suppliers",
    (s, d) => {
      val o = orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      val w = Window.partitionBy(col("l_orderkey"))
      l.withColumn("supps", collect_set(col("l_suppkey")).over(w))
        .withColumn("late_supps",
          collect_set(when(col("late"), col("l_suppkey"))).over(w))
        .filter(col("late") && size(col("supps")) > 1 &&
          size(col("late_supps")) === 1)
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    Some("""
      SELECT s_name, count(*) AS numwait
      FROM lineitem l1
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN supplier ON s_suppkey = l1.l_suppkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 20"""))

  /** TPC-H Q22 shape: dormant high-balance customers per segment —
    * the global-average scalar subquery + NOT EXISTS anti-join.
    * "Above average" is the exact integer compare bal_cents · n >
    * sum_cents over positive-balance customers (double-avg thresholds
    * can flip at the boundary); the 1-row threshold broadcasts (a
    * BroadcastNestedLoopJoin by construction — allowlisted like
    * q_idle_rich's), and dormancy is a left-anti hash join against
    * recent order custkeys. Customer is the only table scanned twice,
    * and it is the small one. */
  private val qSegmentDormant = QueryDef(
    "q_segment_dormant",
    (s, d) => {
      val c = customer(s, d)
        .withColumn("bal_cents", round(col("c_acctbal") * 100, 0).cast("long"))
      val thresh = c.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("sum_cents"), count(lit(1)).as("n_pos"))
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(thresh))
        .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_cents")) / 100.0).as("totacctbal"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      WITH pos AS (
        SELECT CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               count(*) AS n_pos
        FROM customer WHERE round(c_acctbal * 100, 0) > 0)
      SELECT c_mktsegment, count(*) AS numcust,
             CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               / 100.0 AS totacctbal
      FROM customer, pos
      WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) * n_pos > sum_cents
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** TPC-H Q2 shape: minimum-cost supplier per part over a 4-dim
    * join (part × supply catalog × supplier × nation × region) with
    * the correlated-min subquery. No partsupp table exists in this
    * star schema, so the supply catalog derives from lineitem — one
    * (partkey, suppkey) rollup taking min(price_cents) as the
    * supplier's offer, which keeps every cost an exact integer (the
    * TPC-H ps_supplycost column re-expressed from observed data).
    * Spark replaces the literal correlated scan with ONE window min
    * over the candidate set (already shuffled by p_partkey, so no
    * extra exchange); the oracle keeps the textbook correlated
    * subquery — same rows either way. All dims broadcast (part
    * filter ~44 rows, region suppliers ~20); the only data-sized
    * work is the catalog rollup, shuffle-keyed on (part, supp).
    * Output ordered by exact bal_cents (never the raw double). */
  private val q2MinCostSupplier = QueryDef(
    "q2_min_cost_supplier",
    (s, d) => {
      val eur = supplier(s, d)
        .join(broadcast(nation(s, d)
          .join(region(s, d).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          round(col("s_acctbal") * 100, 0).cast("long").as("bal_cents"))
      val p = part(s, d)
        .filter(col("p_type") === "LARGE" && col("p_size") <= 5)
        .select(col("p_partkey"), col("p_name"))
      val catalog = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("price_cents")).as("cost_cents"))
      val w = Window.partitionBy(col("p_partkey"))
      catalog
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_cost", min(col("cost_cents")).over(w))
        .filter(col("cost_cents") === col("min_cost"))
        .select(col("bal_cents"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("cost_cents"))
        .orderBy(col("bal_cents").desc, col("s_name"), col("p_partkey"))
        .limit(100)
    },
    Some("""
      WITH cat AS (
        SELECT l_partkey, l_suppkey,
               CAST(min(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cost_cents
        FROM lineitem GROUP BY 1, 2),
      eur AS (
        SELECT s_suppkey, s_name, n_name,
               CAST(round(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
      cand AS (
        SELECT p_partkey, p_name, s_name, bal_cents, n_name, cost_cents
        FROM cat
        JOIN part ON l_partkey = p_partkey
        JOIN eur ON l_suppkey = s_suppkey
        WHERE p_type = 'LARGE' AND p_size <= 5)
      SELECT bal_cents, s_name, n_name, p_partkey, p_name, cost_cents
      FROM cand c
      WHERE cost_cents = (SELECT min(cost_cents) FROM cand c2
                          WHERE c2.p_partkey = c.p_partkey)
      ORDER BY bal_cents DESC, s_name, p_partkey
      LIMIT 100"""))

  /** TPC-H Q9 shape: profit by supplier nation × order year over the
    * part-name LIKE filter — the 5-table star (lineitem × part ×
    * supplier × nation × orders). Profit per line rides ONE exact
    * integer in cents·percent units: price_cents·(100 − disc_pct) −
    * retail_cents·qty·10 (supply cost proxied at 10% of the part's
    * retail price — no partsupp table; discounts are exact integer
    * percents in this corpus, quantities integral doubles). Sums
    * stay < ~10¹⁴ at sf0.1 → ≥100× int64 headroom. Plan: part +
    * supplier⋈nation broadcast into the lineitem scan; the one real
    * exchange is the lineitem⋈orders shuffle on orderkey (both
    * data-sized, the canonical Q9 cost), then a ≤25·7-group rollup. */
  private val q9NationProfit = QueryDef(
    "q9_nation_profit",
    (s, d) => {
      val p = part(s, d).filter(col("p_name").contains("red"))
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100, 0).cast("long").as("retail_cents"))
      val sn = supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val o = orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"))
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"),
          round(col("l_discount") * 100, 0).cast("long").as("disc_pct"),
          col("l_quantity").cast("long").as("qty"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("amount_cp",
          col("price_cents") * (lit(100L) - col("disc_pct")) -
            col("retail_cents") * col("qty") * lit(10L))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(col("amount_cp")).as("sum_profit_cp"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"), col("o_year").desc)
    },
    Some("""
      SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
                      - CAST(round(p_retailprice * 100, 0) AS BIGINT)
                        * CAST(l_quantity AS BIGINT) * 10) AS BIGINT)
               AS sum_profit_cp,
             count(*) AS n_lines
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      WHERE p_name LIKE '%red%'
      GROUP BY 1, 2
      ORDER BY n_name, o_year DESC"""))

  /** TPC-H Q11 shape: parts whose supply value from one region's
    * suppliers exceeds a fixed share of the regional total — the
    * scalar-subquery threshold. Value per part = Σ price_cents over
    * lines shipped by ASIA suppliers (exact integer; the partsupp
    * value ps_supplycost·ps_availqty re-expressed from observed
    * flow). The share test is the exact cross-multiplication
    * value·1000 > total (never a float fraction), with the 1-row
    * total riding a broadcast nested-loop join by construction
    * (allowlisted, the q_segment_dormant precedent). One supplier
    * semi-broadcast into the lineitem scan, one partkey rollup, one
    * 1-row broadcast — no data-sized exchange beyond the rollup. */
  private val q11ValueShare = QueryDef(
    "q11_value_share",
    (s, d) => {
      val asiaSupp = supplier(s, d)
        .join(broadcast(nation(s, d)
          .join(region(s, d).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val v = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"))
        .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("price_cents")).as("value_cents"))
      val tot = v.agg(sum(col("value_cents")).as("total_cents"))
      v.crossJoin(broadcast(tot))
        .filter(col("value_cents") * 1000L > col("total_cents"))
        .select(col("l_partkey").as("p_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("p_partkey"))
    },
    Some("""
      WITH asia AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'),
      v AS (
        SELECT l_partkey AS p_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS value_cents
        FROM lineitem JOIN asia ON l_suppkey = s_suppkey
        GROUP BY 1)
      SELECT p_partkey, value_cents
      FROM v
      WHERE value_cents * 1000 > (SELECT CAST(sum(value_cents) AS BIGINT) FROM v)
      ORDER BY value_cents DESC, p_partkey"""))

  /** TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    * size) bucket with the NOT-IN supplier exclusion. The
    * part-supplier relation derives from lineitem (distinct pairs —
    * no partsupp table); "customer complaints" is proxied by
    * negative account balance. Spark expresses NOT IN as a LEFT ANTI
    * hash join (null-free key, so the semantics coincide) — the
    * exclusion set (~6 rows) broadcasts, as does the filtered part
    * dim; the data-sized work is the pair distinct (one shuffle) and
    * the count-distinct rollup (Spark's two-phase distinct
    * aggregate). Deterministic all-integer output. */
  private val q16SupplierCount = QueryDef(
    "q16_supplier_count",
    (s, d) => {
      val excl = supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = part(s, d)
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      lineitem(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some("""
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  /** TPC-H Q20 shape: the nested semi-join chain — suppliers (in one
    * nation) who dominated 1997 shipments of red parts. The literal
    * query's availqty > ½·demand test becomes share-of-part-volume:
    * a supplier qualifies on a part when 4·(their 1997 quantity) >
    * the part's total 1997 quantity (>25% share) — exact integer
    * cross-multiplication on integral quantities, no partsupp
    * needed. Spark runs the chain as rollup → self-equi-join on
    * partkey → LEFT SEMI into supplier; the oracle keeps the nested
    * IN subqueries (the Q20 literal). The per-(part,supp) and
    * per-part rollups share the l_partkey shuffle key, so the join
    * between them is co-partitioned; supplier/nation broadcast. */
  private val q20ExcessSuppliers = QueryDef(
    "q20_excess_suppliers",
    (s, d) => {
      val redParts = part(s, d).filter(col("p_name").startsWith("red"))
        .select(col("p_partkey"))
      val l97 = lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1997)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
      val perSupp = l97.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("qty")).as("supp_qty"))
      val perPart = l97.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty")).as("part_qty"))
      val qualifying = perSupp
        .join(perPart, col("l_partkey") === col("pk"))
        .filter(col("supp_qty") * 4L > col("part_qty"))
        .select(col("l_suppkey")).distinct()
      // a 4-nation band instead of TPC-H's single nation: the shape
      // (broadcast nation dim -> semi join) is identical, but one
      // nation's supplier slice is EMPTY at sf0.001 (the smoke gate
      // requires rows at every SF)
      supplier(s, d)
        .join(broadcast(nation(s, d).filter(col("n_name").isin(
          "NATION_7", "NATION_8", "NATION_12", "NATION_15"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("n_name"), col("s_name"),
          round(col("s_acctbal") * 100, 0).cast("long").as("bal_cents"))
        .orderBy(col("n_name"), col("s_name"))
    },
    Some("""
      SELECT n_name, s_name,
             CAST(round(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_7', 'NATION_8', 'NATION_12', 'NATION_15')
        AND s_suppkey IN (
          SELECT ps.l_suppkey
          FROM (SELECT l_partkey, l_suppkey,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
                FROM lineitem
                WHERE year(l_shipdate) = 1997
                  AND l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
                GROUP BY 1, 2) ps
          JOIN (SELECT l_partkey,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS part_qty
                FROM lineitem
                WHERE year(l_shipdate) = 1997
                  AND l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
                GROUP BY 1) pt
            ON ps.l_partkey = pt.l_partkey
          WHERE ps.supp_qty * 4 > pt.part_qty)
      ORDER BY n_name, s_name"""))

  /** Sink/source round-trip fidelity across the three non-parquet
    * batch formats Spark ships (ORC columnar, CSV text, JSON lines):
    * one lineitem projection is WRITTEN to each format and READ BACK,
    * and each re-read must reproduce the identical per-flag aggregate
    * the oracle computes straight from parquet — so the gate fails if
    * any format loses rows, reorders columns, or mangles a type on
    * the way through (dates through CSV text, integral doubles
    * through JSON, everything through ORC's own codec). Quantity sums
    * stay exact: TPC-H quantities are integral doubles, so their sums
    * are order-independent integers until 2^53. Scratch dirs ride
    * graft.core.Scratch (deleted at JVM exit; a fresh dir per call so
    * re-invocations never collide). At 100 TB this is the audit you
    * run before committing a corpus to an interchange format. */
  private val qFormatsRoundtrip = QueryDef(
    "q_formats_roundtrip",
    (s, d) => {
      val base = lineitem(s, d).select(col("l_orderkey"), col("l_quantity"),
        col("l_returnflag"), col("l_shipdate").cast("date").as("ship"))
      val out = graft.core.Scratch.path("graft-formats")
      base.write.mode("overwrite").orc(s"$out/orc")
      base.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
      base.write.mode("overwrite").json(s"$out/json")
      val reread = Seq(
        "orc" -> s.read.orc(s"$out/orc"),
        "csv" -> s.read.schema(base.schema).option("header", "true").csv(s"$out/csv"),
        "json" -> s.read.schema(base.schema).json(s"$out/json"))
      reread.map { case (fmt, df) =>
        df.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            min(col("ship")).cast("string").as("min_ship"),
            max(col("ship")).cast("string").as("max_ship"))
          .select(lit(fmt).as("fmt"), col("l_returnflag"), col("n"),
            col("sum_qty"), col("min_ship"), col("max_ship"))
      }.reduce(_ unionAll _)
        .orderBy(col("fmt"), col("l_returnflag"))
    },
    Some("""
      WITH agg AS (
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS min_ship,
               CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS max_ship
        FROM lineitem GROUP BY 1)
      SELECT f.fmt, a.l_returnflag, a.n, a.sum_qty, a.min_ship, a.max_ship
      FROM agg a CROSS JOIN (VALUES ('orc'), ('csv'), ('json')) f(fmt)
      ORDER BY f.fmt, a.l_returnflag"""))

  /** Multi-hop graph reachability — the recursive-CTE surface Spark
    * SQL lacks, re-expressed as level-synchronous BFS (the Pregel
    * discipline): the co-purchase graph (parts sharing an order; pair
    * generation is per-order-local and TPC-H orders are ≤7 lines, so
    * the self-join on l_orderkey never goes quadratic in the table),
    * seeds = p_partkey % 997 = 0, min-hop per node to depth 4.
    * Each round is frontier ⋈ edges (shuffle on the node key) then
    * LEFT ANTI against the visited set — a node is expanded exactly
    * once, so total work is O(edges · 1) regardless of path count,
    * while the oracle's WITH RECURSIVE enumerates (node, hop) pairs
    * and dedups per level (UNION recursion). Each round's new frontier
    * is localCheckpointed (iterative-lineage discipline); the visited
    * set is the plain union of those checkpointed frames, so it needs
    * no checkpoint job of its own.
    * Output: per-hop node census — rows only for reached hops. */
  private val qGraphReachability = QueryDef(
    "q_graph_reachability",
    (s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      val edges = pairs
        .union(pairs.select(col("v").as("u"), col("u").as("v")))
        .localCheckpoint(true)
      var dist = part(s, d).filter(col("p_partkey") % 997 === 0)
        .select(col("p_partkey").as("node")).withColumn("hop", lit(0))
        .localCheckpoint(true)
      var frontier = dist
      // r14 (guide §3.1): frontier and visited-set are node-id sets
      // bounded by |part|, but localCheckpoint erases size stats —
      // defaultSizeInBytes made the planner sort-merge the FULL edge
      // table every round. The measured |part| bound gates a
      // broadcast hint (SizedBroadcast: a genuinely huge node set
      // stays on the shuffle join), so the 4 rounds become
      // broadcast-hash joins and edges are never shuffled.
      val nParts = part(s, d).count()
      def bc(df: DataFrame) = graft.operators.SizedBroadcast.hint(df, nParts)
      for (h <- 1 to 4) {
        val fresh = bc(frontier).join(edges, col("node") === col("u"))
          .select(col("v").as("node")).distinct()
          .join(bc(dist.select(col("node"))), Seq("node"), "left_anti")
          .withColumn("hop", lit(h))
          .localCheckpoint(true)
        dist = dist.union(fresh) // a union of checkpointed frames
        frontier = fresh
      }
      dist.groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy(col("hop"))
    },
    Some("""
      WITH RECURSIVE pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      edges AS MATERIALIZED (
        -- MATERIALIZED: the recursive term scans edges every round
        SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      bfs(node, hop) AS (
        SELECT p_partkey, 0 FROM part WHERE p_partkey % 997 = 0
        UNION
        SELECT e.v, b.hop + 1
        FROM bfs b JOIN edges e ON e.u = b.node WHERE b.hop < 4),
      mh AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY node)
      SELECT hop, count(*) AS n_nodes,
             min(node) AS min_node, max(node) AS max_node
      FROM mh GROUP BY hop ORDER BY hop"""))

  val defs: Seq[QueryDef] = Seq(
    qGraphReachability,
    qFormatsRoundtrip,
    qPriorityWait, qLateByStatus, qTopSupplier, qSmallQtyRevenue,
    qWaitingSuppliers, qSegmentDormant,
    q2MinCostSupplier, q9NationProfit, q11ValueShare,
    q16SupplierCount, q20ExcessSuppliers,
    qNationTrade, qBrandDisjunct,
    qTradeVolume, qReturnedRevenue, qHeavyOrders,
    qCustDist, qIdleRich, qPromoShare, qBracketRevenue, qMarketShare,
    q1Agg, q6Filter, q3TopOrders, q5Star, qSemi, qAnti,
    qWindowRunning, qTopkPerGroup, qLag, qRollup, qSortLimit,
    qSetOps, qScalarFuncs, qDistinctAgg,
    qCube, qNtile, qCorrSubquery, qPercentile,
    qDatetime, qStringFuncs, qNullSemantics, qArrayFuncs, qRangeFrame,
    qStringAgg, qGroupingSets, qUnpivot, qSampleHash, qApproxQuantile,
    qHistogram, qJsonFuncs, qWindowDist, qScd2, qScd2Pit, qSetOpsAll, qFullOuter,
    qProfile, qProfileApprox, qCdcMerge, qDecimal)
}
