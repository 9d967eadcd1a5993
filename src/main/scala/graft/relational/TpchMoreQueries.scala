package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The mid-tier TPC-H shapes the round-4 review called out as absent:
  * multi-way join ordering (Q7/Q8/Q9), returned-items top-k (Q10), the
  * CASE-aggregate class split (Q12), and the hardest decorrelation shape
  * in the benchmark — EXISTS + NOT EXISTS double correlation (Q21).
  *
  * Fixture adaptations, declared (same plan shapes, different literals):
  *   - no l_commitdate / l_receiptdate / l_shipmode exist, so Q21's
  *     lateness is `l_shipdate > o_orderdate + 365 days` and Q12 groups
  *     by l_returnflag with the order-priority class split;
  *   - no partsupp table exists, so Q9's profit drops the supplycost
  *     term (pure revenue by supplier nation × order year);
  *   - nation names are synthetic (NATION_k); Q7 uses NATION_3/NATION_8
  *     — both have suppliers even in the 10-supplier sf0.001 fixture.
  *
  * Scale design: every dimension (part cut, supplier, customer, nation,
  * region) broadcasts — the ONLY fact-fact shuffle in each query is
  * lineitem ⋈ orders on the order key, and Q21's self-correlations run
  * as semi/anti joins on that same key (never a distinct-explosion or a
  * count-then-filter materialization). Money stays DECIMAL(18,4) until
  * the final cast, so sums are associative-exact on both engines.
  */
object TpchMoreQueries extends graft.QueryModule {

  // shared with RelationalQueries: one home for the table reader, the
  // money-decimal contract, and the date-literal cast
  import RelationalQueries.{t, revenue, date}

  /** Q21's adapted lateness horizon (the fixture's ship lag is synthetic
    * and independent of the order date; one year splits it ~1/3 late). */
  val LateDays = 365

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q6 forecast revenue: the pure scan-side query — every predicate
    // (date window, discount band, quantity cut) pushes into the parquet
    // reader, the aggregate is a single partial-then-final sum, and the
    // answer is one row. The whole-table-scan baseline every other query
    // is compared against.
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= date("1997-01-01") &&
          col("l_shipdate") < date("1998-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),

    // Q7 volume shipping: both nation dimensions are PRE-filtered to the
    // two nations before touching the fact, so the supplier/customer
    // broadcasts carry only the relevant keys and lineitem rows drop at
    // the first join — the disjunctive pair predicate then only has to
    // exclude the two same-nation combinations.
    "q7_nation_volume" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
      val n1 = nat.filter(col("n_name").isin("NATION_3", "NATION_8"))
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))
      val n2 = nat.filter(col("n_name").isin("NATION_3", "NATION_8"))
        .select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))
      val supp = t(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val cust = t(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .select("c_custkey", "cust_nation")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= date("1996-01-01") &&
          col("l_shipdate") <= date("1997-12-31"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Q8 market share: one nation's share of a region's spend on one
    // part type, per order year. The conditional numerator and the
    // denominator aggregate in the same pass (one shuffle on o_year);
    // the ratio is one double division of two exact decimal sums.
    "q8_market_share" -> ((s, dir) => {
      val pf = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val amNations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "AMERICA")
        .select(col("n_nationkey").as("am_key"))
      val cust = t(s, dir, "customer")
        .join(broadcast(amNations), col("c_nationkey") === col("am_key"))
        .select("c_custkey")
      val supp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val zero = lit(0).cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= date("1996-01-01") &&
            col("o_orderdate") <= date("1997-12-31"))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_8", revenue)
            .otherwise(zero)).cast("double").as("nation_volume"),
          sum(revenue).cast("double").as("total_volume"))
        .withColumn("mkt_share",
          col("nation_volume") / col("total_volume"))
        .orderBy("o_year")
    }),

    // Q9 product profit (no-partsupp adaptation): revenue on a part-name
    // cut, by supplier nation × order year — the 5-way join-ordering
    // shape. The LIKE cut prunes part to ~1/3 before broadcast.
    "q9_product_profit" -> ((s, dir) => {
      val pf = t(s, dir, "part")
        .filter(col("p_name").contains("widget")).select("p_partkey")
      val supp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      t(s, dir, "lineitem")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(revenue).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // Q10 returned items: revenue lost to returns per customer in one
    // quarter — orders pre-filtered to the quarter BEFORE the fact join
    // (the filter prunes ~96% of orders), customer/nation broadcast,
    // top-20 as TakeOrdered with the key tiebreak.
    "q10_returned_items" -> ((s, dir) => {
      val ordQ = t(s, dir, "orders")
        .filter(col("o_orderdate") >= date("1996-01-01") &&
          col("o_orderdate") < date("1996-04-01"))
        .select("o_orderkey", "o_custkey")
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(ordQ, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // Q12 class split (shipmode→returnflag adaptation): one year of
    // shipments, counting high- vs low-priority order lines per flag —
    // the canonical CASE-sum pair in a single aggregate pass.
    "q12_priority_class" -> ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= date("1997-01-01") &&
          col("l_shipdate") < date("1998-01-01"))
        .select("l_orderkey", "l_returnflag")
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // Q21 waiting suppliers — EXISTS + NOT EXISTS double correlation,
    // decorrelated into one semi and one anti join on the order key:
    //   late line of a finished order
    //   AND EXISTS another supplier's line in the order   (semi join)
    //   AND NOT EXISTS another supplier's LATE line       (anti join)
    // Both correlations carry the extra `suppkey <>` condition inside
    // the join, so no distinct/count materialization of the order's
    // supplier set ever exists. The late-lines side is computed once as
    // a plan and feeds both the probe and the anti build; at 100 TB the
    // three joins all share the l_orderkey shuffle key, so AQE reuses
    // the exchange rather than re-shuffling the fact three times.
    "q21_waiting_suppliers" -> ((s, dir) => {
      val ordF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val late = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"))
        .select("l_orderkey", "l_suppkey")
      val anyOther = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
      val lateOther = late
        .select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"))
      late
        .join(anyOther,
          col("l_orderkey") === col("lo2") && col("l_suppkey") =!= col("ls2"),
          "left_semi")
        .join(lateOther,
          col("l_orderkey") === col("lo3") && col("l_suppkey") =!= col("ls3"),
          "left_anti")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // order-to-ship SLA profile: days from order placement to FIRST
    // shipment, summarized per order priority — the fulfillment
    // latency distribution an operations team reads (p50 for the
    // typical case, p90 for the SLA tail). Lag days are exact integer
    // epoch-day differences; the percentiles are the
    // percentile/quantile_cont bit-equal pair over those exact ints.
    // One lineitem reduction to per-order min ship date, one broadcast
    // orders join, one priority-sized aggregate.
    "orders_fulfillment_lag" -> ((s, dir) => {
      val firstShip = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(min("l_shipdate").as("first_ship"))
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
        .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("first_ship"), col("o_orderdate")).cast("long")
            .as("lag_days"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          min("lag_days").as("min_days"),
          expr("percentile(lag_days, 0.5)").as("p50_days"),
          expr("percentile(lag_days, 0.9)").as("p90_days"),
          max("lag_days").as("max_days"))
        .orderBy("o_orderpriority")
    }))

  val oracle: Map[String, String] = Map(
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        |            AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1997-12-31 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_8'
        |           THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_volume,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS total_volume,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_8'
        |           THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |           AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_priority_class" ->
      """SELECT l_returnflag,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q21_waiting_suppliers" ->
      s"""WITH l1 AS (
         |  SELECT l_orderkey, l_suppkey,
         |         l_shipdate > o_orderdate + INTERVAL $LateDays DAY AS late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F'
         |)
         |SELECT s_name, count(*) AS numwait
         |FROM l1 JOIN supplier ON l_suppkey = s_suppkey
         |WHERE late
         |  AND EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM l1 l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "orders_fulfillment_lag" ->
      """WITH fs AS (
        |  SELECT l_orderkey, min(l_shipdate) AS first_ship
        |  FROM lineitem GROUP BY 1
        |),
        |lag AS (
        |  SELECT o.o_orderpriority,
        |         CAST(datediff('day', o.o_orderdate, fs.first_ship)
        |              AS BIGINT) AS lag_days
        |  FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
        |)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       min(lag_days) AS min_days,
        |       quantile_cont(lag_days, 0.5) AS p50_days,
        |       quantile_cont(lag_days, 0.9) AS p90_days,
        |       max(lag_days) AS max_days
        |FROM lag GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)
}
