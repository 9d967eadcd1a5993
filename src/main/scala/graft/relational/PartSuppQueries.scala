package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The three TPC-H shapes the fixture could not previously express —
  * Q2 (min-cost supplier), Q11 (important stock), Q20 (promising
  * suppliers) — over a DETERMINISTICALLY DERIVED `partsupp`, the same
  * fixture-derivation pattern as the kv op log (orders → log): the
  * driver ships no partsupp.parquet, so both engines derive the
  * identical table from `part` × a 4-row index, in lockstep
  * ([[partsuppSql]] is the DuckDB mirror — keep the two aligned).
  *
  * Derivation, per part p and slot i ∈ 0..3 (S = |supplier|):
  *   - ps_suppkey        = ((p·4 + i) mod S) + 1 — four CONSECUTIVE
  *     residues, so the four suppliers of one part are always distinct
  *     (any S ≥ 4), the property every Q2/Q20 join relies on
  *   - ps_availqty       = (p·37 + sk·11) mod 9999 + 1
  *   - ps_supplycost_cents = (p·53 + sk·19) mod 90000 + 1000
  * Costs are INTEGER CENTS end-to-end (ORACLE.md money rule): Q11's
  * value sums and Q2's minima stay exact longs, divided to dollars only
  * in the final projection.
  *
  * Scale notes: partsupp is fact-sized (4× part). Q2's min-per-part is
  * one shuffle on ps_partkey and the winners join re-uses that
  * partitioning; the supplier→nation→region enrichment chain is
  * broadcast-sized. Q11 is a single aggregate plus an integer-compare
  * HAVING against the broadcast 1-row total (value·50 > total — no
  * double fraction, no second scan). Q20's shipped-quantity side
  * aggregates lineitem FIRST (the 100 TB table folds to (part, supp)
  * before any join), then joins partsupp co-keyed.
  */
object PartSuppQueries extends graft.QueryModule {

  val SuppPerPart = 4
  /** Q11 keeps parts worth more than this multiple of the MEAN part
    * value — TPC-H's fixed fraction (0.0001/SF) empties as the part
    * count grows, so the cut is mean-relative (scale-free) and applied
    * as the exact integer cross-multiplication value·n > mult·total. */
  val ImportantMultiple = 2L
  val Region = "EUROPE"

  private[relational] def partsupp(s: SparkSession, dir: String): DataFrame = {
    val nS = s.read.parquet(s"$dir/supplier.parquet")
      .agg(count(lit(1)).as("n_supp"))
    s.read.parquet(s"$dir/part.parquet").select("p_partkey")
      .crossJoin(broadcast(nS))
      .select(col("p_partkey").as("ps_partkey"),
        explode(sequence(lit(0L), lit(SuppPerPart - 1L))).as("i"),
        col("n_supp"))
      .select(col("ps_partkey"),
        (pmod(col("ps_partkey") * SuppPerPart + col("i"), col("n_supp")) + 1L)
          .as("ps_suppkey"))
      .select(col("ps_partkey"), col("ps_suppkey"),
        (pmod(col("ps_partkey") * 37L + col("ps_suppkey") * 11L, lit(9999L))
          + 1L).as("ps_availqty"),
        (pmod(col("ps_partkey") * 53L + col("ps_suppkey") * 19L, lit(90000L))
          + 1000L).as("ps_cents"))
  }

  /** DuckDB mirror of [[partsupp]] — a CTE named `partsupp`. */
  private[relational] val partsuppSql: String =
    s"""partsupp AS (
       |  SELECT p_partkey AS ps_partkey,
       |         ((p_partkey * $SuppPerPart + ii.i)
       |           % (SELECT count(*) FROM supplier)) + 1 AS ps_suppkey
       |  FROM part, (SELECT unnest(range($SuppPerPart)) AS i) ii
       |),
       |partsupp2 AS (
       |  SELECT ps_partkey, ps_suppkey,
       |         (ps_partkey * 37 + ps_suppkey * 11) % 9999 + 1
       |           AS ps_availqty,
       |         (ps_partkey * 53 + ps_suppkey * 19) % 90000 + 1000
       |           AS ps_cents
       |  FROM partsupp
       |)""".stripMargin

  /** Regional partsupp: enriched with EUROPE suppliers (broadcast dims). */
  private def regional(s: SparkSession, dir: String): DataFrame =
    partsupp(s, dir)
      .join(broadcast(s.read.parquet(s"$dir/supplier.parquet")
        .join(s.read.parquet(s"$dir/nation.parquet"),
          col("s_nationkey") === col("n_nationkey"))
        .join(s.read.parquet(s"$dir/region.parquet")
          .filter(col("r_name") === Region),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")),
        col("ps_suppkey") === col("s_suppkey"))

  private val regionalSql: String =
    s"""regional AS (
       |  SELECT ps.*, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
       |  FROM partsupp2 ps
       |  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  WHERE r.r_name = '$Region'
       |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q2: for each LARGE part, the EUROPE supplier(s) offering it at the
    // regional minimum cost. Decorrelated Spark-first: min-per-part is a
    // groupBy (not a correlated subquery), and the winners join runs on
    // the aggregate's own hash partitioning.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val reg = regional(s, dir).transform(graft.Materialize(_))
      val minc = reg.groupBy(col("ps_partkey").as("mk"))
        .agg(min("ps_cents").as("min_cents"))
      val parts = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_type") === "LARGE" && col("p_size") <= 25)
        .select("p_partkey", "p_brand")
      reg.join(minc, col("ps_partkey") === col("mk") &&
          col("ps_cents") === col("min_cents"))
        .join(parts, col("ps_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"),
          (col("ps_cents").cast("double") / 100.0).as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
    }),

    // Q11: parts whose EUROPE stock value exceeds [[ImportantMultiple]]×
    // the mean part value. The cut is the INTEGER cross-multiplication
    // value·n > mult·total — no double fraction participates, so the
    // boundary is exact on both engines.
    "q11_important_stock" -> ((s, dir) => {
      val value = regional(s, dir)
        .groupBy("ps_partkey")
        .agg(sum(col("ps_cents") * col("ps_availqty")).as("value_cents"))
        .transform(graft.Materialize(_))
      val total = value.agg(sum("value_cents").as("total_cents"),
        count(lit(1)).as("n_parts"))
      value.crossJoin(broadcast(total))
        .filter(col("value_cents") * col("n_parts") >
          col("total_cents") * ImportantMultiple)
        .select(col("ps_partkey"),
          (col("value_cents").cast("double") / 100.0).as("value"),
          (col("value_cents").cast("double") /
            col("total_cents").cast("double")).as("share"))
        .orderBy(col("value").desc, col("ps_partkey"))
    }),

    // Q20: EUROPE suppliers holding excess stock of some part — availqty
    // greater than half the 1997-shipped quantity of that (part, supp).
    // lineitem folds to (part, supp) BEFORE any join; the partsupp probe
    // is co-keyed; the final supplier cut is a semi-join-shaped distinct.
    "q20_promising_suppliers" -> ((s, dir) => {
      val shipped = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= RelationalQueries.date("1997-01-01") &&
          col("l_shipdate") < RelationalQueries.date("1998-01-01"))
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        // decimal sum per the ORACLE.md money/quantity rule (exact,
        // associative — partition-order independent)
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("qty"))
      val excess = partsupp(s, dir)
        .join(shipped, Seq("ps_partkey", "ps_suppkey"))
        .filter(col("ps_availqty").cast("double") * 2.0 > col("qty"))
        .select("ps_suppkey").distinct()
      broadcast(s.read.parquet(s"$dir/supplier.parquet")
          .join(s.read.parquet(s"$dir/nation.parquet"),
            col("s_nationkey") === col("n_nationkey"))
          .join(s.read.parquet(s"$dir/region.parquet")
            .filter(col("r_name") === Region),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name", "n_name"))
        .join(excess, col("s_suppkey") === col("ps_suppkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    }),

    // Q9 at full fidelity: profit = revenue − supply cost, the term the
    // partsupp-less q9_product_profit declares away. Revenue sums in
    // DECIMAL (exact, associative); cost is ps_cents·l_quantity — both
    // integer-valued, summed as DECIMAL(18,2)·cents → one exact BIGINT-
    // scale sum; the subtraction and /100 happen once per output row.
    // partsupp probes co-keyed on (part, supp); part/supplier dims
    // broadcast; the only fact-fact shuffle is lineitem ⋈ orders.
    "q9_profit_full" -> ((s, dir) => {
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")
          .select(col("n_nationkey").as("sn_key"), col("n_name"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_partkey") % 5 === 0) // the widget-like part cut
        .join(partsupp(s, dir),
          col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(s.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
      li.groupBy(col("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          sum((col("ps_cents") * col("l_quantity").cast("long"))
            .cast("decimal(18,0)")).cast("long").as("cost_cents"))
        .select(col("nation"), col("o_year"), col("revenue"),
          (col("cost_cents").cast("double") / 100.0).as("supply_cost"),
          (col("revenue") - col("cost_cents").cast("double") / 100.0)
            .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }))

  val oracle: Map[String, String] = Map(
    "q2_min_cost_supplier" ->
      s"""WITH $partsuppSql,
         |$regionalSql,
         |minc AS (
         |  SELECT ps_partkey, min(ps_cents) AS min_cents
         |  FROM regional GROUP BY ps_partkey
         |)
         |SELECT r.s_acctbal, r.s_name, r.n_name, p.p_partkey, p.p_brand,
         |       CAST(r.ps_cents AS DOUBLE) / 100.0 AS supplycost
         |FROM regional r
         |JOIN minc m ON r.ps_partkey = m.ps_partkey
         |           AND r.ps_cents = m.min_cents
         |JOIN part p ON r.ps_partkey = p.p_partkey
         |WHERE p.p_type = 'LARGE' AND p.p_size <= 25
         |ORDER BY r.s_acctbal DESC, r.n_name, r.s_name, p.p_partkey""".stripMargin,

    "q11_important_stock" ->
      s"""WITH $partsuppSql,
         |$regionalSql,
         |value AS (
         |  SELECT ps_partkey,
         |         CAST(sum(ps_cents * ps_availqty) AS BIGINT) AS value_cents
         |  FROM regional GROUP BY ps_partkey
         |),
         |tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
         |               count(*) AS n_parts
         |        FROM value)
         |SELECT ps_partkey,
         |       CAST(value_cents AS DOUBLE) / 100.0 AS value,
         |       CAST(value_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
         |         AS share
         |FROM value, tot
         |WHERE value_cents * n_parts > $ImportantMultiple * total_cents
         |ORDER BY value DESC, ps_partkey""".stripMargin,

    "q20_promising_suppliers" ->
      s"""WITH $partsuppSql,
         |shipped AS (
         |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         |           AS qty
         |  FROM lineitem
         |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
         |  GROUP BY 1, 2
         |),
         |excess AS (
         |  SELECT DISTINCT ps.ps_suppkey
         |  FROM partsupp2 ps
         |  JOIN shipped sh ON ps.ps_partkey = sh.ps_partkey
         |                 AND ps.ps_suppkey = sh.ps_suppkey
         |  WHERE CAST(ps.ps_availqty AS DOUBLE) * 2.0 > sh.qty
         |)
         |SELECT s.s_name, n.n_name
         |FROM supplier s
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |JOIN excess e ON s.s_suppkey = e.ps_suppkey
         |WHERE r.r_name = '$Region'
         |ORDER BY s.s_name""".stripMargin,

    "q9_profit_full" ->
      s"""WITH $partsuppSql
         |SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
         |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
         |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         |       CAST(CAST(sum(CAST(ps.ps_cents * CAST(l.l_quantity AS BIGINT)
         |                          AS DECIMAL(18,0))) AS BIGINT) AS DOUBLE)
         |         / 100.0 AS supply_cost,
         |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
         |                     AS DECIMAL(18,4))) AS DOUBLE)
         |         - CAST(CAST(sum(CAST(ps.ps_cents
         |                              * CAST(l.l_quantity AS BIGINT)
         |                              AS DECIMAL(18,0))) AS BIGINT) AS DOUBLE)
         |           / 100.0 AS sum_profit
         |FROM lineitem l
         |JOIN partsupp2 ps ON l.l_partkey = ps.ps_partkey
         |                 AND l.l_suppkey = ps.ps_suppkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE l.l_partkey % 5 = 0
         |GROUP BY 1, 2
         |ORDER BY nation, o_year DESC""".stripMargin)
}
