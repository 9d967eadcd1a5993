package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Market-basket association rules over order baskets: which brands
  * co-occur in the same order beyond chance, as support / confidence /
  * lift rules — the classic co-purchase analysis, at the brand
  * granularity where the fixture is dense (25 items, every pair
  * observed).
  *
  * Scale shape: the basket table reduces to DISTINCT (order, brand)
  * first (one shuffle); the pair join is a SELF-join on the basket key,
  * so its fan-out is Σ|basket|² with |basket| bounded by the brand
  * count per order (≤7 here) — per-basket-quadratic, never
  * corpus-quadratic, the same cost discipline as the dedup posting
  * lists. Item tables are vocabulary-sized and broadcast.
  *
  * All rule metrics are single divisions of exact BIGINT counts
  * (c12·N ≤ 2³⁸ at sf0.1), so both engines agree bitwise (ORACLE.md).
  */
object BasketQueries extends graft.QueryModule {

  /** Pairs below this basket count are noise. */
  val MinPairBaskets = 5

  /** Rules reported (both directions compete). */
  val TopK = 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // lift(a,b) = P(ab)/(P(a)P(b)) = c12·N/(c1a·c1b); confidence(a→b) =
    // c12/c1a. Both directions of every surviving pair compete for the
    // top-k by (lift, antecedent, consequent) — lift is symmetric, so
    // direction pairs tie and the name tie-break keeps the cut
    // deterministic.
    "basket_pair_rules" -> ((s, dir) => {
      val items = s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(s.read.parquet(s"$dir/part.parquet")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
        .distinct()
        // feeds N, c1, and both sides of the pair join
        .transform(graft.Materialize(_))
      val n = items.agg(countDistinct("basket").as("n"))
      val c1 = items.groupBy("item").agg(count(lit(1)).as("c1"))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.basket") === col("b.basket") &&
            col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= MinPairBaskets)
      val both = pairs
        .select(col("item_a").as("antecedent"),
          col("item_b").as("consequent"), col("c12"))
        .unionAll(pairs.select(col("item_b").as("antecedent"),
          col("item_a").as("consequent"), col("c12")))
      both
        .join(broadcast(c1.select(col("item").as("antecedent"),
          col("c1").as("c1a"))), "antecedent")
        .join(broadcast(c1.select(col("item").as("consequent"),
          col("c1").as("c1b"))), "consequent")
        .crossJoin(broadcast(n))
        .select(col("antecedent"), col("consequent"),
          col("c12").as("pair_baskets"),
          col("c1a").as("ante_baskets"), col("c1b").as("cons_baskets"),
          (col("c12").cast("double") / col("n")).as("support"),
          (col("c12").cast("double") / col("c1a")).as("confidence"),
          ((col("c12") * col("n")).cast("double") /
            (col("c1a") * col("c1b"))).as("lift"))
        .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
        .limit(TopK)
    }),

    // sequential rules — the TEMPORAL companion: a→b is supported by a
    // customer iff some order with a strictly predates some order with
    // b, which collapses to first_date(a) < last_date(b) per customer —
    // so the corpus reduces to one (customer, brand, first, last) row
    // per pair member and the quadratic step is per-customer-bounded,
    // the same cost discipline as the co-occurrence rules. Confidence
    // conditions on customers holding the antecedent at all; the
    // reverse count exposes direction asymmetry (a→b ≫ b→a is an
    // ordering signal co-occurrence cannot see).
    "basket_sequence_rules" -> ((s, dir) => {
      val spans = s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(s.read.parquet(s"$dir/part.parquet")),
          col("l_partkey") === col("p_partkey"))
        .join(s.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("p_brand").as("item"))
        .agg(min("o_orderdate").as("first_d"),
          max("o_orderdate").as("last_d"))
        // both sides of the pair join + the census
        .transform(graft.Materialize(_))
      val c1 = spans.groupBy("item").agg(count(lit(1)).as("n_cust"))
      // rev must come from the UNfiltered direction counts: a surviving
      // a→b whose reverse fell under min-support still has a true
      // nonzero reverse census
      val seqAll = spans.as("a")
        .join(spans.as("b"),
          col("a.cust") === col("b.cust") &&
            col("a.item") =!= col("b.item") &&
            col("a.first_d") < col("b.last_d"))
        .groupBy(col("a.item").as("antecedent"),
          col("b.item").as("consequent"))
        .agg(count(lit(1)).as("n_cust_seq"))
        // brand²-bounded; both directions read it
        .transform(graft.Materialize(_))
      val seq = seqAll.filter(col("n_cust_seq") >= MinPairBaskets)
      val rev = seqAll.select(col("antecedent").as("consequent"),
        col("consequent").as("antecedent"),
        col("n_cust_seq").as("n_cust_rev"))
      seq
        .join(broadcast(c1.select(col("item").as("antecedent"),
          col("n_cust").as("n_cust_ante"))), "antecedent")
        .join(broadcast(rev), Seq("antecedent", "consequent"), "left")
        .select(col("antecedent"), col("consequent"), col("n_cust_seq"),
          coalesce(col("n_cust_rev"), lit(0L)).as("n_cust_rev"),
          col("n_cust_ante"),
          (col("n_cust_seq").cast("double") / col("n_cust_ante"))
            .as("confidence"))
        .orderBy(col("n_cust_seq").desc, col("antecedent"),
          col("consequent"))
        .limit(TopK)
    }))

  val oracle: Map[String, String] = Map(
    "basket_pair_rules" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
         |  FROM lineitem JOIN part ON p_partkey = l_partkey
         |),
         |n AS (SELECT count(DISTINCT basket) AS n FROM items),
         |c1 AS (SELECT item, count(*) AS c1 FROM items GROUP BY 1),
         |pairs AS (
         |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS c12
         |  FROM items a JOIN items b
         |    ON a.basket = b.basket AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= $MinPairBaskets
         |),
         |dirs AS (
         |  SELECT item_a AS antecedent, item_b AS consequent, c12 FROM pairs
         |  UNION ALL
         |  SELECT item_b, item_a, c12 FROM pairs
         |)
         |SELECT b.antecedent, b.consequent, b.c12 AS pair_baskets,
         |       ca.c1 AS ante_baskets, cb.c1 AS cons_baskets,
         |       CAST(b.c12 AS DOUBLE) / n.n AS support,
         |       CAST(b.c12 AS DOUBLE) / ca.c1 AS confidence,
         |       CAST(b.c12 * n.n AS DOUBLE) / (ca.c1 * cb.c1) AS lift
         |FROM dirs b
         |JOIN c1 ca ON ca.item = b.antecedent
         |JOIN c1 cb ON cb.item = b.consequent
         |CROSS JOIN n
         |ORDER BY lift DESC, b.antecedent, b.consequent
         |LIMIT $TopK""".stripMargin,

    "basket_sequence_rules" ->
      s"""WITH spans AS (
         |  SELECT o.o_custkey AS cust, p.p_brand AS item,
         |         min(o.o_orderdate) AS first_d,
         |         max(o.o_orderdate) AS last_d
         |  FROM lineitem l
         |  JOIN part p ON p.p_partkey = l.l_partkey
         |  JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  GROUP BY 1, 2
         |),
         |c1 AS (SELECT item, count(*) AS n_cust FROM spans GROUP BY 1),
         |seq_all AS (
         |  SELECT a.item AS antecedent, b.item AS consequent,
         |         count(*) AS n_cust_seq
         |  FROM spans a JOIN spans b
         |    ON a.cust = b.cust AND a.item <> b.item
         |   AND a.first_d < b.last_d
         |  GROUP BY 1, 2
         |)
         |SELECT s.antecedent, s.consequent,
         |       s.n_cust_seq,
         |       CAST(coalesce(r.n_cust_seq, 0) AS BIGINT) AS n_cust_rev,
         |       c.n_cust AS n_cust_ante,
         |       CAST(s.n_cust_seq AS DOUBLE) / c.n_cust AS confidence
         |FROM seq_all s
         |JOIN c1 c ON c.item = s.antecedent
         |LEFT JOIN seq_all r
         |  ON r.antecedent = s.consequent AND r.consequent = s.antecedent
         |WHERE s.n_cust_seq >= $MinPairBaskets
         |ORDER BY s.n_cust_seq DESC, s.antecedent, s.consequent
         |LIMIT $TopK""".stripMargin)
}
