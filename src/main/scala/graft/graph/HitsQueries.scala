package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities over the customer→supplier purchase graph
  * (Kleinberg '99): authority(s) = Σ hub(c) over buyers, hub(c) =
  * Σ authority(s) over suppliers bought from — the bipartite mutual
  * endorsement that PageRank's single score can't express (a customer
  * is a good HUB because it buys from good suppliers; a supplier is a
  * good AUTHORITY because good hubs buy from it).
  *
  * Portability recipe (the suite's PageRank precedent): each
  * iteration's sums are rounded to 12 dp, which sits far above the
  * ~1e−16 partition-order noise of a double sum; normalization divides
  * by the MAX score — an order-independent reduction, unlike the L2
  * norm's sum of squares — and rounds again. Three fixed iterations,
  * unrolled identically in the DuckDB oracle.
  *
  * Scale shape: the distinct edge table is built once and checkpointed;
  * each iteration joins it against the BROADCAST score tables (hubs =
  * customers, authorities = suppliers — both dimension-sized), so the
  * edges are never shuffled: per iteration the only exchanges are the
  * two node-sized partial aggregates. O(iters × |E|) scan work, zero
  * edge-sized shuffles. On a web-scale graph whose score tables outgrow
  * a broadcast, the alternative is two edge copies pre-partitioned by
  * src and dst (the PageRank treatment); for this bipartite purchase
  * graph the broadcast is strictly better.
  */
object HitsQueries extends graft.QueryModule {

  val Iterations = 3
  val TopK = 10

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_hits" -> ((s, dir) => {
      // long node ids inside the loop (guide §2.3 — shuffle narrower
      // types): customers even (2·custkey), suppliers odd (2·suppkey+1),
      // the same bijective encoding PageRank uses; the "c:"/"s:" labels
      // are re-derived only on the final 2·TopK rows, BEFORE the
      // string-ordered top-K so tie-breaking matches the oracle exactly
      val edges = s.read.parquet(s"$dir/lineitem.parquet")
        .join(s.read.parquet(s"$dir/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
        .transform(graft.Materialize(_)) // 2 joins per iteration read this
      var hubs = edges.select(col("src").as("node")).distinct()
        .withColumn("score", lit(1.0))
      var auths: DataFrame = null
      // Per-round materialization, NOT the lazy fixed-loop fusion: the
      // round-11 rewrite that kept the whole loop lazy (the
      // PageRank.ranks treatment) was a measured REGRESSION (3.04 → 3.70 s
      // quiet host, 3.68 → 8.70 s in the driver's bench) — each round's
      // broadcast(aMax)/broadcast(auths) still needs its own
      // broadcast-build job, so the scheduler round-trips were not
      // removed, while the ~4^Iterations nested plan added optimizer
      // cost. Reverted per the round-11 verdict; persist-mode hygiene:
      // each round's raw-score materialization supersedes the previous
      // round's — release it as soon as the new one exists (round i's
      // aRaw feeds only auths(i), which hRaw(i) consumed before hRaw(i)
      // was materialized). The LAST round's frames back the result and
      // stay until the driver's reapAll.
      var prevA: DataFrame = null
      var prevH: DataFrame = null
      for (_ <- 1 to Iterations) {
        val aRaw = edges.join(broadcast(hubs), edges("src") === hubs("node"))
          .groupBy(col("dst").as("anode"))
          .agg(round(sum("score"), 12).as("raw"))
          .transform(graft.Materialize(_)) // feeds max AND the scores
        if (prevA != null) graft.Materialize.release(prevA)
        prevA = aRaw
        val aMax = aRaw.agg(max("raw").as("mx"))
        auths = aRaw.crossJoin(broadcast(aMax))
          .select(col("anode").as("node"),
            round(col("raw") / col("mx"), 12).as("score"))
        val hRaw = edges.join(broadcast(auths), edges("dst") === auths("node"))
          .groupBy(col("src").as("hnode"))
          .agg(round(sum("score"), 12).as("raw"))
          .transform(graft.Materialize(_))
        if (prevH != null) graft.Materialize.release(prevH)
        prevH = hRaw
        val hMax = hRaw.agg(max("raw").as("mx"))
        hubs = hRaw.crossJoin(broadcast(hMax))
          .select(col("hnode").as("node"),
            round(col("raw") / col("mx"), 12).as("score"))
      }
      // the result reads only the final raw-score frames; the edge
      // table is dead once the loop exits
      graft.Materialize.release(edges)
      val label = graft.relational.PageRank.nodeLabel(col("node"))
      val topA = auths.select(label.as("node"), col("score"))
        .orderBy(col("score").desc, col("node"))
        .limit(TopK).withColumn("role", lit("authority"))
      val topH = hubs.select(label.as("node"), col("score"))
        .orderBy(col("score").desc, col("node"))
        .limit(TopK).withColumn("role", lit("hub"))
      topA.unionAll(topH)
        .select(col("role"), col("node"), col("score"))
        .orderBy(col("role"), col("score").desc, col("node"))
    }))

  val oracle: Map[String, String] = {
    val base =
      """edges AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |),
        |h0 AS (
        |  SELECT src AS node, 1.0::DOUBLE AS score
        |  FROM (SELECT DISTINCT src FROM edges)
        |)""".stripMargin
    val iters = (1 to Iterations).map { i =>
      s"""a${i}raw AS (
         |  SELECT e.dst AS node, round(sum(h.score), 12) AS raw
         |  FROM edges e JOIN h${i - 1} h ON e.src = h.node
         |  GROUP BY 1
         |),
         |a$i AS (
         |  SELECT node, round(raw / (SELECT max(raw) FROM a${i}raw), 12)
         |           AS score
         |  FROM a${i}raw
         |),
         |h${i}raw AS (
         |  SELECT e.src AS node, round(sum(a.score), 12) AS raw
         |  FROM edges e JOIN a$i a ON e.dst = a.node
         |  GROUP BY 1
         |),
         |h$i AS (
         |  SELECT node, round(raw / (SELECT max(raw) FROM h${i}raw), 12)
         |           AS score
         |  FROM h${i}raw
         |)""".stripMargin
    }.mkString(",\n")
    Map("graph_hits" ->
      (s"WITH $base,\n$iters\n" +
        s"""SELECT role, node, score FROM (
           |  SELECT 'authority' AS role, node, score FROM a$Iterations
           |  ORDER BY score DESC, node LIMIT $TopK
           |)
           |UNION ALL
           |SELECT role, node, score FROM (
           |  SELECT 'hub' AS role, node, score FROM h$Iterations
           |  ORDER BY score DESC, node LIMIT $TopK
           |)
           |ORDER BY role, score DESC, node""".stripMargin))
  }
}
