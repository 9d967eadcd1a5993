package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics on DataFrames: PageRank over the customer↔supplier
  * trade graph (edge when a customer's order contains a supplier's part,
  * both directions so the bipartite graph has no sinks).
  *
  * Each iteration is one join + one aggregation — the standard distributed
  * PageRank shape (GraphX runs the same dataflow over RDDs; staying in
  * DataFrames keeps Tungsten and AQE). Ranks are rounded to 12 decimals
  * after every iteration: the per-node contribution sum is
  * order-dependent in the last float bits, and rounding well above that
  * noise floor (~1e-16) makes the result partitioning-invariant AND
  * bit-equal to the unrolled-SQL oracle.
  */
object PageRank extends graft.QueryModule {

  val Damping = 0.85
  val Iterations = 3
  val TopN = 20

  /** Long node ids, not "c:123"/"s:45" strings (guide §2.3 — shuffle
    * narrower types): customers encode even (2·custkey), suppliers odd
    * (2·suppkey+1) — a bijection, so the distinct/joins/aggregates are
    * over exactly the same node set while every exchange carries an
    * 8-byte long instead of a 5-12 byte string with hash/compare cost.
    * The display labels are re-derived once, AFTER the iteration loop
    * ([[nodeLabel]]), before the final string-ordered top-N — so the
    * emitted bits are identical to the string-keyed formulation and to
    * the oracle. */
  def edges(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    // materialize the join+distinct once — both union orientations read
    // the checkpoint instead of re-running the lineitem⋈orders join
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b"))
      .distinct()
      .transform(graft.Materialize(_))
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** "c:<custkey>" / "s:<suppkey>" display label of an encoded long
    * node id — the inverse of the [[edges]] encoding. shiftright(id, 1)
    * is exact floor-halving for the non-negative keys. */
  private[graft] def nodeLabel(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id.bitwiseAND(1) === 0,
      concat(lit("c:"), shiftright(id, 1).cast("string")))
      .otherwise(concat(lit("s:"), shiftright(id, 1).cast("string")))

  /** Iteration-invariant state: the degree-attached edge table,
    * pre-partitioned ONCE on the per-round join key (`src`) and cached.
    * `persist` (not `localCheckpoint`: under AQE a checkpoint's RDD
    * loses `outputPartitioning`, while a cached plan keeps it — AQE does
    * not re-plan cached subtrees) makes every iteration's edges⋈ranks
    * join read this layout in place; only the (node-count-sized) ranks
    * side is exchanged per round. The edge table, the big side at any
    * scale, never re-shuffles after this. Asserted in PlanAuditSpec (the
    * per-iteration join plans ≤ 2 exchanges, none on the edge side).
    * Callers drop the cache via the returned frame's `unpersist()` once
    * the iterations finish. */
  private[graft] def prepared(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = edges(s, dir).transform(graft.Materialize(_))
    val deg = e.groupBy("src").agg(count("*").as("deg")).transform(graft.Materialize(_))
    val eDeg = e.join(deg, "src").repartition(col("src")).persist()
    eDeg.count() // materialize the layout before the iterations
    // deg is checkpointed and small; nodes recomputes from it for free
    (eDeg, deg.select(col("src").as("node")))
  }

  def ranks(s: SparkSession, dir: String): DataFrame = {
    // degree is attached to the edge list ONCE; each iteration is then a
    // single join (edges ⋈ ranks) + one aggregation + the dangling-node
    // left join — half the shuffles of the naive per-round deg join
    val (eDeg, nodes) = prepared(s, dir)
    try {
      val n = nodes.count()
      var r = nodes.select(col("node"), round(lit(1.0) / n, 12).as("pr"))
      for (_ <- 1 to Iterations) {
        val contrib = eDeg.join(r, eDeg("src") === r("node"))
          .groupBy("dst").agg(sum(col("pr") / col("deg")).as("inflow"))
        r = nodes
          .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .select(col("node"),
            round(lit((1.0 - Damping)) / n +
              lit(Damping) * coalesce(col("inflow"), lit(0.0)), 12).as("pr"))
      }
      // ONE materialization for the whole loop: with [[Iterations]] fixed
      // and small, the three rounds fuse into a single lazy plan (the
      // per-round determinism lives in the round(…,12) expressions, not
      // in checkpoint barriers) — each round's ranks side is node-sized,
      // so AQE shrinks its exchanges while the edge side keeps reading
      // the one cached layout. Cuts the loop from Iterations scheduler
      // round-trips (a per-iteration localCheckpoint each) to one job —
      // the round-8 verdict's prescribed fix for the trade-graph query's
      // job-floor sensitivity to ambient load.
      // Stringify AFTER the loop and the materialization: every
      // iteration shuffled 8-byte longs; only the final node-sized
      // result pays the label concat (guide §2.3).
      r.transform(graft.Materialize(_))
        .select(nodeLabel(col("node")).as("node"), col("pr"))
    } finally {
      // r is checkpointed — safe to release the edge cache eagerly (and
      // on failure: a thrown iteration must not leak the materialized
      // edge table until session end)
      eDeg.unpersist()
    }
  }

  // --- convergence-driven variant -----------------------------------------

  /** Out-edges per nation in the partner graph: each nation points at its
    * top-k trade partners by revenue (ties broken by name, so the graph
    * is engine-deterministic). Sparse at every SF — the full nation×nation
    * trade graph is COMPLETE from sf0.01 up, which would make PageRank
    * uniform and the convergence loop a 1-iteration triviality. */
  val PartnersPerNation = 5

  /** Iteration cap — and, identically, the oracle's unroll depth. The
    * loop stops at the exact fixed point of the rounded update (round-12
    * makes delta == 0 reachable: once per-node changes fall under 5e-13
    * the rounded values stop moving, and a fixed point of a deterministic
    * map stays fixed forever). Because extra iterations past the fixed
    * point are the identity, unrolling the oracle to the CAP is correct
    * for any fixture whose loop converges at or before it — the unroll
    * depth does not need to know the convergence count. If a fixture ever
    * fails to reach the fixed point by the cap, both engines emit the
    * same capped r_60, and PageRankConvergenceSpec (which pins the actual
    * count) fails loudly. */
  val ConvergeMaxIters = 60
  /** Convergence-probe cadence for [[convergedRanks]] — see the loop
    * comment; must divide into a stop at or past the true fixed point.
    * Measured at 4 AND 8 in round 12: deepening to 8 does NOT pay
    * (5.29 s vs 5.44 s at 4, both subset-bench) because under AQE every
    * shuffle stage of the lazy segment is its own job regardless of
    * where the probes fall — the probe count is not the job driver; the
    * per-step exchanges are. Kept at 4 so a converged fixture stops as
    * early as possible (extra identity steps are bit-harmless but not
    * free). */
  val ConvergeCheckEvery = 4

  /** Directed partner-graph edges: nation → its top-k partners. */
  def partnerEdges(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val supp = s.read.parquet(s"$dir/supplier.parquet")
      .select("s_suppkey", "s_nationkey")
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_nationkey")
    val nat = s.read.parquet(s"$dir/nation.parquet")
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")
    val pairRev = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("ck"),
        col("n_name").as("a"))), col("c_nationkey") === col("ck"))
      .join(broadcast(nat.select(col("n_nationkey").as("sk"),
        col("n_name").as("b"))), col("s_nationkey") === col("sk"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum(rev).cast("double").as("rev"))
    pairRev
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("a")
          .orderBy(col("rev").desc, col("b"))))
      .filter(col("rn") <= PartnersPerNation)
      .select(col("a").as("src"), col("b").as("dst"))
  }

  /** Iterate the rounded PageRank update to its exact fixed point
    * (L∞ delta == 0). The per-iteration delta check is a 1-scalar
    * control-plane fetch — the same convergence pattern as the connected-
    * components XOR signature. L∞ (a max) is chosen over L1 (a sum)
    * deliberately: every per-node delta is a difference of two round-12
    * values, identical on any engine, and max is order-independent — an
    * L1 sum's low bits would depend on reduction order. Returns the
    * converged ranks and the iteration count at which delta hit 0. */
  def convergedRanks(s: SparkSession, dir: String): (DataFrame, Int) = {
    val e = partnerEdges(s, dir).transform(graft.Materialize(_))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).transform(graft.Materialize(_))
    val nodes = deg.select(col("src").as("node"))
    // ONE join per step, not two: a zero-weight self-loop per node makes
    // the inflow aggregate emit a row for EVERY node (its own 0.0 term —
    // which never changes a double sum, and rounds identically to the
    // coalesce(inflow, 0.0) it replaces), so the per-step
    // nodes-left-join (a broadcast-build job per iteration — the
    // measured cost of this query is jobs, not data) disappears. Every
    // dst is also a src in the partner graph (each nation has out-edges
    // and partners are nations), so the aggregate's key set equals the
    // node set — pinned by the oracle compare.
    // checkpointed, NOT the ranks() persist-partitioned treatment: that
    // variant was measured at 10.9 s here vs 5.3 s for the checkpoint
    // (nation-sized rows make the cached-layout InMemoryTableScan pure
    // overhead; ranks() keeps it because its edge table is corpus-scaled)
    val eDeg = e.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"), lit(1.0).as("w"))
      .unionByName(nodes.select(col("node").as("src"),
        col("node").as("dst"), lit(1L).as("deg"), lit(0.0).as("w")))
      .transform(graft.Materialize(_))
    val n = nodes.count()
    // convergence is probed every [[ConvergeCheckEvery]] iterations, not
    // every one: past the exact fixed point further iterations are the
    // IDENTITY on the rounded grid — running up to CheckEvery-1 extra
    // identity steps is bit-harmless (the oracle unrolls to the cap).
    // Between probes the steps stay LAZY; a probe round materializes the
    // segment in exactly two fused jobs (the first CheckEvery−1 steps,
    // checkpointed BEFORE the probe step, then the probe step itself)
    // and the delta is a tiny node-sized join over the two checkpoints.
    // Round 12 measured the alternatives: a fused single-materialization
    // probe (carry prev_pr through the step) and a deeper cadence both
    // LOST — under AQE every shuffle stage of the lazy segment is its own
    // job, so the per-step exchange count, not the probe count, drives
    // the job total.
    graft.Materialize.iterate(
        nodes.select(col("node"), round(lit(1.0) / n, 12).as("pr")),
        ConvergeMaxIters, ConvergeCheckEvery) { r =>
      // one step = one join + one aggregate (self-loop rows carry each
      // node's 0.0 term, so the aggregate is already complete over the
      // node set — no second join). The ranks side is explicitly
      // broadcast: node-sized by construction, and the hint spares the
      // join both sides' shuffle stages (Profile: 111 → 99 jobs; the
      // remaining floor is the per-step aggregate exchange plus the
      // broadcast build, each its own scheduler round-trip under AQE).
      eDeg.join(broadcast(r), eDeg("src") === r("node"))
        .groupBy(col("dst"))
        .agg(round(lit((1.0 - Damping)) / n +
          lit(Damping) * sum(col("w") * col("pr") / col("deg")), 12)
          .as("pr"))
        .select(col("dst").as("node"), col("pr"))
    } { (ob, na) =>
      na.alias("na").join(ob.alias("ob"), col("na.node") === col("ob.node"))
        .agg(max(abs(col("na.pr") - col("ob.pr"))).as("d"))
        .collect()(0).getDouble(0) == 0.0
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pagerank_trade_graph" -> ((s, dir) =>
      ranks(s, dir).orderBy(col("pr").desc, col("node")).limit(TopN)),
    "pagerank_converged" -> ((s, dir) =>
      convergedRanks(s, dir)._1.orderBy(col("pr").desc, col("node"))),
  )

  val oracle: Map[String, String] = {
    val base =
      """edges AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |),
        |und AS (
        |  SELECT src, dst FROM edges
        |  UNION ALL SELECT dst, src FROM edges
        |),
        |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
        |n AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT src AS node,
        |       round(1.0::DOUBLE / (SELECT n FROM n), 12) AS pr FROM deg)""".stripMargin
    val iters = (1 to Iterations).map { i =>
      s"""r$i AS (
         |  SELECT d.src AS node,
         |         round((1.0::DOUBLE - $Damping) / (SELECT n FROM n) +
         |               $Damping::DOUBLE * coalesce(inflow, 0.0::DOUBLE), 12) AS pr
         |  FROM deg d LEFT JOIN (
         |    SELECT u.dst, sum(r.pr / dg.deg) AS inflow
         |    FROM und u
         |    JOIN r${i - 1} r ON u.src = r.node
         |    JOIN deg dg ON u.src = dg.src
         |    GROUP BY u.dst
         |  ) c ON d.src = c.dst
         |)""".stripMargin
    }.mkString(",\n")
    // converged variant: the same unrolled-iteration pattern over the
    // top-k partner graph, unrolled to ConvergeMaxIters — past the exact
    // fixed point every further iteration is the identity, so one unroll
    // depth is correct for any fixture that converges by the cap (and a
    // fixture that does NOT converge produces the same capped r_i on
    // both engines). Each CTE is a 25-row join: trivial for the oracle.
    val convBase =
      s"""pairrev AS MATERIALIZED (
         |  SELECT n1.n_name AS a, n2.n_name AS b,
         |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
         |                       AS DECIMAL(18,4))) AS DOUBLE) AS rev
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE n1.n_name <> n2.n_name
         |  GROUP BY 1, 2
         |),
         |pedges AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM (
         |    SELECT a, b, row_number() OVER
         |      (PARTITION BY a ORDER BY rev DESC, b) AS rn FROM pairrev)
         |  WHERE rn <= $PartnersPerNation
         |),
         |pdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM pedges GROUP BY src),
         |pn AS MATERIALIZED (SELECT count(*) AS n FROM pdeg),
         |c0 AS MATERIALIZED (SELECT src AS node,
         |       round(1.0::DOUBLE / (SELECT n FROM pn), 12) AS pr FROM pdeg)""".stripMargin
    val convIters = (1 to ConvergeMaxIters).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT d.src AS node,
         |         round((1.0::DOUBLE - $Damping) / (SELECT n FROM pn) +
         |               $Damping::DOUBLE * coalesce(inflow, 0.0::DOUBLE), 12) AS pr
         |  FROM pdeg d LEFT JOIN (
         |    SELECT e.dst, sum(r.pr / dg.deg) AS inflow
         |    FROM pedges e
         |    JOIN c${i - 1} r ON e.src = r.node
         |    JOIN pdeg dg ON e.src = dg.src
         |    GROUP BY e.dst
         |  ) c ON d.src = c.dst
         |)""".stripMargin
    }.mkString(",\n")
    Map(
      "pagerank_trade_graph" ->
        s"""WITH $base,
           |$iters
           |SELECT node, pr FROM r$Iterations
           |ORDER BY pr DESC, node LIMIT $TopN""".stripMargin,
      "pagerank_converged" ->
        s"""WITH $convBase,
           |$convIters
           |SELECT node, pr FROM c$ConvergeMaxIters
           |ORDER BY pr DESC, node""".stripMargin)
  }
}
