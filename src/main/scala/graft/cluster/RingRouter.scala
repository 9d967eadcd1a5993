package graft.cluster

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.keyspace.KvLog
import graft.oracle.Ora

/** Consistent-hash ring routing — the scale-out extension of the
  * reference's fixed `FNV-1a(key) mod numShards` placement
  * (`internal/coordinator/shard_registry.go:372-379`).
  *
  * The reference's mod placement is correct for its fixed 4-shard world,
  * but re-keys almost the whole keyspace when the divisor changes: growing
  * n→n+1 nodes moves an expected n/(n+1) of keys (80% at n=4). A hash ring
  * with virtual nodes moves only ~1/(n+1) (20%) — the property that makes
  * incremental cluster growth affordable when a shard holds terabytes.
  * [[queries]] implements both placements and measures exactly that
  * movement delta on the same keyspace, oracle-checked.
  *
  * Design for 100 TB:
  *   - The ring ([[VNodes]] positions per node, ≤ a few hundred total) is
  *     control-plane metadata, built driver-side like
  *     [[ClusterQueries.healthyNodesSnapshot]] and embedded as literal
  *     arrays. Per-key assignment is then a pure narrow projection — a
  *     codegen'd successor scan over a ~256-long sorted literal, NO join,
  *     NO shuffle, no 256× candidate explosion. The only exchange in the
  *     per-node count query is the final #nodes-row aggregation.
  *   - Ring POSITIONS use md5 (first 32 bits): positions must be uniform
  *     on the circle, and FNV-1a on short similar strings ("n1#0","n1#1",
  *     …) clusters badly enough to skew per-node load ~7× at 64 vnodes.
  *     The mod comparison keeps the reference's FNV semantics — that is
  *     the placement being measured against.
  */
object RingRouter extends graft.QueryModule {

  /** Virtual nodes per physical node. 64 bounds the per-node load spread
    * to ~±15% on the fixture (spec-asserted); variance shrinks ~1/√V. */
  val VNodes = 64

  val RingNodes: Seq[String] = Seq("n1", "n2", "n3", "n4")

  /** The scale-out event measured by `route_ring_rebalance`. */
  val JoinedNode = "n5"

  /** First 32 bits of md5 as a non-negative Long — the ring's position
    * space. Column form matches [[posOf]] bit-for-bit (spec-pinned). */
  def pos32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Driver-side twin of [[pos32]] for ring construction. */
  def posOf(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Sorted ring: (position, node) per virtual node. Collisions would make
    * the successor ambiguous, so they are rejected outright (with 32-bit
    * positions and ≤320 vnodes the collision odds are ~1e-5; a collision
    * means "pick a different vnode naming", not "tie-break silently"). */
  def ring(nodes: Seq[String]): Seq[(Long, String)] = {
    val vs = for { n <- nodes; i <- 0 until VNodes }
      yield (posOf(s"$n#$i"), n)
    require(vs.map(_._1).distinct.size == vs.size,
      "vnode position collision — rename vnodes")
    vs.sortBy(_._1)
  }

  /** key → owning node under the ring: the vnode at the smallest position
    * ≥ pos(key), wrapping to the ring's first position. Pure projection —
    * a codegen'd O(log V·N) binary search ([[graft.functions
    * .SortedSuccessor]]) resolves the successor index, `element_at` the
    * node. (The `aggregate`-over-literal-array formulation computes the
    * same index but pays an interpreted lambda per vnode per key — 25 s
    * vs < 1 s for one sf0.1 keyspace pass.) */
  def ringNodeCol(nodes: Seq[String])(key: Column): Column = {
    val r = ring(nodes)
    val nodeArr = typedLit(r.map(_._2))
    val idx = graft.functions.SortedSuccessor.sortedSuccessor(
      r.map(_._1), pos32(key))
    element_at(nodeArr, pmod(idx, lit(r.size)) + 1)
  }

  /** Heterogeneous capacities for the weighted ring: vnode count per
    * node ∝ capacity, so a 3× box owns 3× the position space — THE
    * consistent-hashing answer to mixed hardware (the reference's mod-N
    * placement cannot express capacity at all). Weights are multiples of
    * 32 to keep per-node balance noise comparable to the uniform ring. */
  val WeightedVnodes: Seq[(String, Int)] =
    Seq("n1" -> 32, "n2" -> 64, "n3" -> 96, "n4" -> 32)

  /** Ring with per-node vnode counts ([[ring]] is the uniform case). */
  def weightedRing(nw: Seq[(String, Int)]): Seq[(Long, String)] = {
    val vs = for { (n, w) <- nw; i <- 0 until w } yield (posOf(s"$n#$i"), n)
    require(vs.map(_._1).distinct.size == vs.size,
      "vnode position collision — rename vnodes")
    vs.sortBy(_._1)
  }

  /** key → owning node under the weighted ring — same codegen'd binary
    * search as [[ringNodeCol]], only the position table differs. */
  def weightedRingNodeCol(nw: Seq[(String, Int)])(key: Column): Column = {
    val r = weightedRing(nw)
    val nodeArr = typedLit(r.map(_._2))
    val idx = graft.functions.SortedSuccessor.sortedSuccessor(
      r.map(_._1), pos32(key))
    element_at(nodeArr, pmod(idx, lit(r.size)) + 1)
  }

  /** Replica fan-out per key. */
  val ReplicaN = 3

  /** Preference list per vnode SLOT: the first `r` DISTINCT node owners
    * walking clockwise from slot i — precomputed driver-side (slots ×
    * walk, control-plane-sized) exactly the way Dynamo-style stores ship
    * preference lists to routers, so the per-key cost stays ONE binary
    * search + one array lookup no matter how many replicas. */
  def replicaSets(nodes: Seq[String], r: Int): Seq[Seq[String]] = {
    val rg = ring(nodes)
    rg.indices.map { i =>
      rg.indices.iterator.map(j => rg((i + j) % rg.size)._2)
        .distinct.take(r).toSeq
    }
  }

  /** The failure scenario measured by `route_quorum_availability`. */
  val FailedRingNode = "n2"

  /** Read / write quorum sizes over [[ReplicaN]] replicas (R + W > N —
    * the overlap that makes reads see the latest acked write). */
  val QuorumR = 2
  val QuorumW = 3

  /** key → its first-`r` distinct-successor walk (primary first) — the
    * general preference-list lookup; same one binary search + one array
    * lookup per key regardless of `r`. */
  def replicaListCol(nodes: Seq[String], r: Int)(key: Column): Column = {
    val rg = ring(nodes)
    val setsArr = typedLit(replicaSets(nodes, r))
    val idx = graft.functions.SortedSuccessor.sortedSuccessor(
      rg.map(_._1), pos32(key))
    element_at(setsArr, pmod(idx, lit(rg.size)) + 1)
  }

  /** key → its [[ReplicaN]]-node preference list (primary first). */
  def replicaSetCol(nodes: Seq[String])(key: Column): Column =
    replicaListCol(nodes, ReplicaN)(key)

  /** Rack assignment for the anti-affinity placement (two racks — the
    * two-AZ deployment every small cluster actually runs). */
  val NodeRacks: Map[String, String] =
    Map("n1" -> "r1", "n2" -> "r1", "n3" -> "r2", "n4" -> "r2")

  /** Replication factor for the rack-outage comparison (pairs — where
    * rack concentration actually loses data). */
  val RackPairR = 2

  /** Rack-aware preference list per vnode slot: primary = successor;
    * the SECOND replica is the first clockwise node on a DIFFERENT rack
    * than the primary (a whole-rack outage must leave a replica), and
    * the remaining slots fill with the walk's next unused nodes. The
    * Cassandra NetworkTopologyStrategy shape, precomputed per slot
    * exactly like [[replicaSets]]. */
  def rackAwareSets(nodes: Seq[String], r: Int): Seq[Seq[String]] = {
    val rg = ring(nodes)
    rg.indices.map { i =>
      val walk = rg.indices.iterator.map(j => rg((i + j) % rg.size)._2)
        .distinct.toSeq
      val primary = walk.head
      val crossRack = walk.tail
        .find(n => NodeRacks(n) != NodeRacks(primary))
      val picked = Seq(primary) ++ crossRack.toSeq
      (picked ++ walk.filterNot(picked.contains)).take(r)
    }
  }

  /** key → its rack-aware [[ReplicaN]] preference list. */
  def rackAwareCol(nodes: Seq[String])(key: Column): Column = {
    val rg = ring(nodes)
    val setsArr = typedLit(rackAwareSets(nodes, ReplicaN))
    val idx = graft.functions.SortedSuccessor.sortedSuccessor(
      rg.map(_._1), pos32(key))
    element_at(setsArr, pmod(idx, lit(rg.size)) + 1)
  }

  // ---- queries -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-node key load under the 4-node ring — the balance audit that
    // justifies VNodes=64. One narrow pass + one #nodes-row aggregate.
    "route_ring_keys" -> ((s, dir) =>
      KvLog.state(s, dir)
        .select(ringNodeCol(RingNodes)(col("key")).as("node_id"))
        .groupBy("node_id").agg(count("*").as("n_keys"))
        .withColumn("share", col("n_keys").cast("double") /
          sum(col("n_keys")).over(Window.partitionBy()))
        .orderBy("node_id")),

    // capacity-weighted placement: does the observed key load track each
    // node's capacity share? ratio ≈ 1 everywhere is the pass condition
    // (the spec bounds it); the load_ratio is ONE exact-integer cross
    // ratio (n_keys·total_cap)/(total_keys·cap) so it hash-matches.
    // Same single narrow keyspace pass + 4-row rollup as the uniform
    // ring audit — capacity awareness costs nothing at query time
    // because it lives entirely in the precomputed position table.
    "route_ring_weighted" -> ((s, dir) => {
      import s.implicits._
      val caps = WeightedVnodes.toDF("node_id", "capacity")
        .withColumn("capacity", col("capacity").cast("long"))
      val wAll = Window.partitionBy()
      KvLog.state(s, dir)
        .select(weightedRingNodeCol(WeightedVnodes)(col("key"))
          .as("node_id"))
        .groupBy("node_id").agg(count(lit(1)).as("n_keys"))
        .join(broadcast(caps), "node_id")
        .withColumn("total_keys", sum("n_keys").over(wAll))
        .withColumn("total_cap", sum("capacity").over(wAll))
        .select(col("node_id"), col("n_keys"), col("capacity"),
          (col("n_keys").cast("double") / col("total_keys"))
            .as("key_share"),
          (col("capacity").cast("double") / col("total_cap"))
            .as("capacity_share"),
          ((col("n_keys") * col("total_cap")).cast("double") /
            (col("total_keys") * col("capacity")).cast("double"))
            .as("load_ratio"))
        .orderBy("node_id")
    }),

    // the scale-out measurement: fraction of keys that change owner when
    // n5 joins, ring vs the reference's mod placement. Both assignments
    // are projections over ONE keyspace scan; output is 2 summary rows.
    // Ring movement needs only ONE successor search, not a two-ring
    // compare: adding a node removes no vnodes, so a key's successor
    // changes iff one of the JOINER's vnodes now lands between the key
    // and its old successor — i.e. iff the new ring assigns the key to
    // the joiner (the monotonicity property consistent hashing is named
    // for). The DuckDB oracle still derives movement from an independent
    // two-ring join+argmin compare, so the property itself is
    // oracle-checked at every scale factor.
    "route_ring_rebalance" -> ((s, dir) => {
      val after = ringNodeCol(RingNodes :+ JoinedNode) _
      val modBefore = concat(lit("n"),
        (pmod(graft.hash.Fnv1a32.fnv1a32(col("key")), lit(4L)) + 1L)
          .cast("string"))
      val modAfter = concat(lit("n"),
        (pmod(graft.hash.Fnv1a32.fnv1a32(col("key")), lit(5L)) + 1L)
          .cast("string"))
      val assigned = KvLog.state(s, dir).select(
        (after(col("key")) === JoinedNode).as("ring_moved"),
        (modBefore =!= modAfter).as("mod_moved"))
      assigned.agg(
          count("*").as("n_keys"),
          sum(when(col("ring_moved"), 1L).otherwise(0L)).as("ring_m"),
          sum(when(col("mod_moved"), 1L).otherwise(0L)).as("mod_m"))
        .select(explode(array(
          struct(lit("mod").as("method"), col("n_keys"),
            col("mod_m").as("n_moved")),
          struct(lit("ring").as("method"), col("n_keys"),
            col("ring_m").as("n_moved")))).as("r"))
        .select(col("r.method"), col("r.n_keys"), col("r.n_moved"),
          (col("r.n_moved").cast("double") / col("r.n_keys"))
            .as("moved_frac"))
        .orderBy("method")
    }),

    // replica-placement load audit: for every key the ReplicaN-node
    // preference list (first distinct successors clockwise — the
    // Dynamo-style replica rule the reference's "replicas come later"
    // roadmap names), aggregated to keys per (node, role). One keyspace
    // pass; the per-key work is the SAME single binary search as primary
    // routing because the walk is precomputed per vnode slot. The oracle
    // derives the identical placement RELATIONALLY: per (key, node) the
    // minimal clockwise wrap-distance, ranked — first-R-distinct-walk ≡
    // R smallest per-node min-distances, so the preference-list shortcut
    // itself is what the cross-engine check proves.
    "route_replica_load" -> ((s, dir) =>
      KvLog.state(s, dir)
        .select(posexplode(replicaSetCol(RingNodes)(col("key")))
          .as(Seq("role0", "node_id")))
        .groupBy("node_id", "role0")
        .agg(count(lit(1)).as("n_keys"))
        .select(col("node_id"), (col("role0") + 1).cast("long").as("role"),
          col("n_keys"))
        .orderBy("node_id", "role")),

    // quorum availability under a node failure: per key, how many of its
    // preference-list replicas survive FailedRingNode going down, and
    // whether R=2 reads / W=3 writes still reach quorum. The whole
    // classification is a projection over the same one-binary-search
    // routing pass — the availability report for a 100 TB keyspace costs
    // exactly one keyspace scan. With 1 of 4 nodes down every key keeps
    // ≥ 2 replicas (read availability 100% — the property quorum
    // replication buys), while keys whose list contains the failed node
    // lose W=3 write quorum until handoff.
    "route_quorum_availability" -> ((s, dir) =>
      KvLog.state(s, dir)
        .select(size(array_except(
          replicaSetCol(RingNodes)(col("key")),
          typedLit(Seq(FailedRingNode)))).cast("long").as("n_healthy"))
        .groupBy("n_healthy")
        .agg(count(lit(1)).as("n_keys"))
        .select(col("n_healthy"),
          (col("n_healthy") >= QuorumR).as("read_ok"),
          (col("n_healthy") >= QuorumW).as("write_ok"),
          col("n_keys"),
          (col("n_keys").cast("double") /
            sum(col("n_keys")).over(Window.partitionBy())).as("share"))
        .orderBy("n_healthy")),

    // failover-load distribution: when FailedRingNode goes down, each of
    // its primary keys promotes its first surviving replica — and because
    // a node's 64 vnodes interleave with EVERYONE's vnodes around the
    // circle, the orphaned load spreads across the surviving nodes
    // instead of dog-piling one neighbor (the precise failure mode of
    // non-virtual rings, and of mod placement where key k simply re-mods
    // onto one fixed alternative). One keyspace projection; the spec
    // bounds the takeover spread.
    "route_failover_load" -> ((s, dir) =>
      KvLog.state(s, dir)
        .select(replicaSetCol(RingNodes)(col("key")).as("rs"))
        .filter(element_at(col("rs"), 1) === FailedRingNode)
        .select(element_at(col("rs"), 2).as("takeover_node"))
        .groupBy("takeover_node").agg(count(lit(1)).as("n_keys"))
        .withColumn("share", col("n_keys").cast("double") /
          sum(col("n_keys")).over(Window.partitionBy()))
        .orderBy("takeover_node")),

    // hinted handoff: while FailedRingNode is down, a write to any key
    // whose preference list contains it is accepted by the FIRST
    // distinct successor beyond the list — the hint holder, which
    // stores the write and replays it on recovery (the Dynamo sloppy-
    // quorum rule; the mechanism route_quorum_availability's lost-W
    // keys are waiting for). Per (hint holder, failed replica role)
    // key counts, from the SAME single-binary-search routing pass —
    // the walk is just precomputed at depth N+1 instead of N. Because
    // vnodes interleave, hints spread over all survivors rather than
    // dog-piling the failed node's ring neighbor.
    "route_hinted_handoff" -> ((s, dir) =>
      KvLog.state(s, dir)
        .select(replicaListCol(RingNodes, ReplicaN + 1)(col("key"))
          .as("rs"))
        .withColumn("failed_role",
          array_position(col("rs"), FailedRingNode))
        .filter(col("failed_role").between(1L, ReplicaN.toLong))
        .select(element_at(col("rs"), ReplicaN + 1).as("hint_node"),
          col("failed_role"))
        .groupBy("hint_node", "failed_role")
        .agg(count(lit(1)).as("n_keys"))
        .withColumn("share", col("n_keys").cast("double") /
          sum(col("n_keys")).over(Window.partitionBy()))
        .orderBy("hint_node", "failed_role")),

    // cluster-growth sweep: movement when the 4-node ring grows to 5,
    // 6, and 7 nodes, against the k/(4+k) capacity-proportional ideal —
    // the empirical form of consistent hashing's headline guarantee
    // (mod placement would reshuffle ~1−1/lcm fractions instead). A key
    // moves iff its new owner is a JOINER (adding vnodes never moves a
    // key between incumbents), so each leg is one more binary-search
    // projection over the same keyspace pass.
    "route_ring_growth_sweep" -> ((s, dir) => {
      val legs = Seq(1, 2, 3)
      val moveCols = legs.map { k =>
        val nodes = RingNodes ++ (1 to k).map(i => s"n${4 + i}")
        val joiners = (1 to k).map(i => s"n${4 + i}")
        when(ringNodeCol(nodes)(col("key")).isin(joiners: _*), 1L)
          .otherwise(0L).as(s"m$k")
      }
      val agged = KvLog.state(s, dir)
        .select(moveCols: _*)
        .agg(count(lit(1)).as("n_keys"),
          legs.map(k => sum(col(s"m$k")).as(s"mv$k")): _*)
      agged.select(explode(array(legs.map { k =>
          struct(lit(4L + k).as("n_nodes_after"), col("n_keys"),
            col(s"mv$k").as("n_moved"),
            (lit(k).cast("double") / lit(4 + k)).as("ideal_frac"))
        }: _*)).as("r"))
        .select(col("r.n_nodes_after"), col("r.n_keys"), col("r.n_moved"),
          (col("r.n_moved").cast("double") / col("r.n_keys"))
            .as("moved_frac"), col("r.ideal_frac"))
        .orderBy("n_nodes_after")
    }),

    // rack-aware replica load: the anti-affinity placement's per-(node,
    // role) census plus how many keys each role REASSIGNED relative to
    // plain ring order — the cost of the rack constraint, measured. The
    // spec proves the invariant the constraint buys: every key's
    // replica set spans both racks, so a whole-rack outage never loses
    // all copies. Same single-binary-search pass as every placement
    // query; the rack walk is precomputed per vnode slot.
    "route_rack_aware_load" -> ((s, dir) =>
      KvLog.state(s, dir)
        .select(rackAwareCol(RingNodes)(col("key")).as("ra"),
          replicaSetCol(RingNodes)(col("key")).as("plain"))
        .select(posexplode(col("ra")).as(Seq("role0", "node_id")),
          col("plain"))
        .select(col("node_id"), (col("role0") + 1).cast("long").as("role"),
          (col("node_id") =!= element_at(col("plain"), col("role0") + 1))
            .as("moved"))
        .groupBy("node_id", "role")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("moved"), 1L).otherwise(0L)).as("n_reassigned"))
        .orderBy("node_id", "role")),

    // the rack constraint's payoff, measured at replication factor 2
    // (the replica-pair deployment where it actually bites — at R=3
    // over 2-node racks a distinct-node walk structurally cannot lose
    // all copies): kill rack r1 whole and count, under both pair
    // placements, the keys that lost EVERY replica and the keys left
    // on their last copy. Plain ring order concentrates some slots'
    // pairs inside one rack (vnodes don't know racks) → all-lost > 0;
    // anti-affinity pairs always span racks → all-lost = 0 by
    // construction, the number the spec pins. One keyspace projection
    // computing both placements in the same pass.
    "route_rack_outage_compare" -> ((s, dir) => {
      val r1Nodes = NodeRacks.toSeq.filter(_._2 == "r1").map(_._1)
      val rg = ring(RingNodes)
      val plainArr = typedLit(replicaSets(RingNodes, RackPairR))
      val raArr = typedLit(rackAwareSets(RingNodes, RackPairR))
      val idx = graft.functions.SortedSuccessor.sortedSuccessor(
        rg.map(_._1), pos32(col("key")))
      val slot = pmod(idx, lit(rg.size)) + 1
      KvLog.state(s, dir)
        .select(element_at(plainArr, slot).as("plain"),
          element_at(raArr, slot).as("rack_aware"))
        .select(explode(map(
          lit("plain"), col("plain"),
          lit("rack_aware"), col("rack_aware"))).as(Seq("placement", "rs")))
        .select(col("placement"),
          size(array_except(col("rs"), typedLit(r1Nodes)))
            .cast("long").as("n_surv"))
        .groupBy("placement")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("n_surv") === 0L, 1L).otherwise(0L))
            .as("n_all_lost"),
          sum(when(col("n_surv") === 1L, 1L).otherwise(0L))
            .as("n_last_copy"))
        .withColumn("survive_rate",
          (col("n_keys") - col("n_all_lost")).cast("double") /
            col("n_keys"))
        .orderBy("placement")
    })
  )

  // ---- oracle ------------------------------------------------------------

  /** DuckDB position expression — mirror of [[pos32]]. */
  private def posSql(e: String): String =
    s"CAST(concat('0x', substring(md5($e), 1, 8)) AS BIGINT)"

  /** Relational (join+argmin) formulation of the successor lookup — an
    * independent derivation of the same assignment the literal-array scan
    * computes. `nodesVals` like "('n1'),('n2')". */
  private def ringCte(cteName: String, nodesVals: String): String =
    s"""${cteName}_vn AS (
       |  SELECT n.node, ${posSql("n.node || '#' || i.range")} AS pos
       |  FROM (VALUES $nodesVals) n(node), range($VNodes) i
       |)""".stripMargin

  private def succExpr(cteName: String): String =
    s"""coalesce(
       |  (SELECT v.node FROM ${cteName}_vn v WHERE v.pos >= kp
       |   ORDER BY v.pos LIMIT 1),
       |  (SELECT v.node FROM ${cteName}_vn v ORDER BY v.pos LIMIT 1))"""
      .stripMargin.replaceAll("\n", " ")

  private val vals4 = RingNodes.map(n => s"('$n')").mkString(",")
  private val vals5 = (RingNodes :+ JoinedNode).map(n => s"('$n')").mkString(",")

  /** Weighted-ring vnode CTE: per-node vnode counts from WeightedVnodes. */
  private val weightedRingCte: String = {
    val vals = WeightedVnodes
      .map { case (n, w) => s"('$n', $w)" }.mkString(",")
    val maxW = WeightedVnodes.map(_._2).max
    s"""rw_vn AS (
       |  SELECT n.node, ${posSql("n.node || '#' || i.range")} AS pos
       |  FROM (VALUES $vals) n(node, w), range($maxW) i
       |  WHERE i.range < n.w
       |),
       |caps AS (SELECT node AS node_id, CAST(w AS BIGINT) AS capacity
       |         FROM (VALUES $vals) c(node, w))""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "route_ring_keys" -> (s"WITH ${Ora.kvState},\n${ringCte("r4", vals4)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |assigned AS (SELECT ${succExpr("r4")} AS node_id FROM keyed),
         |counts AS (SELECT node_id, count(*) AS n_keys FROM assigned
         |           GROUP BY node_id)
         |SELECT node_id, CAST(n_keys AS BIGINT) AS n_keys,
         |       n_keys::DOUBLE / sum(n_keys) OVER () AS share
         |FROM counts ORDER BY node_id""".stripMargin),

    "route_ring_weighted" -> (s"WITH ${Ora.kvState},\n$weightedRingCte,\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |assigned AS (SELECT ${succExpr("rw")} AS node_id FROM keyed),
         |counts AS (SELECT node_id, CAST(count(*) AS BIGINT) AS n_keys
         |           FROM assigned GROUP BY node_id),
         |tot AS (
         |  SELECT CAST(sum(n_keys) AS BIGINT) AS total_keys FROM counts
         |),
         |totc AS (
         |  SELECT CAST(sum(capacity) AS BIGINT) AS total_cap FROM caps
         |)
         |SELECT c.node_id, c.n_keys, k.capacity,
         |       CAST(c.n_keys AS DOUBLE) / total_keys AS key_share,
         |       CAST(k.capacity AS DOUBLE) / total_cap AS capacity_share,
         |       CAST(c.n_keys * total_cap AS DOUBLE)
         |         / CAST(total_keys * k.capacity AS DOUBLE) AS load_ratio
         |FROM counts c JOIN caps k ON c.node_id = k.node_id, tot, totc
         |ORDER BY c.node_id""".stripMargin),

    "route_ring_rebalance" -> (s"WITH ${Ora.kvState},\n" +
      s"${ringCte("r4", vals4)},\n${ringCte("r5", vals5)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp, ${Ora.fnv("key")} AS fh
         |          FROM kv_state),
         |assigned AS (
         |  SELECT ${succExpr("r4")} <> ${succExpr("r5")} AS ring_moved,
         |         'n' || (fh % 4 + 1) <> 'n' || (fh % 5 + 1) AS mod_moved
         |  FROM keyed
         |),
         |summary AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |         CAST(sum(CASE WHEN ring_moved THEN 1 ELSE 0 END) AS BIGINT)
         |           AS ring_m,
         |         CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS BIGINT)
         |           AS mod_m
         |  FROM assigned
         |)
         |SELECT method, n_keys, n_moved, n_moved::DOUBLE / n_keys AS moved_frac
         |FROM (
         |  SELECT 'mod' AS method, n_keys, mod_m AS n_moved FROM summary
         |  UNION ALL
         |  SELECT 'ring', n_keys, ring_m FROM summary
         |) ORDER BY method""".stripMargin),

    // relational replica placement: clockwise wrap-distance per
    // (key, node), min per node, rank — independent of the Spark side's
    // precomputed preference lists
    "route_replica_load" -> (s"WITH ${Ora.kvState},\n${ringCte("r4", vals4)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |nodedist AS (
         |  SELECT k.key, v.node,
         |         min((v.pos - k.kp + 4294967296) % 4294967296) AS dist
         |  FROM keyed k CROSS JOIN r4_vn v
         |  GROUP BY k.key, v.node
         |),
         |roles AS (
         |  SELECT key, node,
         |         row_number() OVER (PARTITION BY key ORDER BY dist) AS role
         |  FROM nodedist
         |)
         |SELECT node AS node_id, CAST(role AS BIGINT) AS role,
         |       CAST(count(*) AS BIGINT) AS n_keys
         |FROM roles WHERE role <= $ReplicaN
         |GROUP BY 1, 2 ORDER BY node_id, role""".stripMargin),

    // same relational placement, then count surviving replicas per key
    "route_quorum_availability" -> (
      s"WITH ${Ora.kvState},\n${ringCte("r4", vals4)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |nodedist AS (
         |  SELECT k.key, v.node,
         |         min((v.pos - k.kp + 4294967296) % 4294967296) AS dist
         |  FROM keyed k CROSS JOIN r4_vn v
         |  GROUP BY k.key, v.node
         |),
         |roles AS (
         |  SELECT key, node,
         |         row_number() OVER (PARTITION BY key ORDER BY dist) AS role
         |  FROM nodedist
         |),
         |healthy AS (
         |  SELECT key,
         |         CAST(sum(CASE WHEN node <> '$FailedRingNode' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_healthy
         |  FROM roles WHERE role <= $ReplicaN GROUP BY key
         |),
         |cls AS (
         |  SELECT n_healthy, count(*) AS n_keys FROM healthy GROUP BY 1
         |)
         |SELECT n_healthy, n_healthy >= $QuorumR AS read_ok,
         |       n_healthy >= $QuorumW AS write_ok,
         |       CAST(n_keys AS BIGINT) AS n_keys,
         |       n_keys::DOUBLE / sum(n_keys) OVER () AS share
         |FROM cls ORDER BY n_healthy""".stripMargin),

    // primaries of the failed node (role 1) promote their role-2 replica
    "route_failover_load" -> (
      s"WITH ${Ora.kvState},\n${ringCte("r4", vals4)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |nodedist AS (
         |  SELECT k.key, v.node,
         |         min((v.pos - k.kp + 4294967296) % 4294967296) AS dist
         |  FROM keyed k CROSS JOIN r4_vn v
         |  GROUP BY k.key, v.node
         |),
         |roles AS (
         |  SELECT key, node,
         |         row_number() OVER (PARTITION BY key ORDER BY dist) AS role
         |  FROM nodedist
         |),
         |orphans AS (
         |  SELECT key FROM roles WHERE role = 1 AND node = '$FailedRingNode'
         |),
         |takeover AS (
         |  SELECT r.node AS takeover_node FROM roles r
         |  JOIN orphans o ON r.key = o.key
         |  WHERE r.role = 2
         |),
         |counts AS (
         |  SELECT takeover_node, count(*) AS n_keys FROM takeover GROUP BY 1
         |)
         |SELECT takeover_node, CAST(n_keys AS BIGINT) AS n_keys,
         |       n_keys::DOUBLE / sum(n_keys) OVER () AS share
         |FROM counts ORDER BY takeover_node""".stripMargin),

    // relational twin of the distinct-successor-walk hint rule: rank
    // nodes by min wrap-distance per key (≡ the walk — the equivalence
    // the replica queries pin), take the failed node's rank within the
    // preference list and the rank-(N+1) node as hint holder
    "route_hinted_handoff" -> (
      s"WITH ${Ora.kvState},\n${ringCte("r4", vals4)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |nodedist AS (
         |  SELECT k.key, v.node,
         |         min((v.pos - k.kp + 4294967296) % 4294967296) AS dist
         |  FROM keyed k CROSS JOIN r4_vn v
         |  GROUP BY k.key, v.node
         |),
         |roles AS (
         |  SELECT key, node,
         |         row_number() OVER (PARTITION BY key ORDER BY dist) AS role
         |  FROM nodedist
         |),
         |fr AS (
         |  SELECT key, role AS failed_role FROM roles
         |  WHERE node = '$FailedRingNode' AND role <= $ReplicaN
         |),
         |hn AS (
         |  SELECT key, node AS hint_node FROM roles
         |  WHERE role = ${ReplicaN + 1}
         |),
         |counts AS (
         |  SELECT h.hint_node, CAST(f.failed_role AS BIGINT) AS failed_role,
         |         count(*) AS n_keys
         |  FROM fr f JOIN hn h USING (key) GROUP BY 1, 2
         |)
         |SELECT hint_node, failed_role, CAST(n_keys AS BIGINT) AS n_keys,
         |       n_keys::DOUBLE / sum(n_keys) OVER () AS share
         |FROM counts ORDER BY hint_node, failed_role""".stripMargin),

    "route_ring_growth_sweep" -> {
      val legs = Seq(1, 2, 3)
      val ctes = legs.map { k =>
        val vals = (RingNodes ++ (1 to k).map(i => s"n${4 + i}"))
          .map(n => s"('$n')").mkString(",")
        ringCte(s"g$k", vals)
      }.mkString(",\n")
      val moveExprs = legs.map { k =>
        val joiners = (1 to k).map(i => s"'n${4 + i}'").mkString(", ")
        s"CASE WHEN ${succExpr(s"g$k")} IN ($joiners) THEN 1 ELSE 0 END AS m$k"
      }.mkString(",\n         ")
      val sums = legs.map(k =>
        s"CAST(sum(m$k) AS BIGINT) AS mv$k").mkString(",\n         ")
      val rows = legs.map { k =>
        s"SELECT CAST(${4 + k} AS BIGINT) AS n_nodes_after, n_keys, " +
          s"mv$k AS n_moved, " +
          s"CAST($k AS DOUBLE) / ${4 + k} AS ideal_frac FROM summary"
      }.mkString("\n  UNION ALL ")
      s"WITH ${Ora.kvState},\n$ctes,\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |assigned AS (
         |  SELECT $moveExprs
         |  FROM keyed
         |),
         |summary AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |         $sums
         |  FROM assigned
         |)
         |SELECT n_nodes_after, n_keys, n_moved,
         |       n_moved::DOUBLE / n_keys AS moved_frac, ideal_frac
         |FROM (
         |  $rows
         |) ORDER BY n_nodes_after""".stripMargin
    },

    // relational rack-aware placement: primary = min-dist rank 1, the
    // cross-rack slot = lowest rank on the other rack, the filler =
    // lowest rank not yet picked — each pick one QUALIFY window
    "route_rack_aware_load" -> (
      s"WITH ${Ora.kvState},\n${ringCte("r4", vals4)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |nodedist AS (
         |  SELECT k.key, v.node,
         |         min((v.pos - k.kp + 4294967296) % 4294967296) AS dist
         |  FROM keyed k CROSS JOIN r4_vn v
         |  GROUP BY k.key, v.node
         |),
         |roles AS (
         |  SELECT key, node,
         |         row_number() OVER (PARTITION BY key ORDER BY dist) AS role
         |  FROM nodedist
         |),
         |racks AS (
         |  SELECT * FROM (VALUES ${NodeRacks.toSeq.sorted
                .map { case (n, r) => s"('$n','$r')" }.mkString(",")})
         |       t(node, rack)
         |),
         |prim AS (SELECT key, node AS p1 FROM roles WHERE role = 1),
         |xrack AS (
         |  SELECT r.key, r.node AS p2 FROM roles r
         |  JOIN prim ON prim.key = r.key
         |  JOIN racks rp ON rp.node = prim.p1
         |  JOIN racks rr ON rr.node = r.node
         |  WHERE rr.rack <> rp.rack
         |  QUALIFY row_number() OVER (PARTITION BY r.key
         |                             ORDER BY r.role) = 1
         |),
         |third AS (
         |  SELECT r.key, r.node AS p3 FROM roles r
         |  JOIN prim ON prim.key = r.key
         |  JOIN xrack ON xrack.key = r.key
         |  WHERE r.node <> prim.p1 AND r.node <> xrack.p2
         |  QUALIFY row_number() OVER (PARTITION BY r.key
         |                             ORDER BY r.role) = 1
         |),
         |ra AS (
         |  SELECT key, 1 AS role, p1 AS node FROM prim
         |  UNION ALL SELECT key, 2, p2 FROM xrack
         |  UNION ALL SELECT key, 3, p3 FROM third
         |),
         |plain AS (SELECT key, node, role FROM roles WHERE role <= $ReplicaN),
         |j AS (
         |  SELECT ra.node AS node_id, CAST(ra.role AS BIGINT) AS role,
         |         CASE WHEN ra.node <> p.node THEN 1 ELSE 0 END AS moved
         |  FROM ra JOIN plain p ON p.key = ra.key AND p.role = ra.role
         |)
         |SELECT node_id, role, count(*) AS n_keys,
         |       CAST(sum(moved) AS BIGINT) AS n_reassigned
         |FROM j GROUP BY 1, 2 ORDER BY node_id, role""".stripMargin),

    "route_rack_outage_compare" -> {
      val r1In = NodeRacks.toSeq.filter(_._2 == "r1").map(_._1).sorted
        .map(n => s"'$n'").mkString(", ")
      s"WITH ${Ora.kvState},\n${ringCte("r4", vals4)},\n" +
      s"""keyed AS (SELECT key, ${posSql("key")} AS kp FROM kv_state),
         |nodedist AS (
         |  SELECT k.key, v.node,
         |         min((v.pos - k.kp + 4294967296) % 4294967296) AS dist
         |  FROM keyed k CROSS JOIN r4_vn v
         |  GROUP BY k.key, v.node
         |),
         |roles AS (
         |  SELECT key, node,
         |         row_number() OVER (PARTITION BY key ORDER BY dist) AS role
         |  FROM nodedist
         |),
         |racks AS (
         |  SELECT * FROM (VALUES ${NodeRacks.toSeq.sorted
                .map { case (n, r) => s"('$n','$r')" }.mkString(",")})
         |       t(node, rack)
         |),
         |prim AS (SELECT key, node AS p1 FROM roles WHERE role = 1),
         |xrack AS (
         |  SELECT r.key, r.node AS p2 FROM roles r
         |  JOIN prim ON prim.key = r.key
         |  JOIN racks rp ON rp.node = prim.p1
         |  JOIN racks rr ON rr.node = r.node
         |  WHERE rr.rack <> rp.rack
         |  QUALIFY row_number() OVER (PARTITION BY r.key
         |                             ORDER BY r.role) = 1
         |),
         |third AS (
         |  SELECT r.key, r.node AS p3 FROM roles r
         |  JOIN prim ON prim.key = r.key
         |  JOIN xrack ON xrack.key = r.key
         |  WHERE r.node <> prim.p1 AND r.node <> xrack.p2
         |  QUALIFY row_number() OVER (PARTITION BY r.key
         |                             ORDER BY r.role) = 1
         |),
         |members AS (
         |  SELECT 'plain' AS placement, key, node FROM roles
         |  WHERE role <= $RackPairR
         |  UNION ALL SELECT 'rack_aware', key, p1 FROM prim
         |  UNION ALL SELECT 'rack_aware', key, p2 FROM xrack
         |),
         |surv AS (
         |  SELECT placement, key,
         |         CAST(sum(CASE WHEN node NOT IN ($r1In) THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_surv
         |  FROM members GROUP BY 1, 2
         |),
         |agg AS (
         |  SELECT placement, count(*) AS n_keys,
         |         CAST(sum(CASE WHEN n_surv = 0 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_all_lost,
         |         CAST(sum(CASE WHEN n_surv = 1 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_last_copy
         |  FROM surv GROUP BY 1
         |)
         |SELECT *, CAST(n_keys - n_all_lost AS DOUBLE) / n_keys
         |         AS survive_rate
         |FROM agg ORDER BY placement""".stripMargin
    }
  )
}
