package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.keyspace.KvLog
import graft.oracle.Ora

/** Cluster control-plane operators O8–O15 (SURVEY.md §2.1): key routing,
  * shard assignment, round-robin (re)balance, membership upsert, node⋈health
  * enrichment, and the consecutive-failure health state machine in batch
  * form (gaps-and-islands).
  *
  * Metadata tables (membership log, assignments) are tiny dimensions — at
  * 100 TB the data-plane side of every join here is the big side and the
  * dimension broadcasts; Spark's planner picks broadcast-hash automatically
  * for these (verified via explain in ClusterSpec).
  */
object ClusterQueries extends graft.QueryModule {

  /** The broadcast's total time budget (`cmd/coordinator/main.go:473`). */
  val BroadcastBudgetMs = 4000L

  // ---- fixtures (mirrored literally in the DuckDB oracle) ----------------

  /** Registration log: n1..n3 register, n1 re-registers with a new address
    * (update-in-place, `cmd/coordinator/main.go:297-308`), n4 registers and
    * is later marked unhealthy by the health callback (`main.go:322-334`). */
  def registerLog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "n1", "host-a:9001"),
      (2L, "n2", "host-b:9002"),
      (3L, "n3", "host-c:9003"),
      (4L, "n1", "host-a:9011"),
      (5L, "n4", "host-d:9004")
    ).toDF("reg_seq", "node_id", "addr")
  }

  /** Membership status after the unhealthy-callback marked n4
    * (`cmd/coordinator/main.go:322-334`). */
  def membershipStatus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("n1", "healthy"), ("n2", "healthy"), ("n3", "healthy"),
      ("n4", "unhealthy")).toDF("node_id", "m_status")
  }

  /** Current membership: LWW by reg_seq, keeping first-registration order
    * (Go keeps slice position on re-register). */
  def membership(spark: SparkSession): DataFrame =
    registerLog(spark).groupBy("node_id")
      .agg(max_by(col("addr"), col("reg_seq")).as("addr"),
           min(col("reg_seq")).as("first_seq"))
      .join(membershipStatus(spark), Seq("node_id"), "left")

  /** Healthy nodes indexed by membership order — the round-robin domain
    * (`cmd/coordinator/main.go:977-983`). */
  def healthyNodesIndexed(spark: SparkSession): DataFrame =
    membership(spark).filter(col("m_status") =!= "unhealthy")
      .withColumn("node_idx",
        row_number().over(Window.orderBy("first_seq")).cast("long") - 1L)

  /** Driver-side snapshot of [[healthyNodesIndexed]], in index order —
    * the coordinator's in-memory healthy slice (`shard_registry.go` holds
    * exactly this list in RAM). ≤ #nodes rows of control-plane metadata;
    * collecting it once replaces re-deriving the windowed frame for a
    * count() and again for a join. */
  def healthyNodesSnapshot(spark: SparkSession): Seq[String] =
    healthyNodesIndexed(spark).orderBy("node_idx").select("node_id")
      .collect().map(_.getString(0)).toIndexedSeq

  /** Partial routing table: shards 0–2 assigned, shard 3 unassigned — the
    * 503 path (`cmd/coordinator/main.go:565-569`). */
  def partialAssignments(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0L, "n1"), (1L, "n2"), (2L, "n3")).toDF("shard_id", "node_id")
  }

  /** Health-probe log derived from `events`: 3 nodes, probe order = event_id,
    * outcome pattern mixing long failure blocks (≥3 consecutive → unhealthy)
    * with scattered single failures (< threshold, must NOT transition). */
  def probes(spark: SparkSession, sfDir: String): DataFrame =
    // explicit schema: events.parquet carries TIMESTAMP(NANOS) which Spark
    // rejects at inference; we only need these two columns anyway, and the
    // pruned schema keeps the scan narrow.
    spark.read.schema("event_id BIGINT, user_id BIGINT")
      .parquet(s"$sfDir/events.parquet").select(
      col("event_id").as("seq"),
      concat(lit("n"), (col("user_id") % 3 + 1).cast("string")).as("node_id"),
      (expr("(event_id div 50) % 5") =!= 0 && col("event_id") % 13 =!= 0)
        .as("ok"))

  /** Probe-log variant with a 4th node that DE-REGISTERS mid-log at
    * [[DeregSeq]]: the monitor stops probing a removed node (its provider
    * snapshot no longer contains it), so n4 has no probes past that seq,
    * and [[queries]]' `health_current_pruned` drops its tracking row
    * entirely — mirroring the per-tick prune of removed nodes
    * (`internal/coordinator/health_monitor.go:172-190`). */
  val DeregSeq = 30000L

  def probesWithDereg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema("event_id BIGINT, user_id BIGINT")
      .parquet(s"$sfDir/events.parquet").select(
      col("event_id").as("seq"),
      concat(lit("n"), (col("user_id") % 4 + 1).cast("string")).as("node_id"),
      (expr("(event_id div 50) % 5") =!= 0 && col("event_id") % 13 =!= 0)
        .as("ok"))
      .filter(col("node_id") =!= "n4" || col("seq") < DeregSeq)

  /** Per-probe status via the reference's counted-failure state machine
    * (`internal/coordinator/health_monitor.go:221-254`): 3rd consecutive
    * failure ⇒ unhealthy; any success ⇒ healthy; before any signal ⇒
    * unknown. Batch shape: gaps-and-islands windows.
    *
    * SCALE NOTE: the windows partition by `node_id`, so this batch form's
    * parallelism ceiling is the node count — fine for control-plane probe
    * volume (the reference polls each node every 5 s), but the form that
    * runs at scale is the keyed-state streaming twin
    * ([[graft.streaming.HealthMonitor]]), where state is O(nodes) and
    * throughput scales with executors, not with per-node history. */
  def probeStatus(spark: SparkSession, sfDir: String): DataFrame =
    probeStatusOf(probes(spark, sfDir))

  /** Same state machine over any `(seq, node_id, ok)` probe log. */
  def probeStatusOf(probeLog: DataFrame): DataFrame = {
    val wRun = Window.partitionBy("node_id").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, 0)
    val runs = probeLog
      .withColumn("grp", sum(when(col("ok"), 1L).otherwise(0L)).over(wRun))
    val wGrp = Window.partitionBy("node_id", "grp").orderBy("seq")
    val consec = runs.withColumn("n_fails",
      when(col("ok"), 0L).otherwise(
        row_number().over(wGrp).cast("long") -
          when(col("grp") > 0, 1L).otherwise(0L)))
    consec.withColumn("status", coalesce(
      last(when(col("ok"), "healthy").when(col("n_fails") >= 3, "unhealthy"),
        ignoreNulls = true).over(wRun),
      lit("unknown")))
  }

  // ---- queries -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O12 — node registration with upsert semantics (re-register updates
    // the address in place; LWW by registration seq).
    "register_upsert" -> ((s, _) =>
      membership(s).select("node_id", "addr").orderBy("node_id")),

    // O9 — key→node routing: derived shard_id equi-joined against the
    // assignment dimension; null node_id = unassigned shard = the 503 path.
    // The dimension is broadcast; the keyspace side never shuffles for it.
    "route_key_to_node" -> ((s, dir) =>
      KvLog.state(s, dir)
        .join(broadcast(partialAssignments(s)), Seq("shard_id"), "left")
        .groupBy("node_id").agg(count("*").as("n_keys"))
        .orderBy(col("node_id").asc_nulls_first)),

    // O11 — full rebalance: shard i → healthyNodes[i mod n], all primary
    // (`internal/coordinator/shard_registry.go:554-577`). The healthy list
    // is collected once as a driver-side snapshot — exactly the in-memory
    // slice the reference's registry iterates (≤ #nodes rows, coordinator
    // metadata, same class as the blessed dimension count()s) — and the
    // shard domain maps over it with a literal lookup: zero shuffles,
    // zero joins, so the rebalance costs one narrow map at ANY shard
    // count (the count()-plus-rederive form paid three windowed
    // micro-jobs whose scheduling noise dwarfed the actual work).
    "round_robin_rebalance" -> ((s, _) => {
      val nodes = healthyNodesSnapshot(s)
      s.range(4).select(col("id").as("shard_id"))
        .withColumn("node_id", element_at(typedLit(nodes),
          pmod(col("shard_id"), lit(nodes.size.toLong)).cast("int") + 1))
        // zero healthy nodes ⇒ pmod-by-0 is NULL ⇒ no assignments emitted
        // (mirrored in the oracle via NULLIF) — never rows with a null node
        .filter(col("node_id").isNotNull)
        .select(col("shard_id"), col("node_id"), lit(true).as("is_primary"))
        .orderBy("shard_id")
    }),

    // O11 — auto-assign: only unassigned shards, round-robin by the RANK of
    // the unassigned shard over healthy nodes (`cmd/coordinator/
    // main.go:976-1013`: nodeIndex increments only on assignment).
    "auto_assign_unassigned" -> ((s, _) => {
      // one registry snapshot (the count-plus-rederive form paid three
      // windowed micro-jobs over a 5-row dimension — see the rebalance
      // commit); the healthy list is coordinator metadata by contract
      val nodes = healthyNodesSnapshot(s)
      val current = partialAssignments(s).filter(col("shard_id") === 0L)
      val unassigned = s.range(4).select(col("id").as("shard_id"))
        .join(current.select("shard_id"), Seq("shard_id"), "left_anti")
        .withColumn("rank",
          row_number().over(Window.orderBy("shard_id")).cast("long") - 1L)
      unassigned
        .withColumn("node_id", element_at(typedLit(nodes),
          pmod(col("rank"), lit(nodes.size.toLong)).cast("int") + 1))
        // zero healthy nodes ⇒ pmod-by-0 is NULL ⇒ only the already-current
        // assignments survive (oracle mirrors via NULLIF) — same guard as
        // round_robin_rebalance, never null-node rows
        .filter(col("node_id").isNotNull)
        .select("shard_id", "node_id")
        .unionByName(current)
        .orderBy("shard_id")
    }),

    // O9 — GetNodeShards: shards grouped per node after a full rebalance
    // (`shard_registry.go:465-477`); shard list pinned to a sorted string.
    "node_shards" -> ((s, _) => {
      val nodes = healthyNodesSnapshot(s)
      s.range(4).select(col("id").as("shard_id"))
        .withColumn("node_id", element_at(typedLit(nodes),
          pmod(col("shard_id"), lit(nodes.size.toLong)).cast("int") + 1))
        // zero healthy nodes ⇒ empty result, not a null-node group
        .filter(col("node_id").isNotNull)
        .groupBy("node_id")
        .agg(concat_ws(",", sort_array(collect_list(col("shard_id"))))
          .as("shards"), count("*").as("n_shards"))
        .orderBy("node_id")
    }),

    // O13 — the one join-like reference operator: node list enriched with
    // monitor health; explicit-unhealthy membership wins, never-probed ⇒
    // unknown (`cmd/coordinator/main.go:368-399`).
    "nodes_with_health" -> ((s, dir) => {
      val current = probeStatus(s, dir).groupBy("node_id")
        .agg(max_by(col("status"), col("seq")).as("h_status"))
      membership(s).join(current, Seq("node_id"), "left")
        .select(col("node_id"), col("addr"),
          when(col("m_status") === "unhealthy", "unhealthy")
            .otherwise(coalesce(col("h_status"), lit("unknown")))
            .as("status"))
        .orderBy("node_id")
    }),

    // O14 — broadcast fan-out result table: one row per registered node
    // with per-node error capture (unreachable nodes error, the rest ack —
    // partial failure tolerated) + the SentTo count
    // (`cmd/coordinator/main.go:446-495`, errors collected at 481-486).
    "broadcast_fanout" -> ((s, _) => {
      val m = membership(s)
      m.select(col("node_id"),
          when(col("m_status") === "unhealthy", "error: unreachable")
            .otherwise("ok").as("result"))
        .crossJoin(m.agg(count("*").as("sent_to")))
        .orderBy("node_id")
    }),

    // O15 — health transitions: only status CHANGES are emitted, mirroring
    // the transition-only callback (`health_monitor.go:238-243`) and
    // recovery logging (`health_monitor.go:245-253`).
    "health_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("node_id").orderBy("seq")
      probeStatus(s, dir)
        .withColumn("prev_status", lag(col("status"), 1, "unknown").over(w))
        .filter(col("status") =!= col("prev_status"))
        .select("node_id", "seq", "prev_status", "status")
        .orderBy("node_id", "seq")
    }),

    // O15 — current health snapshot per node (GetAllNodeHealth,
    // `health_monitor.go:313-361`).
    "health_current" -> ((s, dir) =>
      probeStatus(s, dir).groupBy("node_id")
        .agg(max_by(col("status"), col("seq")).as("status"),
          max(col("seq")).as("last_check_seq"))
        .orderBy("node_id")),

    // O15 — health snapshot with the reference's prune of de-registered
    // nodes (`health_monitor.go:172-190`): n4 accumulates tracking rows
    // until it de-registers mid-log, after which the per-tick prune drops
    // its row — the snapshot contains only currently-registered nodes.
    "health_current_pruned" -> ((s, dir) => {
      import s.implicits._
      val deregistered = Seq("n4").toDF("node_id")
      probeStatusOf(probesWithDereg(s, dir)).groupBy("node_id")
        .agg(max_by(col("status"), col("seq")).as("status"),
          max(col("seq")).as("last_check_seq"))
        .join(broadcast(deregistered), Seq("node_id"), "left_anti")
        .orderBy("node_id")
    }),

    // O7+ — per-node stats rollup, the node `/info` aggregation
    // (`cmd/node/main.go:750-773`): shard infos grouped per node with
    // total keys/bytes, over the full round-robin assignment table. The
    // assignment dimension broadcasts; the keyspace aggregates per shard
    // first (4 rows), so the rollup join moves no data-plane rows.
    "node_info_rollup" -> ((s, dir) => {
      val nodes = healthyNodesSnapshot(s)
      val assigns = s.range(4).select(col("id").as("shard_id"))
        .withColumn("node_id", element_at(typedLit(nodes),
          pmod(col("shard_id"), lit(nodes.size.toLong)).cast("int") + 1))
        // zero healthy nodes ⇒ empty rollup, not a null-node group
        .filter(col("node_id").isNotNull)
        .select("shard_id", "node_id")
      KvLog.state(s, dir).groupBy("shard_id")
        .agg(count("*").as("n_keys"), sum(length(col("value"))).as("n_bytes"))
        .join(broadcast(assigns), Seq("shard_id"))
        .groupBy("node_id")
        .agg(count("*").as("n_shards"), sum(col("n_keys")).as("total_keys"),
          sum(col("n_bytes")).as("total_bytes"))
        .orderBy("node_id")
    }),

    // O11+ — failure-triggered redistribution that actually MOVES shards:
    // the reference's callback only re-runs auto-assign over unassigned
    // shards, a documented P0 gap (ISSUES_AND_SOLUTIONS.md:75-127,
    // PROJECT_STATUS.md:51-65) — this is the fixed variant: on an unhealthy
    // transition, the dead node's shards are reassigned round-robin over
    // the surviving healthy set; healthy nodes keep their shards.
    "redistribute_on_failure" -> ((s, _) => {
      // before the failure all four nodes were healthy: full round-robin
      val all = membership(s).withColumn("node_idx",
        row_number().over(Window.orderBy("first_seq")).cast("long") - 1L)
      val nAll = all.count()
      val before = s.range(4).select(col("id").as("shard_id"))
        .withColumn("node_idx", pmod(col("shard_id"), lit(nAll)))
        .join(all.select("node_idx", "node_id", "m_status"), "node_idx")
        .select(col("shard_id"), col("node_id").as("old_node"),
          col("m_status"))
      val healthy = healthyNodesIndexed(s)
      val nH = healthy.count()
      def stayPut(df: DataFrame) =
        df.select(col("shard_id"), col("old_node"),
          col("old_node").as("new_node"))
      val unhealthy = before.filter(col("m_status") === "unhealthy")
      // no survivors ⇒ nothing can move: shards stay on their dead nodes
      // (matches streaming.RedistributeStream.applyTransition — without
      // this guard pmod(_, 0) is null and the join would silently DROP
      // the failed shards from the routing table)
      val moved =
        if (nH == 0) stayPut(unhealthy)
        else unhealthy
          .withColumn("rank",
            row_number().over(Window.orderBy("shard_id")).cast("long") - 1L)
          .withColumn("node_idx", pmod(col("rank"), lit(nH)))
          .join(healthy.select("node_idx", "node_id"), "node_idx")
          .select(col("shard_id"), col("old_node"),
            col("node_id").as("new_node"))
      val kept = stayPut(before.filter(col("m_status") =!= "unhealthy"))
      kept.unionByName(moved)
        .withColumn("moved", col("old_node") =!= col("new_node"))
        .orderBy("shard_id")
    }),

    // Shard lifecycle states active|migrating|deleted (shard.go:26-52;
    // SetState shard.go:507-536): LWW over a transition log, with routing
    // gated per state — migrating still serves reads but not writes,
    // deleted is out of the routing table entirely.
    "shard_lifecycle_routing" -> ((s, dir) => {
      import s.implicits._
      val transitions = Seq(
        (1L, 0L, "active"), (2L, 1L, "active"),
        (3L, 2L, "active"), (4L, 3L, "active"),
        (5L, 1L, "migrating"),                    // 1: being moved
        (6L, 2L, "migrating"), (7L, 2L, "active"), // 2: move completed
        (8L, 3L, "deleted")                        // 3: decommissioned
      ).toDF("seq", "shard_id", "state")
      val current = transitions.groupBy("shard_id")
        .agg(max_by(col("state"), col("seq")).as("state"))
        .withColumn("serves_reads", col("state").isin("active", "migrating"))
        .withColumn("serves_writes", col("state") === "active")
      KvLog.state(s, dir).groupBy("shard_id").agg(count("*").as("n_keys"))
        .join(broadcast(current), Seq("shard_id"))
        .select(col("shard_id"), col("state"),
          col("serves_reads"), col("serves_writes"),
          when(col("serves_reads"), col("n_keys")).otherwise(0L)
            .as("n_routable_keys"))
        .orderBy("shard_id")
    }),

    // O14 — broadcast request semantics: path validation (empty or not
    // starting with '/' ⇒ 400, cmd/coordinator/main.go:455) and raw-JSON
    // payload passthrough to addr+path on every node
    // (internal/cluster/types.go:103-115, post at main.go:479-480).
    "broadcast_payload" -> ((s, _) => {
      import s.implicits._
      val reqs = Seq(
        (1L, "/cluster/state", """{"nodes":["n1","n2"]}"""),
        (2L, "", """{"x":1}"""),
        (3L, "config/reload", "{}"),
        (4L, "/shards/reassign", """{"shard":3}""")
      ).toDF("req_id", "path", "payload")
      val valid = col("path").startsWith("/")
      val accepted = reqs.filter(valid).crossJoin(membership(s))
        .select(col("req_id"), col("path"), col("node_id"),
          concat(col("addr"), col("path")).as("url"), col("payload"),
          when(col("m_status") === "unhealthy", "error: unreachable")
            .otherwise("ok").as("result"))
      val rejected = reqs.filter(!valid)
        .select(col("req_id"), col("path"),
          lit(null).cast("string").as("node_id"),
          lit(null).cast("string").as("url"), col("payload"),
          lit("400 invalid path").as("result"))
      accepted.unionByName(rejected)
        .orderBy(col("req_id"), col("node_id").asc_nulls_first)
    }),

    // O14 — broadcast TIME-BUDGET semantics (`cmd/coordinator/
    // main.go:473-486`): the fan-out is SEQUENTIAL under one shared 4 s
    // context, so a slow node eats the budget of every node after it in
    // membership order; later posts fail with deadline errors captured
    // per node (partial completion tolerated). Modeled with a
    // deterministic per-node latency dimension and a running-sum window.
    // The unpartitioned window is 4 metadata rows — control-plane, like
    // the reference's in-memory node slice, never data-plane.
    "broadcast_time_budget" -> ((s, _) => {
      import s.implicits._
      val lat = Seq(("n1", 900L), ("n2", 1400L), ("n3", 1500L),
        ("n4", 700L)).toDF("node_id", "latency_ms")
      val w = Window.orderBy("first_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
      membership(s).join(lat, "node_id")
        .withColumn("cum_ms", sum(col("latency_ms")).over(w))
        .select(col("node_id"), col("latency_ms"), col("cum_ms"),
          when(col("cum_ms") <= BroadcastBudgetMs, "ok")
            .otherwise("error: deadline exceeded").as("result"))
        .orderBy("node_id")
    }),

    // O10 — validated assignment upsert: rows outside 0 ≤ shard < 4 or with
    // an empty node are rejected (`shard_registry.go:173-193`), survivors
    // upsert LWW per shard; removal idempotence is the absent-shard row.
    "shard_assign_validate" -> ((s, _) => {
      import s.implicits._
      val log = Seq(
        (1L, 0L, "n1"), (2L, 7L, "n2"), (3L, 1L, ""), (4L, 1L, "n2"),
        (5L, 0L, "n3"), (6L, -1L, "n1")
      ).toDF("seq", "shard_id", "node_id")
      val valid = log.filter(col("shard_id") >= 0 && col("shard_id") < 4 &&
        col("node_id") =!= "")
      val rejected = log.exceptAll(valid).agg(count("*").as("n_rejected"))
      valid.groupBy("shard_id")
        .agg(max_by(col("node_id"), col("seq")).as("node_id"))
        .crossJoin(rejected)
        .orderBy("shard_id")
    }),
  )

  // ---- oracles -----------------------------------------------------------

  private val membershipSql =
    """reg_log(reg_seq, node_id, addr) AS (
      |  VALUES (1, 'n1', 'host-a:9001'), (2, 'n2', 'host-b:9002'),
      |         (3, 'n3', 'host-c:9003'), (4, 'n1', 'host-a:9011'),
      |         (5, 'n4', 'host-d:9004')
      |),
      |m_status(node_id, m_status) AS (
      |  VALUES ('n1', 'healthy'), ('n2', 'healthy'), ('n3', 'healthy'),
      |         ('n4', 'unhealthy')
      |),
      |membership AS (
      |  SELECT l.node_id, arg_max(addr, reg_seq) AS addr,
      |         min(reg_seq) AS first_seq, any_value(m_status) AS m_status
      |  FROM reg_log l JOIN m_status USING (node_id) GROUP BY l.node_id
      |),
      |healthy_idx AS (
      |  SELECT node_id,
      |         row_number() OVER (ORDER BY first_seq) - 1 AS node_idx
      |  FROM membership WHERE m_status <> 'unhealthy'
      |),
      |partial_assign(shard_id, node_id) AS (
      |  VALUES (0, 'n1'), (1, 'n2'), (2, 'n3')
      |)""".stripMargin

  /** Gaps-and-islands probe-status CTE chain for an `nNodes`-node probe
    * log, optionally filtered (the de-registration variant). */
  private def probesSqlFor(nNodes: Int, filter: String): String =
    s"""probes AS (
      |  SELECT * FROM (
      |    SELECT event_id AS seq,
      |           'n' || CAST(user_id % $nNodes + 1 AS VARCHAR) AS node_id,
      |           ((event_id // 50) % 5 <> 0 AND event_id % 13 <> 0) AS ok
      |    FROM events
      |  ) WHERE $filter
      |),""".stripMargin + "\n" + probeMachineSql

  private val probeMachineSql =
    """runs AS (
      |  SELECT *, sum(CASE WHEN ok THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY node_id ORDER BY seq
      |            ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM probes
      |),
      |consec AS (
      |  SELECT *, CASE WHEN ok THEN 0
      |    ELSE row_number() OVER (PARTITION BY node_id, grp ORDER BY seq)
      |         - CASE WHEN grp > 0 THEN 1 ELSE 0 END END AS n_fails
      |  FROM runs
      |),
      |statused AS (
      |  SELECT *, coalesce(
      |    last_value(CASE WHEN ok THEN 'healthy'
      |                    WHEN n_fails >= 3 THEN 'unhealthy' END IGNORE NULLS)
      |      OVER (PARTITION BY node_id ORDER BY seq ROWS UNBOUNDED PRECEDING),
      |    'unknown') AS status
      |  FROM consec
      |)""".stripMargin

  private val probesSql = probesSqlFor(3, "true")

  /** 4-node probe log; n4's probes stop at its de-registration. */
  private val probesDeregSql =
    probesSqlFor(4, s"(node_id <> 'n4' OR seq < $DeregSeq)")

  val oracle: Map[String, String] = Map(
    "register_upsert" -> (s"WITH $membershipSql\n" +
      "SELECT node_id, addr FROM membership ORDER BY node_id"),

    "route_key_to_node" -> (s"WITH ${Ora.kvState},\n" +
      membershipSql + "\n" +
      """SELECT a.node_id, count(*) AS n_keys
        |FROM kv_state k LEFT JOIN partial_assign a ON k.shard_id = a.shard_id
        |GROUP BY a.node_id ORDER BY a.node_id NULLS FIRST""".stripMargin),

    "round_robin_rebalance" -> (s"WITH $membershipSql\n" +
      """SELECT s.shard_id, h.node_id, true AS is_primary
        |FROM (SELECT CAST(range AS BIGINT) AS shard_id FROM range(4)) s
        |JOIN healthy_idx h
        |  ON h.node_idx = s.shard_id
        |    % NULLIF((SELECT count(*) FROM healthy_idx), 0)
        |ORDER BY s.shard_id""".stripMargin),

    "auto_assign_unassigned" -> (s"WITH $membershipSql,\n" +
      """current AS (SELECT * FROM partial_assign WHERE shard_id = 0),
        |unassigned AS (
        |  SELECT shard_id,
        |         row_number() OVER (ORDER BY shard_id) - 1 AS rnk
        |  FROM (SELECT CAST(range AS BIGINT) AS shard_id FROM range(4))
        |  WHERE shard_id NOT IN (SELECT shard_id FROM current)
        |)
        |SELECT shard_id, node_id FROM (
        |  SELECT u.shard_id, h.node_id FROM unassigned u
        |  JOIN healthy_idx h
        |    ON h.node_idx = u.rnk
        |      % NULLIF((SELECT count(*) FROM healthy_idx), 0)
        |  UNION ALL
        |  SELECT CAST(shard_id AS BIGINT), node_id FROM current
        |) ORDER BY shard_id""".stripMargin),

    "node_shards" -> (s"WITH $membershipSql\n" +
      """SELECT h.node_id,
        |       string_agg(CAST(s.shard_id AS VARCHAR), ',' ORDER BY s.shard_id) AS shards,
        |       count(*) AS n_shards
        |FROM (SELECT CAST(range AS BIGINT) AS shard_id FROM range(4)) s
        |JOIN healthy_idx h
        |  ON h.node_idx = s.shard_id
        |    % NULLIF((SELECT count(*) FROM healthy_idx), 0)
        |GROUP BY h.node_id ORDER BY h.node_id""".stripMargin),

    "nodes_with_health" -> (s"WITH $membershipSql,\n$probesSql,\n" +
      """current AS (
        |  SELECT node_id, arg_max(status, seq) AS h_status
        |  FROM statused GROUP BY node_id
        |)
        |SELECT m.node_id, m.addr,
        |       CASE WHEN m.m_status = 'unhealthy' THEN 'unhealthy'
        |            ELSE coalesce(c.h_status, 'unknown') END AS status
        |FROM membership m LEFT JOIN current c ON m.node_id = c.node_id
        |ORDER BY m.node_id""".stripMargin),

    "broadcast_fanout" -> (s"WITH $membershipSql\n" +
      """SELECT node_id,
        |       CASE WHEN m_status = 'unhealthy' THEN 'error: unreachable'
        |            ELSE 'ok' END AS result,
        |       (SELECT count(*) FROM membership) AS sent_to
        |FROM membership ORDER BY node_id""".stripMargin),

    "health_transitions" -> (s"WITH $probesSql\n" +
      """SELECT node_id, seq, prev_status, status FROM (
        |  SELECT node_id, seq,
        |         lag(status, 1, 'unknown')
        |           OVER (PARTITION BY node_id ORDER BY seq) AS prev_status,
        |         status
        |  FROM statused)
        |WHERE status <> prev_status
        |ORDER BY node_id, seq""".stripMargin),

    "health_current" -> (s"WITH $probesSql\n" +
      """SELECT node_id, arg_max(status, seq) AS status,
        |       max(seq) AS last_check_seq
        |FROM statused GROUP BY node_id ORDER BY node_id""".stripMargin),

    "health_current_pruned" -> (s"WITH $probesDeregSql\n" +
      """SELECT node_id, arg_max(status, seq) AS status,
        |       max(seq) AS last_check_seq
        |FROM statused WHERE node_id NOT IN ('n4')
        |GROUP BY node_id ORDER BY node_id""".stripMargin),

    "node_info_rollup" -> (s"WITH ${Ora.kvState},\n$membershipSql\n" +
      """SELECT h.node_id, count(*) AS n_shards,
        |       CAST(sum(k.n_keys) AS BIGINT) AS total_keys,
        |       CAST(sum(k.n_bytes) AS BIGINT) AS total_bytes
        |FROM (SELECT shard_id, count(*) AS n_keys,
        |             sum(length(value)) AS n_bytes
        |      FROM kv_state GROUP BY shard_id) k
        |JOIN healthy_idx h
        |  ON h.node_idx = k.shard_id
        |    % NULLIF((SELECT count(*) FROM healthy_idx), 0)
        |GROUP BY h.node_id ORDER BY h.node_id""".stripMargin),

    "redistribute_on_failure" -> (s"WITH $membershipSql,\n" +
      """all_idx AS (
        |  SELECT node_id, m_status,
        |         row_number() OVER (ORDER BY first_seq) - 1 AS node_idx
        |  FROM membership
        |),
        |before_assign AS (
        |  SELECT s.shard_id, a.node_id AS old_node, a.m_status
        |  FROM (SELECT CAST(range AS BIGINT) AS shard_id FROM range(4)) s
        |  JOIN all_idx a ON a.node_idx = s.shard_id % (SELECT count(*) FROM all_idx)
        |),
        |failed AS (
        |  SELECT shard_id, old_node,
        |         row_number() OVER (ORDER BY shard_id) - 1 AS rnk
        |  FROM before_assign WHERE m_status = 'unhealthy'
        |)
        |SELECT shard_id, old_node, new_node, old_node <> new_node AS moved
        |FROM (
        |  -- LEFT JOIN + COALESCE mirrors the Spark side's no-survivors
        |  -- guard: with zero healthy nodes the modulus is NULL, nothing
        |  -- joins, and failed shards STAY on their dead nodes instead of
        |  -- silently dropping out of the routing table.
        |  SELECT f.shard_id, f.old_node,
        |         coalesce(h.node_id, f.old_node) AS new_node
        |  FROM failed f LEFT JOIN healthy_idx h
        |    ON h.node_idx = f.rnk %
        |       NULLIF((SELECT count(*) FROM healthy_idx), 0)
        |  UNION ALL
        |  SELECT shard_id, old_node, old_node AS new_node
        |  FROM before_assign WHERE m_status <> 'unhealthy'
        |) ORDER BY shard_id""".stripMargin),

    "shard_lifecycle_routing" -> (s"WITH ${Ora.kvState},\n" +
      """lifecycle_log(seq, shard_id, state) AS (
        |  VALUES (1, 0, 'active'), (2, 1, 'active'),
        |         (3, 2, 'active'), (4, 3, 'active'),
        |         (5, 1, 'migrating'),
        |         (6, 2, 'migrating'), (7, 2, 'active'),
        |         (8, 3, 'deleted')
        |),
        |lifecycle AS (
        |  SELECT shard_id, arg_max(state, seq) AS state
        |  FROM lifecycle_log GROUP BY shard_id
        |),
        |keys_per AS (
        |  SELECT shard_id, count(*) AS n_keys FROM kv_state GROUP BY shard_id
        |)
        |SELECT CAST(c.shard_id AS BIGINT) AS shard_id, c.state,
        |       c.state IN ('active', 'migrating') AS serves_reads,
        |       c.state = 'active' AS serves_writes,
        |       CAST(CASE WHEN c.state IN ('active', 'migrating')
        |                 THEN k.n_keys ELSE 0 END AS BIGINT) AS n_routable_keys
        |FROM lifecycle c JOIN keys_per k ON k.shard_id = c.shard_id
        |ORDER BY shard_id""".stripMargin),

    "broadcast_payload" -> (s"WITH $membershipSql,\n" +
      """reqs(req_id, path, payload) AS (
        |  VALUES (1, '/cluster/state', '{"nodes":["n1","n2"]}'),
        |         (2, '', '{"x":1}'),
        |         (3, 'config/reload', '{}'),
        |         (4, '/shards/reassign', '{"shard":3}')
        |)
        |SELECT CAST(req_id AS BIGINT) AS req_id, path, node_id, url, payload, result
        |FROM (
        |  SELECT r.req_id, r.path, m.node_id, m.addr || r.path AS url,
        |         r.payload,
        |         CASE WHEN m.m_status = 'unhealthy' THEN 'error: unreachable'
        |              ELSE 'ok' END AS result
        |  FROM reqs r CROSS JOIN membership m
        |  WHERE r.path LIKE '/%'
        |  UNION ALL
        |  SELECT req_id, path, NULL, NULL, payload, '400 invalid path'
        |  FROM reqs WHERE path NOT LIKE '/%'
        |) ORDER BY req_id, node_id NULLS FIRST""".stripMargin),

    "broadcast_time_budget" -> (s"WITH $membershipSql,\n" +
      s"""lat(node_id, latency_ms) AS (
        |  VALUES ('n1', 900), ('n2', 1400), ('n3', 1500), ('n4', 700)
        |)
        |SELECT node_id, CAST(latency_ms AS BIGINT) AS latency_ms,
        |       CAST(cum_ms AS BIGINT) AS cum_ms,
        |       CASE WHEN cum_ms <= $BroadcastBudgetMs THEN 'ok'
        |            ELSE 'error: deadline exceeded' END AS result
        |FROM (
        |  SELECT m.node_id, l.latency_ms,
        |         sum(l.latency_ms) OVER (ORDER BY m.first_seq
        |           ROWS UNBOUNDED PRECEDING) AS cum_ms
        |  FROM membership m JOIN lat l USING (node_id)
        |) ORDER BY node_id""".stripMargin),

    "shard_assign_validate" ->
      """WITH assign_log(seq, shard_id, node_id) AS (
        |  VALUES (1, 0, 'n1'), (2, 7, 'n2'), (3, 1, ''), (4, 1, 'n2'),
        |         (5, 0, 'n3'), (6, -1, 'n1')
        |),
        |valid AS (
        |  SELECT * FROM assign_log
        |  WHERE shard_id >= 0 AND shard_id < 4 AND node_id <> ''
        |)
        |SELECT CAST(shard_id AS BIGINT) AS shard_id,
        |       arg_max(node_id, seq) AS node_id,
        |       (SELECT count(*) FROM assign_log) -
        |         (SELECT count(*) FROM valid) AS n_rejected
        |FROM valid GROUP BY shard_id ORDER BY shard_id""".stripMargin,
  )
}
