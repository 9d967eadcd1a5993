package graft.keyspace

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.Ora

/** Keyspace data-plane operators O1–O7 (SURVEY.md §2.1), each exposed as a
  * named query over the deterministic kv fixture plus its DuckDB oracle.
  *
  * Range bounds are lexicographic on the raw key bytes — Go compares strings
  * byte-wise (`internal/shard/shard.go:578-580`), Spark's UTF8String and
  * DuckDB's default binary collation do too, so `>= start && < end` means the
  * same thing in all three systems.
  */
object KeyspaceQueries extends graft.QueryModule {
  private val RangeStart = "order:2"
  private val RangeEnd = "order:3"
  /** Keyset-pagination fixture: resume after this key, 50 keys per page. */
  private val PageCursor = "order:5"
  private val PageSize = 50

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1 — point GET: equality filter on the compacted state; with a
    // shard_id-partitioned layout this prunes to a single partition, the way
    // the coordinator routes to a single node (cmd/coordinator/main.go:564).
    "kv_point_get" -> ((s, dir) =>
      KvLog.state(s, dir).filter(col("key") === "order:42")
        .select("key", "value", "shard_id")),

    // O1 — GET of an absent key: empty result, the 404/ErrKeyNotFound path
    // (internal/storage/store.go:24, cmd/node/main.go:505-513).
    "kv_point_get_missing" -> ((s, dir) =>
      KvLog.state(s, dir).filter(col("key") === "order:no-such-key")
        .select("key", "value")),

    // O2 — PUT upsert, last-write-wins: keys written twice must show the
    // second value (store.go:81-84 "overwrites without warning").
    "kv_put_upsert_lww" -> ((s, dir) =>
      KvLog.state(s, dir).filter(col("value").startsWith("updated:"))
        .select("key", "value").orderBy("key")),

    // O3 — DELETE + tombstone compaction: deleted keys are absent from the
    // compacted state; n_tombstoned_present must be 0 (store.go:391-397).
    // Single-pass shape: one scan of the write log, one groupBy(key)
    // carrying (last write op, ever-deleted flag) — the join formulation
    // derived the log twice and shuffled three times for the same answer.
    "kv_delete_tombstone" -> ((s, dir) => {
      val byKey = KvLog.log(s, dir)
        .filter(col("op").isin("put", "delete"))
        .groupBy("key")
        .agg(max_by(col("op"), col("seq")).as("last_op"),
          max(when(col("op") === "delete", 1L).otherwise(0L))
            .as("ever_deleted"))
      byKey.agg(
        sum(when(col("last_op") === "put" && col("ever_deleted") === 1L, 1L)
          .otherwise(0L)).as("n_tombstoned_present"),
        sum(when(col("last_op") === "put", 1L).otherwise(0L)).as("n_keys"))
    }),

    // O4 — per-shard key listing (GET /shard/{id}/store,
    // cmd/node/main.go:617-632). Reference output is unordered; we pin an
    // order for the oracle compare.
    "kv_list_keys_shard0" -> ((s, dir) =>
      KvLog.state(s, dir).filter(col("shard_id") === 0)
        .select("key").orderBy("key")),

    // O4 — keyset-paginated listing: the reference names this gap itself
    // ("Consider pagination for stores with >10k keys",
    // internal/storage/store.go:425-426). `key > cursor ORDER BY key
    // LIMIT n` — the stateless page contract that stays O(page) per call:
    // unlike OFFSET, no rows before the cursor are ever sorted or even
    // retained past the filter, and the client resumes with the last key
    // it saw. Spark plans the sort+limit as TakeOrderedAndProject (a
    // per-partition top-n + driver merge of n·#partitions rows), never a
    // global sort; over the shard-partitioned layout the same query also
    // prunes to the one shard directory (PartitionedLayout.listPage,
    // plan-audited).
    "kv_list_page" -> ((s, dir) =>
      KvLog.state(s, dir)
        .filter(col("shard_id") === 0 && col("key") > PageCursor)
        .select("key").orderBy("key").limit(PageSize)),

    // O5 — range scan [start, end), sorted (shard.go:573-587).
    "kv_range_scan" -> ((s, dir) =>
      KvLog.state(s, dir)
        .filter(col("key") >= RangeStart && col("key") < RangeEnd)
        .select("key", "value").orderBy("key")),

    // O6 — range delete [start, end): returns the count removed and the
    // size of the surviving keyspace (shard.go:622-630).
    "kv_range_delete" -> ((s, dir) => {
      val inRange = col("key") >= RangeStart && col("key") < RangeEnd
      KvLog.state(s, dir).agg(
        sum(when(inRange, 1L).otherwise(0L)).as("n_deleted"),
        sum(when(inRange, 0L).otherwise(1L)).as("n_remaining"))
    }),

    // O7 — per-shard stats: key count + byte size, the Stats()/Info()
    // aggregation (store.go:477-490, shard.go:446-459).
    "kv_shard_stats" -> ((s, dir) =>
      KvLog.state(s, dir).groupBy("shard_id")
        .agg(count("*").as("n_keys"), sum(length(col("value"))).as("n_bytes"))
        .orderBy("shard_id")),

    // χ² shard-balance audit over the live compacted keyspace: is the
    // FNV-1a placement actually uniform on the keys we HOLD (as opposed
    // to the synthetic-vector spec)? Per-shard contribution
    // (4·O_s − N)²/(16·N/4·…) is kept per shard like the weekday test —
    // sub = 4·O_s − N is an exact BIGINT, squared in double, ONE
    // division — so consumers sum 4 ordered rows and no cross-row double
    // sum can reorder. A skewed shard here means routing hot-spotting at
    // scale; the expected column is what rebalancing would target.
    "kv_shard_chi2" -> ((s, dir) => {
      val byShard = KvLog.state(s, dir).groupBy("shard_id")
        .agg(count(lit(1)).as("n_keys"))
      val tot = byShard.agg(sum("n_keys").as("nn"))
      val sub = lit(4L) * col("n_keys") - col("nn")
      byShard.crossJoin(broadcast(tot))
        .select(col("shard_id"), col("n_keys"),
          (col("nn").cast("double") / lit(4.0)).as("expected"),
          (sub.cast("double") * sub.cast("double") /
            (lit(4L) * col("nn")).cast("double")).as("chi2_part"))
        .orderBy("shard_id")
    }),

    // O2 edge — empty-value PUT (`store.go:84`, `cmd/node/node_test.go`):
    // an empty string is a real value distinct from a tombstone; it
    // survives LWW compaction (n_empty > 0) and contributes 0 to byte
    // sums without nulling them.
    "kv_empty_value_edge" -> ((s, dir) =>
      KvLog.state(s, dir).agg(
        sum(when(col("value") === "", 1L).otherwise(0L)).as("n_empty"),
        count("*").as("n_keys"),
        sum(length(col("value"))).as("n_bytes"))),

    // O7 — operation counters by type, the atomic Gets/Puts/Deletes
    // counters re-expressed over the op log (shard.go:124-161; Get
    // increment at shard.go:258) — the log carries read traffic too, so
    // all three counters of OperationStats are populated.
    "kv_op_counters" -> ((s, dir) =>
      KvLog.log(s, dir).groupBy("op").agg(count("*").as("n"))
        .orderBy("op")),

    // O7+ — read-hot keys: top-k keys by Get count with their shard —
    // the cache-placement / hot-shard signal the per-shard Gets counter
    // (shard.go:258) aggregates away. One shuffle on key with map-side
    // combine, then TakeOrdered — never a global sort; deterministic
    // (n_gets desc, key) cut. The log's skewed read branches make
    // hotness a real 1/2/3-tier signal.
    "kv_hot_keys" -> ((s, dir) =>
      KvLog.log(s, dir).filter(col("op") === "get")
        .groupBy("key").agg(count("*").as("n_gets"))
        .withColumn("shard_id",
          graft.hash.Fnv1a32.shardId(col("key")))
        .orderBy(col("n_gets").desc, col("key"))
        .limit(20)),

    // O2/O7 — INCREMENTAL compaction: per-shard stats derived from the
    // base-snapshot + delta-tail merge ([[KvLog.incrementalState]]) instead
    // of a full history recompaction. `n_delta_won` counts keys whose
    // winning write arrived after the split — the work a real compactor
    // actually does per cycle. CompactionLawSpec asserts the merged state
    // is row-identical to the full recompaction.
    "kv_compact_incremental" -> ((s, dir) =>
      KvLog.incrementalState(s, dir).groupBy("shard_id")
        .agg(count("*").as("n_keys"), sum(length(col("value"))).as("n_bytes"),
          sum(when(col("from_delta"), 1L).otherwise(0L)).as("n_delta_won"))
        .orderBy("shard_id")),

    // O2+ — SCD Type-2 version history: every PUT opens a version, the
    // key's next write (put or delete) closes it — the
    // slowly-changing-dimension materialization of the op log, the
    // time-travel index behind "value of K as of seq S" (one interval
    // predicate instead of re-compacting the log prefix). One window
    // (lead over seq per key) on the write log; a key's history lives in
    // one task, keys parallel. KeyspaceSpec pins the SCD laws: intervals
    // chain without gap or overlap, at most one open version per key,
    // and the open slice IS the LWW compaction — the two derivations of
    // "current" must agree row-for-row.
    "kv_scd_history" -> ((s, dir) => {
      val w = Window.partitionBy("key").orderBy("seq")
      KvLog.log(s, dir)
        .filter(col("op").isin("put", "delete"))
        .withColumn("valid_to", lead(col("seq"), 1).over(w))
        .filter(col("op") === "put")
        .select(col("key"), col("value"), col("seq").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
        .orderBy("key", "valid_from")
    }),

    // time-travel diff: the changelog between the keyspace AS OF the
    // initial bulk load (base puts, seq ≡ 0 mod 8 in the fixture's seq
    // scheme) and now — updates/deletes/unchanged as a full-outer set
    // compare of the two compactions. The log derives once (checkpointed)
    // and each compaction is the standard hash aggregate; the diff join
    // is keyed on `key`, so both sides arrive co-partitioned from their
    // compactions. This is the audit a log-structured store runs between
    // snapshots (what will this compaction cycle rewrite?). A seq
    // midpoint would also work mechanically, but the fixture clusters
    // each key's ops inside one 8-seq window, so only the load-vs-now
    // diff exercises the update/delete branches.
    "kv_version_diff" -> ((s, dir) => {
      val lg = KvLog.log(s, dir).transform(graft.Materialize(_))
      val oldState = KvLog.compact(lg.filter(col("seq") % 8 === 0))
      val newState = KvLog.compact(lg)
      oldState.select(col("key"), col("value").as("v_old"))
        .join(newState.select(col("key"), col("value").as("v_new")),
          Seq("key"), "full_outer")
        .select(
          when(col("v_old").isNull, "added")
            .when(col("v_new").isNull, "deleted")
            .when(col("v_old") =!= col("v_new"), "updated")
            .otherwise("unchanged").as("change_type"))
        .groupBy("change_type").agg(count("*").as("n_keys"))
        .orderBy("change_type")
    }),

    // Merkle anti-entropy tree per shard — the digest hierarchy two
    // replicas exchange to find WHERE they diverge without shipping keys:
    // equal roots end the conversation in one digest compare; a mismatch
    // recurses down only the differing subtree, so reconciling one
    // divergent key costs O(log leaves) digests instead of a keyspace
    // scan. Leaves bucket by KEY hash (replicas must bucket identically
    // regardless of value state); digests XOR the key=value entry hashes
    // — order-free and incrementally maintainable (a PUT XORs the old
    // entry out and the new one in: the update is O(path), no rebuild).
    // Plan: the keyspace reduces to #shards×MerkleLeaves level-0 rows in
    // ONE pass; all higher levels derive from those control-plane-sized
    // rows. Empty buckets are absent (= identity digest) on both engines.
    "kv_merkle_tree" -> ((s, dir) =>
      merkleTree(KvLog.state(s, dir))
        .orderBy("shard_id", "level", "bucket")),

    // anti-entropy in action: the CURRENT keyspace's tree against the
    // tree of the seq-prefix snapshot (kv_version_diff's "old" replica).
    // Per level, how many digest compares ran and how many diverged —
    // the narrowing funnel that lets two replicas localize every
    // divergent bucket in O(diverged · log leaves) digest exchanges,
    // never a keyspace ship. Both trees reduce their state in one pass
    // each; the diff joins control-plane-sized digest rows.
    "kv_merkle_diff" -> ((s, dir) => {
      val lg = KvLog.log(s, dir).transform(graft.Materialize(_))
      def st(df: DataFrame): DataFrame = df.select(col("key"), col("value"),
        graft.hash.Fnv1a32.shardId(col("key")).as("shard_id"))
      val newT = merkleTree(st(KvLog.compact(lg)))
      val oldT = merkleTree(st(KvLog.compact(lg.filter(col("seq") % 8 === 0))))
      newT.select(col("shard_id"), col("level"), col("bucket"),
          col("digest").as("d_new"))
        .join(oldT.select(col("shard_id"), col("level"), col("bucket"),
          col("digest").as("d_old")),
          Seq("shard_id", "level", "bucket"), "full_outer")
        // absent bucket = identity digest 0 (same convention both trees)
        .select(col("level"),
          (coalesce(col("d_new"), lit(0L)) =!= coalesce(col("d_old"), lit(0L)))
            .as("diverged"))
        .groupBy("level")
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("diverged"), 1L).otherwise(0L)).as("n_diverged"))
        .orderBy("level")
    }),

    // the anti-entropy repair PLAN: kv_merkle_diff says the snapshots
    // diverge and at which tree level; this names the exact level-0
    // leaves to re-sync and costs each one (keys + payload bytes to
    // ship) — detect → localize → cost, the full Dynamo-style repair
    // loop. The diverged leaf set is tree-sized (≤ shards×16 rows) and
    // broadcasts; the keyspace is touched once to bucket and once per
    // snapshot inside the shared checkpointed compaction.
    "kv_merkle_repair_plan" -> ((s, dir) => {
      val lg = KvLog.log(s, dir).transform(graft.Materialize(_))
      def st(df: DataFrame): DataFrame = df.select(col("key"), col("value"),
        graft.hash.Fnv1a32.shardId(col("key")).as("shard_id"))
      val newS = st(KvLog.compact(lg)).transform(graft.Materialize(_))
      val oldS = st(KvLog.compact(lg.filter(col("seq") % 8 === 0)))
      val diverged = merkleTree(newS).filter(col("level") === 0L)
        .select(col("shard_id"), col("bucket"), col("digest").as("d_new"))
        .join(merkleTree(oldS).filter(col("level") === 0L)
          .select(col("shard_id"), col("bucket"),
            col("digest").as("d_old")),
          Seq("shard_id", "bucket"), "full_outer")
        .filter(coalesce(col("d_new"), lit(0L)) =!=
          coalesce(col("d_old"), lit(0L)))
        .select("shard_id", "bucket")
      val fnv = graft.hash.Fnv1a32.fnv1a32 _
      newS
        .withColumn("bucket",
          pmod(shiftright(fnv(col("key")), 16), lit(MerkleLeaves.toLong)))
        .groupBy("shard_id", "bucket")
        .agg(count(lit(1)).as("n_keys"),
          sum(length(col("key")) + length(col("value"))).cast("long")
            .as("n_bytes"))
        .join(broadcast(diverged), Seq("shard_id", "bucket"))
        .orderBy("shard_id", "bucket")
    }),

    // TTL expiry sweep: classify every key's compacted state at the log
    // head H into live / expired / tombstoned under a retention window
    // of half the sequence range (threshold H - H div 2 — derived from
    // the log itself, so the query is scale-free). This is the planning
    // read an operator runs BEFORE enabling TTL enforcement on a store:
    // "how much of each shard would a given window reclaim?". Same
    // single-shuffle shape as compaction — one key-sized aggregate
    // (map-side combined), one broadcast of the 1-row horizon, then a
    // 4-row shard rollup; no window, no second log scan.
    "kv_ttl_expiry" -> ((s, dir) => {
      val writes = KvLog.log(s, dir).filter(col("op").isin("put", "delete"))
      val last = writes.groupBy("key")
        .agg(max_by(col("op"), col("seq")).as("last_op"),
          max(col("seq")).as("last_seq"))
      val horizon = writes.agg(max(col("seq")).as("h"))
      last.crossJoin(broadcast(horizon))
        .select(graft.hash.Fnv1a32.shardId(col("key")).as("shard_id"),
          when(col("last_op") === "delete", "tombstoned")
            .when(col("last_seq") > col("h") - expr("h div 2"), "live")
            .otherwise("expired").as("status"))
        .groupBy("shard_id")
        .agg(
          sum(when(col("status") === "live", 1L).otherwise(0L)).as("n_live"),
          sum(when(col("status") === "expired", 1L).otherwise(0L))
            .as("n_expired"),
          sum(when(col("status") === "tombstoned", 1L).otherwise(0L))
            .as("n_tombstoned"))
        .orderBy("shard_id")
    }),

    // compaction GC ledger: per shard, the bytes the op log HOLDS (every
    // put's value — what a log-structured store pays on disk) versus the
    // bytes the compacted state KEEPS (the LWW winners that survive),
    // and the reclaim ratio compaction would free. The planning number
    // behind "when do we compact?" — at 100 TB log the ratio, not the
    // absolute, drives the schedule. One checkpointed log feeds both
    // legs; each leg is a shard-sized aggregate (map-side combined).
    "kv_compaction_gc" -> ((s, dir) => {
      val lg = KvLog.log(s, dir).transform(graft.Materialize(_))
      val shard = graft.hash.Fnv1a32.shardId(col("key"))
      val logSide = lg.filter(col("op") === "put")
        .groupBy(shard.as("shard_id"))
        .agg(count(lit(1)).as("n_put_ops"),
          sum(length(col("value"))).cast("long").as("log_bytes"))
      val liveSide = KvLog.compact(lg)
        .groupBy(shard.as("shard_id"))
        .agg(count(lit(1)).as("n_live_keys"),
          sum(length(col("value"))).cast("long").as("live_bytes"))
      logSide.join(liveSide, "shard_id")
        .select(col("shard_id"), col("n_put_ops"), col("log_bytes"),
          col("n_live_keys"), col("live_bytes"),
          (col("log_bytes") - col("live_bytes")).as("dead_bytes"),
          ((col("log_bytes") - col("live_bytes")).cast("double") /
            col("log_bytes").cast("double")).as("reclaim_ratio"))
        .orderBy("shard_id")
    }),
  )

  /** (shard_id, level, bucket, digest) over a (key, value, shard_id)
    * state — see the `kv_merkle_tree` scaladoc for the geometry. */
  private[keyspace] def merkleTree(state: DataFrame): DataFrame = {
    val fnv = graft.hash.Fnv1a32.fnv1a32 _
    val lvl0 = state
      .select(col("shard_id"),
        // bucket on the hash's HIGH bits: shard_id is fnv % 4, so a
        // low-bit bucket would be correlated with the shard (only
        // leaves ≡ shard (mod 4) could ever be non-empty); the high
        // half is independent of the mod-4 routing
        pmod(shiftright(fnv(col("key")), 16), lit(MerkleLeaves.toLong))
          .as("b"),
        fnv(concat(col("key"), lit("="), col("value"))).as("h"))
      .groupBy("shard_id", "b")
      .agg(bit_xor(col("h")).as("d"))
    lvl0
      .select(col("shard_id"), col("b"), col("d"),
        explode(typedLit(List.range(0, MerkleLevels))).as("level"))
      .groupBy(col("shard_id"), col("level").cast("long").as("level"),
        expr("shiftright(b, level)").as("bucket"))
      .agg(bit_xor(col("d")).as("digest"))
  }

  /** Merkle geometry: 16 leaf buckets per shard, 5 levels (16→8→4→2→1). */
  val MerkleLeaves = 16
  val MerkleLevels = 5

  /** SQL mirror of [[merkleTree]] over a (key, value, shard_id) CTE named
    * `src`; emits `${p}_tree(shard_id, level, bucket, digest)`. */
  private def treeSql(src: String, p: String): String =
    s"""${p}_ent AS (
       |  SELECT shard_id, (${Ora.fnv("key")} >> 16) % $MerkleLeaves AS b,
       |         ${Ora.fnv("(key || '=' || value)")} AS h
       |  FROM $src
       |),
       |${p}_lvl0 AS (
       |  SELECT shard_id, b, bit_xor(h) AS d FROM ${p}_ent GROUP BY 1, 2
       |),
       |${p}_tree AS (
       |  SELECT shard_id, CAST(lv.l AS BIGINT) AS level,
       |         CAST(b >> lv.l AS BIGINT) AS bucket, bit_xor(d) AS digest
       |  FROM ${p}_lvl0 CROSS JOIN (SELECT unnest(range($MerkleLevels)) AS l) lv
       |  GROUP BY shard_id, lv.l, b >> lv.l
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "kv_point_get" -> Ora.withState(
      "SELECT key, value, shard_id FROM kv_state WHERE key = 'order:42'"),

    "kv_point_get_missing" -> Ora.withState(
      "SELECT key, value FROM kv_state WHERE key = 'order:no-such-key'"),

    "kv_put_upsert_lww" -> Ora.withState(
      "SELECT key, value FROM kv_state WHERE value LIKE 'updated:%' ORDER BY key"),

    "kv_delete_tombstone" -> Ora.withState(
      """SELECT
        |  (SELECT count(*) FROM kv_state WHERE key IN
        |     (SELECT DISTINCT key FROM kv_log WHERE op = 'delete')) AS n_tombstoned_present,
        |  (SELECT count(*) FROM kv_state) AS n_keys""".stripMargin),

    "kv_list_keys_shard0" -> Ora.withState(
      "SELECT key FROM kv_state WHERE shard_id = 0 ORDER BY key"),

    "kv_list_page" -> Ora.withState(
      s"SELECT key FROM kv_state WHERE shard_id = 0 AND key > '$PageCursor' ORDER BY key LIMIT $PageSize"),

    "kv_range_scan" -> Ora.withState(
      s"SELECT key, value FROM kv_state WHERE key >= '$RangeStart' AND key < '$RangeEnd' ORDER BY key"),

    "kv_range_delete" -> Ora.withState(
      s"""SELECT
         |  CAST(sum(CASE WHEN key >= '$RangeStart' AND key < '$RangeEnd' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
         |  CAST(sum(CASE WHEN key >= '$RangeStart' AND key < '$RangeEnd' THEN 0 ELSE 1 END) AS BIGINT) AS n_remaining
         |FROM kv_state""".stripMargin),

    "kv_shard_stats" -> Ora.withState(
      """SELECT shard_id, count(*) AS n_keys,
        |  CAST(sum(length(value)) AS BIGINT) AS n_bytes
        |FROM kv_state GROUP BY shard_id ORDER BY shard_id""".stripMargin),

    "kv_shard_chi2" -> Ora.withState(
      """SELECT shard_id, n_keys,
        |       CAST(nn AS DOUBLE) / 4.0 AS expected,
        |       CAST(4 * n_keys - nn AS DOUBLE) *
        |       CAST(4 * n_keys - nn AS DOUBLE) /
        |       CAST(4 * nn AS DOUBLE) AS chi2_part
        |FROM (SELECT shard_id, count(*) AS n_keys
        |      FROM kv_state GROUP BY shard_id) b,
        |     (SELECT CAST(count(*) AS BIGINT) AS nn FROM kv_state) t
        |ORDER BY shard_id""".stripMargin),

    "kv_empty_value_edge" -> Ora.withState(
      """SELECT
        |  CAST(sum(CASE WHEN value = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  count(*) AS n_keys,
        |  CAST(sum(length(value)) AS BIGINT) AS n_bytes
        |FROM kv_state""".stripMargin),

    "kv_op_counters" -> (s"WITH ${Ora.kvLog}\n" +
      "SELECT op, count(*) AS n FROM kv_log GROUP BY op ORDER BY op"),

    "kv_hot_keys" -> (s"WITH ${Ora.kvLog}\n" +
      s"""SELECT key, count(*) AS n_gets, ${Ora.shard("key")} AS shard_id
         |FROM kv_log WHERE op = 'get'
         |GROUP BY key ORDER BY n_gets DESC, key LIMIT 20""".stripMargin),

    // mirrors the incremental base+delta derivation, not the full
    // recompaction — both engines walk the same split/merge path
    "kv_compact_incremental" -> (s"WITH ${Ora.kvLog},\n" +
      s"""w AS (SELECT seq, op, key, value FROM kv_log
         |       WHERE op IN ('put', 'delete')),
         |t AS (SELECT max(seq) // 2 AS t FROM w),
         |base AS (
         |  SELECT max(seq) AS seq, 'put' AS op, key,
         |         arg_max(value, seq) AS value
         |  FROM w, t WHERE seq <= t.t GROUP BY key
         |  HAVING arg_max(op, seq) = 'put'
         |),
         |delta AS (SELECT seq, op, key, value FROM w, t WHERE seq > t.t),
         |merged AS (
         |  SELECT key, arg_max(value, seq) AS value,
         |         max(CASE WHEN seq > (SELECT t FROM t) THEN 1 ELSE 0 END)
         |           AS from_delta
         |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
         |  GROUP BY key HAVING arg_max(op, seq) = 'put'
         |),
         |st AS (SELECT key, value, from_delta, ${Ora.shard("key")} AS shard_id
         |       FROM merged)
         |SELECT shard_id, count(*) AS n_keys,
         |       CAST(sum(length(value)) AS BIGINT) AS n_bytes,
         |       CAST(sum(from_delta) AS BIGINT) AS n_delta_won
         |FROM st GROUP BY shard_id ORDER BY shard_id""".stripMargin),

    // compacted values are never NULL, so value-nullity is a safe
    // presence test after the full outer join
    "kv_scd_history" -> (s"WITH ${Ora.kvLog},\n" +
      """writes AS (
        |  SELECT key, op, value, seq,
        |         lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to
        |  FROM kv_log WHERE op IN ('put', 'delete')
        |)
        |SELECT key, value, seq AS valid_from, valid_to,
        |       (valid_to IS NULL) AS is_current
        |FROM writes WHERE op = 'put'
        |ORDER BY key, valid_from""".stripMargin),

    "kv_version_diff" -> (s"WITH ${Ora.kvLog},\n" +
      """old_state AS (
        |  SELECT key, value FROM (
        |    SELECT key, arg_max(value, seq) AS value, arg_max(op, seq) AS op
        |    FROM kv_log
        |    WHERE op IN ('put', 'delete') AND seq % 8 = 0
        |    GROUP BY key
        |  ) WHERE op = 'put'
        |),
        |new_state AS (
        |  SELECT key, value FROM (
        |    SELECT key, arg_max(value, seq) AS value, arg_max(op, seq) AS op
        |    FROM kv_log WHERE op IN ('put', 'delete') GROUP BY key
        |  ) WHERE op = 'put'
        |),
        |j AS (
        |  SELECT o.value AS v_old, n.value AS v_new
        |  FROM old_state o FULL OUTER JOIN new_state n ON o.key = n.key
        |)
        |SELECT CASE WHEN v_old IS NULL THEN 'added'
        |            WHEN v_new IS NULL THEN 'deleted'
        |            WHEN v_old <> v_new THEN 'updated'
        |            ELSE 'unchanged' END AS change_type,
        |       count(*) AS n_keys
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    "kv_merkle_tree" -> Ora.withState(
      s""", ${treeSql("kv_state", "t")}
         |SELECT shard_id, level, bucket, digest FROM t_tree
         |ORDER BY shard_id, level, bucket""".stripMargin),

    "kv_merkle_diff" -> Ora.withState(
      s""", old_state AS (
         |  SELECT key, value, ${Ora.shard("key")} AS shard_id FROM (
         |    SELECT key, arg_max(value, seq) AS value, arg_max(op, seq) AS op
         |    FROM kv_log
         |    WHERE op IN ('put', 'delete') AND seq % 8 = 0
         |    GROUP BY key
         |  ) WHERE op = 'put'
         |),
         |${treeSql("kv_state", "tn")},
         |${treeSql("old_state", "ot")},
         |j AS (
         |  SELECT coalesce(n.level, o.level) AS level,
         |         coalesce(n.digest, 0) <> coalesce(o.digest, 0) AS diverged
         |  FROM tn_tree n FULL OUTER JOIN ot_tree o
         |    ON n.shard_id = o.shard_id AND n.level = o.level
         |   AND n.bucket = o.bucket
         |)
         |SELECT level, CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(sum(CASE WHEN diverged THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_diverged
         |FROM j GROUP BY 1 ORDER BY level""".stripMargin),

    "kv_merkle_repair_plan" -> Ora.withState(
      s""", old_state AS (
         |  SELECT key, value, ${Ora.shard("key")} AS shard_id FROM (
         |    SELECT key, arg_max(value, seq) AS value, arg_max(op, seq) AS op
         |    FROM kv_log
         |    WHERE op IN ('put', 'delete') AND seq % 8 = 0
         |    GROUP BY key
         |  ) WHERE op = 'put'
         |),
         |${treeSql("kv_state", "rn")},
         |${treeSql("old_state", "ro")},
         |diverged AS (
         |  SELECT coalesce(n.shard_id, o.shard_id) AS shard_id,
         |         coalesce(n.bucket, o.bucket) AS bucket
         |  FROM (SELECT * FROM rn_tree WHERE level = 0) n
         |  FULL OUTER JOIN (SELECT * FROM ro_tree WHERE level = 0) o
         |    ON n.shard_id = o.shard_id AND n.bucket = o.bucket
         |  WHERE coalesce(n.digest, 0) <> coalesce(o.digest, 0)
         |),
         |bucketed AS (
         |  SELECT shard_id,
         |         (${Ora.fnv("key")} >> 16) % $MerkleLeaves AS bucket,
         |         count(*) AS n_keys,
         |         CAST(sum(length(key) + length(value)) AS BIGINT)
         |           AS n_bytes
         |  FROM kv_state GROUP BY 1, 2
         |)
         |SELECT b.shard_id, b.bucket, CAST(b.n_keys AS BIGINT) AS n_keys,
         |       b.n_bytes
         |FROM bucketed b JOIN diverged d
         |  ON b.shard_id = d.shard_id AND b.bucket = d.bucket
         |ORDER BY b.shard_id, b.bucket""".stripMargin),

    "kv_ttl_expiry" -> (s"WITH ${Ora.kvLog},\n" +
      s"""writes AS (
         |  SELECT * FROM kv_log WHERE op IN ('put', 'delete')
         |),
         |last AS (
         |  SELECT key, arg_max(op, seq) AS last_op, max(seq) AS last_seq
         |  FROM writes GROUP BY key
         |),
         |h AS (SELECT max(seq) AS h FROM writes),
         |classed AS (
         |  SELECT ${Ora.shard("key")} AS shard_id,
         |         CASE WHEN last_op = 'delete' THEN 'tombstoned'
         |              WHEN last_seq > h - h // 2 THEN 'live'
         |              ELSE 'expired' END AS status
         |  FROM last, h
         |)
         |SELECT shard_id,
         |  CAST(sum(CASE WHEN status = 'live' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_live,
         |  CAST(sum(CASE WHEN status = 'expired' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_expired,
         |  CAST(sum(CASE WHEN status = 'tombstoned' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_tombstoned
         |FROM classed GROUP BY shard_id ORDER BY shard_id""".stripMargin),

    "kv_compaction_gc" -> (s"WITH ${Ora.kvLog},\n" +
      s"""log_side AS (
         |  SELECT ${Ora.shard("key")} AS shard_id,
         |         count(*) AS n_put_ops,
         |         CAST(sum(length(value)) AS BIGINT) AS log_bytes
         |  FROM kv_log WHERE op = 'put' GROUP BY 1
         |),
         |state AS (
         |  SELECT key, arg_max(value, seq) AS value
         |  FROM kv_log WHERE op IN ('put', 'delete')
         |  GROUP BY key HAVING arg_max(op, seq) = 'put'
         |),
         |live_side AS (
         |  SELECT ${Ora.shard("key")} AS shard_id,
         |         count(*) AS n_live_keys,
         |         CAST(sum(length(value)) AS BIGINT) AS live_bytes
         |  FROM state GROUP BY 1
         |)
         |SELECT l.shard_id, l.n_put_ops, l.log_bytes,
         |       v.n_live_keys, v.live_bytes,
         |       l.log_bytes - v.live_bytes AS dead_bytes,
         |       CAST(l.log_bytes - v.live_bytes AS DOUBLE)
         |         / CAST(l.log_bytes AS DOUBLE) AS reclaim_ratio
         |FROM log_side l JOIN live_side v ON l.shard_id = v.shard_id
         |ORDER BY l.shard_id""".stripMargin),
  )
}
