package graft.keyspace

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.Ora
import graft.sketch.BloomBits

/** Per-shard Bloom gate for negative point lookups — the LSM-store
  * trick that makes "GET of a key that does not exist" cost zero disk
  * reads: each shard keeps an `mBits`-bit filter over its LIVE keys
  * (rebuilt at compaction), the router tests the filter before touching
  * the store, and a miss short-circuits to 404. No false negatives by
  * construction, so the gate never hides a live key; the measured
  * false-positive rate is the fraction of absent-key probes that still
  * pay a store read.
  *
  * Scale shape: the filter build is one pass over the compacted state
  * with map-side partial aggregation (bitwise-OR merge, [[BloomBits]]),
  * emitting `mBits/64` longs per shard — ~32 KiB/shard here, constant
  * in key count. Probes join against the 4-row broadcast filter table.
  * The exact-presence leg (the ground truth the FP measurement needs)
  * is the harness, not the serving path — at 100 TB the router runs
  * ONLY filter-test → conditional store read.
  */
object BloomGate extends graft.QueryModule {

  /** Filter bits per shard (2^18 = 32 KiB). At the sf0.1 state (~37 K
    * live keys/shard) that is n/m ≈ 0.14 → FP ≈ (1−e^{−kn/m})^k ≈ 6%;
    * smaller SFs drive FP toward 0 (the spec pins the no-false-negative
    * law instead of a rate). */
  val KvBloomM = 262144

  /** Hash probes per key. */
  val KvBloomK = 2

  /** Filter sizes on the sizing sweep (bits per shard). */
  val SweepMs: Seq[Int] = Seq(16384, 65536, 262144)

  /** Per-block restart interval for the front-coding estimate: every
    * Nth key is stored in full so point lookups can binary-search
    * blocks (the RocksDB/LevelDB block layout). */
  val RestartInterval = 16

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // front-coding savings estimate for the sorted key dictionary —
    // the SSTable block layout question "what does prefix compression
    // buy on THIS keyspace?". Per shard, keys sort and each key stores
    // only its suffix after the longest common prefix with its
    // predecessor, except every 16th key (a restart point) which
    // stores in full. The lcp is an ordered zip of the two char arrays
    // (first-mismatch position) — pure lambda algebra both engines
    // share; all byte counts are exact BIGINTs, the savings rate one
    // division. One compaction pass + one per-shard window.
    "kv_prefix_compress_est" -> ((s, dir) => {
      val w = Window.partitionBy("shard_id").orderBy("key")
      KvLog.state(s, dir)
        .select(col("shard_id"), col("key"))
        .withColumn("prev", lag("key", 1).over(w))
        .withColumn("rn", row_number().over(w))
        // codegen'd byte-loop lcp (common_prefix_len) — the HOF
        // split/zip_with route allocates three arrays per row and runs
        // 3.1x per 10x data; this is one fused loop (≡ on ASCII keys)
        .withColumn("lcp",
          when(col("prev").isNull ||
            (col("rn") - 1) % RestartInterval === 0, 0L)
            .otherwise(graft.functions.CommonPrefixLen
              .commonPrefixLen(col("key"), col("prev"))))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_keys"),
          sum(length(col("key")).cast("long")).as("raw_bytes"),
          sum((length(col("key")).cast("long") - col("lcp")))
            .as("coded_bytes"),
          sum(when(col("lcp") === 0L, 1L).otherwise(0L))
            .as("n_full_keys"))
        .withColumn("savings_rate",
          (col("raw_bytes") - col("coded_bytes")).cast("double") /
            col("raw_bytes"))
        .orderBy("shard_id")
    }),
    // the gate's scorecard, per shard, over the fixture's real read
    // traffic (the op log's GETs, including repeats — read skew counts
    // each probe): how many probes were present, how many the filter
    // passed, how many absent probes slipped through (false positives),
    // and how many short-circuited to 404 with zero store reads.
    "kv_bloom_negative" -> ((s, dir) => {
      val st = KvLog.state(s, dir)
      val blooms = st.groupBy("shard_id")
        .agg(BloomBits.bloomBits(col("key"), KvBloomM, KvBloomK).as("bf"))
      val probes = KvLog.log(s, dir).filter(col("op") === "get")
        .select(col("key"),
          graft.hash.Fnv1a32.shardId(col("key")).as("shard_id"))
      probes.join(broadcast(blooms), "shard_id")
        .join(st.select(col("key"), lit(true).as("present")),
          Seq("key"), "left")
        .select(col("shard_id"),
          BloomBits.mightContain(col("bf"), col("key"),
            KvBloomM, KvBloomK).as("inb"),
          coalesce(col("present"), lit(false)).as("present"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("present"), 1L).otherwise(0L)).as("n_present"),
          sum(when(col("inb"), 1L).otherwise(0L)).as("n_bloom_pass"),
          sum(when(col("inb") && !col("present"), 1L).otherwise(0L))
            .as("n_false_pos"),
          sum(when(!col("inb"), 1L).otherwise(0L)).as("n_short_circuit"))
        .withColumn("fp_rate",
          when(col("n_probes") - col("n_present") > 0L,
            col("n_false_pos").cast("double") /
              (col("n_probes") - col("n_present")))
            .otherwise(lit(null).cast("double")))
        .orderBy("shard_id")
    }),

    // the sizing curve: the same gate at three filter sizes, rolled up
    // across shards — fp_rate vs bits_per_key is how you BUY the
    // false-positive rate you want (the classic (1−e^{−kn/m})^k
    // trade). The state and probe tables derive once (checkpointed);
    // each size is one more filter build over the same feed.
    "kv_bloom_size_sweep" -> ((s, dir) => {
      val st = KvLog.state(s, dir).transform(graft.Materialize(_))
      val probes = KvLog.log(s, dir).filter(col("op") === "get")
        .select(col("key"),
          graft.hash.Fnv1a32.shardId(col("key")).as("shard_id"))
        .join(st.select(col("key"), lit(true).as("present")),
          Seq("key"), "left")
        .transform(graft.Materialize(_))
      val legs = SweepMs.map { m =>
        val blooms = st.groupBy("shard_id")
          .agg(BloomBits.bloomBits(col("key"), m, KvBloomK).as("bf"))
        probes.join(broadcast(blooms), "shard_id")
          .select(BloomBits.mightContain(col("bf"), col("key"),
            m, KvBloomK).as("inb"),
            coalesce(col("present"), lit(false)).as("present"))
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("present"), 1L).otherwise(0L)).as("n_present"),
            sum(when(col("inb") && !col("present"), 1L).otherwise(0L))
              .as("n_false_pos"))
          .select(lit(m.toLong).as("m_bits"), col("n_probes"),
            col("n_present"), col("n_false_pos"))
      }
      val live = st.agg(count(lit(1)).as("n_live"))
      legs.reduce(_.unionAll(_))
        .crossJoin(broadcast(live))
        .select(col("m_bits"), col("n_probes"), col("n_present"),
          col("n_false_pos"),
          when(col("n_probes") - col("n_present") > 0L,
            col("n_false_pos").cast("double") /
              (col("n_probes") - col("n_present")))
            .otherwise(lit(null).cast("double")).as("fp_rate"),
          ((col("m_bits") * lit(4L)).cast("double") / col("n_live"))
            .as("bits_per_key"))
        .orderBy("m_bits")
    }))

  val oracle: Map[String, String] = Map(
    "kv_prefix_compress_est" -> (s"WITH ${Ora.kvState},\n" +
      s"""keys AS (
         |  SELECT shard_id, key,
         |         lag(key) OVER (PARTITION BY shard_id ORDER BY key)
         |           AS prev,
         |         row_number() OVER (PARTITION BY shard_id ORDER BY key)
         |           AS rn
         |  FROM kv_state
         |),
         |lcps AS (
         |  SELECT shard_id, key,
         |         CASE WHEN prev IS NULL
         |                OR (rn - 1) % $RestartInterval = 0 THEN 0
         |              ELSE coalesce(list_position(list_transform(
         |                list_zip(string_split(key, ''),
         |                         string_split(prev, '')),
         |                z -> CASE WHEN z[1] IS NULL OR z[2] IS NULL
         |                            OR z[1] <> z[2]
         |                     THEN 0 ELSE 1 END), 0) - 1,
         |                least(length(key), length(prev)))
         |         END AS lcp
         |  FROM keys
         |),
         |agg AS (
         |  SELECT shard_id, count(*) AS n_keys,
         |         CAST(sum(length(key)) AS BIGINT) AS raw_bytes,
         |         CAST(sum(length(key) - lcp) AS BIGINT) AS coded_bytes,
         |         CAST(sum(CASE WHEN lcp = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_full_keys
         |  FROM lcps GROUP BY 1
         |)
         |SELECT *, CAST(raw_bytes - coded_bytes AS DOUBLE) / raw_bytes
         |         AS savings_rate
         |FROM agg ORDER BY shard_id""".stripMargin),

    "kv_bloom_size_sweep" -> {
      val legs = SweepMs.map { m =>
        s"""bits_$m AS (
           |  SELECT DISTINCT shard_id, hm % $m AS bit FROM sh
           |),
           |hit_$m AS (
           |  SELECT p.seq, p.key, p.shard_id,
           |         sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
           |           = $KvBloomK AS inb
           |  FROM (SELECT seq, key, shard_id, hm % $m AS bit FROM ph) p
           |  LEFT JOIN bits_$m b
           |    ON b.shard_id = p.shard_id AND b.bit = p.bit
           |  GROUP BY 1, 2, 3
           |),
           |leg_$m AS (
           |  SELECT $m AS m_bits, count(*) AS n_probes,
           |         CAST(sum(CASE WHEN pr.key IS NOT NULL THEN 1 ELSE 0 END)
           |              AS BIGINT) AS n_present,
           |         CAST(sum(CASE WHEN h.inb AND pr.key IS NULL
           |                       THEN 1 ELSE 0 END) AS BIGINT)
           |           AS n_false_pos
           |  FROM hit_$m h
           |  LEFT JOIN present pr ON pr.key = h.key
           |)""".stripMargin
      }.mkString(",\n")
      val union = SweepMs
        .map(m => s"SELECT * FROM leg_$m").mkString("\nUNION ALL ")
      s"WITH ${Ora.kvState},\n" +
      s"""sh AS (
         |  SELECT shard_id, xor(h, h // 65536) AS hm FROM (
         |    SELECT s.shard_id, ${Ora.fnv("s.key || ':' || ii.i")} AS h
         |    FROM kv_state s
         |    CROSS JOIN (SELECT unnest(range($KvBloomK)) AS i) ii)
         |),
         |gp AS (
         |  SELECT seq, key, ${Ora.shard("key")} AS shard_id
         |  FROM kv_log WHERE op = 'get'
         |),
         |ph AS (
         |  SELECT seq, key, shard_id, xor(h, h // 65536) AS hm FROM (
         |    SELECT p.seq, p.key, p.shard_id,
         |           ${Ora.fnv("p.key || ':' || ii.i")} AS h
         |    FROM gp p
         |    CROSS JOIN (SELECT unnest(range($KvBloomK)) AS i) ii)
         |),
         |present AS (SELECT DISTINCT key FROM kv_state),
         |live AS (SELECT count(*) AS n_live FROM kv_state),
         |$legs,
         |allm AS ($union)
         |SELECT CAST(m_bits AS BIGINT) AS m_bits, n_probes, n_present,
         |       n_false_pos,
         |       CASE WHEN n_probes - n_present > 0
         |            THEN CAST(n_false_pos AS DOUBLE)
         |                 / CAST(n_probes - n_present AS BIGINT)
         |            ELSE NULL END AS fp_rate,
         |       CAST(m_bits * 4 AS DOUBLE) / live.n_live AS bits_per_key
         |FROM allm, live ORDER BY m_bits""".stripMargin
    },

    // same filter relationally: the DISTINCT set of set-bit positions
    // per shard stands in for the bit array; a probe passes iff all K
    // of its positions are set (bit-for-bit the engine's hash chain:
    // fnv1a32(key + ':' + i) → xor-fold → mod M)
    "kv_bloom_negative" -> (s"WITH ${Ora.kvState},\n" +
      s"""bits AS (
         |  SELECT DISTINCT shard_id, xor(h, h // 65536) % $KvBloomM AS bit
         |  FROM (
         |    SELECT s.shard_id, ${Ora.fnv("s.key || ':' || ii.i")} AS h
         |    FROM kv_state s
         |    CROSS JOIN (SELECT unnest(range($KvBloomK)) AS i) ii)
         |),
         |probes AS (
         |  SELECT seq, key, ${Ora.shard("key")} AS shard_id
         |  FROM kv_log WHERE op = 'get'
         |),
         |pb AS (
         |  SELECT seq, key, shard_id,
         |         xor(h, h // 65536) % $KvBloomM AS bit
         |  FROM (
         |    SELECT p.seq, p.key, p.shard_id,
         |           ${Ora.fnv("p.key || ':' || ii.i")} AS h
         |    FROM probes p
         |    CROSS JOIN (SELECT unnest(range($KvBloomK)) AS i) ii)
         |),
         |hit AS (
         |  SELECT pb.seq, pb.key, pb.shard_id,
         |         sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
         |           = $KvBloomK AS inb
         |  FROM pb LEFT JOIN bits b
         |    ON b.shard_id = pb.shard_id AND b.bit = pb.bit
         |  GROUP BY 1, 2, 3
         |),
         |cls AS (
         |  SELECT h.shard_id, h.inb,
         |         CASE WHEN s.key IS NOT NULL THEN 1 ELSE 0 END AS pres
         |  FROM hit h
         |  LEFT JOIN (SELECT DISTINCT key FROM kv_state) s USING (key)
         |)
         |SELECT shard_id, count(*) AS n_probes,
         |  CAST(sum(pres) AS BIGINT) AS n_present,
         |  CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bloom_pass,
         |  CAST(sum(CASE WHEN inb AND pres = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos,
         |  CAST(sum(CASE WHEN NOT inb THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_short_circuit,
         |  CASE WHEN count(*) - sum(pres) > 0
         |       THEN CAST(sum(CASE WHEN inb AND pres = 0 THEN 1 ELSE 0 END)
         |                 AS DOUBLE)
         |            / CAST(count(*) - sum(pres) AS BIGINT)
         |       ELSE NULL END AS fp_rate
         |FROM cls GROUP BY 1 ORDER BY shard_id""".stripMargin))
}
