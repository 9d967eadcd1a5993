package graft.events

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ShiftLeft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Event-stream analytics over the `events` table (600 K rows at sf0.1) —
  * the batch forms of the streaming-shaped operators: tumbling-window
  * aggregation, gap-based sessionization, and grouped rollups. The
  * Structured Streaming twin of the tumbling window lives in
  * [[graft.streaming.EventStream]].
  *
  * `ts` is read as raw epoch-nanos BIGINT (the file's TIMESTAMP(NANOS)
  * type is rejected by Spark's reader) then truncated to microseconds so
  * every derivation stays integer-exact and oracle-stable. Money-like
  * doubles are summed as DECIMAL(18,2) then converted, so no
  * float-summation-order issue exists on either engine.
  */
object EventsQueries extends graft.QueryModule {

  val SessionGapUs: Long = 30L * 60 * 1000000L // 30 minutes
  val CmsDepth = 3 // count-min sketch rows
  val CmsWidth = 512 // count-min sketch buckets per row
  val WindowUs: Long = 10L * 60 * 1000000L // 10 minutes
  val SlideUs: Long = 15L * 60 * 1000000L // sliding-window slide
  val SlideCopies = 4 // 1-hour window / 15-minute slide
  val DayUs: Long = 24L * 3600 * 1000000L
  /** Decay-counter horizon: events older than this many days (weight
    * < 2^-62) are outside the operator. Also what bounds the streaming
    * twin's per-key state and keeps the 2^age shift from wrapping. */
  val MaxDecayAge: Long = 62L

  /** `1L << bits` with a column shift amount (the functions.shiftleft
    * overload only takes a literal). */
  private def pow2(bits: Column): Column =
    shims.column(ShiftLeft(shims.expression(lit(1L)),
      shims.expression(bits)))

  /** Event time is truncated to MICROseconds: DuckDB's parquet reader
    * reads TIMESTAMP(NANOS) and TIMESTAMP(MICROS) alike as its native µs
    * TIMESTAMP, so µs is the finest granularity both engines can agree
    * on. The fixture's physical unit has varied across driver rounds
    * (NANOS in rounds 1-3, MICROS in round 4), so the raw INT64 is
    * normalized by magnitude instead of assuming either: an epoch in ns
    * exceeds 1e17 for any date after 1973-03, while an epoch in µs stays
    * below 1e17 until year ~5138 — one codegen'd comparison per row. */
  val RawNsFloor = 100000000000000000L // 1e17: above ⇒ nanos, below ⇒ micros

  def tsUs(raw: Column): Column = {
    // integral divide, NOT Column./ (double division would round an
    // ~1.7e18 ns epoch at the 2^53 mantissa before dividing)
    val ns2us = shims.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        shims.expression(raw),
        org.apache.spark.sql.catalyst.expressions.Literal(1000L)))
    when(raw >= RawNsFloor, ns2us).otherwise(raw)
  }

  /** Raw physical schema of events.parquet (ts as the raw INT64 epoch;
    * see [[tsUs]]). One definition — the engine, the bench warmup, and
    * the fixture-contract specs must all read the same contract. */
  val RawSchema =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
  val RawSchemaWithProps = RawSchema + ", props STRING"

  def events(s: SparkSession, dir: String): DataFrame =
    s.read
      .schema(RawSchema)
      .parquet(s"$dir/events.parquet")
      .withColumn("ts", tsUs(col("ts")))

  /** Per-(keys, bucket) HLL registers over `user_id` (p=6, m=64):
    * bucket = low 6 fnv1a32 bits, rank = leading zeros of the remaining
    * 26-bit window + 1 — one expression, 27 − bitLength(w), since
    * bitLength(0) = 0 gives the w=0 → 27 case for free. The codegen'd
    * [[graft.functions.BitLength]] keeps the whole derivation inside
    * WholeStageCodegen (the `length(conv(w,10,2))` route allocates a
    * radix string per row); the DuckDB oracle spells the same rank as
    * `27 - length(format('{:b}', w))` with an explicit w=0 CASE.
    * Registers merge by per-register max — see events_hll_rolling. */
  private[graft] def hllRegisters(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col) :+
        graft.hash.Fnv1a32.fnv1a32(col("user_id").cast("string")).as("h"): _*)
      .withColumn("bucket", expr("h % 64"))
      .withColumn("w", expr("h div 64"))
      .withColumn("rank",
        lit(27) - graft.functions.BitLength.bitLength64(col("w")))
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max("rank").as("mr"))

  /** Registers → estimate, in EXACT integer space: Z27 = Σ 2^(27−M_j)
    * over all 64 registers (absent ⇒ M_j = 0 ⇒ 2^27); the only floating
    * ops are one constant product (0.709 × 2^39, an exact power-of-two
    * scale) and one division — bit-identical on any IEEE engine. The
    * linear-counting branch's ln() was verified bit-identical between
    * Java and DuckDB by enumerating all 64 possible arguments. */
  /** lowbias32-style avalanche finalizer over a 32-bit value in a LONG:
    * two multiply-xor rounds + a final xor-shift, all mod 2^32 — pure
    * integer ops both engines share. The remedy for fnv1a32's weak
    * mixing on short numeric keys (see events_join_card_est). */
  private[graft] def mix32(c: Column): Column = {
    def round(x: Column) =
      pmod(x.bitwiseXOR(shiftrightunsigned(x, 16)) * lit(73244475L),
        lit(4294967296L))
    val m2 = round(round(c))
    m2.bitwiseXOR(shiftrightunsigned(m2, 16))
  }

  /** Sketch-based join-size estimation (see events_join_card_est);
    * `hash` maps a key column to its sketch hash. */
  private def joinCardEst(s: SparkSession, dir: String,
      hash: Column => Column): DataFrame = {
    val k = 64
    val ev = events(s, dir)
    val cust = s.read.parquet(s"$dir/customer.parquet")
    def ha = hash(col("user_id").cast("string"))
    def hb = hash(col("c_custkey").cast("string"))
    val a = ev.agg(
      graft.sketch.KmvDistinct.kmvMins(ha, k).as("ma"),
      graft.sketch.KmvDistinct.kmvDistinct(ha, k).as("da"),
      count(lit(1)).as("rows_a"))
    val b = cust.agg(
      graft.sketch.KmvDistinct.kmvMins(hb, k).as("mb"),
      graft.sketch.KmvDistinct.kmvDistinct(hb, k).as("db"),
      count(lit(1)).as("rows_b"))
    val exact = ev.join(cust, col("user_id") === col("c_custkey"))
      .agg(count(lit(1)).as("exact_join_rows"))
    a.crossJoin(broadcast(b)) // 1-row × 1-row sketch profiles
      .withColumn("mu",
        slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
      .withColumn("est_union",
        when(size(col("mu")) < k, size(col("mu")).cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) /
            element_at(col("mu"), k).cast("double")))
      .withColumn("est_jaccard",
        size(array_intersect(array_intersect(col("mu"), col("ma")),
          col("mb"))).cast("double") / least(lit(k), size(col("mu"))))
      .withColumn("est_overlap_keys", col("est_union") * col("est_jaccard"))
      .withColumn("est_join_rows",
        col("est_overlap_keys") *
          (col("rows_a").cast("double") / col("da")) *
          (col("rows_b").cast("double") / col("db")))
      .crossJoin(broadcast(exact))
      .select("est_union", "est_jaccard", "est_overlap_keys",
        "da", "db", "est_join_rows", "exact_join_rows")
  }

  private[graft] def hllEstimate(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(sum(pow2(lit(27) - col("mr"))).as("zp"),
        count(lit(1)).as("nreg"))
      .withColumn("z27",
        col("zp") + (lit(64L) - col("nreg")) * lit(134217728L))
      .withColumn("v", lit(64L) - col("nreg")) // zero registers
      .withColumn("raw",
        lit(0.709) * lit(549755813888.0) / col("z27").cast("double"))
      .withColumn("approx_users",
        when(col("raw") <= 160.0 && col("v") > 0L,
          lit(64.0) * log(lit(64.0) / col("v").cast("double")))
          .otherwise(col("raw")))

  private val coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling 10-minute windows per event type: the batch form of a
    // watermarked streaming window agg; partial aggregation map-side, one
    // shuffle on (window, type)
    "events_tumbling_agg" -> ((s, dir) =>
      events(s, dir)
        // integer div: ts is ~2^61, double division would lose precision
        .withColumn("window_start", expr(s"(ts div $WindowUs) * $WindowUs"))
        .groupBy("window_start", "event_type")
        .agg(count("*").as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("window_start", "event_type")),

    // SLIDING 1-hour windows every 15 minutes: each event belongs to
    // window/slide = 4 overlapping windows — the standard explode-by-k
    // sliding shape (same dataflow as Spark's window(col, "1 hour",
    // "15 minutes")), kept in integer µs for oracle exactness. Partial
    // aggregation collapses the 4× inflation map-side; shuffle volume is
    // one row per (map partition, window), not 4× the events.
    "events_sliding_agg" -> ((s, dir) =>
      events(s, dir)
        .select(col("ts"), col("value"),
          explode(sequence(lit(0), lit(SlideCopies - 1))).as("k"))
        .withColumn("window_start",
          expr(s"((ts div $SlideUs) - k) * $SlideUs"))
        .groupBy("window_start")
        .agg(count("*").as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("window_start")),

    // sessionization: 30-minute-gap sessions per user via lag + running
    // sum (gaps-and-islands); all-integer arithmetic, exact on both engines
    "events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts") - col("prev_ts") > SessionGapUs, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(wRun))
        .groupBy("user_id", "session_idx")
        .agg(count("*").as("n_events"),
          min(col("ts")).as("start_us"),
          (max(col("ts")) - min(col("ts"))).as("duration_us"))
        .orderBy("user_id", "session_idx")
    }),

    // exact distribution statistics: Spark's `percentile` and DuckDB's
    // `quantile_cont` share the linear-interpolation DEFINITION but not
    // the operation order (quantile_cont fuses the interpolation; Spark
    // rounds the product then the add), so the oracle mirrors Spark's
    // exact arithmetic via Ora.pct instead. (At 100 TB swap in
    // approx_percentile — exact percentile holds all values per group.)
    "events_value_quantiles" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"))
        .orderBy("event_type")),

    // sketch path, ORACLE-CHECKED: deterministic register HyperLogLog
    // (p=6, m=64 registers) over the engine's own fnv1a32 — unlike
    // approx_count_distinct's engine-private xxhash64 sketch, every step
    // is reproducible in ANSI SQL, so even the ESTIMATE oracle-checks
    // bit-for-bit. bucket = low 6 hash bits; rank = leading zeros of the
    // remaining 26-bit window + 1 (w=0 → 27, via 27 − bitlength(w)). The
    // harmonic mean is evaluated in EXACT integer space: Z27 = Σ over all
    // 64 registers of 2^(27−M_j), absent registers carrying M_j=0 → 2^27
    // (max Σ = 2^33, no overflow), so the only floating-point ops are one
    // constant product (0.709 × 2^39 — a power-of-two scale, exact in
    // IEEE) and one division by an exactly-representable integer —
    // bit-identical on any IEEE-754 engine. The small-range (linear
    // counting) correction — raw ≤ 2.5m and zero registers present →
    // m·ln(m/V) — needs a transcendental, but its argument domain is the
    // 64 rationals 64/V, and Java's Math.log and DuckDB's ln() were
    // verified bit-identical by enumeration over all 64 (the branch
    // PREDICATE compares the bit-exact raw estimate, so branch choice is
    // engine-invariant too). At 100 TB the shuffle carries 64 bytes of
    // registers per group instead of the distinct user set; countDistinct
    // here is the verification column, not the serving path.
    "events_approx_users" -> ((s, dir) => {
      val ev = events(s, dir)
      val reg = hllRegisters(ev, Seq("event_type"))
      val est = hllEstimate(reg, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "event_type")
        .select("event_type", "approx_users", "exact_users")
        .orderBy("event_type")
    }),

    // HLL set ALGEBRA — the property that makes the sketch the 100 TB
    // serving path: registers MERGE by per-register max, so a rolling
    // 7-day distinct-user series derives entirely from ≤ #days × 64
    // stored register rows with NO second pass over the events (the same
    // role events_kmv_overlap plays for the KMV sketch). Each target
    // day's window union is max(mr) over its ≤ 7 contributing days'
    // registers; the estimate then runs the identical exact-integer
    // harmonic path as events_approx_users, so it oracle-checks
    // bit-for-bit. The exact rolling count is the verification column —
    // at scale it is precisely the recompute the merge avoids.
    "events_hll_rolling" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("day", expr(s"ts div $DayUs"))
      val regs = hllRegisters(ev, Seq("day"))
        // the stored sketch table: #days × ≤64 rows
        .transform(graft.Materialize(_))
      val days = regs.select("day").distinct()
        .select(col("day").as("target_day"))
      val merged = regs
        .select(col("day"), col("bucket"), col("mr"),
          explode(sequence(lit(0L), lit(6L))).as("k"))
        .withColumn("td", col("day") + col("k"))
        .join(broadcast(days), col("td") === col("target_day"))
        .groupBy("target_day", "bucket").agg(max("mr").as("mr"))
      val est = hllEstimate(merged, Seq("target_day"))
      val exact = ev
        .select("day", "user_id").distinct() // reduce BEFORE the 7x explode
        .select(col("day"), col("user_id"),
          explode(sequence(lit(0L), lit(6L))).as("k"))
        .withColumn("td", col("day") + col("k"))
        .join(broadcast(days), col("td") === col("target_day"))
        .groupBy("target_day")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "target_day")
        .select("target_day", "approx_users", "exact_users")
        .orderBy("target_day")
    }),

    // sketch path, ORACLE-CHECKED: KMV bottom-k distinct estimate over the
    // engine's own fnv1a32 hashes — deterministic, so unlike the HLL row
    // above DuckDB reproduces the estimate exactly (kth smallest distinct
    // hash). Custom TypedImperativeAggregate: fixed k-long state per
    // group, associative merge, map-side partial aggregation.
    "events_kmv_users" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(graft.sketch.KmvDistinct.kmvDistinct(
            graft.hash.Fnv1a32.fnv1a32(col("user_id").cast("string")), 64)
          .as("kmv_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy("event_type")),

    // sketch-in-window: distinct users per (day, type) via the same KMV
    // aggregate — the daily-uniques dashboard shape. countDistinct
    // re-shuffles the (group, user) domain to dedup it; the sketch is
    // one fixed 32-long state per group with map-side partials, so at
    // 100 TB the shuffle carries #groups × 32 longs instead of the
    // distinct user set. Groups below k take the exact path, above it
    // the estimator — the fixture exercises both (42-67 uniques/group).
    "events_window_kmv" -> ((s, dir) =>
      events(s, dir)
        .withColumn("day", expr(s"ts div $DayUs"))
        .groupBy("day", "event_type")
        .agg(graft.sketch.KmvDistinct.kmvDistinct(
            graft.hash.Fnv1a32.fnv1a32(col("user_id").cast("string")), 32)
          .as("kmv_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy("day", "event_type")),

    // KMV set ALGEBRA: cross-day audience overlap from per-day sketch
    // states alone. kmv_mins stores each day's bottom-32 user-hash array
    // (the sketch state, not just the count); bottom-k of two arrays'
    // union IS the union's sketch, |K(A∪B) ∩ K(A) ∩ K(B)| / k estimates
    // Jaccard, and overlap = jaccard × union — so every day-pair's
    // audience intersection derives from 30 stored 32-long states with
    // NO second pass over the events (Beyer et al., SIGMOD '07). At
    // 100 TB that is the difference between an O(days²) join of distinct
    // user sets and array math over a dimension table. The exact-overlap
    // column is the verification harness, not the serving path. All
    // sketch arithmetic is deterministic over fnv1a32, so even the
    // ESTIMATES oracle-check bit-for-bit; the only doubles are exact
    // divisions and one product.
    "events_kmv_overlap" -> ((s, dir) => {
      val k = 32
      val ev = events(s, dir).withColumn("day", expr(s"ts div $DayUs"))
      val mins = ev.groupBy("day")
        .agg(graft.sketch.KmvDistinct.kmvMins(
          graft.hash.Fnv1a32.fnv1a32(col("user_id").cast("string")), k)
          .as("mins"))
        // tiny day dimension, feeds both join sides
        .transform(graft.Materialize(_))
      val pairs = mins.select(col("day").as("day_a"), col("mins").as("ma"))
        .join(mins.select(col("day").as("day_b"), col("mins").as("mb")),
          col("day_a") < col("day_b"))
        .withColumn("mu", slice(array_sort(array_union(col("ma"), col("mb"))),
          1, k))
      val est = pairs.select(col("day_a"), col("day_b"),
        when(size(col("mu")) < k, size(col("mu")).cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) /
            element_at(col("mu"), k).cast("double")).as("est_union"),
        (size(array_intersect(array_intersect(col("mu"), col("ma")),
          col("mb"))).cast("double") /
          least(lit(k), size(col("mu")))).as("est_jaccard"))
      val du = ev.select("day", "user_id").distinct()
      val exact = du.as("a")
        .join(du.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.day") < col("b.day"))
        .groupBy(col("a.day").as("day_a"), col("b.day").as("day_b"))
        .agg(count("*").as("exact_overlap"))
      est.join(exact, Seq("day_a", "day_b"), "left")
        .select(col("day_a"), col("day_b"), col("est_union"),
          col("est_jaccard"),
          (col("est_union") * col("est_jaccard")).as("est_overlap"),
          coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
        .orderBy("day_a", "day_b")
    }),

    // join-size estimation from sketches — the query-PLANNER primitive:
    // |A ⋈ B| on a key pair, estimated from two 64-long KMV states and
    // the two tables' (rows, distinct) profiles, with NO join executed.
    // overlap keys = Jaccard(K(A∪B)) × union estimate (the kmv_overlap
    // algebra); join rows = overlap × avg-multiplicity of each side
    // (rows/distinct — the uniform-frequency model every cost-based
    // optimizer starts from). At 100 TB this is the difference between
    // costing a join plan and running it to find out; the exact join
    // count here is the verification column. All sketch arithmetic is
    // deterministic over fnv1a32, so the ESTIMATE oracle-checks
    // bit-for-bit; the only doubles are fixed-order products/divisions.
    // Honest accuracy note, measured by the verification columns: the
    // fixture's short NUMERIC key strings expose fnv1a32's imperfect
    // avalanche (the k-th smallest hash of {"0".."1499"} runs ~1.5× the
    // uniform expectation → distinct estimates up to ~35% low, join size
    // within ~2× — planner-grade, not billing-grade). A production
    // deployment would put a stronger finalizer (murmur/xxhash-style
    // mixing) under the sketch, the same remedy the Bloom filter's
    // xor-fold already applies for its k probes; EventsSpec bounds the
    // end-to-end estimate at 2.5× either way.
    "events_join_card_est" -> ((s, dir) =>
      joinCardEst(s, dir, c => graft.hash.Fnv1a32.fnv1a32(c))),

    // the REMEDY the accuracy note above names, as a twin: the same
    // estimator over mix32(fnv) — a lowbias32-style multiply-xor
    // finalizer that restores avalanche on the short numeric keys.
    // Measured on the fixture, the distinct-estimate bias drops from
    // −35% to under ±10% and EventsSpec asserts the mixed estimate is
    // never farther from truth than the raw one. Pure integer SQL ops on
    // both engines, so the twin oracle-checks bit-for-bit too.
    "events_join_card_est_mixed" -> ((s, dir) =>
      joinCardEst(s, dir, c => mix32(graft.hash.Fnv1a32.fnv1a32(c)))),

    // last-click revenue attribution: the batch twin of
    // streaming.StreamJoin — each purchase claims the same user's latest
    // click within the preceding 30 minutes; revenue rolls up per day
    // into attributed vs organic. Shape: one equi-join on user_id with
    // the window as a residual predicate, then a purchase-grained max
    // aggregate (never a window over the event stream). At 100 TB a
    // power-user key can inflate the per-user click×purchase block; the
    // chunked interval join (relational.RangeJoin) is the declared
    // rescue, same as for sessionization. Money stays DECIMAL end to
    // end; the day rollup is dimension-sized.
    "events_attribution" -> ((s, dir) => {
      val AttribUs = SessionGapUs // 30 minutes, = StreamJoin's window
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), col("value"))
      purchases
        // the window predicate must live IN the left-join condition: as a
        // post-filter it would delete purchases whose user clicked only
        // out-of-window instead of leaving them unattributed
        .join(clicks, col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - AttribUs, "left")
        .groupBy("purchase_id", "p_ts", "value")
        .agg(max(col("c_ts")).as("attrib_click_ts"))
        .withColumn("day", expr(s"p_ts div $DayUs"))
        .groupBy("day")
        .agg(count("*").as("n_purchases"),
          sum(when(col("attrib_click_ts").isNotNull, 1L).otherwise(0L))
            .as("n_attributed"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("revenue_total"),
          sum(when(col("attrib_click_ts").isNotNull,
            col("value").cast("decimal(18,2)"))
            .otherwise(expr("CAST(0 AS DECIMAL(18,2))"))).cast("double")
            .as("revenue_attributed"))
        .orderBy("day")
    }),

    // grouped rollup: count, distinct users, exact decimal totals
    "events_type_stats" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(count("*").as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy("event_type")),
  )

  /** Per-slice partial aggregate state for the incremental rollup — the
    * schema a production pipeline PERSISTS between runs (counts, decimal
    * sums, min/max: each a commutative monoid, so stored state merges
    * with any later partial by the same groupBy). */
  private[graft] def rollupPartial(ev: DataFrame): DataFrame =
    ev.groupBy("event_type").agg(
      count("*").as("pn"),
      sum(col("value").cast("decimal(18,2)")).as("pv"),
      min(col("value")).as("pmn"),
      max(col("value")).as("pmx"))

  /** Merge of any number of [[rollupPartial]] states → the serving
    * rollup. Decimal sums keep the merge exact, so merged == recomputed
    * bit-for-bit regardless of how history was sliced. */
  private[graft] def rollupMerge(parts: DataFrame): DataFrame =
    parts.groupBy("event_type").agg(
        sum(col("pn")).as("n_events"),
        sum(col("pv")).cast("double").as("total_value"),
        min(col("pmn")).as("min_value"),
        max(col("pmx")).as("max_value"))
      .orderBy("event_type")

  private val moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // incremental rollup maintenance (IVM): the stored per-type aggregate
    // state of all CLOSED days merges with the newest day's raw partition
    // — the day-over-day shape that never re-scans history. Here the
    // "stored" side is derived in-query (the fixture has no side table);
    // RollupMergeSpec round-trips it through parquet and proves the merge
    // equals the full recompute under arbitrary slicings. At 100 TB the
    // left leg is a k-row state table and the right leg scans ONE day —
    // the rollup's cost stops growing with corpus age. The oracle is the
    // plain full aggregation: equality IS the correctness claim.
    "events_rollup_merge" -> ((s, dir) => {
      val e = events(s, dir).withColumn("day", expr(s"ts div $DayUs"))
      val tagged = e.crossJoin(broadcast(e.agg(max(col("day")).as("day_max"))))
      val stored = rollupPartial(tagged.filter(col("day") < col("day_max")))
      val fresh = rollupPartial(tagged.filter(col("day") === col("day_max")))
      rollupMerge(stored.unionByName(fresh))
    }),

    // recency-weighted activity: exponential-decay counts with a 1-day
    // half-life over a [[MaxDecayAge]]-day horizon, anchored to the
    // newest day IN the data (deterministic on both engines, no wall
    // clock). An age-k event weighs exactly 2^-k — integer shift + one
    // division, never pow(), and the shift can't wrap because the
    // horizon caps k at 62 (mass below 2^-62 is defined out of the
    // operator, which is also what makes streaming state finite). The
    // corpus folds to ≤ 63 (type, age) COUNT rows first; the weight is
    // then a fixed ascending-age left fold over that tiny list — the
    // same fold the DuckDB oracle and the streaming twin's snapshot run
    // verbatim, so the double is bit-equal across all three by shared
    // op sequence, not by hoping magnitudes stay exact.
    "events_decayed_counts" -> ((s, dir) => {
      val e = events(s, dir).withColumn("day", expr(s"ts div $DayUs"))
      e.crossJoin(broadcast(e.agg(max(col("day")).as("day_max"))))
        .select(col("event_type"),
          (col("day_max") - col("day")).as("age"))
        .filter(col("age") <= MaxDecayAge)
        .groupBy("event_type", "age").agg(count("*").as("cnt"))
        .groupBy("event_type")
        .agg(sum("cnt").as("n_events"),
          aggregate(
            array_sort(collect_list(struct(col("age"), col("cnt")))),
            lit(0.0),
            (acc, x) => acc + x.getField("cnt").cast("double") /
              pow2(x.getField("age").cast("int")).cast("double"))
            .as("decayed_weight"),
          min("age").as("newest_age"), max("age").as("oldest_age"))
        .orderBy("event_type")
    }),

    // Z-order cell audit: map every event to its Morton cell over
    // (day-index, user-bucket) — the cell id graft.keyspace
    // .PartitionedLayout.writeZOrdered partitions by — and emit each
    // cell's population and per-dimension envelope. The envelope IS the
    // data-skipping claim: every cell spans ≤ 32 days × 32 buckets, so a
    // (day × cohort) box query prunes to the cells its rectangle
    // overlaps (proven file-level in PlanAuditSpec). Cross-engine the
    // interleave is pure shift/mask integer arithmetic — bit-exact.
    "events_zorder_cells" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("day", expr(s"ts div $DayUs"))
      val xy = e
        .crossJoin(broadcast(e.agg(min(col("day")).as("day0"))))
        .select((col("day") - col("day0")).as("x"),
          pmod(col("user_id"), lit(256L)).as("y"))
      xy.withColumn("z_cell", shiftright(
          graft.keyspace.PartitionedLayout.zValue(col("x"), col("y"), 8),
          10))
        .groupBy("z_cell")
        .agg(count("*").as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
        .orderBy("z_cell")
    }),

    // hierarchical totals in one pass: ROLLUP emits (type, bucket),
    // (type, NULL) and (NULL, NULL) grand-total rows from a single shuffle
    "events_rollup" -> ((s, dir) =>
      events(s, dir)
        .withColumn("value_bucket",
          when(col("value") < 50, "low").when(col("value") < 150, "mid")
            .otherwise("high"))
        .rollup("event_type", "value_bucket")
        .agg(count("*").as("n"))
        .orderBy(col("event_type").asc_nulls_first,
          col("value_bucket").asc_nulls_first)),

    // weekday seasonality profile: per (type, weekday) the day count,
    // total, per-day average, and share of the type's volume — the
    // ingest-QA view that separates weekly periodicity from genuine
    // anomalies (a quiet Sunday is seasonality; a quiet Tuesday is an
    // incident). weekday 0 = Monday: epoch day 0 (1970-01-01) was a
    // Thursday, hence the +3 before the mod — pure integer arithmetic,
    // identical on both engines. Two tiny aggregates after the one
    // (type, day) rollup shuffle; averages and shares are single
    // divisions of exact integers.
    "events_weekday_profile" -> ((s, dir) => {
      val daily = events(s, dir)
        .withColumn("day", expr(s"ts div $DayUs"))
        .groupBy("event_type", "day").agg(count("*").as("n"))
        .withColumn("weekday", pmod(col("day") + 3, lit(7L)))
      val byWd = daily.groupBy("event_type", "weekday")
        .agg(count("*").as("n_days"), sum("n").as("total_events"))
      val byType = daily.groupBy("event_type")
        .agg(sum("n").as("type_total"))
      byWd.join(broadcast(byType), "event_type")
        .select(col("event_type"), col("weekday"), col("n_days"),
          col("total_events"),
          (col("total_events").cast("double") / col("n_days"))
            .as("avg_per_day"),
          (col("total_events").cast("double") / col("type_total"))
            .as("share"))
        .orderBy("event_type", "weekday")
    }),

    // CUBE: all four grouping combinations of (type, bucket) from one
    // shuffle — the cross-tab twin of events_rollup's hierarchy
    "events_cube" -> ((s, dir) =>
      events(s, dir)
        .withColumn("value_bucket",
          when(col("value") < 50, "low").when(col("value") < 150, "mid")
            .otherwise("high"))
        .cube("event_type", "value_bucket")
        .agg(count("*").as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy(col("event_type").asc_nulls_first,
          col("value_bucket").asc_nulls_first)),

    // explicit GROUPING SETS — the third leg of the rollup/cube/sets
    // triple: exactly the requested grouping combinations ((type),
    // (type, bucket), ()) and nothing else, where CUBE would also pay
    // the (bucket)-only pass. Same single-shuffle expand-based plan as
    // cube, just a smaller expansion factor — at 100 TB the skipped
    // grouping is a whole corpus aggregation not computed. The grouping
    // id is composed bitwise from grouping() in BOTH engines, so the
    // "NULL because aggregated" vs "NULL in the data" ambiguity never
    // reaches the compare.
    "events_grouping_sets" -> ((s, dir) => {
      val b = events(s, dir)
        .withColumn("value_bucket",
          when(col("value") < 50, "low").when(col("value") < 150, "mid")
            .otherwise("high"))
      b.groupingSets(
          Seq(Seq(col("event_type")),
            Seq(col("event_type"), col("value_bucket")),
            Seq.empty[Column]),
          col("event_type"), col("value_bucket"))
        .agg((grouping(col("event_type")) * 2 +
            grouping(col("value_bucket"))).cast("long").as("gid"),
          count("*").as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first,
          col("value_bucket").asc_nulls_first)
    }),

    // set operation: (user, day) pairs that clicked but never purchased
    // that day (EXCEPT; user-level alone is empty — every user eventually
    // does everything in this fixture)
    "events_click_no_purchase_day" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr(s"ts div $DayUs"))
      ev.filter(col("event_type") === "click").select("user_id", "day")
        .except(ev.filter(col("event_type") === "purchase")
          .select("user_id", "day"))
        .orderBy("user_id", "day")
    }),

    // the INTERSECT twin: (user, day) pairs that clicked AND purchased —
    // with the EXCEPT above this completes the set-operation family the
    // reference lacks outright. Same plan class: two filtered projections
    // of one scan, distinct'd through a single (user, day) shuffle.
    "events_click_and_purchase_day" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr(s"ts div $DayUs"))
      ev.filter(col("event_type") === "click").select("user_id", "day")
        .intersect(ev.filter(col("event_type") === "purchase")
          .select("user_id", "day"))
        .orderBy("user_id", "day")
    }),

    // pivot: op counts as columns — the reference's full Gets/Puts/Deletes
    // OperationStats struct (internal/shard/shard.go:124-161), one row
    "kv_op_counters_pivot" -> ((s, dir) =>
      graft.keyspace.KvLog.log(s, dir).agg(
        sum(when(col("op") === "get", 1L).otherwise(0L)).as("n_get"),
        sum(when(col("op") === "put", 1L).otherwise(0L)).as("n_put"),
        sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_delete"))),

    // day-over-day retention: of day d's active users, how many are also
    // active on d+1. The (user, day) activity set is distinct'd once —
    // the shuffle that dominates; the self-join probes it shifted by one
    // day on the same (user_id, day) key, and the rate is one
    // correctly-rounded division. User-dimension-sized frames throughout
    // (never event-sized after the distinct) — cohort analytics at 100 TB
    // is exactly this shape.
    "events_retention" -> ((s, dir) => {
      val daily = events(s, dir)
        .select(col("user_id"), expr(s"ts div $DayUs").as("day"))
        .distinct()
      val next = daily.select(col("user_id"),
        (col("day") - 1).as("day"), lit(1).as("ret"))
      daily.join(next, Seq("user_id", "day"), "left")
        .groupBy("day")
        .agg(count("*").as("n_users"), count(col("ret")).as("n_retained"))
        .withColumn("retention",
          col("n_retained").cast("double") / col("n_users"))
        .orderBy("day")
    }),

    // heavy hitters via count-min sketch, ORACLE-CHECKED: the fixed-state
    // frequency primitive — where exact per-item counts would shuffle
    // every distinct item at 100 TB, the CMS is depth×width longs merged
    // associatively (map-side partials), probed here for the exact top-10
    // users. Deterministic over the engine's fnv1a32, so DuckDB reproduces
    // every estimate bit-for-bit; CmsSketchSpec proves the ≥-exact bound
    // and partition invariance.
    "events_cms_topk" -> ((s, dir) => {
      import graft.sketch.CmsCounts
      val ev = events(s, dir)
        .withColumn("u", col("user_id").cast("string"))
      val sketch = ev.agg(
        CmsCounts.cmsCounts(col("u"), CmsDepth, CmsWidth).as("sk"))
      ev.groupBy("user_id", "u").agg(count("*").as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(10)
        .crossJoin(broadcast(sketch))
        .select(col("user_id"), col("n_exact"),
          CmsCounts.estimate(col("sk"), col("u"), CmsDepth, CmsWidth)
            .as("n_cms"))
        .orderBy(col("n_exact").desc, col("user_id"))
    }),

    // sequential conversion funnel view → click → purchase within a day:
    // each stage's entry is the user's FIRST qualifying event at or after
    // the previous stage's entry (a click before the day's first view does
    // not count). Three grouped min-aggregations over (user, day) — after
    // the first shuffle every stage joins and re-groups on the same key,
    // so stages 2 and 3 are co-partitioned joins of user-day-sized frames,
    // never event-sized re-shuffles. Integer-µs throughout.
    "events_funnel" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("day", expr(s"ts div $DayUs"))
      val viewed = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "day").agg(min("ts").as("v_ts"))
      val clicked = ev.filter(col("event_type") === "click")
        .join(viewed, Seq("user_id", "day"))
        .filter(col("ts") >= col("v_ts"))
        .groupBy("user_id", "day").agg(min("ts").as("c_ts"))
      val purchased = ev.filter(col("event_type") === "purchase")
        .join(clicked, Seq("user_id", "day"))
        .filter(col("ts") >= col("c_ts"))
        .groupBy("user_id", "day").agg(min("ts").as("p_ts"))
      viewed.groupBy("day").agg(count("*").as("n_viewed"))
        .join(clicked.groupBy("day").agg(count("*").as("n_clicked")),
          Seq("day"), "left")
        .join(purchased.groupBy("day").agg(count("*").as("n_purchased")),
          Seq("day"), "left")
        .select(col("day"), col("n_viewed"),
          coalesce(col("n_clicked"), lit(0L)).as("n_clicked"),
          coalesce(col("n_purchased"), lit(0L)).as("n_purchased"))
        .orderBy("day")
    }),

    // daily volume anomalies: z-score of each (type, day) event count
    // against that type's own daily distribution — the data-quality gate
    // a pipeline runs before trusting a day's ingest. Shape: one (type,
    // day) rollup of the event scan, then a #types-row stats dimension
    // broadcast back over the daily frame — nothing after the first
    // shuffle is event-sized. All sums are exact integers (daily counts
    // square to < 2^53), so mean/stddev are single correctly-rounded
    // double expressions and the z-scores are bit-equal across engines;
    // the zero-variance guard is exact in WIDE integer arithmetic —
    // sq*nd overflows Long around 3e7 events/day over 100 days (Spark
    // wraps silently, DuckDB raises), so Spark compares in DECIMAL(38,0)
    // and the oracle in HUGEINT, both exact far past the ~9.4e7/day
    // envelope (same BigInt treatment as the streaming twin). The
    // fixture's boundary days (partial ingest) are the planted anomalies.
    "events_anomaly_day" -> ((s, dir) => {
      val daily = events(s, dir)
        .withColumn("day", expr(s"ts div $DayUs"))
        .groupBy("event_type", "day").agg(count("*").as("n_events"))
      val st = daily.groupBy("event_type")
        .agg(count("*").as("nd"), sum("n_events").as("s"),
          sum(col("n_events") * col("n_events")).as("sq"))
      val z = (col("n_events") - col("s").cast("double") / col("nd")) /
        sqrt((col("sq").cast("double") -
          col("s").cast("double") * col("s") / col("nd")) / col("nd"))
      daily.join(broadcast(st), "event_type")
        .filter(col("sq").cast("decimal(38,0)") * col("nd") >
          col("s").cast("decimal(38,0)") * col("s"))
        .select(col("event_type"), col("day"), col("n_events"),
          z.as("z_score"))
        .filter(abs(col("z_score")) >= ZThreshold)
        .orderBy("event_type", "day")
    }),

    // histogram-sketch quantiles: the fixed-state scale twin of the exact
    // events_value_quantiles (which needs a per-group sort — fine here,
    // a shuffle-the-world at 100 TB). State is QBins longs per group,
    // merged associatively with map-side partials; the estimate linearly
    // interpolates inside the crossing bin. Counts are exact integers and
    // the interpolation is one double expression written identically on
    // both engines, so even the APPROXIMATION is oracle-checked
    // bit-for-bit (same contract as the KMV and CMS sketches). Bin width
    // trades accuracy for state like any sketch; the spec bounds the
    // error against the exact quantiles.
    "events_quantile_sketch" -> ((s, dir) => {
      val hist = events(s, dir)
        .withColumn("bin",
          least(lit(QBins - 1), floor(col("value") / lit(QBinW))
            .cast("long")))
        .groupBy("event_type", "bin").agg(count("*").as("c"))
      val w = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(w))
        .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
      val crossed = cum
        .withColumn("q", explode(array(QProbes.map(lit): _*)))
        .filter(col("cum") >= col("q") * col("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type", "q").orderBy("bin")))
        .filter(col("rk") === 1)
      crossed.select(col("event_type"), col("q"), col("n"),
          (lit(QBinW) * col("bin") +
            lit(QBinW) * (col("q") * col("n") - (col("cum") - col("c"))) /
              col("c")).as("est_value"))
        .orderBy("event_type", "q")
    }),

    // the planner family's second member (events_join_card_est is the
    // first): filter-SELECTIVITY estimation from the same fixed-bin
    // histogram the quantile sketch keeps — "how many rows pass
    // `value < X`" answered from QBins longs per group, no scan. Full
    // bins below the cutoff contribute exactly (an INTEGER sum — kept
    // separate so reduction order cannot round differently across
    // engines); the one straddling bin contributes linearly-interpolated
    // mass (a single double term, added once at the end). The exact
    // count is the verification column; estimator error is bounded by
    // the straddling bin's count by construction.
    "events_selectivity_est" -> ((s, dir) => {
      val hist = events(s, dir)
        .withColumn("bin",
          least(lit(QBins - 1), floor(col("value") / lit(QBinW))
            .cast("long")))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
      val cuts = explode(array(SelCuts.map(lit): _*)).as("cutoff")
      val est = hist.withColumn("cutoff", cuts)
        .withColumn("binlo", lit(QBinW) * col("bin"))
        .withColumn("binhi", lit(QBinW) * (col("bin") + 1))
        .groupBy("event_type", "cutoff")
        .agg(
          sum(when(col("binhi") <= col("cutoff"), col("c"))
            .otherwise(0L)).as("full_rows"),
          sum(when(col("binlo") < col("cutoff") &&
              col("cutoff") < col("binhi"),
            col("c").cast("double") *
              ((col("cutoff") - col("binlo")) / lit(QBinW)))
            .otherwise(0.0)).as("frac_rows"))
        .withColumn("est_rows",
          col("full_rows").cast("double") + col("frac_rows"))
      val exact = events(s, dir)
        .withColumn("cutoff", cuts)
        .filter(col("value") < col("cutoff"))
        .groupBy("event_type", "cutoff")
        .agg(count(lit(1)).as("exact_rows"))
      est.join(exact, Seq("event_type", "cutoff"), "left")
        .select(col("event_type"), col("cutoff"), col("est_rows"),
          coalesce(col("exact_rows"), lit(0L)).as("exact_rows"))
        .orderBy("event_type", "cutoff")
    }),

    // semi-structured extraction: the events table's JSON `props` column
    // parsed and aggregated per type — the payload-introspection path
    // every event pipeline needs. get_json_object is a narrow scalar
    // (codegen'd, no UDF); the only shuffle is the 5-group aggregate.
    // count(DISTINCT k) re-shuffles the (type, k) domain — bounded here;
    // for unbounded domains the KMV sketch (events_kmv_users) is the
    // fixed-state path. The avg is one correctly-rounded division of
    // exact integers.
    "events_props_stats" -> ((s, dir) => {
      val ev = s.read
        .schema(RawSchemaWithProps)
        .parquet(s"$dir/events.parquet")
        .withColumn("ts", tsUs(col("ts")))
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
      ev.groupBy("event_type")
        .agg(count("*").as("n"), sum("k").as("k_sum"),
          min("k").as("k_min"), max("k").as("k_max"),
          countDistinct("k").as("k_distinct"),
          (sum("k").cast("double") / count("*")).as("k_avg"))
        .orderBy("event_type")
    }),

    // watermark late-data accounting — the batch mirror of Structured
    // Streaming's per-micro-batch watermark semantics: events are
    // replayed in a deterministic arrival order (the fixture arrives in
    // perfect event-time order, so ~1-in-37 events are re-sequenced
    // 0-600 positions later — the same fixture-augmentation pattern as
    // the kv log), the watermark before batch b is max(event time over
    // batches < b) - delay, and an event is late iff it arrives below
    // that watermark — exactly what a streaming job would drop. Scale
    // shape: one event-sized shuffle for the per-batch maxima, then the
    // watermark series is an O(#micro-batches) running max (inherently
    // sequential, control-plane-sized — 2.4 K rows for 600 K events)
    // broadcast back over the events.
    "events_late_arrivals" -> ((s, dir) => {
      val arr = events(s, dir)
        .withColumn("arrival_seq",
          col("event_id") + when(col("event_id") % 37 === 0,
            (col("event_id") % 7) * lit(100L)).otherwise(lit(0L)))
        .withColumn("batch", expr(s"arrival_seq div $ArrivalBatch"))
      val bm = arr.groupBy("batch").agg(max("ts").as("mx"))
      val w = Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wm = bm.withColumn("wm", max("mx").over(w) - lit(LateDelayUs))
        .select("batch", "wm")
      arr.join(broadcast(wm), "batch")
        .groupBy("event_type")
        .agg(count("*").as("n_events"),
          sum(when(col("ts") < col("wm"), 1L).otherwise(0L)).as("n_late"),
          max(when(col("ts") < col("wm"), col("wm") - col("ts")))
            .as("max_lateness_us"))
        .orderBy("event_type")
    }),

    // inter-event gap distribution — the measurement the 30-minute
    // sessionization gap is judged against (the same role
    // sim_cosine_calibration plays for the cosine cutoffs). Gaps come
    // from a per-user lag window (parallelism = #users, the natural
    // key); the histogram buckets by floor(log2(gap))+1 via the length
    // of the binary string — pure integer arithmetic, so bucket edges
    // are engine-exact where a double log2 could round differently at
    // powers of two. Fixed state (≤ 64 buckets) at any corpus size.
    // per-user running lifetime value over purchases: the prefix-sum
    // window every feature store materializes ("revenue to date at event
    // time"). Partitioned by user, ordered by the unique (ts, event_id)
    // key, ROWS-framed — Spark keeps one user's rows in one task and
    // carries a single accumulator per frame, so the cost is a sort
    // within each user's partition, parallel across users. The DECIMAL
    // accumulator makes every prefix exact (a double accumulator would
    // bit-drift between engines at whichever prefix first loses ulps).
    "events_running_ltv" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double").as("ltv_running"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // join-key skew audit — the measurement that decides between a plain
    // shuffle join, salting, and AQE skew handling BEFORE the job runs:
    // distinct keys bucketed by power-of-two frequency (bucket = bit
    // length of the per-key count). A healthy key space concentrates in
    // 2-3 adjacent buckets; a hot tail shows up as occupied high buckets
    // whose few keys carry a large n_rows share. Two hash aggregates,
    // both map-side combined; output is ~log2(max frequency) rows no
    // matter the corpus size.
    "events_key_skew" -> ((s, dir) =>
      events(s, dir)
        .groupBy("user_id").agg(count("*").as("cnt"))
        .withColumn("freq_bucket", length(bin(col("cnt"))).cast("long"))
        .groupBy("freq_bucket")
        .agg(count("*").as("n_keys"), sum("cnt").as("n_rows"),
          max("cnt").as("max_freq"))
        .orderBy("freq_bucket")),

    "events_gap_histogram" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("gap", col("ts") - lag("ts", 1).over(w))
        .filter(col("gap").isNotNull)
        // gap = 0 (two events in the same truncated microsecond) gets its
        // own bucket 0: bin(0) = "0" has length 1, which would misfile it
        // into [2^0, 2^1) and break the power-of-two edge contract
        .withColumn("bucket",
          when(col("gap") === 0L, 0L)
            .otherwise(length(bin(col("gap"))).cast("long")))
        .groupBy("bucket")
        .agg(count("*").as("n"), min("gap").as("min_gap_us"),
          max("gap").as("max_gap_us"),
          sum(when(col("gap") > SessionGapUs, 1L).otherwise(0L))
            .as("n_over_session_gap"))
        .orderBy("bucket")
    }),
  )

  val ArrivalBatch = 250L // arrivals per replayed micro-batch
  val LateDelayUs: Long = 3600L * 1000000L // 1-hour watermark delay
  val ZThreshold = 2.0 // |z| flagging an anomalous day
  val QBins = 128 // histogram-sketch bins
  val QBinW = 4.0 // bin width (value domain is [0, 512))
  val QProbes = Seq(0.5, 0.9, 0.99)
  /** Selectivity-probe cutoffs: off bin boundaries so the interpolated
    * fraction is exercised, spread across the value distribution. */
  val SelCuts = Seq(25.0, 77.0, 150.5, 401.25)

  // lazy: eventsSql is declared below; a strict val would capture null
  private lazy val moreOracle: Map[String, String] = Map(
    "events_rollup_merge" -> (s"WITH $eventsSql\n" +
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin),

    "events_decayed_counts" -> (s"WITH ${eventsSql},\n" +
      s"""aged AS (
         |  SELECT event_type,
         |         (SELECT max(ts // $DayUs) FROM ev) - (ts // $DayUs) AS age
         |  FROM ev
         |),
         |inh AS (
         |  SELECT event_type, age, count(*) AS cnt
         |  FROM aged WHERE age <= $MaxDecayAge GROUP BY event_type, age
         |)
         |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
         |       list_reduce(list_prepend(0.0,
         |         list(cnt::DOUBLE / CAST(1::BIGINT << age AS DOUBLE)
         |              ORDER BY age)),
         |         (acc, x) -> acc + x) AS decayed_weight,
         |       min(age) AS newest_age, max(age) AS oldest_age
         |FROM inh GROUP BY event_type ORDER BY event_type""".stripMargin),

    "events_zorder_cells" -> {
      val zTerms = (0 until 8).map { i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      s"WITH ${eventsSql},\n" +
        s"""xy AS (
           |  SELECT (ts // $DayUs) -
           |           (SELECT min(ts // $DayUs) FROM ev) AS x,
           |         user_id % 256 AS y
           |  FROM ev
           |),
           |z AS (SELECT x, y, ($zTerms) >> 10 AS z_cell FROM xy)
           |SELECT z_cell, count(*) AS n,
           |       min(x) AS x_min, max(x) AS x_max,
           |       min(y) AS y_min, max(y) AS y_max
           |FROM z GROUP BY z_cell ORDER BY z_cell""".stripMargin
    },
    "events_late_arrivals" -> (s"WITH ${eventsSql},\n" +
      s"""arr AS (
         |  SELECT event_id, ts, event_type,
         |         (event_id + CASE WHEN event_id % 37 = 0
         |            THEN (event_id % 7) * 100 ELSE 0 END) // $ArrivalBatch
         |           AS batch
         |  FROM ev
         |),
         |bm AS (SELECT batch, max(ts) AS mx FROM arr GROUP BY batch),
         |wm AS (
         |  SELECT batch, max(mx) OVER (ORDER BY batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    - $LateDelayUs AS wm
         |  FROM bm
         |)
         |SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CASE WHEN ts < wm THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         |  CAST(max(CASE WHEN ts < wm THEN wm - ts ELSE NULL END) AS BIGINT)
         |    AS max_lateness_us
         |FROM arr JOIN wm USING (batch)
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    "events_running_ltv" -> (s"WITH ${eventsSql}\n" +
      """SELECT user_id, ts, event_id,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS ltv_running
        |FROM ev WHERE event_type = 'purchase'
        |ORDER BY user_id, ts, event_id""".stripMargin),

    "events_key_skew" -> (s"WITH ${eventsSql},\n" +
      """c AS (SELECT user_id, count(*) AS cnt FROM ev GROUP BY user_id)
        |SELECT CAST(length(bin(cnt)) AS BIGINT) AS freq_bucket,
        |       count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |       max(cnt) AS max_freq
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    "events_gap_histogram" -> (s"WITH ${eventsSql},\n" +
      s"""g AS (
         |  SELECT ts - lag(ts) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS gap
         |  FROM ev
         |)
         |SELECT CAST(CASE WHEN gap = 0 THEN 0
         |            ELSE length(bin(gap)) END AS BIGINT) AS bucket,
         |       count(*) AS n,
         |       min(gap) AS min_gap_us, max(gap) AS max_gap_us,
         |       CAST(sum(CASE WHEN gap > $SessionGapUs THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_over_session_gap
         |FROM g WHERE gap IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    "events_rollup" -> (s"WITH ${eventsSql},\n" +
      """bucketed AS (
        |  SELECT event_type,
        |         CASE WHEN value < 50 THEN 'low'
        |              WHEN value < 150 THEN 'mid' ELSE 'high' END AS value_bucket
        |  FROM ev
        |)
        |SELECT event_type, value_bucket, count(*) AS n
        |FROM bucketed GROUP BY ROLLUP (event_type, value_bucket)
        |ORDER BY event_type NULLS FIRST, value_bucket NULLS FIRST""".stripMargin),

    "events_cube" -> (s"WITH ${eventsSql},\n" +
      """bucketed AS (
        |  SELECT event_type,
        |         CASE WHEN value < 50 THEN 'low'
        |              WHEN value < 150 THEN 'mid' ELSE 'high' END AS value_bucket,
        |         value
        |  FROM ev
        |)
        |SELECT event_type, value_bucket, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM bucketed GROUP BY CUBE (event_type, value_bucket)
        |ORDER BY event_type NULLS FIRST, value_bucket NULLS FIRST""".stripMargin),

    "events_weekday_profile" -> (s"WITH ${eventsSql},\n" +
      s"""daily AS (
        |  SELECT event_type, ts // $DayUs AS day, count(*) AS n
        |  FROM ev GROUP BY 1, 2
        |),
        |wd AS (
        |  SELECT event_type, (day + 3) % 7 AS weekday,
        |         count(*) AS n_days, CAST(sum(n) AS BIGINT) AS total_events
        |  FROM daily GROUP BY 1, 2
        |),
        |tt AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS type_total
        |  FROM daily GROUP BY 1
        |)
        |SELECT wd.event_type, weekday, n_days, total_events,
        |       total_events::DOUBLE / n_days AS avg_per_day,
        |       total_events::DOUBLE / type_total AS share
        |FROM wd JOIN tt ON wd.event_type = tt.event_type
        |ORDER BY wd.event_type NULLS FIRST, weekday""".stripMargin),

    "events_grouping_sets" -> (s"WITH ${eventsSql},\n" +
      """bucketed AS (
        |  SELECT event_type,
        |         CASE WHEN value < 50 THEN 'low'
        |              WHEN value < 150 THEN 'mid' ELSE 'high' END AS value_bucket,
        |         value
        |  FROM ev
        |)
        |SELECT event_type, value_bucket,
        |       CAST(2 * GROUPING(event_type) + GROUPING(value_bucket) AS BIGINT)
        |         AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM bucketed
        |GROUP BY GROUPING SETS ((event_type), (event_type, value_bucket), ())
        |ORDER BY gid, event_type NULLS FIRST, value_bucket NULLS FIRST"""
        .stripMargin),

    "events_click_no_purchase_day" -> (s"WITH ${eventsSql},\n" +
      s"""evd AS (SELECT user_id, event_type, ts // $DayUs AS day FROM ev)
        |SELECT user_id, day FROM evd WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id, day FROM evd WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin),

    "events_click_and_purchase_day" -> (s"WITH ${eventsSql},\n" +
      s"""evd AS (SELECT user_id, event_type, ts // $DayUs AS day FROM ev)
        |SELECT user_id, day FROM evd WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id, day FROM evd WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin),

    "events_retention" -> (s"WITH ${eventsSql},\n" +
      s"""daily AS (SELECT DISTINCT user_id, ts // $DayUs AS day FROM ev)
         |SELECT a.day, count(*) AS n_users, count(b.user_id) AS n_retained,
         |       CAST(count(b.user_id) AS DOUBLE) / count(*) AS retention
         |FROM daily a LEFT JOIN daily b
         |  ON a.user_id = b.user_id AND b.day = a.day + 1
         |GROUP BY a.day ORDER BY a.day""".stripMargin),

    // per-(row, bucket) GROUP BY sums ARE the sketch; min over the d
    // matched buckets is the estimate — same arithmetic as the aggregate
    "events_cms_topk" -> (s"WITH ${eventsSql},\n" +
      s"""sk AS (
         |  SELECT r.r,
         |         ${graft.oracle.Ora.fnv("CAST(ev.user_id AS VARCHAR) || ':' || r.r")}
         |           % $CmsWidth AS b,
         |         count(*) AS c
         |  FROM ev, (SELECT unnest(range($CmsDepth)) AS r) r
         |  GROUP BY r.r, b
         |),
         |exact AS (
         |  SELECT user_id, CAST(user_id AS VARCHAR) AS u, count(*) AS n_exact
         |  FROM ev GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT 10
         |)
         |SELECT e.user_id, e.n_exact, CAST(min(s.c) AS BIGINT) AS n_cms
         |FROM exact e JOIN sk s
         |  ON s.b = ${graft.oracle.Ora.fnv("e.u || ':' || s.r")} % $CmsWidth
         |GROUP BY e.user_id, e.n_exact
         |ORDER BY e.n_exact DESC, e.user_id""".stripMargin),

    "events_funnel" -> (s"WITH ${eventsSql},\n" +
      s"""evd AS (SELECT user_id, event_type, ts, ts // $DayUs AS day FROM ev),
         |v1 AS (SELECT user_id, day, min(ts) AS v_ts FROM evd
         |       WHERE event_type = 'view' GROUP BY user_id, day),
         |c1 AS (SELECT e.user_id, e.day, min(e.ts) AS c_ts
         |       FROM evd e JOIN v1 USING (user_id, day)
         |       WHERE e.event_type = 'click' AND e.ts >= v1.v_ts
         |       GROUP BY e.user_id, e.day),
         |p1 AS (SELECT e.user_id, e.day, min(e.ts) AS p_ts
         |       FROM evd e JOIN c1 USING (user_id, day)
         |       WHERE e.event_type = 'purchase' AND e.ts >= c1.c_ts
         |       GROUP BY e.user_id, e.day),
         |fv AS (SELECT day, count(*) AS n_viewed FROM v1 GROUP BY day),
         |fc AS (SELECT day, count(*) AS n_clicked FROM c1 GROUP BY day),
         |fp AS (SELECT day, count(*) AS n_purchased FROM p1 GROUP BY day)
         |SELECT fv.day, fv.n_viewed,
         |       CAST(coalesce(fc.n_clicked, 0) AS BIGINT) AS n_clicked,
         |       CAST(coalesce(fp.n_purchased, 0) AS BIGINT) AS n_purchased
         |FROM fv LEFT JOIN fc USING (day) LEFT JOIN fp USING (day)
         |ORDER BY fv.day""".stripMargin),

    "kv_op_counters_pivot" -> (s"WITH ${graft.oracle.Ora.kvLog}\n" +
      """SELECT
        |  CAST(sum(CASE WHEN op = 'get' THEN 1 ELSE 0 END) AS BIGINT) AS n_get,
        |  CAST(sum(CASE WHEN op = 'put' THEN 1 ELSE 0 END) AS BIGINT) AS n_put,
        |  CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete
        |FROM kv_log""".stripMargin),

    // same exact-integer stats, same double expression order as the Spark
    // side — the z-scores hash-match bit-for-bit
    "events_anomaly_day" -> (s"WITH ${eventsSql},\n" +
      s"""daily AS (
         |  SELECT event_type, ts // $DayUs AS day, count(*) AS n_events
         |  FROM ev GROUP BY 1, 2
         |),
         |st AS (
         |  SELECT event_type, count(*) AS nd,
         |         CAST(sum(n_events) AS BIGINT) AS s,
         |         CAST(sum(n_events * n_events) AS BIGINT) AS sq
         |  FROM daily GROUP BY 1
         |)
         |SELECT d.event_type, d.day, d.n_events,
         |       (d.n_events - s::DOUBLE / nd)
         |         / sqrt((sq::DOUBLE - s::DOUBLE * s / nd) / nd) AS z_score
         |FROM daily d JOIN st USING (event_type)
         |WHERE CAST(sq AS HUGEINT) * nd > CAST(s AS HUGEINT) * s
         |  AND abs((d.n_events - s::DOUBLE / nd)
         |        / sqrt((sq::DOUBLE - s::DOUBLE * s / nd) / nd)) >= $ZThreshold
         |ORDER BY d.event_type, d.day""".stripMargin),

    // exact-integer bin counts + one identical interpolation expression
    // — the sketch estimate itself hash-matches across engines
    "events_quantile_sketch" -> (s"WITH ${eventsSql},\n" +
      s"""hist AS (
         |  SELECT event_type,
         |         least(${QBins - 1}, CAST(floor(value / $QBinW) AS BIGINT)) AS bin,
         |         count(*) AS c
         |  FROM ev GROUP BY 1, 2
         |),
         |cum AS (
         |  SELECT event_type, bin, c,
         |         sum(c) OVER (PARTITION BY event_type ORDER BY bin
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(c) OVER (PARTITION BY event_type) AS n
         |  FROM hist
         |),
         |crossed AS (
         |  SELECT event_type, qq.q, bin, c, cum, n,
         |         row_number() OVER (PARTITION BY event_type, qq.q
         |           ORDER BY bin) AS rk
         |  FROM cum, (VALUES ${QProbes.map(q => s"(${q}::DOUBLE)").mkString(", ")}) qq(q)
         |  WHERE cum >= qq.q * n
         |)
         |SELECT event_type, q, CAST(n AS BIGINT) AS n,
         |       $QBinW * bin + $QBinW * (q * n - (cum - c)) / c AS est_value
         |FROM crossed WHERE rk = 1
         |ORDER BY event_type, q""".stripMargin),

    "events_selectivity_est" -> (s"WITH ${eventsSql},\n" +
      s"""hist AS (
         |  SELECT event_type,
         |         least(${QBins - 1}, CAST(floor(value / $QBinW) AS BIGINT)) AS bin,
         |         count(*) AS c
         |  FROM ev GROUP BY 1, 2
         |),
         |est AS (
         |  SELECT event_type, cc.cutoff,
         |         CAST(sum(CASE WHEN $QBinW * (bin + 1) <= cc.cutoff
         |                       THEN c ELSE 0 END) AS BIGINT) AS full_rows,
         |         sum(CASE WHEN $QBinW * bin < cc.cutoff
         |                   AND cc.cutoff < $QBinW * (bin + 1)
         |                  THEN CAST(c AS DOUBLE)
         |                       * ((cc.cutoff - $QBinW * bin) / $QBinW)
         |                  ELSE 0.0 END) AS frac_rows
         |  FROM hist,
         |       (VALUES ${SelCuts.map(x => s"(${x}::DOUBLE)").mkString(", ")}) cc(cutoff)
         |  GROUP BY 1, 2
         |),
         |exact AS (
         |  SELECT event_type, cc.cutoff, count(*) AS exact_rows
         |  FROM ev,
         |       (VALUES ${SelCuts.map(x => s"(${x}::DOUBLE)").mkString(", ")}) cc(cutoff)
         |  WHERE value < cc.cutoff GROUP BY 1, 2
         |)
         |SELECT e.event_type, e.cutoff,
         |       CAST(full_rows AS DOUBLE) + frac_rows AS est_rows,
         |       CAST(coalesce(x.exact_rows, 0) AS BIGINT) AS exact_rows
         |FROM est e LEFT JOIN exact x USING (event_type, cutoff)
         |ORDER BY e.event_type, e.cutoff""".stripMargin),

    // ->> extracts the JSON field as text; the BIGINT cast matches
    // Spark's get_json_object(...).cast("long")
    "events_props_stats" ->
      s"""WITH kx AS (
         |  SELECT event_type, CAST(props ->> 'k' AS BIGINT) AS k FROM events
         |)
         |SELECT event_type, count(*) AS n,
         |  CAST(sum(k) AS BIGINT) AS k_sum,
         |  min(k) AS k_min, max(k) AS k_max,
         |  count(DISTINCT k) AS k_distinct,
         |  CAST(sum(k) AS DOUBLE) / count(*) AS k_avg
         |FROM kx GROUP BY event_type ORDER BY event_type""".stripMargin,
  )

  /** Oracle builder for the join-cardinality estimator pair; `mixed`
    * interposes the mix32 finalizer (three integer stages, dedup re-run
    * on the mixed value to match the aggregate's internal distinct). */
  private def joinCardEstSql(mixed: Boolean): String = {
    def hashed(src: String, keyExpr: String): String = {
      val raw =
        s"SELECT DISTINCT ${graft.oracle.Ora.fnv(keyExpr)} AS h FROM $src"
      if (!mixed) raw
      else
        s"""SELECT DISTINCT xor(m2, m2 >> 16) AS h FROM (
           |  SELECT (xor(m1, m1 >> 16) * 73244475) % 4294967296 AS m2 FROM (
           |    SELECT (xor(h0, h0 >> 16) * 73244475) % 4294967296 AS m1
           |    FROM (SELECT DISTINCT ${graft.oracle.Ora.fnv(keyExpr)} AS h0
           |          FROM $src)))""".stripMargin
    }
    s"WITH $eventsSql,\n" +
      s"""ah AS (
         |  ${hashed("ev", "CAST(user_id AS VARCHAR)")}
         |),
         |bh AS (
         |  ${hashed("customer", "CAST(c_custkey AS VARCHAR)")}
         |),
         |am AS (
         |  SELECT list(h ORDER BY h) AS ma,
         |         CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 * 4294967296.0
         |                   / CAST((list(h ORDER BY h))[64] AS DOUBLE)
         |         END AS da
         |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ah)
         |  WHERE rn <= 64
         |),
         |bm AS (
         |  SELECT list(h ORDER BY h) AS mb,
         |         CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 * 4294967296.0
         |                   / CAST((list(h ORDER BY h))[64] AS DOUBLE)
         |         END AS db
         |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM bh)
         |  WHERE rn <= 64
         |),
         |counts AS (
         |  SELECT (SELECT count(*) FROM ev) AS rows_a,
         |         (SELECT count(*) FROM customer) AS rows_b,
         |         (SELECT count(*) FROM ev
         |          JOIN customer ON user_id = c_custkey) AS exact_join_rows
         |),
         |sk AS (
         |  SELECT ma, mb, da, db,
         |         list_sort(list_distinct(list_concat(ma, mb)))[1:64] AS mu
         |  FROM am, bm
         |),
         |est AS (
         |  SELECT da, db,
         |    CASE WHEN len(mu) < 64 THEN CAST(len(mu) AS DOUBLE)
         |         ELSE 63.0 * 4294967296.0 / CAST(mu[64] AS DOUBLE)
         |    END AS est_union,
         |    CAST(len(list_intersect(list_intersect(mu, ma), mb)) AS DOUBLE)
         |      / least(64, len(mu)) AS est_jaccard
         |  FROM sk
         |)
         |SELECT est_union, est_jaccard,
         |       est_union * est_jaccard AS est_overlap_keys, da, db,
         |       est_union * est_jaccard
         |         * (CAST(rows_a AS DOUBLE) / da)
         |         * (CAST(rows_b AS DOUBLE) / db) AS est_join_rows,
         |       CAST(exact_join_rows AS BIGINT) AS exact_join_rows
         |FROM est, counts""".stripMargin
  }

  private[events] val eventsSql =
    """ev AS (
      |  SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value
      |  FROM events
      |)""".stripMargin

  private val coreOracle: Map[String, String] = Map(
    "events_tumbling_agg" -> (s"WITH $eventsSql\n" +
      s"""SELECT (ts // $WindowUs) * $WindowUs AS window_start, event_type,
         |       count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM ev GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    "events_sliding_agg" -> (s"WITH $eventsSql,\n" +
      s"""expanded AS (
         |  SELECT ((ts // $SlideUs) - k.k) * $SlideUs AS window_start, value
         |  FROM ev, (SELECT unnest(range($SlideCopies)) AS k) k
         |)
         |SELECT window_start, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM expanded GROUP BY 1 ORDER BY window_start""".stripMargin),

    "events_sessionize" -> (s"WITH $eventsSql,\n" +
      s"""lagged AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev
         |),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > $SessionGapUs
         |                 THEN 1 ELSE 0 END AS new_session
         |  FROM lagged
         |),
         |sessions AS (
         |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM flagged
         |)
         |SELECT user_id, session_idx, count(*) AS n_events,
         |       min(ts) AS start_us, max(ts) - min(ts) AS duration_us
         |FROM sessions GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin),

    // rank-and-interpolate with Spark's exact operation order (Ora.pct):
    // quantile_cont's fused interpolation drifts 1 ulp at p90/p99 on
    // fixture-dependent group sizes (first seen at the 10× gate)
    "events_value_quantiles" -> (s"WITH $eventsSql,\n" +
      s"""rkd AS (
         |  -- NULL-skip guard to mirror Spark percentile's rank space
         |  -- (value is never NULL here; kept for scaffold uniformity).
         |  SELECT event_type, value,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY value) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n
         |  FROM ev WHERE value IS NOT NULL
         |)
         |SELECT event_type,
         |       ${graft.oracle.Ora.pct("value", "0.5")} AS p50,
         |       ${graft.oracle.Ora.pct("value", "0.9")} AS p90,
         |       ${graft.oracle.Ora.pct("value", "0.99")} AS p99
         |FROM rkd GROUP BY event_type, n ORDER BY event_type""".stripMargin),

    "events_window_kmv" -> (s"WITH $eventsSql,\n" +
      s"""h AS (
         |  SELECT DISTINCT ts // $DayUs AS day, event_type,
         |         ${graft.oracle.Ora.fnv("CAST(user_id AS VARCHAR)")} AS h
         |  FROM ev
         |),
         |ranked AS (
         |  SELECT day, event_type, h,
         |         row_number() OVER (PARTITION BY day, event_type ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY day, event_type) AS nd
         |  FROM h
         |),
         |kmv AS (
         |  SELECT day, event_type,
         |         CASE WHEN max(nd) < 32 THEN CAST(max(nd) AS DOUBLE)
         |              ELSE 31.0 * 4294967296.0 /
         |                   CAST(max(CASE WHEN rn = 32 THEN h END) AS DOUBLE)
         |         END AS kmv_users
         |  FROM ranked GROUP BY day, event_type
         |),
         |exact AS (
         |  SELECT ts // $DayUs AS day, event_type,
         |         count(DISTINCT user_id) AS exact_users FROM ev
         |  GROUP BY 1, 2
         |)
         |SELECT day, event_type, kmv_users, exact_users
         |FROM kmv JOIN exact USING (day, event_type)
         |ORDER BY day, event_type""".stripMargin),

    "events_kmv_users" -> (s"WITH $eventsSql,\n" +
      s"""h AS (
         |  SELECT DISTINCT event_type,
         |         ${graft.oracle.Ora.fnv("CAST(user_id AS VARCHAR)")} AS h
         |  FROM ev
         |),
         |ranked AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h
         |),
         |kmv AS (
         |  SELECT event_type,
         |         CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
         |              ELSE 63.0 * 4294967296.0 /
         |                   CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
         |         END AS kmv_users
         |  FROM ranked GROUP BY event_type
         |),
         |exact AS (
         |  SELECT event_type, count(DISTINCT user_id) AS exact_users FROM ev
         |  GROUP BY event_type
         |)
         |SELECT k.event_type, k.kmv_users, e.exact_users
         |FROM kmv k JOIN exact e USING (event_type)
         |ORDER BY k.event_type""".stripMargin),

    // deterministic register HLL: bucket/rank from fnv1a32, exact-integer
    // harmonic sum (Z27), one constant product and one division — the
    // same IEEE ops as the Spark side, so the estimate matches bit-exact.
    // format('{:b}', w) = binary digits ⇒ its length is bitlength(w).
    "events_approx_users" -> (s"WITH $eventsSql,\n" +
      s"""hu AS (
         |  SELECT DISTINCT event_type,
         |         ${graft.oracle.Ora.fnv("CAST(user_id AS VARCHAR)")} AS h
         |  FROM ev
         |),
         |rk AS (
         |  SELECT event_type, h % 64 AS bucket,
         |         CASE WHEN h // 64 = 0 THEN 27
         |              ELSE 27 - length(format('{:b}', h // 64)) END AS rank
         |  FROM hu
         |),
         |reg AS (
         |  SELECT event_type, bucket, max(rank) AS mr FROM rk GROUP BY 1, 2
         |),
         |est AS (
         |  SELECT event_type,
         |         sum(1::BIGINT << (27 - mr))::BIGINT
         |           + (64 - count(*)) * 134217728 AS z27,
         |         64 - count(*) AS v
         |  FROM reg GROUP BY event_type
         |),
         |raw AS (
         |  SELECT event_type, v,
         |         0.709::DOUBLE * 549755813888.0 / CAST(z27 AS DOUBLE) AS raw
         |  FROM est
         |),
         |exact AS (
         |  SELECT event_type, count(DISTINCT user_id) AS exact_users
         |  FROM ev GROUP BY event_type
         |)
         |SELECT e.event_type,
         |       CASE WHEN raw <= 160.0 AND v > 0
         |            THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
         |            ELSE raw END AS approx_users,
         |       x.exact_users
         |FROM raw e JOIN exact x USING (event_type)
         |ORDER BY event_type""".stripMargin),

    // rolling 7-day HLL merge: per-day registers, window union by
    // per-register max, then the identical exact-integer estimate path
    "events_hll_rolling" -> (s"WITH $eventsSql,\n" +
      s"""hu AS (
         |  SELECT DISTINCT ts // $DayUs AS day,
         |         ${graft.oracle.Ora.fnv("CAST(user_id AS VARCHAR)")} AS h
         |  FROM ev
         |),
         |rk AS (
         |  SELECT day, h % 64 AS bucket,
         |         CASE WHEN h // 64 = 0 THEN 27
         |              ELSE 27 - length(format('{:b}', h // 64)) END AS rank
         |  FROM hu
         |),
         |reg AS (
         |  SELECT day, bucket, max(rank) AS mr FROM rk GROUP BY 1, 2
         |),
         |days AS (SELECT DISTINCT day AS target_day FROM reg),
         |merged AS (
         |  SELECT d.target_day, r.bucket, max(r.mr) AS mr
         |  FROM reg r JOIN days d
         |    ON r.day BETWEEN d.target_day - 6 AND d.target_day
         |  GROUP BY 1, 2
         |),
         |est AS (
         |  SELECT target_day,
         |         sum(1::BIGINT << (27 - mr))::BIGINT
         |           + (64 - count(*)) * 134217728 AS z27,
         |         64 - count(*) AS v
         |  FROM merged GROUP BY target_day
         |),
         |raw AS (
         |  SELECT target_day, v,
         |         0.709::DOUBLE * 549755813888.0 / CAST(z27 AS DOUBLE) AS raw
         |  FROM est
         |),
         |exact AS (
         |  SELECT d.target_day, count(DISTINCT user_id) AS exact_users
         |  FROM (SELECT ts // $DayUs AS day, user_id FROM ev) e
         |  JOIN days d ON e.day BETWEEN d.target_day - 6 AND d.target_day
         |  GROUP BY 1
         |)
         |SELECT e.target_day,
         |       CASE WHEN raw <= 160.0 AND v > 0
         |            THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
         |            ELSE raw END AS approx_users,
         |       x.exact_users
         |FROM raw e JOIN exact x USING (target_day)
         |ORDER BY target_day""".stripMargin),

    "events_type_stats" -> (s"WITH $eventsSql\n" +
      """SELECT event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin),

    "events_attribution" -> (s"WITH $eventsSql,\n" +
      s"""clicks AS (
         |  SELECT user_id AS c_user, ts AS c_ts FROM ev
         |  WHERE event_type = 'click'
         |),
         |purchases AS (
         |  SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
         |  FROM ev WHERE event_type = 'purchase'
         |),
         |attributed AS (
         |  SELECT p.purchase_id, p.p_ts, p.value,
         |         max(c.c_ts) AS attrib_click_ts
         |  FROM purchases p LEFT JOIN clicks c
         |    ON p.user_id = c.c_user AND c.c_ts <= p.p_ts
         |    AND c.c_ts >= p.p_ts - ${SessionGapUs}
         |  GROUP BY 1, 2, 3
         |)
         |SELECT p_ts // $DayUs AS day,
         |  count(*) AS n_purchases,
         |  CAST(sum(CASE WHEN attrib_click_ts IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_attributed,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue_total,
         |  CAST(sum(CASE WHEN attrib_click_ts IS NOT NULL
         |    THEN CAST(value AS DECIMAL(18,2))
         |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |    AS revenue_attributed
         |FROM attributed GROUP BY 1 ORDER BY 1""".stripMargin),

    "events_kmv_overlap" -> (s"WITH $eventsSql,\n" +
      s"""dh AS (
         |  SELECT DISTINCT ts // $DayUs AS day,
         |         ${graft.oracle.Ora.fnv("CAST(user_id AS VARCHAR)")} AS h
         |  FROM ev
         |),
         |ranked AS (
         |  SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
         |  FROM dh
         |),
         |mins AS (
         |  SELECT day, list(h ORDER BY h) AS mins FROM ranked
         |  WHERE rn <= 32 GROUP BY day
         |),
         |pairs AS (
         |  SELECT a.day AS day_a, b.day AS day_b, a.mins AS ma, b.mins AS mb,
         |         list_sort(list_distinct(list_concat(a.mins, b.mins)))[1:32]
         |           AS mu
         |  FROM mins a JOIN mins b ON a.day < b.day
         |),
         |est AS (
         |  SELECT day_a, day_b,
         |    CASE WHEN len(mu) < 32 THEN CAST(len(mu) AS DOUBLE)
         |         ELSE 31 * 4294967296.0 / CAST(mu[32] AS DOUBLE)
         |    END AS est_union,
         |    CAST(len(list_intersect(list_intersect(mu, ma), mb)) AS DOUBLE)
         |      / least(32, len(mu)) AS est_jaccard
         |  FROM pairs
         |),
         |exact AS (
         |  SELECT a.day AS day_a, b.day AS day_b, count(*) AS exact_overlap
         |  FROM (SELECT DISTINCT ts // $DayUs AS day, user_id FROM ev) a
         |  JOIN (SELECT DISTINCT ts // $DayUs AS day, user_id FROM ev) b
         |    ON a.user_id = b.user_id AND a.day < b.day
         |  GROUP BY 1, 2
         |)
         |SELECT e.day_a, e.day_b, e.est_union, e.est_jaccard,
         |       e.est_union * e.est_jaccard AS est_overlap,
         |       CAST(coalesce(x.exact_overlap, 0) AS BIGINT) AS exact_overlap
         |FROM est e LEFT JOIN exact x USING (day_a, day_b)
         |ORDER BY e.day_a, e.day_b""".stripMargin),

    "events_join_card_est" -> joinCardEstSql(mixed = false),

    "events_join_card_est_mixed" -> joinCardEstSql(mixed = true),
  )

  // the map is declared in two halves to keep each initializer small;
  // the registry sees their union
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ moreQueries
  lazy val oracle: Map[String, String] = coreOracle ++ moreOracle
}
