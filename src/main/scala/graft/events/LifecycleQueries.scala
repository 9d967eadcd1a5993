package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-lifecycle operators over the event stream: telemetry
  * near-duplicate suppression, a right-censored Kaplan–Meier survival
  * curve, and Holt's linear-trend smoothing with an h-step forecast —
  * the dedup/retention/capacity trio a pipeline runs over its own
  * event feed.
  *
  * Scale shape: every query reduces the corpus FIRST. The dedup pass is
  * one shuffle on (user_id, event_type) — the same partitioning
  * sessionization already uses, so at 100 TB it rides the existing
  * user-hash exchange; survival reduces to one row per user then one
  * row per lifetime-day; Holt reduces to one row per day. All
  * post-reduction windows and folds run over #days-sized data.
  *
  * Oracle contract (see ORACLE.md): counts and day indexes stay in
  * exact BIGINT; the only doubles are single divisions of exact ints
  * and ordered left-folds (Spark `aggregate` over a sorted array vs
  * DuckDB `list_reduce` / recursive CTE executing the identical
  * operation sequence), so every float is bit-identical on both
  * engines.
  */
object LifecycleQueries extends graft.QueryModule {

  /** A repeat (user, type) event this close to its predecessor is a
    * retransmission, not a new signal — the batch form of
    * `dropDuplicatesWithinWatermark`'s dedup horizon. */
  val DedupWindowUs: Long = 10L * 60 * 1000000L // 10 minutes

  /** Kaplan–Meier event-of-interest: the user's first purchase at or
    * above this value. Chosen so ~46% of users convert at every fixture
    * SF — the rest are right-censored at their last-seen time, so the
    * censoring path carries real weight in the curve. */
  val ConvValueMin = 150.0

  /** Holt smoothing constants and the forecast horizon (days). Written
    * as the literals both engines parse — 0.2D / 0.2::DOUBLE land on
    * the same IEEE double. */
  val HoltAlpha = 0.2
  val HoltBeta = 0.1
  val HoltH = 7

  /** Bot triage: minimum events for a stable burstiness estimate, and
    * the review-queue size. */
  val MinBotEvents = 10
  val BotTopK = 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Near-duplicate suppression: an event is a dup when the SAME
    // (user, type) fired within DedupWindowUs before it — one lag per
    // partition, then a per-type ledger (total / dup / kept / rate).
    // The lag-based rule is deliberately non-recursive (each event
    // compares to its immediate predecessor, kept or not): it is the
    // one that needs only O(1) state per key in the streaming twin and
    // no debounce chain reconstruction on reprocessing.
    "events_window_dedup" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      EventsQueries.events(s, dir)
        .withColumn("gap", col("ts") - lag("ts", 1).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("gap").isNotNull &&
            col("gap") <= DedupWindowUs, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("n_kept", col("n_total") - col("n_dup"))
        .withColumn("dup_rate",
          col("n_dup").cast("double") / col("n_total"))
        .orderBy(col("event_type").asc_nulls_first)
    }),

    // Kaplan–Meier time-to-conversion with right-censoring: duration =
    // days from a user's first event to its first high-value purchase
    // (value ≥ ConvValueMin); users who never convert are CENSORED at
    // their last-seen day — they leave the risk set without counting as
    // conversions, which is exactly what a naive "conversion-lag
    // histogram" gets wrong. n_risk(d) = #users with duration ≥ d is
    // the suffix sum of (converted + censored) — exact BIGINT; the
    // survival curve is the ordered product Π_{d'≤d} (1 − conv/n_risk),
    // folded over the day-sorted factor array so Spark and DuckDB
    // execute the identical ((1·f₁)·f₂)·… chain. One corpus shuffle (by
    // user); the factor table is #days-sized, so the single-partition
    // window and the broadcast factor array stay trivial at any scale.
    "events_kaplan_meier" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
      val users = ev.groupBy("user_id")
        .agg(min("ts").as("first_ts"), max("ts").as("last_ts"),
          min(when(col("event_type") === "purchase" &&
            col("value") >= ConvValueMin, col("ts"))).as("conv_ts"))
      val byDay = users
        .withColumn("day", expr(
          s"(coalesce(conv_ts, last_ts) - first_ts) div ${EventsQueries.DayUs}"))
        .withColumn("cens", col("conv_ts").isNull)
        .groupBy("day")
        .agg(sum(when(!col("cens"), 1L).otherwise(0L)).as("n_converted"),
          sum(when(col("cens"), 1L).otherwise(0L)).as("n_censored"))
        // day-sized; feeds BOTH the factor-array fold and the final
        // projection — checkpoint so the corpus is scanned once
        .transform(graft.Materialize(_))
      val wSuffix = Window.orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val withRisk = byDay
        .withColumn("n_risk",
          sum(col("n_converted") + col("n_censored")).over(wSuffix))
        .withColumn("factor",
          lit(1.0) - col("n_converted").cast("double") / col("n_risk"))
      val fs = withRisk
        .agg(sort_array(collect_list(struct(col("day"), col("factor"))))
          .as("fs"))
      withRisk.crossJoin(broadcast(fs))
        .withColumn("survival",
          expr("aggregate(filter(fs, f -> f.day <= day), " +
            "CAST(1.0 AS DOUBLE), (acc, f) -> acc * f.factor)"))
        .select(col("day"), col("n_risk"), col("n_converted"),
          col("n_censored"), col("survival"))
        .orderBy("day")
    }),

    // Automation triage: rank users by inter-arrival burstiness
    // cv² = Var(gap)/mean(gap)² — a fixed-timer bot scores ≈0, a
    // Poisson-ish human ≈1, bursty sessions >1 — so the ASCENDING head
    // of the ranking is the review queue for "too regular to be human",
    // the behavioral-hygiene pass a training pipeline runs before
    // user-generated text enters the corpus. Gaps are exact integer
    // seconds; cv² is ONE division of exact BIGINTs ((g·Σg² − S₁²)/S₁²,
    // bounds ≈2^55 at sf0.1), so the ranking is bit-stable. One corpus
    // shuffle (lag by user) + a user-sized aggregate + TakeOrdered.
    "events_bot_suspects" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      EventsQueries.events(s, dir)
        .withColumn("gap_us", col("ts") - lag("ts", 1).over(w))
        .withColumn("gap_s", expr("gap_us div 1000000"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(col("gap_s")).as("n_gaps"),
          sum("gap_s").as("s1"),
          sum(col("gap_s") * col("gap_s")).as("s2"))
        .filter(col("n_events") >= MinBotEvents && col("s1") > 0L)
        .select(col("user_id"), col("n_events"), col("n_gaps"),
          (col("s1").cast("double") / col("n_gaps")).as("mean_gap_s"),
          ((col("n_gaps") * col("s2") - col("s1") * col("s1"))
            .cast("double") / (col("s1") * col("s1"))).as("gap_cv2"))
        .orderBy(col("gap_cv2"), col("user_id"))
        .limit(BotTopK)
    }),

    // Holt's linear-trend smoothing over the daily event-count series:
    // l₁ = x₁, b₁ = x₂ − x₁, then for t ≥ 2
    //   lₜ = α·xₜ + (1−α)(lₜ₋₁ + bₜ₋₁)
    //   bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
    // with fittedₜ = lₜ₋₁ + bₜ₋₁ (the one-step-ahead prediction) and a
    // 7-day forecast l_T + h·b_T appended. The recursion runs as ONE
    // `aggregate` fold over the day-sorted series collected to a single
    // row (#days elements — the corpus was already reduced to per-day
    // counts by the only corpus-sized shuffle); DuckDB replays the same
    // recursion as a recursive CTE with the identical expression tree,
    // so every level/trend double matches bit-for-bit. Gaps in the day
    // grid are treated as consecutive observations (index-based), the
    // standard practice for irregular telemetry series.
    "events_holt_linear" -> ((s, dir) => {
      val d = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
        .groupBy("day").agg(count(lit(1)).as("n"))
        // feeds the fold, the index join, and max-day
        .transform(graft.Materialize(_))
      val dIdx = d.withColumn("i",
        row_number().over(Window.orderBy("day")))
      val xs = d.agg(sort_array(collect_list(
        struct(col("day"), col("n").cast("double").as("x")))).as("xs"))
      // the fold: acc carries (i, l, b) plus the emitted per-step rows;
      // b' repeats the l' expression (lambdas bind no intermediates) —
      // identical bits, and the DuckDB CTE duplicates it the same way
      val folded = xs.select(expr(
        """aggregate(
          |  slice(xs, 2, size(xs) - 1),
          |  named_struct(
          |    'i', 1,
          |    'l', element_at(xs, 1).x,
          |    'b', element_at(xs, 2).x - element_at(xs, 1).x,
          |    'rows', array(named_struct(
          |      'i', 1,
          |      'l', element_at(xs, 1).x,
          |      'b', element_at(xs, 2).x - element_at(xs, 1).x,
          |      'fitted', CAST(NULL AS DOUBLE)))),
          |  (acc, e) -> named_struct(
          |    'i', acc.i + 1,
          |    'l', 0.2D * e.x + 0.8D * (acc.l + acc.b),
          |    'b', 0.1D * ((0.2D * e.x + 0.8D * (acc.l + acc.b)) - acc.l)
          |         + 0.9D * acc.b,
          |    'rows', concat(acc.rows, array(named_struct(
          |      'i', acc.i + 1,
          |      'l', 0.2D * e.x + 0.8D * (acc.l + acc.b),
          |      'b', 0.1D * ((0.2D * e.x + 0.8D * (acc.l + acc.b)) - acc.l)
          |           + 0.9D * acc.b,
          |      'fitted', acc.l + acc.b)))))""".stripMargin).as("st"))
        .transform(graft.Materialize(_)) // fit rows + final state share one fold
      val fitRows = folded
        .select(explode(col("st.rows")).as("r"))
        .select(col("r.i").as("i"), col("r.l").as("level"),
          col("r.b").as("trend"), col("r.fitted").as("fitted"))
      val fits = dIdx.join(broadcast(fitRows), "i")
        .select(col("day"), col("n").cast("double").as("x"),
          col("level"), col("trend"), col("fitted"))
      val maxd = d.agg(max("day").as("maxd"))
      val fc = folded
        .select(explode(sequence(lit(1), lit(HoltH))).as("h"),
          col("st.l").as("l"), col("st.b").as("b"))
        .crossJoin(broadcast(maxd))
        .select((col("maxd") + col("h")).as("day"),
          lit(null).cast("double").as("x"),
          lit(null).cast("double").as("level"),
          lit(null).cast("double").as("trend"),
          (col("l") + col("h").cast("double") * col("b")).as("fitted"))
      fits.unionAll(fc).orderBy("day")
    }))

  private val W = DedupWindowUs
  private val DayUs = EventsQueries.DayUs

  val oracle: Map[String, String] = Map(
    "events_window_dedup" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""lagged AS (
         |  SELECT event_type,
         |         ts - lag(ts) OVER (PARTITION BY user_id, event_type
         |                            ORDER BY ts, event_id) AS gap
         |  FROM ev
         |),
         |agg AS (
         |  SELECT event_type, count(*) AS n_total,
         |         CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= $W
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM lagged GROUP BY 1
         |)
         |SELECT event_type, n_total, n_dup, n_total - n_dup AS n_kept,
         |       CAST(n_dup AS DOUBLE) / n_total AS dup_rate
         |FROM agg ORDER BY event_type NULLS FIRST""".stripMargin),

    "events_bot_suspects" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""gaps AS (
         |  SELECT user_id,
         |         (ts - lag(ts) OVER (PARTITION BY user_id
         |                             ORDER BY ts, event_id)) // 1000000
         |           AS gap_s
         |  FROM ev
         |),
         |st AS (
         |  SELECT user_id, count(*) AS n_events,
         |         count(gap_s) AS n_gaps,
         |         CAST(sum(gap_s) AS BIGINT) AS s1,
         |         CAST(sum(gap_s * gap_s) AS BIGINT) AS s2
         |  FROM gaps GROUP BY 1
         |)
         |SELECT user_id, n_events, n_gaps,
         |       CAST(s1 AS DOUBLE) / n_gaps AS mean_gap_s,
         |       CAST(n_gaps * s2 - s1 * s1 AS DOUBLE) / (s1 * s1)
         |         AS gap_cv2
         |FROM st WHERE n_events >= $MinBotEvents AND s1 > 0
         |ORDER BY gap_cv2, user_id LIMIT $BotTopK""".stripMargin),

    "events_kaplan_meier" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""u AS (
         |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
         |         min(CASE WHEN event_type = 'purchase'
         |                   AND value >= $ConvValueMin::DOUBLE
         |                  THEN ts END) AS conv_ts
         |  FROM ev GROUP BY 1
         |),
         |lab AS (
         |  SELECT (coalesce(conv_ts, last_ts) - first_ts) // $DayUs AS day,
         |         CASE WHEN conv_ts IS NULL THEN 1 ELSE 0 END AS cens
         |  FROM u
         |),
         |byday AS (
         |  SELECT day,
         |         CAST(sum(1 - cens) AS BIGINT) AS n_converted,
         |         CAST(sum(cens) AS BIGINT) AS n_censored
         |  FROM lab GROUP BY 1
         |),
         |risk AS (
         |  SELECT *,
         |         CAST(sum(n_converted + n_censored) OVER
         |           (ORDER BY day ROWS BETWEEN CURRENT ROW AND
         |            UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
         |  FROM byday
         |),
         |f AS (
         |  SELECT *,
         |         1.0::DOUBLE - CAST(n_converted AS DOUBLE) / n_risk AS factor
         |  FROM risk
         |),
         |fs AS (
         |  SELECT list(struct_pack(day := day, factor := factor)
         |              ORDER BY day) AS fs
         |  FROM f
         |)
         |SELECT day, n_risk, n_converted, n_censored,
         |       list_reduce(
         |         list_prepend(1.0::DOUBLE,
         |           list_transform(list_filter(fs.fs, z -> z.day <= f.day),
         |                          z -> z.factor)),
         |         (a, b) -> a * b) AS survival
         |FROM f, fs ORDER BY day""".stripMargin),

    "events_holt_linear" -> (s"WITH RECURSIVE ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT ts // $DayUs AS day, count(*) AS n FROM ev GROUP BY 1
         |),
         |idx AS (
         |  SELECT day, CAST(n AS DOUBLE) AS x,
         |         row_number() OVER (ORDER BY day) AS i
         |  FROM d
         |),
         |holt(i, l, b, fitted) AS (
         |  SELECT 1,
         |         (SELECT x FROM idx WHERE i = 1),
         |         (SELECT x FROM idx WHERE i = 2)
         |           - (SELECT x FROM idx WHERE i = 1),
         |         CAST(NULL AS DOUBLE)
         |  UNION ALL
         |  SELECT h.i + 1,
         |         0.2::DOUBLE * n.x + 0.8::DOUBLE * (h.l + h.b),
         |         0.1::DOUBLE * ((0.2::DOUBLE * n.x
         |             + 0.8::DOUBLE * (h.l + h.b)) - h.l)
         |           + 0.9::DOUBLE * h.b,
         |         h.l + h.b
         |  FROM holt h JOIN idx n ON n.i = h.i + 1
         |)
         |SELECT idx.day, idx.x, h.l AS level, h.b AS trend, h.fitted
         |FROM holt h JOIN idx ON idx.i = h.i
         |UNION ALL
         |SELECT (SELECT max(day) FROM d) + fh.h,
         |       NULL, NULL, NULL,
         |       (SELECT l FROM holt ORDER BY i DESC LIMIT 1)
         |         + CAST(fh.h AS DOUBLE)
         |           * (SELECT b FROM holt ORDER BY i DESC LIMIT 1)
         |FROM (SELECT unnest(range(1, ${HoltH + 1})) AS h) fh
         |ORDER BY day""".stripMargin))
}
