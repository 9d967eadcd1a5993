package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-journey analytics over the events table: the first-order Markov
  * transition matrix of event types and RFM (recency / frequency /
  * monetary) user segmentation — the two classic "what do users do next"
  * and "which users matter" views a product pipeline derives from raw
  * events.
  *
  * Scale shape: both queries make exactly ONE fact-sized shuffle on
  * `user_id` — the per-user sequence window for Markov, the per-user
  * aggregate for RFM — and everything downstream is types²-sized
  * (transition cells) or user-sized (segment assignment, 4³ cells after
  * the final rollup). At 100 TB the user_id shuffle is the semantic
  * minimum for any per-user analysis; it is the same key sessionization
  * and retention already shuffle on, so in a multi-query pipeline the
  * exchange is reusable across all of them.
  */
object JourneyQueries extends graft.QueryModule {

  private def ev(s: SparkSession, dir: String): DataFrame =
    EventsQueries.events(s, dir)

  private val coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // First-order Markov chain over event types: P(next | prev) estimated
    // from every consecutive pair in each user's time-ordered stream.
    // (ts, event_id) is a total order per user — fixture ts has duplicate
    // values within a user, so the event_id tiebreak is what makes the
    // lead() deterministic and the two engines agree. The probability is
    // ONE double division of two exact longs (pair count / row total of
    // the prev row) — bit-identical on both engines.
    "events_markov_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = ev(s, dir)
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_pairs"))
      val wPrev = Window.partitionBy("prev_type")
      pairs
        .withColumn("p",
          col("n_pairs").cast("double") /
            sum("n_pairs").over(wPrev).cast("double"))
        .orderBy("prev_type", "next_type")
    }),

    // RFM segmentation: per user recency (days since last event,
    // relative to the corpus' last day), frequency (event count), and
    // monetary (exact DECIMAL sum of value — double summation is
    // order-dependent, so the decimal cast is what makes the two engines
    // agree), each cut into quartiles under a strict total order
    // (metric, then user_id — the tiebreak both engines resolve
    // identically). The quartile is ntile(4), but computed as
    // [[graft.Ranks.ntileFromRank]] over three two-stage
    // [[graft.Ranks.rowNumber]] ranks instead of three global
    // `ntile(4).over(Window.orderBy(...))` windows: a global ntile is a
    // SINGLE-partition sort of every user row — three one-task sorts of
    // 10⁹ users at 100 TB — while the two-stage rank range-partitions
    // each sort and stays parallel, bit-equal to the oracle's ntile by
    // the positional-bucket formula. Output is the 4x4x4 segment
    // rollup: cell sizes and the exact monetary mass per cell. The
    // global max day is a 1-row aggregate broadcast into the user-sized
    // table; the user total rides the first rank's materialization —
    // still no second fact-sized pass.
    "events_rfm_segments" -> ((s, dir) => {
      val e = ev(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      val perUser = e.groupBy("user_id").agg(
        max("day").as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).as("monetary"))
      val maxDay = perUser.agg(max("last_day").as("corpus_last_day"))
      val scored = perUser.crossJoin(broadcast(maxDay))
        .withColumn("recency", col("corpus_last_day") - col("last_day"))
      // the first rank's offset fold already knows the user total
      // exactly — no separate counting job, no broadcast join
      val (rRank, nUsers) = graft.Ranks.rowNumberAndCount(scored, "r_rank",
        col("recency").asc, col("user_id").asc)
      val ranked = graft.Ranks.rowNumber(
        graft.Ranks.rowNumber(rRank, "f_rank",
          col("frequency").desc, col("user_id").asc),
        "m_rank", col("monetary").desc, col("user_id").asc)
      ranked
        .withColumn("r_q",
          graft.Ranks.ntileFromRank(col("r_rank"), lit(nUsers), 4))
        .withColumn("f_q",
          graft.Ranks.ntileFromRank(col("f_rank"), lit(nUsers), 4))
        .withColumn("m_q",
          graft.Ranks.ntileFromRank(col("m_rank"), lit(nUsers), 4))
        .groupBy("r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_users"),
          sum("monetary").cast("double").as("total_monetary"))
        .orderBy("r_q", "f_q", "m_q")
    }),

    // Pareto / whale curve: what share of all events do the top p% of
    // users generate? Computed WITHOUT ranking users: the per-user
    // counts collapse to a count-value histogram first, so the ordered
    // cumulative runs over #distinct-count-values rows (tiny) instead of
    // a corpus-wide row_number over every user — the difference between
    // a histogram walk and a global sort at a billion users. Ties at the
    // p% boundary are sliced pro-rata by count value ((k − users_above)
    // × boundary count), which is exactly the top-k-by-(count, any
    // tiebreak) event mass — share depends only on the count value, so
    // the arbitrary tiebreak never surfaces. All integer arithmetic
    // until the one share division.
    "events_pareto_share" -> ((s, dir) =>
      paretoFromCounts(s,
        ev(s, dir).groupBy("user_id").agg(count(lit(1)).as("c")))),

    // Herfindahl concentration per event type: HHI = Σ_u n_{t,u}² / N_t²
    // — "is this event type driven by a few users?" in one exact number
    // (1/#users ⇒ perfectly spread, → 1 ⇒ one whale). The log-free
    // diversity index: effective_users = 1/HHI is the entropy-style
    // "equivalent uniform population" without ln()'s cross-engine
    // rounding problem. Everything is exact integer sums (Σn² ≤ N·max n
    // ≈ 2^40 at sf0.1) until one division; 1/HHI is a second division of
    // the same bit-equal double. Scale: one (type, user) reduction — the
    // same shuffle key the per-user family already uses — then a
    // types-sized aggregate.
    "events_type_concentration" -> ((s, dir) => {
      val perTU = ev(s, dir).groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
      perTU.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"),
          sum("n").as("total"),
          sum(col("n") * col("n")).as("sq"))
        .select(col("event_type"), col("n_users"), col("total"),
          (col("sq").cast("double") /
            (col("total") * col("total")).cast("double")).as("hhi"))
        .withColumn("effective_users", lit(1.0) / col("hhi"))
        .orderBy("event_type")
    }),

    // session-scoped funnel: view → click → purchase ordered WITHIN one
    // gap-based session (events_funnel's day buckets count a morning
    // view and an evening purchase as one conversion; the session cut
    // is the intent-preserving unit). Sessionization is the same
    // single-pass lag/run-length chain as events_sessionize — one
    // shuffle on user_id that every later stage re-uses co-keyed —
    // and the step tables are session-sized, not event-sized, before
    // any join. Final row: funnel counts + two exact-ratio rates.
    "events_session_funnel" -> ((s, dir) => sessionFunnelFrom(ev(s, dir))))

  /** The session-funnel core over any (user_id, event_id, ts, event_type)
    * frame — factored so random adversarial feeds can drive it
    * (StatsPropertySpec) against a direct driver-side computation. */
  private[graft] def sessionFunnelFrom(events: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      val sess = events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts") - col("prev_ts") > EventsQueries.SessionGapUs, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(wRun))
        .select("user_id", "session_idx", "event_type", "ts")
        .transform(graft.Materialize(_)) // feeds 4 step tables — sessionize ONCE
      val keys = Seq("user_id", "session_idx")
      val viewed = sess.filter(col("event_type") === "view")
        .groupBy(keys.head, keys.tail: _*).agg(min("ts").as("v_ts"))
      val clicked = sess.filter(col("event_type") === "click")
        .join(viewed, keys).filter(col("ts") >= col("v_ts"))
        .groupBy(keys.head, keys.tail: _*).agg(min("ts").as("c_ts"))
      val purchased = sess.filter(col("event_type") === "purchase")
        .join(clicked, keys).filter(col("ts") >= col("c_ts"))
        .groupBy(keys.head, keys.tail: _*).agg(count(lit(1)).as("one"))
      sess.agg(countDistinct(col("user_id"), col("session_idx"))
          .as("n_sessions"))
        .crossJoin(broadcast(viewed.agg(count(lit(1)).as("n_viewed"))))
        .crossJoin(broadcast(clicked.agg(count(lit(1)).as("n_clicked"))))
        .crossJoin(broadcast(purchased.agg(count(lit(1)).as("n_purchased"))))
        .select(col("n_sessions"), col("n_viewed"),
          col("n_clicked"), col("n_purchased"),
          // empty upstream steps → NULL rate on both engines (Spark
          // ANSI would throw on the bare division; DuckDB yields NULL)
          when(col("n_viewed") > 0,
            col("n_clicked").cast("double") / col("n_viewed").cast("double"))
            .otherwise(lit(null).cast("double")).as("view_to_click"),
          when(col("n_clicked") > 0,
            col("n_purchased").cast("double") /
              col("n_clicked").cast("double"))
            .otherwise(lit(null).cast("double")).as("click_to_purchase"))
  }

  private val moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // time-to-convert: the distribution of first-view → first-purchase
    // delay within a (user, day), in 10-minute buckets with the
    // cumulative conversion share — the latency face of the funnel
    // (the funnel says HOW MANY convert; this says HOW FAST, the number
    // an attribution window is calibrated against). Two user-day-sized
    // aggregates and a ≤#buckets histogram; the corpus is touched once
    // per step table, joins co-keyed on (user, day).
    "events_conversion_lag" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      val viewed = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "day").agg(min("ts").as("v_ts"))
      val lag = ev.filter(col("event_type") === "purchase")
        .join(viewed, Seq("user_id", "day"))
        .filter(col("ts") >= col("v_ts"))
        .groupBy("user_id", "day").agg(min("ts").as("p_ts"))
        .join(viewed, Seq("user_id", "day"))
        .select(expr(s"(p_ts - v_ts) div ${10L * 60 * 1000000L}")
          .as("lag_10min"))
      val hist = lag.groupBy("lag_10min").agg(count(lit(1)).as("n"))
        .transform(graft.Materialize(_)) // feeds the window and the total
      val w = Window.orderBy("lag_10min")
        .rowsBetween(Window.unboundedPreceding, 0)
      hist.withColumn("cum", sum("n").over(w))
        .crossJoin(broadcast(hist.agg(sum("n").as("tot"))))
        .select(col("lag_10min"), col("n"), col("cum"),
          (col("cum").cast("double") / col("tot")).as("cum_share"))
        .orderBy("lag_10min")
    }),
    // gap sessions via Spark's NATIVE session_window aggregation — the
    // compose-existing-ops twin of events_sessionize's hand-rolled
    // lag/run-length chain. One shuffle on user_id, merging done by the
    // session-window aggregate itself (and the same operator runs
    // unchanged under Structured Streaming with a watermark — the
    // flatMapGroupsWithState SessionStream exists for when per-session
    // CUSTOM state is needed; this is the right tool when it isn't).
    // Boundary semantics differ from the lag chain by one equality:
    // session_window closes at ts == prev + gap (strict merge-while-<),
    // the lag chain keeps it open — the oracle mirrors session_window's
    // `>=` cut, and the fixture contract (µs timestamps, 30-minute gap)
    // makes an exact-boundary event measure-zero either way.
    "events_session_native" -> ((s, dir) => {
      val gapUs = EventsQueries.SessionGapUs
      ev(s, dir)
        .groupBy(col("user_id"),
          session_window(timestamp_micros(col("ts")),
            s"${gapUs / 1000000L} seconds").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("start_us"),
          (max(col("ts")) - min(col("ts"))).as("duration_us"))
        .select("user_id", "n_events", "start_us", "duration_us")
        .orderBy("user_id", "start_us")
    }))

  /** The histogram-walk core of `events_pareto_share` over any
    * (user, c) count table — factored out so the tie-slicing boundary
    * arithmetic is property-testable on seeded random distributions
    * (the fixture's near-uniform counts barely exercise it). */
  private[graft] def paretoFromCounts(s: SparkSession,
      perUser: DataFrame): DataFrame = {
    import s.implicits._
    val hist = perUser.groupBy("c").agg(count(lit(1)).as("n_users"))
      .withColumn("events", col("c") * col("n_users"))
      .transform(graft.Materialize(_)) // feeds the totals and the cumulative walk
    val tot = hist.agg(sum("n_users").as("total_users"),
      sum("events").as("total_events"))
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum_users", sum("n_users").over(w))
      .withColumn("cum_events", sum("events").over(w))
    val pcts = Seq(1L, 5L, 10L, 25L, 50L).toDF("pct")
    val k = greatest(lit(1L), expr("(total_users * pct) div 100"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(pcts))
      .filter(col("cum_users") - col("n_users") < k && k <= col("cum_users"))
      .select(col("pct"), k.as("k_users"),
        (col("cum_events") - col("events") +
          (k - (col("cum_users") - col("n_users"))) * col("c"))
          .as("events_top"),
        col("total_events"))
      .withColumn("share",
        col("events_top").cast("double") / col("total_events").cast("double"))
      .drop("total_events")
      .orderBy("pct")
  }

  val oracle: Map[String, String] = Map(
    "events_markov_transitions" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      """seq AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS next_type
        |  FROM ev
        |),
        |pairs AS (
        |  SELECT event_type AS prev_type, next_type,
        |         count(*) AS n_pairs
        |  FROM seq WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type, n_pairs,
        |       CAST(n_pairs AS DOUBLE) /
        |       CAST(sum(n_pairs) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM pairs ORDER BY prev_type, next_type""".stripMargin),

    "events_rfm_segments" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""per_user AS (
         |  SELECT user_id,
         |         max(ts // ${EventsQueries.DayUs}) AS last_day,
         |         count(*) AS frequency,
         |         sum(CAST(value AS DECIMAL(18,2))) AS monetary
         |  FROM ev GROUP BY user_id
         |),
         |scored AS (
         |  SELECT user_id, frequency, monetary,
         |         (SELECT max(last_day) FROM per_user) - last_day AS recency
         |  FROM per_user
         |),
         |quartiled AS (
         |  SELECT
         |    ntile(4) OVER (ORDER BY recency ASC, user_id ASC) AS r_q,
         |    ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS f_q,
         |    ntile(4) OVER (ORDER BY monetary DESC, user_id ASC) AS m_q,
         |    monetary
         |  FROM scored
         |)
         |SELECT r_q, f_q, m_q, count(*) AS n_users,
         |       CAST(sum(monetary) AS DOUBLE) AS total_monetary
         |FROM quartiled GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin),

    "events_pareto_share" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      """per_user AS (SELECT user_id, count(*) AS c FROM ev GROUP BY 1),
        |hist AS (
        |  SELECT c, count(*) AS n_users,
        |         CAST(c * count(*) AS BIGINT) AS events
        |  FROM per_user GROUP BY c
        |),
        |tot AS (
        |  SELECT CAST(sum(n_users) AS BIGINT) AS total_users,
        |         CAST(sum(events) AS BIGINT) AS total_events
        |  FROM hist
        |),
        |cum AS (
        |  SELECT c, n_users, events,
        |         CAST(sum(n_users) OVER w AS BIGINT) AS cum_users,
        |         CAST(sum(events) OVER w AS BIGINT) AS cum_events
        |  FROM hist
        |  WINDOW w AS (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
        |),
        |pcts AS (SELECT unnest([1, 5, 10, 25, 50])::BIGINT AS pct),
        |cand AS (
        |  SELECT pct,
        |         greatest(1, (total_users * pct) // 100) AS k_users,
        |         cum_events - events +
        |           (greatest(1, (total_users * pct) // 100) -
        |            (cum_users - n_users)) * c AS events_top,
        |         total_events
        |  FROM cum, tot, pcts
        |  WHERE cum_users - n_users < greatest(1, (total_users * pct) // 100)
        |    AND greatest(1, (total_users * pct) // 100) <= cum_users
        |)
        |SELECT pct, k_users, events_top,
        |       CAST(events_top AS DOUBLE) / CAST(total_events AS DOUBLE)
        |         AS share
        |FROM cand ORDER BY pct""".stripMargin),

    "events_type_concentration" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      """tu AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM ev GROUP BY 1, 2
        |),
        |agg AS (
        |  SELECT event_type, count(*) AS n_users,
        |         CAST(sum(n) AS BIGINT) AS total,
        |         CAST(sum(n * n) AS BIGINT) AS sq
        |  FROM tu GROUP BY 1
        |)
        |SELECT event_type, n_users, total,
        |       CAST(sq AS DOUBLE) / CAST(total * total AS DOUBLE) AS hhi,
        |       1.0 / (CAST(sq AS DOUBLE) / CAST(total * total AS DOUBLE))
        |         AS effective_users
        |FROM agg ORDER BY event_type""".stripMargin),

    "events_session_funnel" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""lagged AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id
         |                          ORDER BY ts, event_id) AS prev_ts
         |  FROM ev
         |),
         |sess AS (
         |  SELECT user_id, event_type, ts,
         |         CAST(sum(CASE WHEN prev_ts IS NULL
         |                        OR ts - prev_ts > ${EventsQueries.SessionGapUs}
         |                       THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |           AS session_idx
         |  FROM lagged
         |),
         |v1 AS (
         |  SELECT user_id, session_idx, min(ts) AS v_ts FROM sess
         |  WHERE event_type = 'view' GROUP BY 1, 2
         |),
         |c1 AS (
         |  SELECT s.user_id, s.session_idx, min(s.ts) AS c_ts
         |  FROM sess s JOIN v1 USING (user_id, session_idx)
         |  WHERE s.event_type = 'click' AND s.ts >= v1.v_ts
         |  GROUP BY 1, 2
         |),
         |p1 AS (
         |  SELECT s.user_id, s.session_idx
         |  FROM sess s JOIN c1 USING (user_id, session_idx)
         |  WHERE s.event_type = 'purchase' AND s.ts >= c1.c_ts
         |  GROUP BY 1, 2
         |),
         |tot AS (
         |  SELECT count(*) AS n_sessions FROM
         |    (SELECT DISTINCT user_id, session_idx FROM sess)
         |)
         |SELECT tot.n_sessions,
         |  (SELECT count(*) FROM v1) AS n_viewed,
         |  (SELECT count(*) FROM c1) AS n_clicked,
         |  (SELECT count(*) FROM p1) AS n_purchased,
         |  CASE WHEN (SELECT count(*) FROM v1) > 0 THEN
         |    CAST((SELECT count(*) FROM c1) AS DOUBLE)
         |      / CAST((SELECT count(*) FROM v1) AS DOUBLE)
         |  ELSE NULL END AS view_to_click,
         |  CASE WHEN (SELECT count(*) FROM c1) > 0 THEN
         |    CAST((SELECT count(*) FROM p1) AS DOUBLE)
         |      / CAST((SELECT count(*) FROM c1) AS DOUBLE)
         |  ELSE NULL END AS click_to_purchase
         |FROM tot""".stripMargin),

    "events_conversion_lag" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""evd AS (
         |  SELECT user_id, event_type, ts, ts // ${EventsQueries.DayUs} AS day
         |  FROM ev
         |),
         |v1 AS (
         |  SELECT user_id, day, min(ts) AS v_ts FROM evd
         |  WHERE event_type = 'view' GROUP BY 1, 2
         |),
         |p1 AS (
         |  SELECT e.user_id, e.day, min(e.ts) AS p_ts
         |  FROM evd e JOIN v1 USING (user_id, day)
         |  WHERE e.event_type = 'purchase' AND e.ts >= v1.v_ts
         |  GROUP BY 1, 2
         |),
         |hist AS (
         |  SELECT (p.p_ts - v.v_ts) // ${10L * 60 * 1000000L} AS lag_10min,
         |         count(*) AS n
         |  FROM p1 p JOIN v1 v USING (user_id, day)
         |  GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM hist)
         |SELECT lag_10min, n,
         |       CAST(sum(n) OVER (ORDER BY lag_10min
         |                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |       CAST(sum(n) OVER (ORDER BY lag_10min
         |                         ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot
         |         AS cum_share
         |FROM hist, tot ORDER BY lag_10min""".stripMargin),

    // mirrors session_window's STRICT boundary: ts - prev >= gap closes
    "events_session_native" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""lagged AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id
         |                          ORDER BY ts, event_id) AS prev_ts
         |  FROM ev
         |),
         |sess AS (
         |  SELECT user_id, ts,
         |         CAST(sum(CASE WHEN prev_ts IS NULL
         |                        OR ts - prev_ts >= ${EventsQueries.SessionGapUs}
         |                       THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |           AS session_idx
         |  FROM lagged
         |)
         |SELECT user_id, count(*) AS n_events, min(ts) AS start_us,
         |       max(ts) - min(ts) AS duration_us
         |FROM sess GROUP BY user_id, session_idx
         |ORDER BY user_id, start_us""".stripMargin))

  // the map is declared in two halves to keep each initializer small;
  // the registry sees their union
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ moreQueries
}
