package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort analytics over the events table: the acquisition-growth curve
  * and the full (cohort × age) retention matrix — the two views every
  * product dashboard derives from raw events, and the natural extension
  * of `events_retention`'s day-over-day number to the complete grid.
  *
  * Scale shape: both queries reduce the corpus FIRST — `first_seen` is a
  * user-sized aggregate (one shuffle on user_id, map-side combined) and
  * `activity` is the distinct (day, user) set — and all later joins and
  * windows run on those reduced tables. The cumulative window in the
  * growth curve is partition-less by definition (a global running sum),
  * but it runs over #days rows, not events; the retention matrix joins
  * activity⋈first_seen co-keyed on user_id, so the fact-sized join
  * reuses the aggregation's own hash partitioning.
  */
object CohortQueries extends graft.QueryModule {

  private def withDay(s: SparkSession, dir: String): DataFrame =
    EventsQueries.events(s, dir)
      .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))

  private val coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // acquisition curve: per day the active users, the NEW users (first
    // ever appearance), and the cumulative user count — all integers,
    // exact on both engines
    "events_new_users_curve" -> ((s, dir) => {
      val ev = withDay(s, dir)
      val firstSeen = ev.groupBy("user_id").agg(min("day").as("first_day"))
      val newPerDay = firstSeen.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("n_new"))
      val activePerDay = ev.groupBy("day")
        .agg(countDistinct("user_id").as("n_active"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      activePerDay.join(newPerDay, Seq("day"), "left")
        .select(col("day"), col("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_users", sum("n_new").over(w))
        .orderBy("day")
    }),

    // the full retention matrix: cohort = a user's first day, age = days
    // since; each cell is the cohort's active users at that age and the
    // retained fraction. retention_pct is ONE double division of two
    // exact longs — bit-identical on both engines.
    "events_cohort_retention" -> ((s, dir) => {
      val ev = withDay(s, dir)
      val firstSeen = ev.groupBy("user_id").agg(min("day").as("first_day"))
      val activity = ev.select("day", "user_id").distinct()
      val cohortSize = firstSeen.groupBy(col("first_day").as("cohort"))
        .agg(count(lit(1)).as("cohort_size"))
      activity.join(firstSeen, "user_id")
        .groupBy(col("first_day").as("cohort"),
          (col("day") - col("first_day")).as("age"))
        .agg(countDistinct("user_id").as("n_active"))
        .join(cohortSize, "cohort")
        .withColumn("retention_pct",
          col("n_active").cast("double") / col("cohort_size").cast("double"))
        .select("cohort", "age", "n_active", "cohort_size", "retention_pct")
        .orderBy("cohort", "age")
    }),

    // deterministic A/B readout: users split by user_id parity (the
    // assignment an experimentation system would persist — hash parity
    // is replayable, so a task retry or a re-run reproduces the same
    // arms), conversion = "user has ≥1 purchase event", compared with
    // the pooled two-proportion z statistic. The corpus folds to ONE
    // user-sized aggregate (shuffle on user_id, map-side combined) and
    // then to a single row; every input to the z formula is an exact
    // BIGINT count, and the double arithmetic (two divisions, one
    // sqrt — IEEE-exact on both engines) is sequenced identically in
    // the SQL twin, so even the test statistic hash-matches.
    "events_ab_conversion" -> ((s, dir) => {
      val perUser = EventsQueries.events(s, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
      val row = perUser.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      val pA = col("conv_a").cast("double") / col("n_a").cast("double")
      val pB = col("conv_b").cast("double") / col("n_b").cast("double")
      val pp = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      // degenerate variance (everyone or no one converts, pp∈{0,1})
      // → z undefined: NULL on both engines, never a divide-by-zero
      // (Spark runs ANSI and would throw; DuckDB would return NULL —
      // the CASE makes the two agree by construction)
      val se2 = pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a").cast("double") +
         lit(1.0) / col("n_b").cast("double"))
      row.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        pA.as("p_a"), pB.as("p_b"), (pB - pA).as("lift"),
        when(se2 > 0.0, (pB - pA) / sqrt(se2))
          .otherwise(lit(null).cast("double")).as("z"))
    }),

    // two-sample Kolmogorov–Smirnov on purchase VALUE between the arms:
    // does the treatment shift the whole spend distribution, not just
    // the conversion rate? ECDFs are built over unit-width value bins
    // ([[KsCrit05]] scaladoc) — one event-sized groupBy folds to a
    // ≤201-row histogram, the cumulative window runs on the histogram,
    // and D = max |F_a − F_b| is a 1-row reduce. Every count is BIGINT;
    // the two ECDF divisions are sequenced identically in the SQL twin,
    // so D and the √-based critical value hash-match.
    "events_ks_values" -> ((s, dir) =>
      ksFromBinned(EventsQueries.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(2L)).as("arm"),
          floor(col("value")).cast("long").as("vbin"))
        .groupBy("vbin")
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("a_n"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("b_n")))))

  private val moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DAU / WAU / stickiness per day: the engagement ratio every product
    // dashboard tracks. WAU(d) = distinct users over days [d-6, d] —
    // computed by fanning each DISTINCT (day, user) activity row out to
    // the ≤7 days it supports, then one distinct-count per target day.
    // The fan-out multiplies the USER-DAY table (already reduced from
    // events) by 7, never the event log; at 100 TB the activity table
    // is the day-sized reduction, so this stays a fixed small multiple
    // of the cheapest possible shape. Trailing windows shorter than 7
    // days (the series head) are emitted as-is with a day_span column
    // so the consumer can mask the ramp-in.
    "events_dau_stickiness" -> ((s, dir) => {
      val act = withDay(s, dir).select("day", "user_id").distinct()
        // feeds DAU, the fan-out, and the span count
        .transform(graft.Materialize(_))
      val dau = act.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val wau = act
        .select(col("user_id"), col("day"),
          explode(sequence(col("day"), col("day") + 6)).as("tday"))
        .join(act.select(col("day").as("tday")).distinct(), "tday")
        .groupBy(col("tday").as("day"))
        .agg(countDistinct("user_id").as("wau"))
      val span = act.select(col("day")).distinct()
        .select(col("day"), explode(sequence(col("day"), col("day") + 6))
          .as("tday"))
        .join(act.select(col("day").as("tday")).distinct(), "tday")
        .groupBy(col("tday").as("day"))
        .agg(count(lit(1)).as("day_span"))
      dau.join(wau, "day").join(span, "day")
        .select(col("day"), col("dau"), col("wau"), col("day_span"),
          (col("dau").cast("double") / col("wau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    }))

  /** The KS walk over any binned two-sample histogram (vbin, a_n, b_n) —
    * factored out so the boundary arithmetic is property-testable on
    * seeded random histograms ([[graft.events.StatsPropertySpec]]). */
  private[graft] def ksFromBinned(histIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // ≤#bins rows feed window + totals
    val hist = histIn.transform(graft.Materialize(_))
    val w = Window.orderBy("vbin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cdf = hist
      .withColumn("cum_a", sum("a_n").over(w))
      .withColumn("cum_b", sum("b_n").over(w))
      .crossJoin(broadcast(hist.agg(sum("a_n").as("n_a"),
        sum("b_n").as("n_b"))))
    cdf.select(col("n_a"), col("n_b"),
        abs(col("cum_a").cast("double") / col("n_a").cast("double") -
          col("cum_b").cast("double") / col("n_b").cast("double"))
          .as("gap"))
      .groupBy("n_a", "n_b").agg(max("gap").as("d_stat"))
      .select(col("n_a"), col("n_b"), col("d_stat"),
        (lit(KsCrit05) * sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))).as("d_crit"))
      .withColumn("rejected", col("d_stat") > col("d_crit"))
  }

  /** KS bin width = 1 value unit; the fixture's `value` sits in [0, ~200]
    * so ≤ ~201 bins. Binned ECDFs make the KS distance a histogram walk —
    * the only shape that survives 100 TB, where an exact KS would global-
    * sort every observation. (On binned data the statistic is exact for
    * the binned distributions; the bin width is the resolution contract.) */
  val KsCrit05 = 1.358 // c(α) for α = 0.05, two-sided large-sample

  private val coreOracle: Map[String, String] = Map(
    "events_new_users_curve" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""ed AS (SELECT ts // ${EventsQueries.DayUs} AS day, user_id FROM ev),
         |first_seen AS (
         |  SELECT user_id, min(day) AS first_day FROM ed GROUP BY user_id
         |),
         |new_per_day AS (
         |  SELECT first_day AS day, count(*) AS n_new
         |  FROM first_seen GROUP BY first_day
         |),
         |active_per_day AS (
         |  SELECT day, count(DISTINCT user_id) AS n_active
         |  FROM ed GROUP BY day
         |)
         |SELECT a.day, a.n_active,
         |       coalesce(n.n_new, 0)::BIGINT AS n_new,
         |       CAST(sum(coalesce(n.n_new, 0))
         |            OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING)
         |            AS BIGINT) AS cum_users
         |FROM active_per_day a LEFT JOIN new_per_day n ON a.day = n.day
         |ORDER BY a.day""".stripMargin),

    "events_cohort_retention" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""ed AS (SELECT ts // ${EventsQueries.DayUs} AS day, user_id FROM ev),
         |first_seen AS (
         |  SELECT user_id, min(day) AS first_day FROM ed GROUP BY user_id
         |),
         |cohort_size AS (
         |  SELECT first_day AS cohort, count(*) AS cohort_size
         |  FROM first_seen GROUP BY first_day
         |),
         |cells AS (
         |  SELECT f.first_day AS cohort, a.day - f.first_day AS age,
         |         count(DISTINCT a.user_id) AS n_active
         |  FROM (SELECT DISTINCT day, user_id FROM ed) a
         |  JOIN first_seen f ON a.user_id = f.user_id
         |  GROUP BY 1, 2
         |)
         |SELECT c.cohort, c.age, c.n_active, s.cohort_size,
         |       CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
         |         AS retention_pct
         |FROM cells c JOIN cohort_size s ON c.cohort = s.cohort
         |ORDER BY c.cohort, c.age""".stripMargin),

    "events_ab_conversion" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      """per_user AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv,
        |         user_id % 2 AS arm
        |  FROM ev GROUP BY user_id
        |),
        |counts AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM per_user
        |)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |    - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS lift,
  CASE WHEN (CAST(conv_a + conv_b AS DOUBLE)
        |             / CAST(n_a + n_b AS DOUBLE))
        |            * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |                     / CAST(n_a + n_b AS DOUBLE))
        |            * (1.0 / CAST(n_a AS DOUBLE)
        |               + 1.0 / CAST(n_b AS DOUBLE)) > 0.0
        |  THEN (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |         - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |       / sqrt((CAST(conv_a + conv_b AS DOUBLE)
        |               / CAST(n_a + n_b AS DOUBLE))
        |              * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |                       / CAST(n_a + n_b AS DOUBLE))
        |              * (1.0 / CAST(n_a AS DOUBLE)
        |                 + 1.0 / CAST(n_b AS DOUBLE)))
        |  ELSE NULL END AS z
        |FROM counts""".stripMargin),

    "events_ks_values" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""hist AS (
         |  SELECT CAST(floor(value) AS BIGINT) AS vbin,
         |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS a_n,
         |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS b_n
         |  FROM ev WHERE event_type = 'purchase' GROUP BY 1
         |),
         |tot AS (
         |  SELECT CAST(sum(a_n) AS BIGINT) AS n_a,
         |         CAST(sum(b_n) AS BIGINT) AS n_b
         |  FROM hist
         |),
         |cdf AS (
         |  SELECT CAST(sum(a_n) OVER w AS BIGINT) AS cum_a,
         |         CAST(sum(b_n) OVER w AS BIGINT) AS cum_b
         |  FROM hist
         |  WINDOW w AS (ORDER BY vbin ROWS UNBOUNDED PRECEDING)
         |),
         |d AS (
         |  SELECT n_a, n_b,
         |         max(abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |               - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
         |           AS d_stat
         |  FROM cdf, tot GROUP BY n_a, n_b
         |)
         |SELECT n_a, n_b, d_stat,
         |       $KsCrit05 * sqrt(CAST(n_a + n_b AS DOUBLE)
         |                        / CAST(n_a * n_b AS DOUBLE)) AS d_crit,
         |       d_stat > $KsCrit05 * sqrt(CAST(n_a + n_b AS DOUBLE)
         |                        / CAST(n_a * n_b AS DOUBLE)) AS rejected
         |FROM d""".stripMargin))

  private val moreOracle: Map[String, String] = Map(
    "events_dau_stickiness" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""ed AS (
         |  SELECT DISTINCT ts // ${EventsQueries.DayUs} AS day, user_id
         |  FROM ev
         |),
         |od AS (SELECT DISTINCT day FROM ed),
         |dau AS (
         |  SELECT day, count(DISTINCT user_id) AS dau FROM ed GROUP BY day
         |),
         |fan AS (
         |  SELECT e.user_id, e.day + x.x AS tday
         |  FROM ed e CROSS JOIN (SELECT unnest(range(7)) AS x) x
         |),
         |wau AS (
         |  SELECT f.tday AS day, count(DISTINCT f.user_id) AS wau
         |  FROM fan f JOIN od ON f.tday = od.day GROUP BY 1
         |),
         |span AS (
         |  SELECT s.tday AS day, count(*) AS day_span FROM (
         |    SELECT d.day + x.x AS tday
         |    FROM od d CROSS JOIN (SELECT unnest(range(7)) AS x) x
         |  ) s JOIN od ON s.tday = od.day GROUP BY 1
         |)
         |SELECT d.day, d.dau, w.wau, CAST(sp.day_span AS BIGINT) AS day_span,
         |       CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
         |FROM dau d JOIN wau w ON d.day = w.day
         |JOIN span sp ON d.day = sp.day
         |ORDER BY d.day""".stripMargin))

  // the map is declared in two halves to keep each initializer small;
  // the registry sees their union
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ moreQueries
  lazy val oracle: Map[String, String] = coreOracle ++ moreOracle
}
