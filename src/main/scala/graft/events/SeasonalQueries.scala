package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Holt–Winters additive triple smoothing over the daily event-count
  * series — level + trend + weekly seasonality, the full decomposition
  * forecaster for a telemetry feed whose weekday effect is real
  * (events_weekday_chi2 rejects uniformity on this fixture).
  *
  *   lₜ = α(xₜ − s⁽ʷ⁾) + (1−α)(lₜ₋₁ + bₜ₋₁)
  *   bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
  *   s⁽ʷ⁾ ← γ(xₜ − lₜ) + (1−γ)s⁽ʷ⁾          (w = calendar weekday of t)
  *
  * Init from the first two present weeks: l = mean(week₁),
  * b = (mean(week₂) − mean(week₁))/7, s⁽ʷ⁾ = x_w − mean(week₁); both
  * means divide EXACT integer count sums, so no summation-order hazard
  * exists. The recursion runs as one `aggregate` fold over the
  * day-sorted series (the corpus was already reduced to per-day counts
  * by its only corpus-sized shuffle); DuckDB replays it as a recursive
  * CTE. Both expression trees — including the 9 textual copies of the
  * lₜ expression that lambda/SQL scoping forces — are GENERATED from
  * the same Scala builders, so the duplication is provably identical
  * and every double matches bit-for-bit.
  *
  * Weekdays use the suite's (day + 3) % 7 calendar convention; day
  * gaps are treated as consecutive observations with their TRUE
  * weekday (index-based time, calendar-correct seasonality).
  */
object SeasonalQueries extends graft.QueryModule {

  val Alpha = "0.3"
  val Beta = "0.1"
  val Gamma = "0.2"
  val Period = 7
  val ForecastH = 7

  // ---- shared expression builders ---------------------------------------
  // `sw(acc, w)` = the seasonal slot for weekday w; `lNew/bNew/sNew` are
  // the update expressions. Each side passes its own field-access syntax.

  private def swOf(acc: String => String, w: String): String =
    s"(CASE $w" +
      (0 until Period).map(j => s" WHEN $j THEN ${acc(s"s$j")}").mkString +
      " END)"

  private def lNew(acc: String => String, x: String, w: String): String =
    s"(${Alpha}D2 * ($x - ${swOf(acc, w)}) + " +
      s"(1.0D2 - ${Alpha}D2) * (${acc("l")} + ${acc("b")}))"

  private def bNew(acc: String => String, x: String, w: String): String =
    s"(${Beta}D2 * (${lNew(acc, x, w)} - ${acc("l")}) + " +
      s"(1.0D2 - ${Beta}D2) * ${acc("b")})"

  private def sNew(acc: String => String, x: String, w: String,
      j: Int): String =
    s"(CASE WHEN $w = $j THEN ${Gamma}D2 * ($x - ${lNew(acc, x, w)}) " +
      s"+ (1.0D2 - ${Gamma}D2) * ${acc(s"s$j")} ELSE ${acc(s"s$j")} END)"

  private def fitted(acc: String => String, w: String): String =
    s"(${acc("l")} + ${acc("b")} + ${swOf(acc, w)})"

  /** Spark spells a double literal `0.3D`, DuckDB `0.3::DOUBLE`; the
    * builders emit the marker `D2` and each side rewrites it. */
  private def spark(e: String): String = e.replace("D2", "D")
  private def duck(e: String): String = e.replace("D2", "::DOUBLE")

  /** MAD fence for the residual anomaly query (3σ × the normal
    * consistency constant — same literal as events_mad_outliers). */
  val MadK = 4.4478

  /** The fit rows (day, x, level, trend, seasonal, fitted) plus the
    * final-state frame and day table — shared by the forecast query and
    * the residual-anomaly query. */
  private def hwFits(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
      val d = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
        .groupBy("day").agg(count(lit(1)).as("n"))
        // fold + index join + max-day share one scan
        .transform(graft.Materialize(_))
      val dIdx = d.withColumn("i",
        row_number().over(Window.orderBy("day")))
      val xs = d.agg(sort_array(collect_list(struct(col("day"),
        expr("pmod(day + 3, 7)").as("w"), col("n")))).as("xs"))
      def acc(f: String) = s"acc.$f"
      val week1 = (1 to Period)
        .map(i => s"element_at(xs, $i).n").mkString(" + ")
      val week2 = (Period + 1 to 2 * Period)
        .map(i => s"element_at(xs, $i).n").mkString(" + ")
      // a weekday absent from the init week (day gaps) gets seasonal slot
      // 0.0 — level-only prediction — instead of a NULL that would silently
      // null every downstream fit; a weekday seen twice takes the FIRST
      // occurrence (xs is day-sorted). Same defined behavior in the
      // streaming twin (HoltWintersStream) and the oracle CTE below.
      val sInit = (0 until Period).map { j =>
        s"'s$j', coalesce(CAST(element_at(filter(slice(xs, 1, $Period), " +
          s"p -> p.w = $j), 1).n AS DOUBLE) - m1, 0.0D)"
      }.mkString(", ")
      val step = spark(
        s"""named_struct(
           |  'l', ${lNew(acc, "CAST(e.n AS DOUBLE)", "e.w")},
           |  'b', ${bNew(acc, "CAST(e.n AS DOUBLE)", "e.w")},
           |  ${(0 until Period).map(j => s"'s$j', " +
                sNew(acc, "CAST(e.n AS DOUBLE)", "e.w", j))
                .mkString(",\n  ")},
           |  'rows', concat(acc.rows, array(named_struct(
           |    'day', e.day,
           |    'l', ${lNew(acc, "CAST(e.n AS DOUBLE)", "e.w")},
           |    'b', ${bNew(acc, "CAST(e.n AS DOUBLE)", "e.w")},
           |    'seas', ${swOf(acc, "e.w")},
           |    'fitted', ${fitted(acc, "e.w")}))))""".stripMargin)
      val foldExpr =
        s"""aggregate(
           |  slice(xs, ${Period + 1}, size(xs) - $Period),
           |  named_struct(
           |    'l', m1, 'b', (m2 - m1) / 7.0D, $sInit,
           |    'rows', CAST(array() AS ARRAY<STRUCT<day: BIGINT,
           |      l: DOUBLE, b: DOUBLE, seas: DOUBLE, fitted: DOUBLE>>)),
           |  (acc, e) -> $step)""".stripMargin
      val folded = xs
        .withColumn("m1", expr(s"CAST($week1 AS DOUBLE) / 7.0D"))
        .withColumn("m2", expr(s"CAST($week2 AS DOUBLE) / 7.0D"))
        .select(expr(foldExpr).as("st"))
        .transform(graft.Materialize(_)) // fit rows + final state share one fold
      val fitRows = folded
        .select(explode(col("st.rows")).as("r"))
        .select(col("r.day").as("day"), col("r.l").as("level"),
          col("r.b").as("trend"), col("r.seas").as("seasonal"),
          col("r.fitted").as("fitted"))
      val fits = dIdx.filter(col("i") > 2 * Period)
        .join(broadcast(fitRows), "day")
        .select(col("day"), col("n").cast("double").as("x"),
          col("level"), col("trend"), col("seasonal"), col("fitted"))
      (fits, folded, d)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_holt_winters" -> ((s, dir) => {
      val (fits, folded, d) = hwFits(s, dir)
      val maxd = d.agg(max("day").as("maxd"))
      val fc = folded
        .select(explode(sequence(lit(1), lit(ForecastH))).as("h"),
          col("st.*"))
        .crossJoin(broadcast(maxd))
        .withColumn("day", col("maxd") + col("h"))
        .withColumn("fitted", expr(spark(
          s"l + CAST(h AS DOUBLE) * b + " +
            swOf(identity, "CAST(pmod(day + 3, 7) AS INT)"))))
        .select(col("day"), lit(null).cast("double").as("x"),
          lit(null).cast("double").as("level"),
          lit(null).cast("double").as("trend"),
          lit(null).cast("double").as("seasonal"), col("fitted"))
      fits.unionAll(fc).orderBy("day")
    }),

    // seasonal anomaly: a day is anomalous when its count deviates from
    // the Holt–Winters one-step prediction beyond a MAD fence over the
    // residual series — the seasonality-aware upgrade of
    // events_mad_outliers (a normal Saturday dip no longer pages
    // anyone; a Saturday SPIKE now does). Residual medians interpolate
    // over sorted values; at p = 0.5 percentile ≡ quantile_cont
    // bit-exactly (frac·(vhi−vlo) = 0.5·Δ is exact, so the fused and
    // unfused interpolations round identically — NOT true of p90/p99
    // sites, which use Ora.pct), so the fence is bit-portable.
    "events_seasonal_anomaly" -> ((s, dir) => {
      val (fits, _, _) = hwFits(s, dir)
      val resid = fits
        .withColumn("resid", col("x") - col("fitted"))
        // day-sized; feeds the fence and the output
        .transform(graft.Materialize(_))
      val fence = resid.agg(
        expr("percentile(resid, 0.5)").as("med"))
      val withMed = resid.crossJoin(broadcast(fence))
      val mad = withMed
        .agg(expr("percentile(abs(resid - med), 0.5)").as("mad"))
      withMed.crossJoin(broadcast(mad))
        .select(col("day"), col("x"), col("fitted"), col("resid"),
          col("med"), col("mad"),
          (abs(col("resid") - col("med")) > lit(MadK) * col("mad"))
            .as("is_anomaly"))
        .orderBy("day")
    }))

  /** The recursive-CTE prefix (through the `hw` state table) shared by
    * both oracle statements. */
  private val hwCtePrefix: String = {
      def acc(f: String) = s"h.$f"
      val x = "CAST(n.n AS DOUBLE)"
      val w = "n.w"
      // ORDER BY i LIMIT 1: without it a duplicated weekday in the first
      // seven PRESENT days (day gaps) raises DuckDB's multi-row scalar-
      // subquery error while Spark's element_at takes the first match;
      // COALESCE(..., 0.0): a MISSING weekday defaults the slot to 0.0,
      // mirroring the Spark-side coalesce in hwFits.
      val sInitSql = (0 until Period).map { j =>
        s"COALESCE((SELECT x FROM idx WHERE i <= $Period AND w = $j " +
          s"ORDER BY i LIMIT 1) - init.m1, 0.0::DOUBLE)"
      }.mkString(",\n         ")
      val sCols = (0 until Period).map(j => s"s$j").mkString(", ")
      val stepS = (0 until Period)
        .map(j => duck(sNew(acc, x, w, j))).mkString(",\n         ")
      s"WITH RECURSIVE ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT ts // ${EventsQueries.DayUs} AS day, count(*) AS n
         |  FROM ev GROUP BY 1
         |),
         |idx AS (
         |  SELECT day, (day + 3) % 7 AS w, n, CAST(n AS DOUBLE) AS x,
         |         row_number() OVER (ORDER BY day) AS i
         |  FROM d
         |),
         |init AS (
         |  SELECT CAST((SELECT sum(n) FROM idx WHERE i <= $Period)
         |              AS DOUBLE) / 7.0::DOUBLE AS m1,
         |         CAST((SELECT sum(n) FROM idx
         |               WHERE i > $Period AND i <= ${2 * Period})
         |              AS DOUBLE) / 7.0::DOUBLE AS m2
         |),
         |hw(i, l, b, $sCols, day, xv, seas, fitted) AS (
         |  SELECT $Period, init.m1, (init.m2 - init.m1) / 7.0::DOUBLE,
         |         $sInitSql,
         |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
         |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         |  FROM init
         |  UNION ALL
         |  SELECT h.i + 1,
         |         ${duck(lNew(acc, x, w))},
         |         ${duck(bNew(acc, x, w))},
         |         $stepS,
         |         n.day, n.x,
         |         ${duck(swOf(acc, w))},
         |         ${duck(fitted(acc, w))}
         |  FROM hw h JOIN idx n ON n.i = h.i + 1
         |)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "events_holt_winters" -> (hwCtePrefix + "\n" +
      s"""SELECT day, xv AS x, l AS level, b AS trend, seas AS seasonal,
         |       fitted
         |FROM hw WHERE i > ${2 * Period}
         |UNION ALL
         |SELECT (SELECT max(day) FROM d) + fh.h, NULL, NULL, NULL, NULL,
         |       (SELECT l FROM hw ORDER BY i DESC LIMIT 1)
         |         + CAST(fh.h AS DOUBLE)
         |           * (SELECT b FROM hw ORDER BY i DESC LIMIT 1)
         |         + ${duck(swOf(
                f => s"(SELECT $f FROM hw ORDER BY i DESC LIMIT 1)",
                s"CAST(((SELECT max(day) FROM d) + fh.h + 3) % 7 AS INT)"))}
         |FROM (SELECT unnest(range(1, ${ForecastH + 1})) AS h) fh
         |ORDER BY day""".stripMargin),

    "events_seasonal_anomaly" -> (hwCtePrefix + ",\n" +
      s"""resid AS (
         |  SELECT day, xv AS x, fitted, xv - fitted AS resid
         |  FROM hw WHERE i > ${2 * Period}
         |),
         |fence AS (SELECT quantile_cont(resid, 0.5) AS med FROM resid),
         |mad AS (
         |  SELECT quantile_cont(abs(resid - fence.med), 0.5) AS mad
         |  FROM resid, fence
         |)
         |SELECT r.day, r.x, r.fitted, r.resid, fence.med, mad.mad,
         |       abs(r.resid - fence.med) > $MadK::DOUBLE * mad.mad
         |         AS is_anomaly
         |FROM resid r, fence, mad ORDER BY r.day""".stripMargin))
}
