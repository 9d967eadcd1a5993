package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.Ora

/** Time-series diagnostics over the per-day event counts: CUSUM
  * mean-shift detection and an OLS trend fit with a one-step forecast —
  * the two monitors a pipeline runs over its own throughput series to
  * catch a broken upstream (level shift) or a capacity trend before it
  * becomes an incident.
  *
  * Scale shape: both queries reduce the corpus FIRST (one shuffle to
  * per-(type, day) counts, map-side combined); every window and join
  * afterwards runs over #days-sized tables. All statistics are built
  * from EXACT integer sums — counts, indexes, and their products stay in
  * BIGINT (bounds audited in comments) — so the doubles both engines
  * derive from them are bit-identical, the repo-wide oracle contract.
  */
object TrendQueries extends graft.QueryModule {

  /** CUSUM decision threshold, in units of the series' own σ. */
  val CusumH = 4.0

  /** Longest autocorrelation lag probed (covers a weekly cycle). */
  val MaxAcfLag = 7

  /** Scored origins in the rolling forecast backtest (the series tail). */
  val BacktestOrigins = 10L

  /** MAD outlier threshold: 3σ × 1.4826 (normal-consistency constant),
    * written as one literal so both engines parse identical bits. */
  val MadK = 4.4478

  /** Bootstrap replicas and the 95% CI order-statistic ranks (5th and
    * 196th of 200 sorted replica means ≈ the 2.5/97.5 percentiles). */
  val BootB = 200L
  val BootLoRank = 5L
  val BootHiRank = 196L

  /** Permutation-test replicas for the weekday-effect p-value. */
  val PermB = 100L

  private def daily(s: SparkSession, dir: String): DataFrame =
    EventsQueries.events(s, dir)
      .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))

  /** The ACF core over any (day, x) series — factored out so the
    * gap-handling lag pairing is property-testable on seeded random
    * series with holes (the fixture's day series is dense, so the
    * restricted-pair path would otherwise go unexercised). */
  private[graft] def acfFromDaily(dayCounts: DataFrame): DataFrame = {
    // stats + both sides of the lag join
    val d = dayCounts.transform(graft.Materialize(_))
    val st = d.agg(count(lit(1)).as("n"), sum("x").as("s1"),
      sum(col("x") * col("x")).as("s2"))
    val lagged = d
      .withColumn("lag", explode(sequence(lit(1L), lit(MaxAcfLag.toLong))))
      .withColumn("pair_day", col("day") + col("lag"))
    val paired = lagged.alias("a")
      .join(d.alias("b"), col("a.pair_day") === col("b.day"))
      .groupBy(col("a.lag").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.x") * col("b.x")).as("sxy"),
        sum(col("a.x")).as("sa"),
        sum(col("b.x")).as("sb"))
    paired.crossJoin(broadcast(st))
      .withColumn("num", col("n") * col("n") * col("sxy")
        - col("n") * col("s1") * (col("sa") + col("sb"))
        + col("n_pairs") * col("s1") * col("s1"))
      .withColumn("den",
        col("n") * col("n") * col("s2") - col("n") * col("s1") * col("s1"))
      .select(col("lag"), col("n_pairs"),
        (col("num").cast("double") / col("den").cast("double")).as("acf"))
      .orderBy("lag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CUSUM mean-shift: S⁺_t = max(0, S⁺_{t-1} + (x_t − μ)) via the
    // prefix-min identity S⁺_t = C_t − min(0, min_{s≤t} C_s) with
    // C_t = Σ(x − μ) — which turns the RECURSION into two plain windows.
    // μ is the per-type mean, so C_t is kept as the exact integer
    // numerator C_t·nd = cum_n·nd − idx·s (≤ days·Σn ≈ 2^31 at sf0.1 —
    // far inside BIGINT); running min/max over integers are exact, and
    // the final /nd division is the only double. A shift fires when the
    // drawup/drawdown exceeds CusumH·σ. Zero-allowance (k=0) CUSUM: the
    // pure level-shift detector; subtract an allowance from y to trade
    // sensitivity for run length.
    "events_cusum_shift" -> ((s, dir) => {
      // the day-sized reduction feeds BOTH the moment aggregate and the
      // window chain — checkpoint it so the corpus is scanned once, not
      // once per consumer (the reduced table is #days × #types rows)
      val d = daily(s, dir).transform(graft.Materialize(_))
      val st = d.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("n_events").as("s"),
          sum(col("n_events") * col("n_events")).as("sq"))
      val wOrd = Window.partitionBy("event_type").orderBy("day")
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
      val withCum = d.join(broadcast(st), "event_type")
        .withColumn("idx", row_number().over(wOrd))
        .withColumn("cum_n", sum("n_events").over(wCum))
        .withColumn("cum_num", col("cum_n") * col("nd") - col("idx") * col("s"))
      val sigma = sqrt((col("sq").cast("double") -
        col("s").cast("double") * col("s") / col("nd")) / col("nd"))
      withCum
        .withColumn("runmin", least(lit(0L), min("cum_num").over(wCum)))
        .withColumn("runmax", greatest(lit(0L), max("cum_num").over(wCum)))
        .select(col("event_type"), col("day"), col("n_events"),
          ((col("cum_num") - col("runmin")).cast("double") / col("nd"))
            .as("cusum_up"),
          ((col("runmax") - col("cum_num")).cast("double") / col("nd"))
            .as("cusum_down"),
          sigma.as("sigma"))
        .withColumn("is_shift",
          col("cusum_up") > lit(CusumH) * col("sigma") ||
            col("cusum_down") > lit(CusumH) * col("sigma"))
        .orderBy("event_type", "day")
    }),

    // per-type OLS n = a + b·t over present days (t = day − first day of
    // the type), plus fit quality and the one-step forecast. Every moment
    // (Σt, Σt², Σn, Σtn, Σn²) is an exact BIGINT (worst factor nd·Σtn ≈
    // 2^38 at sf0.1); slope/intercept/r² are fixed expressions over those
    // exact longs — slope² and the r² denominators cross 2^63 territory,
    // so THOSE products are taken in DOUBLE after the exact subtractions,
    // identically on both engines.
    "events_trend_forecast" -> ((s, dir) => {
      val d = daily(s, dir)
      val wType = Window.partitionBy("event_type")
      val withT = d
        .withColumn("t", col("day") - min("day").over(wType))
      val agg = withT.groupBy("event_type").agg(
        count(lit(1)).as("nd"),
        sum("t").as("st"),
        sum(col("t") * col("t")).as("stt"),
        sum("n_events").as("sn"),
        sum(col("t") * col("n_events")).as("stn"),
        sum(col("n_events") * col("n_events")).as("snn"),
        max("t").as("tmax"))
      val num = col("nd") * col("stn") - col("st") * col("sn")
      val den = col("nd") * col("stt") - col("st") * col("st")
      val dvar = col("nd") * col("snn") - col("sn") * col("sn")
      agg.filter(col("nd") >= 2 && den > 0)
        .withColumn("slope", num.cast("double") / den.cast("double"))
        .withColumn("intercept",
          (col("sn").cast("double") - col("slope") * col("st")) / col("nd"))
        .withColumn("r2",
          when(dvar === 0L, lit(1.0)).otherwise(
            num.cast("double") * num.cast("double") /
              (den.cast("double") * dvar.cast("double"))))
        .withColumn("forecast_next",
          col("intercept") + col("slope") * (col("tmax") + lit(1L)))
        .select("event_type", "nd", "slope", "intercept", "r2",
          "forecast_next")
        .withColumnRenamed("nd", "n_days")
        .orderBy("event_type")
    }),

    // rolling-origin backtest of the OLS forecaster: for each of the
    // last [[BacktestOrigins]] days, fit on everything UP TO that day
    // and score the one-step prediction against the next day's actual —
    // the out-of-sample error a forecast is trusted (or not) on, where
    // trend_forecast's r² is only in-sample. ALL per-origin moments are
    // prefix sums over ONE day-ordered window pass (no per-origin
    // refit scan — the series is touched once however many origins are
    // scored); moments are exact BIGINTs and each origin's
    // slope/intercept/error repeats trend_forecast's expression
    // sequence bit-for-bit. Errors are emitted per origin, never
    // summed — a cross-origin MAE would be an unordered double sum.
    "events_forecast_backtest" -> ((s, dir) => {
      val series = daily(s, dir).groupBy("day")
        .agg(sum("n_events").as("n")) // total daily series
      val wAll = Window.partitionBy()
      val wCum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val withT = series
        .withColumn("t", col("day") - min("day").over(wAll))
        .withColumn("total_days", count(lit(1)).over(wAll))
      val cum = withT
        .withColumn("nd", count(lit(1)).over(wCum))
        .withColumn("st", sum("t").over(wCum))
        .withColumn("stt", sum(col("t") * col("t")).over(wCum))
        .withColumn("sn", sum("n").over(wCum))
        .withColumn("stn", sum(col("t") * col("n")).over(wCum))
        .withColumn("next_t", lead(col("t"), 1).over(Window.orderBy("day")))
        .withColumn("next_n", lead(col("n"), 1).over(Window.orderBy("day")))
      val num = col("nd") * col("stn") - col("st") * col("sn")
      val den = col("nd") * col("stt") - col("st") * col("st")
      cum
        .filter(col("next_t").isNotNull && col("nd") >= 2 && den > 0 &&
          col("nd") > col("total_days") - BacktestOrigins - 1)
        .withColumn("slope", num.cast("double") / den.cast("double"))
        .withColumn("intercept",
          (col("sn").cast("double") - col("slope") * col("st")) / col("nd"))
        .withColumn("yhat",
          col("intercept") + col("slope") * col("next_t"))
        .select(col("day").as("origin_day"), col("nd").as("n_fit"),
          col("yhat"), col("next_n").as("actual"),
          abs(col("yhat") - col("next_n").cast("double")).as("abs_err"))
        .orderBy("origin_day")
    }),

    // lag-k autocorrelation (k = 1..MaxAcfLag) of the total daily count
    // series — the seasonality detector (a weekly cycle shows as a peak
    // at k=7). The estimator r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)² is
    // cleared of its mean-division by multiplying through by N²:
    //   A_k = N²·Σxy_k − N·S1·(Sa_k+Sb_k) + n_k·S1²
    //   B   = N²·S2 − N·S1²
    // — every term an exact BIGINT (worst at sf0.1: N²·Σxy ≈ 2^50), so
    // acf = A_k/B is ONE double division of two exact longs, bit-equal
    // across engines. Lag pairs come from an equi-join on day+k (the
    // lags are exploded onto the day-sized table first), never a range
    // scan; gaps in the day series pair only the days actually present
    // on both ends, which n_k records. Scale shape: one corpus shuffle
    // to per-day counts; everything after runs on #days × MaxAcfLag
    // rows.
    "events_acf_daily" -> ((s, dir) =>
      acfFromDaily(EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
        .groupBy("day").agg(count(lit(1)).as("x")))),

    // Bootstrap 95% CI for the mean daily event count — the error bar a
    // dashboard should put on its headline number. The resampling is
    // DETERMINISTIC (no RNG state anywhere): draw j of replica r picks
    // day position fnv1a32("b:r:j") mod n, so both engines rebuild the
    // identical 200 resamples and every replica mean is an exact integer
    // sum over picked days divided once. The CI bounds are order
    // statistics of the sorted replica means (ties broken by replica id)
    // — no interpolation, just element picks. Scale shape: the resample
    // table is B × #days rows built AFTER the corpus reduces to the
    // daily series — bootstrap cost is decoupled from corpus size, which
    // is the only way resampling survives 100 TB.
    "events_bootstrap_ci" -> ((s, dir) => {
      val d = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val idx = d
        .withColumn("i",
          (row_number().over(Window.orderBy("day")) - 1).cast("long"))
        // #days-sized; feeds stats and the pick join
        .transform(graft.Materialize(_))
      val st = idx.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val draws = s.range(BootB).select(col("id").as("r"))
        .crossJoin(broadcast(st))
        .withColumn("j", explode(sequence(lit(0L), col("n") - 1L)))
        .withColumn("pos", pmod(graft.hash.Fnv1a32.fnv1a32(
          concat_ws(":", lit("b"), col("r"), col("j"))), col("n")))
      val means = draws
        .join(idx.select("i", "x"), col("pos") === col("i"))
        .groupBy("r", "n").agg(sum("x").as("s"))
        .select(col("r"),
          (col("s").cast("double") / col("n").cast("double")).as("m"))
      val ranked = means.withColumn("rk",
        row_number().over(Window.orderBy(col("m"), col("r"))).cast("long"))
      val lo = ranked.filter(col("rk") === BootLoRank)
        .select(col("m").as("ci_lo"))
      val hi = ranked.filter(col("rk") === BootHiRank)
        .select(col("m").as("ci_hi"))
      st.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .select(col("n").as("n_days"), lit(BootB).as("b_replicas"),
          (col("sx").cast("double") / col("n").cast("double")).as("mean_obs"),
          col("ci_lo"), col("ci_hi"))
    }),

    // MAD-based robust outlier days per event type: median and median-
    // absolute-deviation are immune to the very outliers they hunt (the
    // σ in a z-score is inflated by its own anomaly; the MAD is not).
    // Exactness: daily counts are integers, so the interpolated median
    // is (a+b)/2 — exact in doubles — and every |x−med| is a multiple of
    // 0.5, so the deviation median is exact too; the threshold is one
    // multiply and one add of identical doubles on both engines. The
    // 4.4478 = 3σ × 1.4826 (the normal-consistency constant) is written
    // as the same literal on both sides. Scale shape: the corpus reduces
    // to #types × #days rows first; both medians are per-type aggregates
    // over ≤ #days values (exact Percentile state is days-sized, never
    // corpus-sized).
    "events_mad_outliers" -> ((s, dir) => {
      // feeds med, mad, and output
      val d = daily(s, dir).transform(graft.Materialize(_))
      val med = d.groupBy("event_type")
        .agg(median(col("n_events")).as("med"))
      val mad = d.join(broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(median(abs(col("n_events") - col("med"))).as("mad"))
      d.join(broadcast(mad), "event_type")
        .withColumn("is_outlier",
          col("n_events") > col("med") + lit(MadK) * col("mad") ||
            col("n_events") < col("med") - lit(MadK) * col("mad"))
        .select("event_type", "day", "n_events", "med", "mad", "is_outlier")
        .orderBy("event_type", "day")
    }),

    // χ² weekday-uniformity decomposition per event type: does traffic
    // rate actually vary by weekday, or is the weekday profile noise?
    // Expected count per weekday is proportional to how many days of
    // that weekday the corpus contains (E_w = N·d_w/D — a corpus that
    // ends mid-week must not fake a deficit on the missing weekdays).
    // The output stays PER WEEKDAY (obs, exp, χ² contribution) rather
    // than summing the 7 contributions into one statistic: each
    // contribution is one exact-integer-derived double (sub = O_w·D −
    // N·d_w is an exact BIGINT; the square is taken in double for
    // headroom, then one division), while a cross-row double sum would
    // be partition-order-dependent and break the bit-equality contract.
    // Consumers sum 7 ordered rows; the spec checks the summed statistic
    // against its driver-side replication.
    "events_weekday_chi2" -> ((s, dir) => {
      val d = daily(s, dir)
        .withColumn("weekday", pmod(col("day") + 3, lit(7L)))
        .transform(graft.Materialize(_)) // feeds per-weekday and per-type totals
      val byWd = d.groupBy("event_type", "weekday")
        .agg(count(lit(1)).as("d_w"), sum("n_events").as("obs"))
      val byType = d.groupBy("event_type")
        .agg(count(lit(1)).as("dd"), sum("n_events").as("nn"))
      val sub = col("obs") * col("dd") - col("nn") * col("d_w")
      byWd.join(broadcast(byType), "event_type")
        .select(col("event_type"), col("weekday"), col("d_w"), col("obs"),
          ((col("nn") * col("d_w")).cast("double") / col("dd").cast("double"))
            .as("expected"),
          (sub.cast("double") * sub.cast("double") /
            (col("d_w") * col("nn") * col("dd")).cast("double"))
            .as("chi2_part"))
        .orderBy("event_type", "weekday")
    }),

    // Exact permutation test for the weekday effect on the global daily
    // series: is the observed weekday χ² larger than chance? Each of
    // PermB replicas re-deals the days into the SAME weekday slot sizes
    // by ranking days on fnv1a32("p:r:day") — a deterministic
    // permutation both engines rebuild identically — then the test
    // statistic is recomputed per replica and the p-value is the exact
    // rank (1 + #{χ²_r ≥ χ²_obs}) / (B + 1). Every χ² is a FIXED-ORDER
    // seven-term fold (each term one cleared-denominator division over
    // exact BIGINTs, pivoted to columns p0..p6 and added left-to-right)
    // — never a cross-row double sum, so the doubles compare bit-equal.
    // Scale shape: the permutation table is B × #days rows built AFTER
    // the corpus reduces to the daily series (like the bootstrap), with
    // the per-replica rank window partitioned by replica.
    "events_weekday_permtest" -> ((s, dir) => {
      val d0 = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
        .groupBy("day").agg(count(lit(1)).as("x"))
        .withColumn("wd", pmod(col("day") + 3, lit(7L)))
        // slots, totals, observed, and every replica
        .transform(graft.Materialize(_))
      val st = d0.agg(count(lit(1)).as("dd"), sum("x").as("nn"))
      val wSlot = Window.orderBy("wd").rowsBetween(Window.unboundedPreceding, 0)
      val slots = d0.groupBy("wd").agg(count(lit(1)).as("d_w"))
        .withColumn("hi", sum("d_w").over(wSlot))
        .withColumn("lo", col("hi") - col("d_w"))
      def chi2Of(obsByWd: DataFrame): DataFrame = {
        // obsByWd: (r, wd, d_w, obs) → (r, chi2) via a fixed-order fold
        val sub = col("obs") * col("dd") - col("nn") * col("d_w")
        val parts = obsByWd.crossJoin(broadcast(st))
          .withColumn("part", sub.cast("double") * sub.cast("double") /
            (col("d_w") * col("nn") * col("dd")).cast("double"))
        val aggCols = (0L to 6L).map(w =>
          coalesce(sum(when(col("wd") === w, col("part"))), lit(0.0))
            .as(s"p$w"))
        val pivoted = parts.groupBy("r").agg(aggCols.head, aggCols.tail: _*)
        pivoted.select(col("r"),
          (0L to 6L).map(w => col(s"p$w")).reduce(_ + _).as("chi2"))
      }
      val observed = chi2Of(
        d0.groupBy("wd").agg(count(lit(1)).as("d_w"), sum("x").as("obs"))
          .withColumn("r", lit(-1L)))
        .select(col("chi2").as("chi2_obs"))
      val reps = s.range(PermB).select(col("id").as("r"))
      val positioned = reps.crossJoin(d0.select("day", "x"))
        .withColumn("pos",
          (row_number().over(Window.partitionBy("r").orderBy(
            graft.hash.Fnv1a32.fnv1a32(
              concat_ws(":", lit("p"), col("r"), col("day"))),
            col("day"))) - 1).cast("long"))
      val permuted = positioned
        .join(broadcast(slots),
          col("pos") >= col("lo") && col("pos") < col("hi"))
        .groupBy("r", "wd", "d_w").agg(sum("x").as("obs"))
      chi2Of(permuted).crossJoin(broadcast(observed))
        .agg(count(lit(1)).as("b_replicas"),
          sum(when(col("chi2") >= col("chi2_obs"), 1L).otherwise(0L))
            .as("n_ge"),
          max("chi2_obs").as("chi2_obs"))
        .select(col("chi2_obs"), col("b_replicas"), col("n_ge"),
          ((col("n_ge") + 1L).cast("double") /
            (col("b_replicas") + 1L).cast("double")).as("p_value"))
    }),

    // Mann-Kendall trend test per type — the nonparametric companion to
    // the OLS fit: S = Σ_{i<j} sign(x_j − x_i) over the day-ordered
    // counts is immune to outliers and monotone transforms, and its
    // tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    // / 18 makes z an honest test statistic. Everything up to the /18 is
    // exact BIGINT; z adds one sqrt (IEEE correctly-rounded) and one
    // division, identical on both engines. Scale shape: the corpus
    // reduces to #days×#types first; the pair self-join is #days²-sized
    // per type (~66k rows at a year of days) and NEVER corpus-sized —
    // the whole point of reducing before the quadratic step.
    "events_trend_mannkendall" -> ((s, dir) => {
      val d = daily(s, dir).transform(graft.Materialize(_)) // pairs ×2 + ties + n
      val pairs = d.alias("a")
        .join(d.alias("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(when(col("b.n_events") > col("a.n_events"), 1L)
          .when(col("b.n_events") < col("a.n_events"), -1L)
          .otherwise(0L)).as("s_stat"))
      val ties = d.groupBy("event_type", "n_events")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
            .as("tie_term"))
      val n = d.groupBy("event_type").agg(count(lit(1)).as("nd"))
      val varNum = col("nd") * (col("nd") - 1L) *
        (lit(2L) * col("nd") + 5L) - col("tie_term")
      pairs.join(broadcast(ties), "event_type")
        .join(broadcast(n), "event_type")
        .withColumn("var_s", varNum.cast("double") / lit(18.0))
        .withColumn("z",
          when(col("s_stat") > 0L,
            (col("s_stat") - lit(1L)).cast("double") / sqrt(col("var_s")))
            .when(col("s_stat") < 0L,
              (col("s_stat") + lit(1L)).cast("double") / sqrt(col("var_s")))
            .otherwise(lit(0.0)))
        .select(col("event_type"), col("nd").as("n_days"), col("s_stat"),
          col("var_s"), col("z"),
          (abs(col("z")) > lit(1.96)).as("has_trend"))
        .orderBy("event_type")
    }),

    // Theil–Sen robust trend per type — the MAGNITUDE companion to
    // Mann-Kendall's direction test: slope = median of all pairwise
    // slopes (each one exact-int difference ratio → a single IEEE
    // division), intercept = median of per-point residuals n − b̂·day.
    // Medians interpolate over SORTED values (percentile ≡
    // quantile_cont AT p=0.5: 0.5·Δ is exact, so fused vs unfused
    // interpolation rounds identically — non-half fractions use
    // Ora.pct), so no summation-order hazard exists anywhere. Up to
    // ~29% of the points
    // can be arbitrarily corrupted before the estimate moves — the
    // throughput-trend fit a pipeline can trust through incident days
    // that wreck OLS. Same #days²-per-type pair shape as Mann-Kendall:
    // the corpus reduces to per-day counts FIRST; pairs are day-sized².
    "events_theilsen_trend" -> ((s, dir) => {
      // pairs ×2 + residuals + max
      val d = daily(s, dir).transform(graft.Materialize(_))
      val slopes = d.alias("a")
        .join(d.alias("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .select(col("a.event_type").as("event_type"),
          ((col("b.n_events") - col("a.n_events")).cast("double") /
            (col("b.day") - col("a.day"))).as("sl"))
        .groupBy("event_type")
        .agg(expr("percentile(sl, 0.5)").as("slope"),
          count(lit(1)).as("n_pairs"))
      val fit = d.join(broadcast(slopes), "event_type")
        .withColumn("resid",
          col("n_events").cast("double") - col("slope") * col("day"))
        .groupBy("event_type")
        .agg(max("slope").as("slope"), max("n_pairs").as("n_pairs"),
          count(lit(1)).as("n_days"), max("day").as("max_day"),
          expr("percentile(resid, 0.5)").as("intercept"))
      fit.select(col("event_type"), col("n_days"), col("n_pairs"),
          col("slope"), col("intercept"),
          (col("slope") * (col("max_day") + 1L) + col("intercept"))
            .as("forecast_next"))
        .orderBy("event_type")
    }),

    // distribution-free 95% CI for the median of event VALUE per type,
    // via binomial order statistics: the interval [x₍ₗₒ₎, x₍ₕᵢ₎] with
    // lo = max(1, ⌊(n − 1.96√n)/2⌋), hi = min(n, ⌈(n + 1.96√n)/2⌉ + 1)
    // covers the true median at ≥95% for ANY distribution — no
    // normality assumption, no bootstrap replicas. The rank bounds are
    // fixed-order double expressions floored to exact BIGINTs; the
    // bound VALUES are exact rank selections (row_number, not
    // interpolation), so everything hash-matches. One shuffle to rank
    // per type; the aggregate is type-sized.
    "events_median_ci" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
      val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val zr = sqrt(col("n").cast("double")) * lit(1.96)
      val ranks = counts
        .withColumn("lo_rank", greatest(lit(1L),
          floor((col("n").cast("double") - zr) / lit(2.0))))
        .withColumn("hi_rank", least(col("n"),
          ceil((col("n").cast("double") + zr) / lit(2.0)) + lit(1L)))
      val w = Window.partitionBy("event_type")
        .orderBy("value", "event_id")
      ev.withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(ranks), "event_type")
        .groupBy("event_type")
        .agg(max("n").as("n"),
          expr("percentile(value, 0.5)").as("median"),
          max(when(col("rk") === col("lo_rank"), col("value")))
            .as("ci_lo"),
          max(when(col("rk") === col("hi_rank"), col("value")))
            .as("ci_hi"))
        .orderBy("event_type")
    }))

  val oracle: Map[String, String] = Map(
    "events_cusum_shift" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT event_type, ts // ${EventsQueries.DayUs} AS day,
         |         count(*) AS n_events
         |  FROM ev GROUP BY 1, 2
         |),
         |st AS (
         |  SELECT event_type, count(*) AS nd,
         |         CAST(sum(n_events) AS BIGINT) AS s,
         |         CAST(sum(n_events * n_events) AS BIGINT) AS sq
         |  FROM d GROUP BY 1
         |),
         |cum AS (
         |  SELECT d.event_type, d.day, d.n_events, st.nd, st.s, st.sq,
         |         CAST(sum(n_events) OVER w AS BIGINT) * st.nd
         |           - (row_number() OVER w) * st.s AS cum_num
         |  FROM d JOIN st USING (event_type)
         |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
         |               ROWS UNBOUNDED PRECEDING)
         |),
         |runs AS (
         |  SELECT *,
         |         least(0, min(cum_num) OVER w) AS runmin,
         |         greatest(0, max(cum_num) OVER w) AS runmax,
         |         sqrt((sq::DOUBLE - s::DOUBLE * s / nd) / nd) AS sigma
         |  FROM cum
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day
         |               ROWS UNBOUNDED PRECEDING)
         |)
         |SELECT event_type, day, n_events,
         |       (cum_num - runmin)::DOUBLE / nd AS cusum_up,
         |       (runmax - cum_num)::DOUBLE / nd AS cusum_down,
         |       sigma,
         |       ((cum_num - runmin)::DOUBLE / nd > $CusumH * sigma OR
         |        (runmax - cum_num)::DOUBLE / nd > $CusumH * sigma) AS is_shift
         |FROM runs
         |ORDER BY event_type, day""".stripMargin),

    "events_trend_forecast" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT event_type, ts // ${EventsQueries.DayUs} AS day,
         |         count(*) AS n_events
         |  FROM ev GROUP BY 1, 2
         |),
         |wt AS (
         |  SELECT event_type, n_events,
         |         day - min(day) OVER (PARTITION BY event_type) AS t
         |  FROM d
         |),
         |a AS (
         |  SELECT event_type, count(*) AS nd,
         |         CAST(sum(t) AS BIGINT) AS st,
         |         CAST(sum(t * t) AS BIGINT) AS stt,
         |         CAST(sum(n_events) AS BIGINT) AS sn,
         |         CAST(sum(t * n_events) AS BIGINT) AS stn,
         |         CAST(sum(n_events * n_events) AS BIGINT) AS snn,
         |         max(t) AS tmax
         |  FROM wt GROUP BY 1
         |),
         |f AS (
         |  SELECT event_type, nd,
         |         nd * stn - st * sn AS num,
         |         nd * stt - st * st AS den,
         |         nd * snn - sn * sn AS dvar,
         |         sn, st, tmax
         |  FROM a WHERE nd >= 2 AND nd * stt - st * st > 0
         |),
         |fit AS (
         |  SELECT event_type, nd, sn, st, tmax, num, den, dvar,
         |         num::DOUBLE / den::DOUBLE AS slope
         |  FROM f
         |),
         |fin AS (
         |  SELECT event_type, nd, slope,
         |         (sn::DOUBLE - slope * st) / nd AS intercept,
         |         CASE WHEN dvar = 0 THEN 1.0
         |              ELSE num::DOUBLE * num::DOUBLE
         |                   / (den::DOUBLE * dvar::DOUBLE) END AS r2,
         |         tmax
         |  FROM fit
         |)
         |SELECT event_type, nd AS n_days, slope, intercept, r2,
         |       intercept + slope * (tmax + 1) AS forecast_next
         |FROM fin ORDER BY event_type""".stripMargin),

    "events_forecast_backtest" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""series AS (
         |  SELECT ts // ${EventsQueries.DayUs} AS day,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM ev GROUP BY 1
         |),
         |wt AS (
         |  SELECT day, n,
         |         day - min(day) OVER () AS t,
         |         count(*) OVER () AS total_days
         |  FROM series
         |),
         |cum AS (
         |  SELECT day, n, t, total_days,
         |         CAST(count(*) OVER w AS BIGINT) AS nd,
         |         CAST(sum(t) OVER w AS BIGINT) AS st,
         |         CAST(sum(t * t) OVER w AS BIGINT) AS stt,
         |         CAST(sum(n) OVER w AS BIGINT) AS sn,
         |         CAST(sum(t * n) OVER w AS BIGINT) AS stn,
         |         lead(t) OVER (ORDER BY day) AS next_t,
         |         lead(n) OVER (ORDER BY day) AS next_n
         |  FROM wt
         |  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |),
         |fit AS (
         |  SELECT day, nd, sn, st, next_t, next_n,
         |         (nd * stn - st * sn)::DOUBLE
         |           / (nd * stt - st * st)::DOUBLE AS slope
         |  FROM cum
         |  WHERE next_t IS NOT NULL AND nd >= 2
         |    AND nd * stt - st * st > 0
         |    AND nd > total_days - ${BacktestOrigins} - 1
         |)
         |SELECT day AS origin_day, nd AS n_fit,
         |       (sn::DOUBLE - slope * st) / nd + slope * next_t AS yhat,
         |       next_n AS actual,
         |       abs((sn::DOUBLE - slope * st) / nd + slope * next_t
         |           - next_n::DOUBLE) AS abs_err
         |FROM fit ORDER BY origin_day""".stripMargin),

    "events_acf_daily" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT ts // ${EventsQueries.DayUs} AS day, count(*) AS x
         |  FROM ev GROUP BY 1
         |),
         |st AS (
         |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
         |         CAST(sum(x * x) AS BIGINT) AS s2
         |  FROM d
         |),
         |paired AS (
         |  SELECT k.lag AS lag, count(*) AS n_pairs,
         |         CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
         |         CAST(sum(a.x) AS BIGINT) AS sa,
         |         CAST(sum(b.x) AS BIGINT) AS sb
         |  FROM d a
         |  CROSS JOIN (SELECT unnest(range(1, ${MaxAcfLag + 1})) AS lag) k
         |  JOIN d b ON b.day = a.day + k.lag
         |  GROUP BY 1
         |)
         |SELECT lag, n_pairs,
         |       CAST(n * n * sxy - n * s1 * (sa + sb) + n_pairs * s1 * s1
         |            AS DOUBLE) /
         |       CAST(n * n * s2 - n * s1 * s1 AS DOUBLE) AS acf
         |FROM paired CROSS JOIN st
         |ORDER BY lag""".stripMargin),

    "events_bootstrap_ci" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT ts // ${EventsQueries.DayUs} AS day, count(*) AS x
         |  FROM ev GROUP BY 1
         |),
         |idx AS (
         |  SELECT x, row_number() OVER (ORDER BY day) - 1 AS i FROM d
         |),
         |st AS (
         |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx FROM d
         |),
         |reps AS (SELECT unnest(range($BootB)) AS r),
         |draws AS (
         |  SELECT reps.r, j.j,
         |         ${Ora.fnv("('b:' || CAST(reps.r AS VARCHAR) || ':' || CAST(j.j AS VARCHAR))")} % st.n AS pos,
         |         st.n AS n
         |  FROM reps, st, LATERAL (SELECT unnest(range(st.n)) AS j) j
         |),
         |means AS (
         |  SELECT r, CAST(sum(x) AS BIGINT) AS s, max(n) AS n
         |  FROM draws JOIN idx ON pos = i GROUP BY r
         |),
         |m2 AS (
         |  SELECT r, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m FROM means
         |),
         |ranked AS (
         |  SELECT m, row_number() OVER (ORDER BY m, r) AS rk FROM m2
         |)
         |SELECT n AS n_days, CAST($BootB AS BIGINT) AS b_replicas,
         |       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_obs,
         |       (SELECT m FROM ranked WHERE rk = $BootLoRank) AS ci_lo,
         |       (SELECT m FROM ranked WHERE rk = $BootHiRank) AS ci_hi
         |FROM st""".stripMargin),

    "events_weekday_permtest" -> {
      val pivotCols = (0 to 6).map(w =>
        s"coalesce(sum(CASE WHEN wd = $w THEN part END), 0.0) AS p$w")
        .mkString(",\n         ")
      val chainSum = (0 to 6).map(w => s"p$w").mkString(" + ")
      s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d0 AS (
         |  SELECT day, x, (day + 3) % 7 AS wd
         |  FROM (SELECT ts // ${EventsQueries.DayUs} AS day, count(*) AS x
         |        FROM ev GROUP BY 1)
         |),
         |st AS (SELECT count(*) AS dd, CAST(sum(x) AS BIGINT) AS nn FROM d0),
         |slots AS (
         |  SELECT wd, d_w, hi, hi - d_w AS lo FROM (
         |    SELECT wd, count(*) AS d_w,
         |           CAST(sum(count(*)) OVER (ORDER BY wd
         |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
         |    FROM d0 GROUP BY wd)
         |),
         |obs0 AS (
         |  SELECT CAST(-1 AS BIGINT) AS r, wd, count(*) AS d_w,
         |         CAST(sum(x) AS BIGINT) AS obs
         |  FROM d0 GROUP BY wd
         |),
         |reps AS (SELECT unnest(range($PermB)) AS r),
         |positioned AS (
         |  SELECT reps.r, d0.day, d0.x,
         |         row_number() OVER (PARTITION BY reps.r ORDER BY
         |           ${Ora.fnv("('p:' || CAST(reps.r AS VARCHAR) || ':' || CAST(d0.day AS VARCHAR))")},
         |           d0.day) - 1 AS pos
         |  FROM reps, d0
         |),
         |permuted AS (
         |  SELECT r, wd, d_w, CAST(sum(x) AS BIGINT) AS obs
         |  FROM positioned JOIN slots ON pos >= lo AND pos < hi
         |  GROUP BY r, wd, d_w
         |),
         |parts_p AS (
         |  SELECT r, wd,
         |         CAST(obs * dd - nn * d_w AS DOUBLE) *
         |         CAST(obs * dd - nn * d_w AS DOUBLE) /
         |         CAST(d_w * nn * dd AS DOUBLE) AS part
         |  FROM permuted, st
         |),
         |piv_p AS (
         |  SELECT r,
         |         $pivotCols
         |  FROM parts_p GROUP BY r
         |),
         |chi2_r AS (SELECT r, $chainSum AS chi2 FROM piv_p),
         |parts_o AS (
         |  SELECT r, wd,
         |         CAST(obs * dd - nn * d_w AS DOUBLE) *
         |         CAST(obs * dd - nn * d_w AS DOUBLE) /
         |         CAST(d_w * nn * dd AS DOUBLE) AS part
         |  FROM obs0, st
         |),
         |piv_o AS (
         |  SELECT r,
         |         $pivotCols
         |  FROM parts_o GROUP BY r
         |),
         |chi2_o AS (SELECT $chainSum AS chi2_obs FROM piv_o)
         |SELECT max(chi2_obs) AS chi2_obs, count(*) AS b_replicas,
         |       CAST(sum(CASE WHEN chi2 >= chi2_obs THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_ge,
         |       CAST(CAST(sum(CASE WHEN chi2 >= chi2_obs THEN 1 ELSE 0 END)
         |                 AS BIGINT) + 1 AS DOUBLE) /
         |       CAST(count(*) + 1 AS DOUBLE) AS p_value
         |FROM chi2_r, chi2_o""".stripMargin
    },

    "events_mad_outliers" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT event_type, ts // ${EventsQueries.DayUs} AS day,
         |         count(*) AS n_events
         |  FROM ev GROUP BY 1, 2
         |),
         |med AS (
         |  SELECT event_type, CAST(median(n_events) AS DOUBLE) AS med
         |  FROM d GROUP BY 1
         |),
         |mad AS (
         |  SELECT d.event_type, med,
         |         CAST(median(abs(n_events - med)) AS DOUBLE) AS mad
         |  FROM d JOIN med USING (event_type) GROUP BY 1, 2
         |)
         |SELECT d.event_type, day, n_events, med, mad,
         |       (n_events > med + $MadK * mad OR
         |        n_events < med - $MadK * mad) AS is_outlier
         |FROM d JOIN mad USING (event_type)
         |ORDER BY event_type, day""".stripMargin),

    "events_weekday_chi2" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT event_type, ts // ${EventsQueries.DayUs} AS day,
         |         count(*) AS n_events
         |  FROM ev GROUP BY 1, 2
         |),
         |bywd AS (
         |  SELECT event_type, (day + 3) % 7 AS weekday, count(*) AS d_w,
         |         CAST(sum(n_events) AS BIGINT) AS obs
         |  FROM d GROUP BY 1, 2
         |),
         |bytype AS (
         |  SELECT event_type, count(*) AS dd,
         |         CAST(sum(n_events) AS BIGINT) AS nn
         |  FROM d GROUP BY 1
         |)
         |SELECT w.event_type, weekday, d_w, obs,
         |       CAST(nn * d_w AS DOUBLE) / CAST(dd AS DOUBLE) AS expected,
         |       CAST(obs * dd - nn * d_w AS DOUBLE) *
         |       CAST(obs * dd - nn * d_w AS DOUBLE) /
         |       CAST(d_w * nn * dd AS DOUBLE) AS chi2_part
         |FROM bywd w JOIN bytype USING (event_type)
         |ORDER BY event_type, weekday""".stripMargin),

    "events_trend_mannkendall" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT event_type, ts // ${EventsQueries.DayUs} AS day,
         |         count(*) AS n_events
         |  FROM ev GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT a.event_type,
         |         CAST(sum(CASE WHEN b.n_events > a.n_events THEN 1
         |                       WHEN b.n_events < a.n_events THEN -1
         |                       ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM d a JOIN d b
         |    ON a.event_type = b.event_type AND a.day < b.day
         |  GROUP BY 1
         |),
         |ties AS (
         |  SELECT event_type,
         |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
         |  FROM (SELECT event_type, n_events, count(*) AS t
         |        FROM d GROUP BY 1, 2)
         |  GROUP BY 1
         |),
         |nd AS (SELECT event_type, count(*) AS nd FROM d GROUP BY 1),
         |vs AS (
         |  SELECT p.event_type, nd.nd, s_stat,
         |         CAST(nd.nd * (nd.nd - 1) * (2 * nd.nd + 5) - tie_term
         |              AS DOUBLE) / 18.0 AS var_s
         |  FROM pairs p JOIN ties USING (event_type)
         |               JOIN nd USING (event_type)
         |)
         |SELECT event_type, nd AS n_days, s_stat, var_s,
         |       CASE WHEN s_stat > 0
         |              THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
         |            WHEN s_stat < 0
         |              THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
         |            ELSE 0.0 END AS z,
         |       abs(CASE WHEN s_stat > 0
         |                  THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
         |                WHEN s_stat < 0
         |                  THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
         |                ELSE 0.0 END) > 1.96 AS has_trend
         |FROM vs ORDER BY event_type""".stripMargin),

    // quantile_cont ≡ Spark percentile at p=0.5 (0.5·Δ exact ⇒ fused
    // and unfused interpolations round identically; non-half fractions
    // need Ora.pct); every input to both medians is a single exact-int
    // division or a fixed-order product-subtract — no summation anywhere
    "events_theilsen_trend" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""d AS (
         |  SELECT event_type, ts // ${EventsQueries.DayUs} AS day,
         |         count(*) AS n_events
         |  FROM ev GROUP BY 1, 2
         |),
         |slopes AS (
         |  SELECT a.event_type,
         |         quantile_cont(CAST(b.n_events - a.n_events AS DOUBLE)
         |                       / (b.day - a.day), 0.5) AS slope,
         |         count(*) AS n_pairs
         |  FROM d a JOIN d b
         |    ON a.event_type = b.event_type AND a.day < b.day
         |  GROUP BY 1
         |),
         |fit AS (
         |  SELECT d.event_type, s.slope, s.n_pairs,
         |         count(*) AS n_days, max(day) AS max_day,
         |         quantile_cont(CAST(n_events AS DOUBLE) - s.slope * day,
         |                       0.5) AS intercept
         |  FROM d JOIN slopes s USING (event_type) GROUP BY 1, 2, 3
         |)
         |SELECT event_type, n_days, n_pairs, slope, intercept,
         |       slope * (max_day + 1) + intercept AS forecast_next
         |FROM fit ORDER BY event_type""".stripMargin),

    "events_median_ci" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""counts AS (
         |  SELECT event_type, count(*) AS n FROM ev GROUP BY 1
         |),
         |ranks AS (
         |  SELECT event_type, n,
         |         greatest(1, CAST(floor((CAST(n AS DOUBLE)
         |             - sqrt(CAST(n AS DOUBLE)) * 1.96::DOUBLE)
         |             / 2.0::DOUBLE) AS BIGINT)) AS lo_rank,
         |         least(n, CAST(ceil((CAST(n AS DOUBLE)
         |             + sqrt(CAST(n AS DOUBLE)) * 1.96::DOUBLE)
         |             / 2.0::DOUBLE) AS BIGINT) + 1) AS hi_rank
         |  FROM counts
         |),
         |rk AS (
         |  SELECT event_type, value,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY value NULLS FIRST, event_id)
         |           AS rk
         |  FROM ev
         |)
         |SELECT r.event_type, max(k.n) AS n,
         |       quantile_cont(r.value, 0.5) AS median,
         |       max(CASE WHEN r.rk = k.lo_rank THEN r.value END) AS ci_lo,
         |       max(CASE WHEN r.rk = k.hi_rank THEN r.value END) AS ci_hi
         |FROM rk r JOIN ranks k USING (event_type)
         |GROUP BY 1 ORDER BY r.event_type""".stripMargin))
}
