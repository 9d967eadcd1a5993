package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Difference-in-differences uplift over the event stream — the causal
  * companion to `events_ab_conversion`: instead of comparing arms at
  * one point (which a pre-existing arm imbalance poisons), compare each
  * arm's pre→post CHANGE and difference the changes. The pre-period
  * gap is the arm-imbalance control; what survives is the treatment
  * effect under the parallel-trends assumption.
  *
  * Arms follow the suite's assignment convention (`pmod(user_id, 2)`);
  * the pre/post boundary is the day-range midpoint, derived from the
  * data as exact integers. Outcome: purchases per active user in the
  * (arm, period) cell. Every cell statistic is an exact-BIGINT count
  * pair; the means and the DiD combination are fixed-order double
  * expressions, identical on both engines (ORACLE.md).
  *
  * Scale shape: one corpus scan → 4-cell aggregate (map-side combined,
  * countDistinct expands to one extra exchange); the DiD itself is
  * 4-row arithmetic broadcast back onto the cells.
  */
object CausalQueries extends graft.QueryModule {

  /** χ² critical value at 1 df, α = 0.05 — the SRM alarm line. */
  val SrmChi2Crit95 = 3.841

  /** z_{0.025} + z_{0.20} = 1.96 + 0.8416 for 80% power / 5% α, as one
    * literal both engines parse to the same double. */
  val ZSum8005 = 2.8016

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_did_uplift" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      val sp = ev.agg(
        expr("(min(day) + max(day) + 1) div 2").as("split_day"))
      val cells = ev.crossJoin(broadcast(sp))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
        .withColumn("period",
          when(col("day") < col("split_day"), "pre").otherwise("post"))
        .groupBy("arm", "period")
        .agg(countDistinct("user_id").as("n_users"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
        .withColumn("mean_purchases",
          col("n_purchases").cast("double") / col("n_users"))
        // 4 rows; feeds the DiD pick and the output
        .transform(graft.Materialize(_))
      def cell(arm: Int, period: String) =
        max(when(col("arm") === arm && col("period") === period,
          col("mean_purchases")))
      val did = cells.agg(
        ((cell(1, "post") - cell(1, "pre")) -
          (cell(0, "post") - cell(0, "pre"))).as("did_uplift"))
      cells.crossJoin(broadcast(did))
        .select(col("arm"), col("period"), col("n_users"),
          col("n_purchases"), col("mean_purchases"), col("did_uplift"))
        .orderBy("arm", "period")
    }),

    // sample-ratio mismatch — the gate every experiment readout runs
    // FIRST: under a 50/50 split the arm sizes differ only by chance,
    // and chi² = (n_a − n_b)²/(n_a + n_b) (1 df) catches assignment
    // bugs (bot filtering one arm, logging loss) before anyone reads a
    // lift. One user-level aggregate; the statistic is one division of
    // exact BIGINTs.
    "events_ab_srm" -> ((s, dir) => {
      EventsQueries.events(s, dir)
        .select(pmod(col("user_id"), lit(2L)).as("arm"), col("user_id"))
        .distinct()
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
        .select(col("n_a"), col("n_b"),
          (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
            .cast("double") / (col("n_a") + col("n_b"))).as("chi2"))
        .withColumn("srm_flag", col("chi2") > SrmChi2Crit95)
    }),

    // CUPED variance reduction: adjust each arm's post-period outcome
    // (purchases per user) by its pre-period activity covariate,
    // yₐdj = ȳₐ − θ(x̄ₐ − x̄), θ = cov(x,y)/var(x) — the standard way to
    // shrink experiment confidence intervals without more traffic. All
    // moments (Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs over per-user
    // integer counts; θ, ρ² (the fraction of outcome variance the
    // covariate removes) and the adjusted means are fixed-order double
    // expressions over them. One corpus scan → user table → moments.
    "events_cuped" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      val sp = ev.agg(
        expr("(min(day) + max(day) + 1) div 2").as("split_day"))
      val users = ev.crossJoin(broadcast(sp))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("split_day"), 1L).otherwise(0L))
          .as("x"),
          sum(when(col("day") >= col("split_day") &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
        // global moments + per-arm cells, one pass
        .transform(graft.Materialize(_))
      val m = users.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val theta = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") / (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val rho2num = (col("n") * col("sxy") - col("sx") * col("sy"))
      val rho2 = rho2num.cast("double") * rho2num /
        ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("n") * col("syy") - col("sy") * col("sy")))
      val stats = m.select(col("n"), col("sx"),
        theta.as("theta"), rho2.as("rho2"))
      users.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum("x").as("sx_arm"), sum("y").as("sy_arm"))
        .crossJoin(broadcast(stats))
        .select(col("arm"), col("n_users"),
          (col("sy_arm").cast("double") / col("n_users")).as("mean_y"),
          (col("sx_arm").cast("double") / col("n_users")).as("mean_x"),
          col("theta"), col("rho2"),
          (col("sy_arm").cast("double") / col("n_users") -
            col("theta") * (col("sx_arm").cast("double") / col("n_users") -
              col("sx").cast("double") / col("n"))).as("adjusted_mean"))
        .orderBy("arm")
    }),

    // minimum detectable effect at 80% power / 5% two-sided α — the
    // "is this experiment even worth running" number, plus what CUPED
    // buys: MDE = (z_{α/2}+z_β)·√(σ²(1/n_a+1/n_b)), and the adjusted
    // series has variance σ²(1−ρ²), so MDE_cuped = MDE·√(1−ρ²). The
    // z-sum is one literal (2.8016); σ² is the sample variance from
    // exact integer moments; every float op is fixed-order.
    "events_power_mde" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      val sp = ev.agg(
        expr("(min(day) + max(day) + 1) div 2").as("split_day"))
      val users = ev.crossJoin(broadcast(sp))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("split_day"), 1L).otherwise(0L))
          .as("x"),
          sum(when(col("day") >= col("split_day") &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
      val m = users.agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("syy"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val varY = (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double") / (col("n").cast("double") * (col("n") - 1L))
      val rho2num = (col("n") * col("sxy") - col("sx") * col("sy"))
      val rho2 = rho2num.cast("double") * rho2num /
        ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("n") * col("syy") - col("sy") * col("sy")))
      val mde = lit(ZSum8005) * sqrt(varY *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      m.select(col("n_a"), col("n_b"),
          (col("sy").cast("double") / col("n")).as("mean_y"),
          varY.as("var_y"), rho2.as("rho2"), mde.as("mde_abs"),
          (mde * sqrt(lit(1.0) - rho2)).as("mde_cuped_abs"))
    }),

    // post-stratified treatment effect: bucket users by PRE-period
    // activity (fixed integer edges — not data-dependent quantiles, so
    // strata are reproducible across runs and engines), compare arms
    // WITHIN each stratum, and weight the per-stratum differences by
    // stratum size. Controls any arm imbalance that correlates with
    // activity — the nonparametric sibling of CUPED. Per-stratum rows
    // carry the full census; the pooled effect folds the (at most 4)
    // stratum terms in stratum order via a sorted-array aggregate, so
    // the cross-stratum double sum is engine-identical.
    "events_stratified_effect" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
        .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      val sp = ev.agg(
        expr("(min(day) + max(day) + 1) div 2").as("split_day"))
      val users = ev.crossJoin(broadcast(sp))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("split_day"), 1L).otherwise(0L))
          .as("x"),
          sum(when(col("day") >= col("split_day") &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
        .withColumn("stratum", expr(
          "CASE WHEN x < 10 THEN 0 WHEN x < 25 THEN 1 " +
            "WHEN x < 45 THEN 2 ELSE 3 END"))
      val cells = users.groupBy("stratum")
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("arm") === 0L, col("y")).otherwise(0L)).as("sy_c"),
          sum(when(col("arm") === 1L, col("y")).otherwise(0L)).as("sy_t"))
        // a stratum missing an arm contributes no comparable diff;
        // guard the divisions (ANSI would throw)
        .withColumn("diff",
          when(col("n_c") > 0L && col("n_t") > 0L,
            col("sy_t").cast("double") / col("n_t") -
              col("sy_c").cast("double") / col("n_c")))
        // <=4 rows; feeds the fold and the output
        .transform(graft.Materialize(_))
      val pooled = cells
        .agg(sort_array(collect_list(when(col("diff").isNotNull,
          struct(col("stratum"), (col("diff") * col("n_users"))
            .as("wdiff"), col("n_users"))))).as("ws"))
        .select(expr(
          """aggregate(ws, CAST(0.0 AS DOUBLE),
            |  (acc, t) -> acc + t.wdiff) /
            |CAST(aggregate(ws, bigint(0), (acc, t) -> acc + t.n_users)
            |     AS DOUBLE)""".stripMargin).as("stratified_effect"))
      cells.crossJoin(broadcast(pooled))
        .select(col("stratum"), col("n_users"), col("n_c"), col("n_t"),
          when(col("n_c") > 0L,
            col("sy_c").cast("double") / col("n_c")).as("mean_c"),
          when(col("n_t") > 0L,
            col("sy_t").cast("double") / col("n_t")).as("mean_t"),
          col("diff"), col("stratified_effect"))
        .orderBy("stratum")
    }))

  val oracle: Map[String, String] = Map(
    "events_did_uplift" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""evd AS (
         |  SELECT *, ts // ${EventsQueries.DayUs} AS day FROM ev
         |),
         |sp AS (
         |  SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM evd
         |),
         |cells AS (
         |  SELECT user_id % 2 AS arm,
         |         CASE WHEN day < sp.split_day THEN 'pre' ELSE 'post' END
         |           AS period,
         |         count(DISTINCT user_id) AS n_users,
         |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
         |                       ELSE 0 END) AS BIGINT) AS n_purchases
         |  FROM evd, sp GROUP BY 1, 2
         |),
         |m AS (
         |  SELECT *, CAST(n_purchases AS DOUBLE) / n_users
         |           AS mean_purchases
         |  FROM cells
         |),
         |did AS (
         |  SELECT (max(CASE WHEN arm = 1 AND period = 'post'
         |                   THEN mean_purchases END)
         |          - max(CASE WHEN arm = 1 AND period = 'pre'
         |                     THEN mean_purchases END))
         |         - (max(CASE WHEN arm = 0 AND period = 'post'
         |                     THEN mean_purchases END)
         |            - max(CASE WHEN arm = 0 AND period = 'pre'
         |                       THEN mean_purchases END)) AS did_uplift
         |  FROM m
         |)
         |SELECT m.arm, m.period, m.n_users, m.n_purchases,
         |       m.mean_purchases, did.did_uplift
         |FROM m, did ORDER BY m.arm, m.period""".stripMargin),

    "events_ab_srm" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""u AS (SELECT DISTINCT user_id % 2 AS arm, user_id FROM ev),
         |c AS (
         |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_a,
         |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_b
         |  FROM u
         |),
         |x AS (
         |  SELECT n_a, n_b,
         |         CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
         |           AS chi2
         |  FROM c
         |)
         |SELECT n_a, n_b, chi2, chi2 > $SrmChi2Crit95::DOUBLE AS srm_flag
         |FROM x""".stripMargin),

    "events_cuped" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""evd AS (
         |  SELECT *, ts // ${EventsQueries.DayUs} AS day FROM ev
         |),
         |sp AS (
         |  SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM evd
         |),
         |users AS (
         |  SELECT user_id, user_id % 2 AS arm,
         |         CAST(sum(CASE WHEN day < sp.split_day THEN 1 ELSE 0 END)
         |           AS BIGINT) AS x,
         |         CAST(sum(CASE WHEN day >= sp.split_day
         |                        AND event_type = 'purchase'
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM evd, sp GROUP BY 1, 2
         |),
         |m AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM users
         |),
         |st AS (
         |  SELECT n, sx,
         |         CAST(n * sxy - sx * sy AS DOUBLE)
         |           / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
         |         CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy)
         |           / (CAST(n * sxx - sx * sx AS DOUBLE)
         |              * (n * syy - sy * sy)) AS rho2
         |  FROM m
         |),
         |arms AS (
         |  SELECT arm, count(*) AS n_users,
         |         CAST(sum(x) AS BIGINT) AS sx_arm,
         |         CAST(sum(y) AS BIGINT) AS sy_arm
         |  FROM users GROUP BY 1
         |)
         |SELECT a.arm, a.n_users,
         |       CAST(a.sy_arm AS DOUBLE) / a.n_users AS mean_y,
         |       CAST(a.sx_arm AS DOUBLE) / a.n_users AS mean_x,
         |       st.theta, st.rho2,
         |       CAST(a.sy_arm AS DOUBLE) / a.n_users
         |         - st.theta * (CAST(a.sx_arm AS DOUBLE) / a.n_users
         |                       - CAST(st.sx AS DOUBLE) / st.n)
         |         AS adjusted_mean
         |FROM arms a, st ORDER BY a.arm""".stripMargin),

    "events_power_mde" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""evd AS (
         |  SELECT *, ts // ${EventsQueries.DayUs} AS day FROM ev
         |),
         |sp AS (
         |  SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM evd
         |),
         |users AS (
         |  SELECT user_id, user_id % 2 AS arm,
         |         CAST(sum(CASE WHEN day < sp.split_day THEN 1 ELSE 0 END)
         |           AS BIGINT) AS x,
         |         CAST(sum(CASE WHEN day >= sp.split_day
         |                        AND event_type = 'purchase'
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM evd, sp GROUP BY 1, 2
         |),
         |m AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_a,
         |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_b,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(y * y) AS BIGINT) AS syy,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM users
         |),
         |st AS (
         |  SELECT n_a, n_b,
         |         CAST(sy AS DOUBLE) / n AS mean_y,
         |         CAST(n * syy - sy * sy AS DOUBLE)
         |           / (CAST(n AS DOUBLE) * (n - 1)) AS var_y,
         |         CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy)
         |           / (CAST(n * sxx - sx * sx AS DOUBLE)
         |              * (n * syy - sy * sy)) AS rho2
         |  FROM m
         |)
         |SELECT n_a, n_b, mean_y, var_y, rho2,
         |       $ZSum8005::DOUBLE
         |         * sqrt(var_y * (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b))
         |         AS mde_abs,
         |       $ZSum8005::DOUBLE
         |         * sqrt(var_y * (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b))
         |         * sqrt(1.0::DOUBLE - rho2) AS mde_cuped_abs
         |FROM st""".stripMargin),

    "events_stratified_effect" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""evd AS (
         |  SELECT *, ts // ${EventsQueries.DayUs} AS day FROM ev
         |),
         |sp AS (
         |  SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM evd
         |),
         |users AS (
         |  SELECT user_id, user_id % 2 AS arm,
         |         CAST(sum(CASE WHEN day < sp.split_day THEN 1 ELSE 0 END)
         |           AS BIGINT) AS x,
         |         CAST(sum(CASE WHEN day >= sp.split_day
         |                        AND event_type = 'purchase'
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM evd, sp GROUP BY 1, 2
         |),
         |strat AS (
         |  SELECT *, CASE WHEN x < 10 THEN 0 WHEN x < 25 THEN 1
         |                 WHEN x < 45 THEN 2 ELSE 3 END AS stratum
         |  FROM users
         |),
         |cells AS (
         |  SELECT stratum, count(*) AS n_users,
         |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_c,
         |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_t,
         |         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
         |           AS sy_c,
         |         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
         |           AS sy_t
         |  FROM strat GROUP BY 1
         |),
         |diffs AS (
         |  SELECT *, CASE WHEN n_c > 0 AND n_t > 0
         |                 THEN CAST(sy_t AS DOUBLE) / n_t
         |                      - CAST(sy_c AS DOUBLE) / n_c END AS diff
         |  FROM cells
         |),
         |pooled AS (
         |  SELECT list_reduce(
         |           list_prepend(0.0::DOUBLE,
         |             list_transform(
         |               list(struct_pack(stratum := stratum,
         |                                wdiff := diff * n_users)
         |                    ORDER BY stratum)
         |                 FILTER (WHERE diff IS NOT NULL),
         |               z -> z.wdiff)),
         |           (a, b) -> a + b)
         |         / CAST(sum(n_users) FILTER (WHERE diff IS NOT NULL)
         |                AS DOUBLE) AS stratified_effect
         |  FROM diffs
         |)
         |SELECT d.stratum, d.n_users, d.n_c, d.n_t,
         |       CASE WHEN d.n_c > 0
         |            THEN CAST(d.sy_c AS DOUBLE) / d.n_c END AS mean_c,
         |       CASE WHEN d.n_t > 0
         |            THEN CAST(d.sy_t AS DOUBLE) / d.n_t END AS mean_t,
         |       d.diff, p.stratified_effect
         |FROM diffs d, pooled p ORDER BY d.stratum""".stripMargin))
}
