package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level data profiling — the ingest audit that runs before any
  * pipeline consumes a new drop: per column its row/null/distinct counts,
  * min/max, and mean stringified length. The profile is what catches a
  * broken upstream export (nulls where there were none, a distinct count
  * collapsing to 1, a length distribution shifting) before 100 TB of
  * downstream work is wasted on it.
  *
  * Shape: every profiled column is stringified and unpivoted with `stack`
  * (row-local, no join), then ONE hash aggregate over (col_name) computes
  * all stats — so the cost is one scan of the k profiled columns and a
  * shuffle of partial aggregates, never per-column jobs. The distinct
  * count is exact (Spark plans the mixed distinct/non-distinct aggregate
  * via a single Expand — still one pass); at 100 TB swap `countDistinct`
  * for `approx_count_distinct` (or the KMV sketch in [[graft.sketch]])
  * when the audit tolerates ±2%.
  *
  * Stats are computed over the STRINGIFIED values (min/max/length
  * included) — one uniform schema for any column mix, matching what the
  * profile is for: diffing a drop against the previous drop's profile.
  */
object ProfileQueries extends graft.QueryModule {

  /** documents columns profiled, in stack order. */
  val DocCols: Seq[String] = Seq("doc_id", "lang", "source", "text", "n_chars")

  /** Contract dimensionality of the embeddings table. */
  val EmbedDim = 64

  /** Generic profile over stringified columns of `df`. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // stack(n, name1, val1, name2, val2, ...) → (col_name, val) rows
    val pairs = cols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    df.select(stack((lit(cols.size) +: pairs): _*).as(Seq("col_name", "val")))
      .groupBy("col_name")
      .agg(
        count("*").as("n_rows"),
        (count("*") - count(col("val"))).as("n_null"),
        countDistinct(col("val")).as("n_distinct"),
        min(col("val")).as("min_val"),
        max(col("val")).as("max_val"),
        (sum(length(col("val"))).cast("double") / count(col("val")))
          .as("avg_len"))
      .orderBy("col_name")
  }

  /** Language whitelist for the `lang_in_domain` constraint. */
  val AllowedLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Data-quality constraint suite (the Deequ-style validation gate):
    * a declarative set of completeness / uniqueness / compliance / bounds
    * checks, ALL computed in ONE aggregate over ONE scan — the single-row
    * metric vector is then unpivoted row-locally into one row per
    * constraint with its measured metric, threshold, direction, and
    * verdict. At 100 TB this is the shape that matters: a naive checker
    * runs one job per constraint (k scans of the corpus); this runs k
    * constraints for the price of one pass, and adding a constraint adds
    * an aggregate expression, not a job. The only non-map-side piece is
    * the exact uniqueness count (Spark plans the mixed distinct/plain
    * aggregate with one Expand); relax to approx_count_distinct when the
    * gate tolerates ±2%.
    *
    * The suite deliberately includes a constraint the fixture FAILS
    * (`text_min_100_chars` at threshold 0.95) — a validation gate whose
    * every check passes by construction proves nothing about its ability
    * to fail. */
  def constraints(d: DataFrame): DataFrame = {
    val agg = d.agg(
      count(lit(1)).as("n"),
      count(col("doc_id")).as("n_doc"),
      countDistinct(col("doc_id")).as("n_dist"),
      sum(when(col("lang").isin(AllowedLangs: _*), 1L).otherwise(0L))
        .as("n_lang"),
      sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L))
        .as("n_cons"),
      min(col("n_chars")).cast("double").as("min_nc"),
      max(col("n_chars")).cast("double").as("max_nc"),
      sum(when(length(col("text")) >= 100, 1L).otherwise(0L)).as("n_len100"),
      count(col("source")).as("n_src"))
    def frac(c: Column): Column = c.cast("double") / col("n")
    val checks: Seq[(String, Column, Double, String)] = Seq(
      ("doc_id_complete", frac(col("n_doc")), 1.0, "ge"),
      ("doc_id_unique", frac(col("n_dist")), 1.0, "ge"),
      ("lang_in_domain", frac(col("n_lang")), 1.0, "ge"),
      ("n_chars_consistent", frac(col("n_cons")), 1.0, "ge"),
      ("n_chars_min", col("min_nc"), 1.0, "ge"),
      ("n_chars_max", col("max_nc"), 10000.0, "le"),
      ("source_complete", frac(col("n_src")), 1.0, "ge"),
      ("text_min_100_chars", frac(col("n_len100")), 0.95, "ge"))
    val cells = checks.flatMap { case (name, metric, thr, cmp) =>
      Seq(lit(name), metric, lit(thr), lit(cmp))
    }
    agg
      .select(stack((lit(checks.size) +: cells): _*)
        .as(Seq("check_name", "metric", "threshold", "cmp")))
      .select(col("check_name"), col("metric"), col("threshold"), col("cmp"),
        when(col("cmp") === "ge", col("metric") >= col("threshold"))
          .otherwise(col("metric") <= col("threshold")).as("passed"))
      .orderBy("check_name")
  }

  /** events columns profiled. `value` (DOUBLE) is deliberately absent:
    * the profile stringifies, and double→string formatting has no
    * cross-engine bit contract (Java shortest-repr vs DuckDB's) — the
    * numeric column's health is covered by events_props_stats /
    * events_value_quantiles instead. */
  val EventCols: Seq[String] =
    Seq("event_id", "ts", "user_id", "event_type", "props")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_documents" -> ((s, dir) =>
      profile(s.read.parquet(s"$dir/documents.parquet"), DocCols)),
    "profile_constraints" -> ((s, dir) =>
      constraints(s.read.parquet(s"$dir/documents.parquet"))),
    // the same ingest audit over the busiest table — ts is normalized to
    // µs BEFORE stringification so the profile is unit-stable across
    // fixture regenerations (the raw INT64 would silently change decade)
    "profile_events" -> ((s, dir) =>
      profile(s.read
        .schema(graft.events.EventsQueries.RawSchemaWithProps)
        .parquet(s"$dir/events.parquet")
        .withColumn("ts", graft.events.EventsQueries.tsUs(col("ts"))),
        EventCols)),

    // the vector-table ingest audit: the failure modes an embedding
    // drop actually ships (wrong dimensionality after a model swap,
    // NaNs from overflowed encoders, zero vectors from empty inputs,
    // duplicated ids from retried writes) plus the norm profile.
    // One scan, one aggregate, unpivoted to (metric, value); counts are
    // exact longs surfaced as exact doubles, the norm quantiles mirror
    // Spark percentile's exact operation order over Dot64 folds
    // (Ora.pct — quantile_cont's fused interpolation drifts 1 ulp at
    // non-half fractions).
    "profile_embeddings" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"),
          graft.sim.Dot64.dot64(col("embedding"), col("embedding"))
            .as("sq"))
      e.agg(count(lit(1)).as("n_rows"),
          sum(when(col("embedding").isNull, 1L).otherwise(0L))
            .as("n_null_vec"),
          sum(when(size(col("embedding")) =!= EmbedDim, 1L).otherwise(0L))
            .as("n_wrong_dim"),
          sum(when(expr("exists(embedding, x -> isnan(x))"), 1L)
            .otherwise(0L)).as("n_with_nan"),
          sum(when(col("sq") === 0.0, 1L).otherwise(0L)).as("n_zero_vec"),
          (count(lit(1)) - countDistinct("vec_id")).as("n_dup_ids"),
          expr("percentile(sqrt(sq), 0.5)").as("norm_p50"),
          expr("percentile(sqrt(sq), 0.99)").as("norm_p99"))
        .select(explode(map(
          lit("n_rows"), col("n_rows").cast("double"),
          lit("n_null_vec"), col("n_null_vec").cast("double"),
          lit("n_wrong_dim"), col("n_wrong_dim").cast("double"),
          lit("n_with_nan"), col("n_with_nan").cast("double"),
          lit("n_zero_vec"), col("n_zero_vec").cast("double"),
          lit("n_dup_ids"), col("n_dup_ids").cast("double"),
          lit("norm_p50"), col("norm_p50"),
          lit("norm_p99"), col("norm_p99"))).as(Seq("metric", "value")))
        .orderBy("metric")
    }),

    // drop-over-drop drift: the profile exists to be DIFFED — this runs
    // it twice (the first half of doc_ids stands in for yesterday's
    // drop) and joins per column: null-rate delta, the distinct-per-row
    // ratio shift, and mean-length delta, with a drifted verdict at the
    // documented tolerances. Each leg is the same one-scan unpivoted
    // aggregate; the join is #columns-sized. Exact arithmetic
    // throughout: every rate is one division of exact longs, every
    // delta one subtraction of such rates.
    "profile_drift" -> ((s, dir) => {
      val full = s.read.parquet(s"$dir/documents.parquet")
      val prev = full.filter(col("doc_id") < DriftSplitId)
      def rates(df: DataFrame, tag: String): DataFrame =
        profile(df, DocCols).select(col("col_name"),
          (col("n_null").cast("double") / col("n_rows"))
            .as(s"null_rate_$tag"),
          (col("n_distinct").cast("double") / col("n_rows"))
            .as(s"distinct_ratio_$tag"),
          col("avg_len").as(s"avg_len_$tag"))
      rates(full, "new").join(rates(prev, "old"), "col_name")
        .select(col("col_name"),
          (col("null_rate_new") - col("null_rate_old")).as("null_rate_d"),
          (col("distinct_ratio_new") - col("distinct_ratio_old"))
            .as("distinct_ratio_d"),
          (col("avg_len_new") - col("avg_len_old")).as("avg_len_d"))
        .withColumn("drifted",
          abs(col("null_rate_d")) > DriftNullTol ||
            abs(col("distinct_ratio_d")) > DriftDistinctTol ||
            abs(col("avg_len_d")) > DriftLenTol)
        .orderBy("col_name")
    }))

  /** Previous-drop stand-in boundary and the drift tolerances. */
  val DriftSplitId = 250L
  val DriftNullTol = 0.01
  val DriftDistinctTol = 0.10
  val DriftLenTol = 5.0

  val oracle: Map[String, String] = Map(
    "profile_embeddings" -> {
      val sq = graft.oracle.Ora.dot64("embedding", "embedding")
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $sq AS sq FROM embeddings
         |),
         |rkd AS (
         |  -- WHERE sq IS NOT NULL: Spark's percentile skips NULLs, so the
         |  -- rank space must exclude NULL embeddings (which this profile
         |  -- explicitly anticipates via n_null_vec) or every pct index shifts.
         |  SELECT sqrt(sq) AS nv,
         |         row_number() OVER (ORDER BY sqrt(sq)) AS rn,
         |         count(*) OVER () AS n
         |  FROM e WHERE sq IS NOT NULL
         |),
         |pq AS (
         |  SELECT ${graft.oracle.Ora.pct("nv", "0.5")} AS norm_p50,
         |         ${graft.oracle.Ora.pct("nv", "0.99")} AS norm_p99
         |  FROM rkd GROUP BY n
         |),
         |a AS (
         |  SELECT count(*) AS n_rows,
         |         CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_null_vec,
         |         CAST(sum(CASE WHEN len(embedding) <> $EmbedDim
         |                       THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_wrong_dim,
         |         CAST(sum(CASE WHEN len(list_filter(embedding,
         |                            x -> isnan(x))) > 0
         |                       THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_with_nan,
         |         CAST(sum(CASE WHEN sq = 0.0::DOUBLE THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_zero_vec,
         |         count(*) - count(DISTINCT vec_id) AS n_dup_ids,
         |         (SELECT norm_p50 FROM pq) AS norm_p50,
         |         (SELECT norm_p99 FROM pq) AS norm_p99
         |  FROM e
         |)
         |SELECT u.metric, u.value FROM a, LATERAL (
         |  SELECT unnest(['n_rows', 'n_null_vec', 'n_wrong_dim',
         |                 'n_with_nan', 'n_zero_vec', 'n_dup_ids',
         |                 'norm_p50', 'norm_p99']) AS metric,
         |         unnest([CAST(a.n_rows AS DOUBLE),
         |                 CAST(a.n_null_vec AS DOUBLE),
         |                 CAST(a.n_wrong_dim AS DOUBLE),
         |                 CAST(a.n_with_nan AS DOUBLE),
         |                 CAST(a.n_zero_vec AS DOUBLE),
         |                 CAST(a.n_dup_ids AS DOUBLE),
         |                 a.norm_p50, a.norm_p99]) AS value
         |) u
         |ORDER BY u.metric""".stripMargin
    },
    "profile_documents" -> {
      val legs = DocCols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS val FROM documents")
        .mkString("\n  UNION ALL ")
      s"""WITH u AS (
         |  $legs
         |)
         |SELECT col_name, count(*) AS n_rows,
         |       count(*) - count(val) AS n_null,
         |       count(DISTINCT val) AS n_distinct,
         |       min(val) AS min_val, max(val) AS max_val,
         |       CAST(sum(length(val)) AS DOUBLE) / count(val) AS avg_len
         |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin
    },

    "profile_events" -> {
      val legs = EventCols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS val FROM ev")
        .mkString("\n  UNION ALL ")
      s"""WITH ev AS (
         |  SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, props
         |  FROM events
         |),
         |u AS (
         |  $legs
         |)
         |SELECT col_name, count(*) AS n_rows,
         |       count(*) - count(val) AS n_null,
         |       count(DISTINCT val) AS n_distinct,
         |       min(val) AS min_val, max(val) AS max_val,
         |       CAST(sum(length(val)) AS DOUBLE) / count(val) AS avg_len
         |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin
    },

    "profile_drift" -> {
      def legs(where: String) = DocCols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS val " +
          s"FROM documents $where")
        .mkString("\n  UNION ALL ")
      def leg(name: String, where: String) =
        s"""$name AS (
           |  SELECT col_name,
           |         (count(*) - count(val))::DOUBLE / count(*) AS null_rate,
           |         count(DISTINCT val)::DOUBLE / count(*) AS distinct_ratio,
           |         CAST(sum(length(val)) AS DOUBLE) / count(val) AS avg_len
           |  FROM (${legs(where)}) GROUP BY col_name
           |)""".stripMargin
      s"""WITH ${leg("pn", "")},
         |${leg("po", s"WHERE doc_id < $DriftSplitId")}
         |SELECT n.col_name,
         |       n.null_rate - o.null_rate AS null_rate_d,
         |       n.distinct_ratio - o.distinct_ratio AS distinct_ratio_d,
         |       n.avg_len - o.avg_len AS avg_len_d,
         |       abs(n.null_rate - o.null_rate) > $DriftNullTol
         |         OR abs(n.distinct_ratio - o.distinct_ratio)
         |            > $DriftDistinctTol
         |         OR abs(n.avg_len - o.avg_len) > $DriftLenTol AS drifted
         |FROM pn n JOIN po o ON n.col_name = o.col_name
         |ORDER BY n.col_name""".stripMargin
    },

    // mirror of `constraints`: one aggregate CTE, one UNION-ALL unpivot
    "profile_constraints" -> {
      val langs = AllowedLangs.map(l => s"'$l'").mkString(", ")
      s"""WITH a AS (
         |  SELECT count(*) AS n,
         |         count(doc_id) AS n_doc,
         |         count(DISTINCT doc_id) AS n_dist,
         |         CAST(sum(CASE WHEN lang IN ($langs) THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
         |         CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_cons,
         |         CAST(min(n_chars) AS DOUBLE) AS min_nc,
         |         CAST(max(n_chars) AS DOUBLE) AS max_nc,
         |         CAST(sum(CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_len100,
         |         count(source) AS n_src
         |  FROM documents
         |), c AS (
         |  SELECT 'doc_id_complete' AS check_name, n_doc::DOUBLE / n AS metric, 1.0 AS threshold, 'ge' AS cmp FROM a
         |  UNION ALL SELECT 'doc_id_unique', n_dist::DOUBLE / n, 1.0, 'ge' FROM a
         |  UNION ALL SELECT 'lang_in_domain', n_lang::DOUBLE / n, 1.0, 'ge' FROM a
         |  UNION ALL SELECT 'n_chars_consistent', n_cons::DOUBLE / n, 1.0, 'ge' FROM a
         |  UNION ALL SELECT 'n_chars_min', min_nc, 1.0, 'ge' FROM a
         |  UNION ALL SELECT 'n_chars_max', max_nc, 10000.0, 'le' FROM a
         |  UNION ALL SELECT 'source_complete', n_src::DOUBLE / n, 1.0, 'ge' FROM a
         |  UNION ALL SELECT 'text_min_100_chars', n_len100::DOUBLE / n, 0.95, 'ge' FROM a
         |)
         |SELECT check_name, metric, CAST(threshold AS DOUBLE) AS threshold, cmp,
         |       CASE WHEN cmp = 'ge' THEN metric >= threshold
         |            ELSE metric <= threshold END AS passed
         |FROM c ORDER BY check_name""".stripMargin
    })
}
