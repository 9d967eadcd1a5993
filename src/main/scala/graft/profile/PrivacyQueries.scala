package graft.profile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy-risk audits a training-data pipeline runs before release:
  * k-anonymity / l-diversity over quasi-identifier classes, and the
  * generalization ladder that shows what coarsening a quasi-identifier
  * buys. Re-identification risk concentrates in SMALL equivalence
  * classes — a row whose (nation, balance-bucket) combination is shared
  * by fewer than k others is linkable — so the audit is: group by the
  * quasi-identifiers, size the classes, and count what a k-threshold
  * release would suppress.
  *
  * Scale shape: each audit is one hash aggregate over the corpus
  * (map-side combined) to class-sized data, then class-sized rollups —
  * the same two-level reduction as every profile query. The ladder
  * explodes each row into one per generalization level first (3× the
  * scan, constant factor, still one shuffle on the class key).
  *
  * All counts and class sizes are exact BIGINTs; rates are single
  * divisions of exact ints (ORACLE.md), so both engines agree bitwise.
  */
object PrivacyQueries extends graft.QueryModule {

  /** Release threshold: a quasi-identifier class smaller than this is
    * suppressed. */
  val KAnon = 5

  /** Sensitive-attribute diversity floor per class (l-diversity). */
  val LDiv = 3

  /** Account-balance bucket width for the single-level audit. */
  val BalWidth = 1000.0

  /** Generalization ladder: successively coarser balance buckets. */
  val LadderWidths = Seq(250.0, 1000.0, 4000.0)

  private def cust(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the release scorecard at one generalization level: class census,
    // rows a k=5 release suppresses, and how many surviving classes
    // still violate l-diversity on the sensitive segment column (a
    // homogeneous class leaks the attribute even at k-anonymity)
    "privacy_k_anonymity" -> ((s, dir) => {
      val classes = cust(s, dir)
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / lit(BalWidth)).as("bal_bucket"),
          col("c_mktsegment"))
        .groupBy("c_nationkey", "bal_bucket")
        .agg(count(lit(1)).as("sz"),
          countDistinct("c_mktsegment").as("n_seg"))
      classes.agg(
          sum("sz").as("n_rows"),
          count(lit(1)).as("n_classes"),
          min("sz").as("min_class_size"),
          sum(when(col("sz") < KAnon, 1L).otherwise(0L))
            .as("n_k_violating_classes"),
          sum(when(col("sz") < KAnon, col("sz")).otherwise(0L))
            .as("n_suppressed_rows"),
          sum(when(col("sz") >= KAnon && col("n_seg") < LDiv, 1L)
            .otherwise(0L)).as("n_l_violating_classes"))
        .withColumn("suppression_rate",
          col("n_suppressed_rows").cast("double") / col("n_rows"))
    }),

    // the ladder: the same audit at three balance-bucket widths — the
    // coarser the generalization, the bigger the classes, the less a
    // k=5 release suppresses, the less useful the column. k_achieved is
    // the smallest SURVIVING class (the k the release actually delivers;
    // NULL if suppression leaves nothing).
    "privacy_generalization_ladder" -> ((s, dir) => {
      val widths = array(LadderWidths.map(lit): _*)
      val classes = cust(s, dir)
        .select(col("c_nationkey"), col("c_acctbal"),
          explode(widths).as("width"))
        .select(col("width"), col("c_nationkey"),
          floor(col("c_acctbal") / col("width")).as("bal_bucket"))
        .groupBy("width", "c_nationkey", "bal_bucket")
        .agg(count(lit(1)).as("sz"))
      classes.groupBy("width")
        .agg(sum("sz").as("n_rows"),
          count(lit(1)).as("n_classes"),
          sum(when(col("sz") < KAnon, col("sz")).otherwise(0L))
            .as("n_suppressed_rows"),
          min(when(col("sz") >= KAnon, col("sz"))).as("k_achieved"))
        .withColumn("suppression_rate",
          col("n_suppressed_rows").cast("double") / col("n_rows"))
        .orderBy("width")
    }))

  val oracle: Map[String, String] = Map(
    "privacy_k_anonymity" ->
      s"""WITH classes AS (
         |  SELECT c_nationkey,
         |         CAST(floor(c_acctbal / $BalWidth::DOUBLE) AS BIGINT)
         |           AS bal_bucket,
         |         count(*) AS sz,
         |         count(DISTINCT c_mktsegment) AS n_seg
         |  FROM customer GROUP BY 1, 2
         |),
         |agg AS (
         |  SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
         |         count(*) AS n_classes,
         |         min(sz) AS min_class_size,
         |         CAST(sum(CASE WHEN sz < $KAnon THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_k_violating_classes,
         |         CAST(sum(CASE WHEN sz < $KAnon THEN sz ELSE 0 END)
         |           AS BIGINT) AS n_suppressed_rows,
         |         CAST(sum(CASE WHEN sz >= $KAnon AND n_seg < $LDiv
         |                       THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_l_violating_classes
         |  FROM classes
         |)
         |SELECT *, CAST(n_suppressed_rows AS DOUBLE) / n_rows
         |         AS suppression_rate
         |FROM agg""".stripMargin,

    "privacy_generalization_ladder" ->
      s"""WITH classes AS (
         |  SELECT w.width, c_nationkey,
         |         CAST(floor(c_acctbal / w.width) AS BIGINT) AS bal_bucket,
         |         count(*) AS sz
         |  FROM customer
         |  CROSS JOIN (SELECT unnest([${LadderWidths.map(w => s"$w::DOUBLE").mkString(", ")}])
         |              AS width) w
         |  GROUP BY 1, 2, 3
         |)
         |SELECT width, CAST(sum(sz) AS BIGINT) AS n_rows,
         |       count(*) AS n_classes,
         |       CAST(sum(CASE WHEN sz < $KAnon THEN sz ELSE 0 END)
         |         AS BIGINT) AS n_suppressed_rows,
         |       min(CASE WHEN sz >= $KAnon THEN sz END) AS k_achieved,
         |       CAST(sum(CASE WHEN sz < $KAnon THEN sz ELSE 0 END) AS DOUBLE)
         |         / CAST(sum(sz) AS BIGINT) AS suppression_rate
         |FROM classes GROUP BY 1 ORDER BY width""".stripMargin)
}
