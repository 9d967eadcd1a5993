package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benford first-significant-digit audit over the event values — the
  * forensic data-quality check for "does this money-like column look
  * organically generated or fabricated/truncated?". Fabricated feeds,
  * unit bugs (cents vs dollars), and capped fields all bend the
  * first-digit histogram away from Benford's log distribution long
  * before they bend the mean.
  *
  * Portable-math design (ORACLE.md): the first digit is extracted from
  * EXACT integer cents — `CAST(value AS DECIMAL(18,2)) × 100` — through
  * a pure integer-division ladder, never from `log10`/string formatting
  * (both engines round 0.03×100 to 2.999…96, so a float ladder would
  * misclassify real rows). The Benford expectations are nine literal
  * doubles; the χ² statistic folds its nine terms in digit order over a
  * collected array, so the cross-row double sum both engines compute is
  * the identical ((t₁+t₂)+…) chain.
  *
  * Scale shape: one corpus scan → 9-row digit histogram (map-side
  * combined); everything after is 9-row arithmetic.
  */
object BenfordQueries extends graft.QueryModule {

  /** log10(1 + 1/d) for d = 1..9, as fixed literals (a runtime log10
    * would not be bit-portable across engines). */
  val BenfordP: Seq[Double] = Seq(
    0.301029995664, 0.176091259056, 0.124938736608, 0.096910013008,
    0.079181246048, 0.066946789631, 0.057991946978, 0.051152522447,
    0.045757490561)

  /** χ² critical value at 8 degrees of freedom, α = 0.01. */
  val Chi2Crit99 = 20.09

  /** Integer-division first-digit ladder covering the FULL
    * DECIMAL(18,2)-cents range (top rung 10^18, which a Long holds
    * exactly). The previous ladder topped out at 10^7 cents, so any
    * value >= $100,000 produced digit >= 10, `element_at(pArr, 10+)`
    * returned NULL, and the NULL term silently nulled the entire
    * chi2/benford_ok audit. `divOp` is `div` (Spark) or `//` (DuckDB);
    * both ladders are generated from the same rungs so they cannot
    * drift apart. */
  def digitLadder(divOp: String): String =
    (18 to 1 by -1).map { k =>
      val p = BigInt(10).pow(k)
      s"WHEN c >= $p THEN c $divOp $p"
    }.mkString("CASE ", "\n     ", "\n     ELSE c END")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_benford_audit" -> ((s, dir) => {
      val cents = EventsQueries.events(s, dir)
        .filter(col("value") >= 0.01)
        .select((col("value").cast("decimal(18,2)") * 100)
          .cast("long").as("c"))
      val digits = cents.withColumn("digit", expr(digitLadder("div")))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val pArr = typedLit(BenfordP)
      val terms = digits
        .crossJoin(broadcast(digits.agg(sum("n_obs").as("n"))))
        .withColumn("benford_p", element_at(pArr, col("digit").cast("int")))
        .withColumn("share", col("n_obs").cast("double") / col("n"))
        .withColumn("term",
          (col("n_obs").cast("double") -
            col("n").cast("double") * col("benford_p")) *
            (col("n_obs").cast("double") -
              col("n").cast("double") * col("benford_p")) /
            (col("n").cast("double") * col("benford_p")))
        .transform(graft.Materialize(_)) // 9 rows; feeds the fold and the output
      val chi2 = terms
        .agg(sort_array(collect_list(struct(col("digit"), col("term"))))
          .as("ts"))
        .select(expr(
          "aggregate(ts, CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.term)")
          .as("chi2"))
      terms.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n_obs"), col("share"), col("benford_p"),
          col("chi2"), (col("chi2") < Chi2Crit99).as("benford_ok"))
        .orderBy("digit")
    }))

  private val pList = BenfordP.map(p => s"$p::DOUBLE").mkString(", ")

  val oracle: Map[String, String] = Map(
    "events_benford_audit" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""cents AS (
         |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM ev WHERE value >= 0.01::DOUBLE
         |),
         |digits AS (
         |  SELECT ${digitLadder("//")} AS digit,
         |         count(*) AS n_obs
         |  FROM cents GROUP BY 1
         |),
         |n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM digits),
         |terms AS (
         |  SELECT digit, n_obs,
         |         CAST(n_obs AS DOUBLE) / n.n AS share,
         |         ([$pList])[digit] AS benford_p,
         |         (CAST(n_obs AS DOUBLE) - CAST(n.n AS DOUBLE) * ([$pList])[digit])
         |           * (CAST(n_obs AS DOUBLE) - CAST(n.n AS DOUBLE) * ([$pList])[digit])
         |           / (CAST(n.n AS DOUBLE) * ([$pList])[digit]) AS term
         |  FROM digits, n
         |),
         |chi AS (
         |  SELECT list_reduce(
         |           list_prepend(0.0::DOUBLE,
         |             list_transform(
         |               list(struct_pack(digit := digit, term := term)
         |                    ORDER BY digit),
         |               t -> t.term)),
         |           (a, b) -> a + b) AS chi2
         |  FROM terms
         |)
         |SELECT t.digit, t.n_obs, t.share, t.benford_p, c.chi2,
         |       c.chi2 < $Chi2Crit99::DOUBLE AS benford_ok
         |FROM terms t, chi c ORDER BY t.digit""".stripMargin))
}
