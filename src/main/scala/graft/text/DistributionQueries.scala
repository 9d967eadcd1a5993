package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-frequency distribution diagnostics over the documents table:
  * the Zipf head profile and the per-source Gini concentration — the
  * two numbers a corpus curator reads before trusting a crawl (a head
  * that is too heavy means boilerplate; a Gini near 0 means the
  * "language" is noise with no natural-language skew).
  *
  * Both avoid transcendental functions on purpose: `ln` is not
  * correctly-rounded and differs between the JVM and libm, which would
  * break the repo-wide bit-equality oracle contract. Zipf's law is
  * therefore surfaced through rank×frequency (constant under an exact
  * s=1 Zipf law) instead of a log-log regression, and concentration
  * through the Gini index, whose closed form over sorted frequencies
  *   G = (2·Σ i·f_i − (n+1)·Σf_i) / (n·Σf_i)
  * is exact BIGINT arithmetic with ONE trailing double division.
  *
  * Scale shape: one corpus scan explodes tokens into a map-side-combined
  * (token[, source]) count — the shuffle carries vocabulary-sized data,
  * never corpus-sized. The Zipf head then TakeOrdereds the top rows; the
  * Gini windows run per-source over vocabulary-sized frames. Σi·f_i is
  * invariant under permutations of equal frequencies, so rank ties
  * cannot produce cross-engine drift.
  */
object DistributionQueries extends graft.QueryModule {

  /** Rows kept in the Zipf head profile. */
  val ZipfHead = 64

  private def words(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Zipf head: the ZipfHead most frequent tokens with rank, count,
    // rank×count (flat ⇔ Zipf exponent ≈ 1) and the cumulative share of
    // the corpus the head explains. cum_share is a division of two exact
    // longs. Rank ties break on the token string — both engines compare
    // ASCII-only fixture tokens identically.
    "text_zipf_head" -> ((s, dir) => {
      // the vocab-sized counts feed the rank window AND the corpus total
      // — checkpoint so the corpus is tokenized once, not once per leg
      val freqs = words(s, dir).groupBy("w").agg(count(lit(1)).as("freq"))
        .transform(graft.Materialize(_))
      val total = freqs.agg(sum("freq").as("total"))
      // top-k FIRST: orderBy+limit plans as TakeOrderedAndProject (the
      // corpus_epoch_order idiom), so the rank/cumulate window below
      // runs over the ZipfHead kept rows — ranking the WHOLE vocabulary
      // and then filtering rank <= k would single-partition-sort
      // vocab-sized data to keep k rows
      val head = freqs.orderBy(col("freq").desc, col("w").asc)
        .limit(ZipfHead)
      val wRank = Window.orderBy(col("freq").desc, col("w").asc)
      head
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("cum_freq",
          sum("freq").over(wRank.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("w").as("token"), col("freq"),
          (col("rank") * col("freq")).as("rank_x_freq"),
          (col("cum_freq").cast("double") / col("total").cast("double"))
            .as("cum_share"))
        .orderBy("rank")
    }),

    // per-source Gini concentration of the token distribution, plus the
    // vocabulary size and token mass. All sums are exact longs (worst
    // term 2·Σi·f_i ≤ 2·|V|·Σf ≈ 2^41 at sf0.1); gini is one double
    // division.
    "text_token_gini" -> ((s, dir) => {
      val freqs = words(s, dir).groupBy("source", "w")
        .agg(count(lit(1)).as("freq"))
      val wAsc = Window.partitionBy("source")
        .orderBy(col("freq").asc, col("w").asc)
      freqs
        .withColumn("i", row_number().over(wAsc).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum("freq").as("mass"),
          sum(col("i") * col("freq")).as("iwsum"))
        .select(col("source"), col("vocab"), col("mass"),
          ((lit(2L) * col("iwsum") - (col("vocab") + 1L) * col("mass"))
            .cast("double") /
            (col("vocab") * col("mass")).cast("double")).as("gini"))
        .orderBy("source")
    }))

  val oracle: Map[String, String] = Map(
    "text_zipf_head" ->
      s"""WITH wf AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |),
         |ranked AS (
         |  SELECT w, freq,
         |         row_number() OVER (ORDER BY freq DESC, w ASC) AS rank,
         |         CAST(sum(freq) OVER (ORDER BY freq DESC, w ASC
         |                              ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS cum_freq
         |  FROM wf
         |)
         |SELECT rank, w AS token, freq, rank * freq AS rank_x_freq,
         |       CAST(cum_freq AS DOUBLE) /
         |       CAST((SELECT sum(freq) FROM wf) AS DOUBLE) AS cum_share
         |FROM ranked WHERE rank <= $ZipfHead
         |ORDER BY rank""".stripMargin,

    "text_token_gini" ->
      """WITH wf AS (
        |  SELECT source, w, count(*) AS freq
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY source, w
        |),
        |ranked AS (
        |  SELECT source, freq,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY freq ASC, w ASC) AS i
        |  FROM wf
        |)
        |SELECT source, count(*) AS vocab,
        |       CAST(sum(freq) AS BIGINT) AS mass,
        |       CAST(2 * sum(i * freq) - (count(*) + 1) * sum(freq)
        |            AS DOUBLE) /
        |       CAST(count(*) * sum(freq) AS DOUBLE) AS gini
        |FROM ranked GROUP BY source ORDER BY source""".stripMargin)
}
