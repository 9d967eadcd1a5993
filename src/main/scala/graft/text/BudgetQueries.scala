package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mix budget allocation by weighted water-filling.
  *
  * The planning step between "per-source token counts" and "how many
  * tokens to actually draw from each source": given a total token budget
  * B, per-source priority weights w_i (the hand-assigned domain
  * preferences — code×4, reference×3, …), and an availability cap of
  * [[EpochCap]] epochs per source (repeating a source more than that
  * measurably hurts, so cap_i = EpochCap·s_i), allocate
  *
  *   alloc_i = min(cap_i, w_i·λ)   with λ s.t. Σ alloc_i = B.
  *
  * Closed form, no iteration: sort sources by saturation point
  * cap_i/w_i ascending; the saturated set is a prefix of that order, and
  * prefix sums locate it. All comparisons are cross-multiplied into
  * EXACT integer arithmetic — w_i ∈ {1,2,3,4} all divide 12, so
  * ratio_i = 12·cap_i/w_i is an exact integer sort key and the prefix-j
  * feasibility test `ratio_(j) · W_j ≤ 12·(B − S_j)` never touches a
  * float. Both engines therefore agree bit-for-bit, floors included.
  *
  * Scale shape: ONE corpus pass (the per-source token count); everything
  * after operates on the #sources-row dimension, where the unpartitioned
  * windows are dimension-sized by construction — the same blessed pattern
  * as the stratified-quota planner. Final floor division loses < 1 token
  * per unsaturated source, so B − Σ alloc < #sources (spec-asserted).
  */
object BudgetQueries extends graft.QueryModule {

  /** Availability cap: a source can be repeated at most this many epochs. */
  val EpochCap = 3L

  /** Budget as a multiple of the corpus's total token count. */
  val BudgetEpochs = 2L

  /** Priority weight domain — must all divide [[WLcm]]. */
  val WLcm = 12L

  /** Per-epoch prefix length emitted by `corpus_epoch_order`. */
  val EpochHead = 15

  /** Epochs materialized by `corpus_epoch_order`. */
  val Epochs = Seq(0L, 1L)

  /** The allocation frame shared by the report query and the draw:
    * (source, s_tok, w, cap, alloc_tokens, saturated), #sources rows. */
  private[text] def allocation(s: SparkSession, dir: String): DataFrame = {
      val perSrc = s.read.parquet(s"$dir/documents.parquet")
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("s_tok"))
        .withColumn("w",
          pmod(col("source").substr(lit(4), lit(10)).cast("long"), lit(4L))
            + 1L)
        .withColumn("cap", lit(EpochCap) * col("s_tok"))
        .withColumn("ratio", expr(s"($WLcm * cap) div w"))
      val all = Window.partitionBy()
      val byRatio = Window.orderBy("ratio", "source")
      val cum = byRatio.rowsBetween(Window.unboundedPreceding, 0)
      val ranked = perSrc
        .withColumn("budget", lit(BudgetEpochs) * sum("s_tok").over(all))
        .withColumn("w_total", sum("w").over(all))
        .withColumn("rk", row_number().over(byRatio).cast("long"))
        .withColumn("cum_cap", sum("cap").over(cum))
        .withColumn("cum_w", sum("w").over(cum))
        // feasible ⇔ sources 1..rk can ALL sit at their caps with the
        // remaining budget still filling everyone else past this ratio
        .withColumn("feasible",
          col("ratio") * (col("w_total") - col("cum_w")) <=
            lit(WLcm) * (col("budget") - col("cum_cap")))
      val located = ranked
        .withColumn("j_star",
          coalesce(max(when(col("feasible"), col("rk"))).over(all), lit(0L)))
        .withColumn("sat_cap", coalesce(
          max(when(col("rk") === col("j_star"), col("cum_cap"))).over(all),
          lit(0L)))
        .withColumn("w_rem", col("w_total") - coalesce(
          max(when(col("rk") === col("j_star"), col("cum_w"))).over(all),
          lit(0L)))
      located
        .withColumn("saturated", col("rk") <= col("j_star"))
        .withColumn("alloc_tokens",
          when(col("saturated"), col("cap")).otherwise(least(col("cap"),
            expr("(w * (budget - sat_cap)) div w_rem"))))
        .select("source", "s_tok", "w", "cap", "alloc_tokens", "saturated")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_budget_waterfill" -> ((s, dir) =>
      allocation(s, dir)
        .select(col("source"), col("s_tok").as("n_tokens"),
          col("w").as("weight"), col("cap").as("cap_tokens"),
          col("alloc_tokens"), col("saturated"),
          (col("alloc_tokens").cast("double") / col("s_tok")).as("epochs"))
        .orderBy("source")),

    // the dataloader's epoch shuffle, with zero RNG state: epoch e orders
    // documents by md5("epoch<e>#"||doc_id) — a different deterministic,
    // coordination-free permutation per epoch, reproducible from the
    // epoch number alone (the property a resumable training run needs).
    // Emitting a prefix per epoch plans as TakeOrderedAndProject (per-
    // partition top-k heaps merged on the driver, spec-pinned) — NOT a
    // global sort; materializing a FULL epoch is the one place a total
    // order costs a range-partitioned sort, and that is inherent to
    // "write the dataset in epoch order".
    "corpus_epoch_order" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      Epochs.map { e =>
        val prefix = docs.select(lit(e).as("epoch"), col("doc_id"),
            graft.cluster.RingRouter.pos32(
              concat(lit(s"epoch$e#"), col("doc_id"))).as("hk"))
          .orderBy("hk", "doc_id").limit(EpochHead)
        prefix.select(col("epoch"),
          row_number().over(Window.orderBy("hk", "doc_id")).cast("long")
            .as("position"),
          col("doc_id"))
      }.reduce(_ unionByName _).orderBy("epoch", "position")
    }),

    // materialize the plan: each source contributes alloc/s full epochs
    // plus a deterministic hash-prefix of documents covering the
    // remainder (the straddling doc is taken whole, so drawn ≥ alloc and
    // the overshoot is < the longest doc — spec-asserted). One corpus
    // pass for per-doc tokens; the per-source cumulative sum partitions
    // by source (#sources-way parallelism — the draw is sequential per
    // source BY DEFINITION: each doc's inclusion depends on the tokens
    // before it; the two-stage salted variant does not apply).
    "corpus_budget_draw" -> ((s, dir) => {
      // #sources rows with TWO consumers (the per-doc join's build side
      // and the final right join) — checkpointed so the corpus-counting
      // aggregate behind it runs once, same pattern as the temperature
      // mix's counts
      val alloc = allocation(s, dir)
        .withColumn("full_epochs", expr("alloc_tokens div s_tok"))
        .withColumn("rem_tokens", col("alloc_tokens") -
          col("full_epochs") * col("s_tok"))
        .transform(graft.Materialize(_))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          graft.cluster.RingRouter.pos32(
            concat(lit("draw#"), col("doc_id"))).as("hk"))
      val cum = Window.partitionBy("source").orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.join(broadcast(alloc), "source")
        .withColumn("cum_before", coalesce(sum("n_tok").over(cum), lit(0L)))
        .filter(col("cum_before") < col("rem_tokens"))
        .groupBy("source")
        .agg(count("*").as("partial_docs"), sum("n_tok").as("partial_tokens"))
        .join(alloc.select("source", "s_tok", "alloc_tokens", "full_epochs"),
          Seq("source"), "right")
        .select(col("source"), col("alloc_tokens"), col("full_epochs"),
          coalesce(col("partial_docs"), lit(0L)).as("partial_docs"),
          coalesce(col("partial_tokens"), lit(0L)).as("partial_tokens"),
          (col("full_epochs") * col("s_tok") +
            coalesce(col("partial_tokens"), lit(0L))).as("drawn_tokens"))
        .orderBy("source")
    })
  )

  /** CTE chain ending in `alloc(source, s_tok, w, cap, alloc_tokens,
    * saturated)` — the oracle twin of [[allocation]]. */
  private val allocCtes =
      s"""per_src AS (
         |  SELECT source,
         |         CAST(sum(length(string_split(text, ' '))) AS BIGINT)
         |           AS s_tok
         |  FROM documents GROUP BY source
         |),
         |dim AS (
         |  SELECT source, s_tok,
         |         CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS w,
         |         $EpochCap * s_tok AS cap,
         |         ($WLcm * $EpochCap * s_tok) // (CAST(substring(source, 4)
         |            AS BIGINT) % 4 + 1) AS ratio
         |  FROM per_src
         |),
         |ranked AS (
         |  SELECT *,
         |         $BudgetEpochs * sum(s_tok) OVER () AS budget,
         |         sum(w) OVER () AS w_total,
         |         row_number() OVER (ORDER BY ratio, source) AS rk,
         |         sum(cap) OVER (ORDER BY ratio, source
         |           ROWS UNBOUNDED PRECEDING) AS cum_cap,
         |         sum(w) OVER (ORDER BY ratio, source
         |           ROWS UNBOUNDED PRECEDING) AS cum_w
         |  FROM dim
         |),
         |feas AS (
         |  SELECT *, ratio * (w_total - cum_w) <=
         |            $WLcm * (budget - cum_cap) AS feasible
         |  FROM ranked
         |),
         |located AS (
         |  SELECT *,
         |    coalesce(max(CASE WHEN feasible THEN rk END) OVER (), 0)
         |      AS j_star
         |  FROM feas
         |),
         |level AS (
         |  SELECT *,
         |    coalesce(max(CASE WHEN rk = j_star THEN cum_cap END) OVER (), 0)
         |      AS sat_cap,
         |    w_total - coalesce(
         |      max(CASE WHEN rk = j_star THEN cum_w END) OVER (), 0) AS w_rem
         |  FROM located
         |),
         |alloc AS (
         |  SELECT source, s_tok, CAST(w AS BIGINT) AS w,
         |         CAST(cap AS BIGINT) AS cap,
         |         CAST(CASE WHEN rk <= j_star THEN cap
         |              ELSE least(cap, (w * (budget - sat_cap)) // w_rem)
         |         END AS BIGINT) AS alloc_tokens,
         |         rk <= j_star AS saturated
         |  FROM level
         |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "corpus_budget_waterfill" ->
      s"""WITH $allocCtes
         |SELECT source, s_tok AS n_tokens, w AS weight,
         |       cap AS cap_tokens, alloc_tokens, saturated,
         |       alloc_tokens::DOUBLE / s_tok AS epochs
         |FROM alloc ORDER BY source""".stripMargin,

    "corpus_epoch_order" -> Epochs.map { e =>
      s"""SELECT epoch, position, doc_id FROM (
         |  SELECT CAST($e AS BIGINT) AS epoch,
         |         row_number() OVER (ORDER BY
         |           CAST(concat('0x', substring(md5('epoch$e#' || doc_id),
         |             1, 8)) AS BIGINT), doc_id) AS position,
         |         doc_id
         |  FROM documents
         |) WHERE position <= $EpochHead""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY epoch, position"),

    "corpus_budget_draw" ->
      s"""WITH $allocCtes,
         |planned AS (
         |  SELECT source, s_tok, alloc_tokens,
         |         alloc_tokens // s_tok AS full_epochs,
         |         alloc_tokens % s_tok AS rem_tokens
         |  FROM alloc
         |),
         |docs AS (
         |  SELECT source, doc_id,
         |         CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |         CAST(concat('0x', substring(md5('draw#' || doc_id), 1, 8))
         |           AS BIGINT) AS hk
         |  FROM documents
         |),
         |cummed AS (
         |  SELECT d.source, d.n_tok, p.rem_tokens,
         |         coalesce(sum(d.n_tok) OVER (PARTITION BY d.source
         |           ORDER BY d.hk, d.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cum_before
         |  FROM docs d JOIN planned p USING (source)
         |),
         |partials AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS partial_docs,
         |         CAST(sum(n_tok) AS BIGINT) AS partial_tokens
         |  FROM cummed WHERE cum_before < rem_tokens GROUP BY source
         |)
         |SELECT p.source, p.alloc_tokens, p.full_epochs,
         |       coalesce(pa.partial_docs, 0) AS partial_docs,
         |       coalesce(pa.partial_tokens, 0) AS partial_tokens,
         |       p.full_epochs * p.s_tok + coalesce(pa.partial_tokens, 0)
         |         AS drawn_tokens
         |FROM planned p LEFT JOIN partials pa USING (source)
         |ORDER BY p.source""".stripMargin
  )
}
