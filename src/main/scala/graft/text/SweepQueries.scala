package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.DedupQueries

/** Curation-tuning sweeps over the documents corpus: the two questions a
  * pipeline operator asks BEFORE committing a filter config to a 100 TB
  * run — "what does each quality cutoff cost in data?" and "where do my
  * duplicates come from?".
  *
  * Scale shape: both queries reduce the corpus to a tiny keyed table in
  * ONE pass (a 21-bin histogram; a #source²-bounded matrix) and do all
  * window/ratio work on that reduction. The dup-flow matrix rides the
  * SAME inverted-index pair chain as `dedup_ngram_jaccard` (Σ posting²
  * bounded by the MaxPosting cap, never corpus²) and joins the pair list
  * — dup-rate-sized, orders of magnitude below corpus-sized — against a
  * two-column (doc_id, source) projection of the scan.
  */
object SweepQueries extends graft.QueryModule {

  /** Quality-histogram resolution: bins of width 1/[[QBins]] over the
    * composite score's [0,1] range. floor(q·20) is exact on both engines
    * because q itself is derived bit-identically (integer token counts,
    * one multiply-add chain — see [[TextQueries.qualityCol]]). */
  val QBins = 20

  /** Output-writer count for `corpus_shard_plan`. */
  val OutShards = 8L

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // quality-threshold retention curve: for each quality bin, the docs
    // and tokens that survive a cutoff at the bin's LOWER edge — the
    // sweep that turns "pick a quality threshold" from a guess into a
    // lookup. One corpus scan folds to a ≤21-row histogram; the
    // cumulative window and the share divisions run on the histogram,
    // so the window's lack of partitioning is irrelevant at any scale.
    // All sums are over BIGINTs (doc and token counts), so the running
    // totals are order-independent and exact; the only doubles are the
    // two final divisions of exact longs.
    "corpus_quality_sweep" -> ((s, dir) => {
      val hist = TextQueries.tokenize(docs(s, dir))
        .select(
          floor(TextQueries.qualityCol * QBins).cast("long").as("qbin"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("qbin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        // the ≤21-row histogram feeds both the window chain and the
        // grand-total broadcast; without the checkpoint the corpus
        // scan+tokenize would run twice (same trade as
        // corpus_temperature_mix — materialize the tiny reduction,
        // never the corpus)
        .transform(graft.Materialize(_))
      val w = Window.orderBy(col("qbin").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      hist
        .withColumn("cum_docs", sum("n_docs").over(w))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .crossJoin(broadcast(hist.agg(
          sum("n_docs").as("tot_docs"), sum("n_tokens").as("tot_tokens"))))
        .select(col("qbin"), col("n_docs"), col("n_tokens"),
          col("cum_docs"), col("cum_tokens"),
          (col("cum_docs").cast("double") / col("tot_docs")).as("doc_share"),
          (col("cum_tokens").cast("double") / col("tot_tokens"))
            .as("token_share"))
        .orderBy("qbin")
    }),

    // cross-source duplicate flow: every confirmed near-dup pair
    // (the exact-Jaccard chain, threshold 0.5) attributed to its
    // (source, source) cell — "which feeds duplicate each other?" is
    // the first question after any dedup-savings number, because the
    // fix (drop a mirror feed, reorder crawl priority) is per-source.
    // The pair list is joined twice against a broadcast-sized
    // (doc_id, source) projection; output is bounded by #sources².
    "corpus_dup_flow" -> ((s, dir) => {
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      val pairs = DedupQueries.jaccardPairsFrom(DedupQueries.shingled(s, dir))
        .select("doc_a", "doc_b")
      pairs
        .join(src.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("source", "src_a"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("source", "src_b"), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),

    // forward n-gram novelty per source: a shingle "belongs" to the
    // lowest doc_id that contains it (the deterministic stand-in for
    // arrival order); a doc's novelty is the share of its shingles it
    // owns. Sources full of re-used phrasing score low and are the
    // first candidates for down-weighting in the mix. Shape: ONE
    // inverted-index shuffle (groupBy shingle → min doc) and one
    // co-keyed join back — the same posting-list economics as the
    // dedup chain, never corpus²; all counts integer until the final
    // per-source division.
    "corpus_ngram_novelty" -> ((s, dir) => {
      val ex = DedupQueries.shingled(s, dir)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
      val firsts = ex.groupBy("sh").agg(min("doc_id").as("first_doc"))
      val perDoc = ex.join(firsts, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      perDoc.join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_sh").as("n_shingles"), sum("n_novel").as("n_novel"))
        .withColumn("novelty_rate",
          col("n_novel").cast("double") / col("n_shingles").cast("double"))
        .orderBy("source")
    }),

    // balanced output-shard plan: docs ranked by token count descending
    // and dealt round-robin across [[OutShards]] writers — the LPT-style
    // deal that keeps training-shard sizes near-equal when doc lengths
    // are heavy-tailed (a hash deal can land several whales on one
    // writer; the size-ranked deal separates them by construction).
    // One corpus scan to per-doc tokens, then the rank IS the operator —
    // a total order over doc sizes — computed as the two-stage
    // [[graft.Ranks.rowNumber]] (range-partitioned parallel sort +
    // per-partition offsets), NOT a global `Window.orderBy` whose
    // physical plan is a single-partition WindowExec over every doc.
    // Bit-identical deal; the one-task sort is gone. Then a shard-sized
    // rollup with the imbalance read off as max/mean of exact BIGINT
    // sums.
    "corpus_shard_plan" -> ((s, dir) => {
      val planned = graft.Ranks.rowNumber(
          docs(s, dir).select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
          "rank", col("n_tok").desc, col("doc_id"))
        .withColumn("shard", pmod(col("rank") - 1L, lit(OutShards)))
      val hist = planned.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        // feeds the rollup and the imbalance broadcast
        .transform(graft.Materialize(_))
      hist.crossJoin(broadcast(hist.agg(
          max("n_tokens").as("max_tok"), sum("n_tokens").as("tot_tok"))))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("tot_tok"))
            .as("token_share"),
          (col("max_tok") * OutShards).cast("double")
            .divide(col("tot_tok").cast("double")).as("imbalance"))
        .orderBy("shard")
    }))

  val oracle: Map[String, String] = Map(
    "corpus_quality_sweep" ->
      s"""WITH hist AS (
         |  SELECT CAST(floor((${TextQueries.qualitySqlExpr}) * $QBins)
         |           AS BIGINT) AS qbin,
         |         count(*) AS n_docs,
         |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |           AS n_tokens
         |  FROM documents GROUP BY 1
         |),
         |tot AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
         |  FROM hist
         |),
         |cum AS (
         |  SELECT qbin, n_docs, n_tokens,
         |         CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
         |         CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens
         |  FROM hist
         |  WINDOW w AS (ORDER BY qbin DESC ROWS UNBOUNDED PRECEDING)
         |)
         |SELECT qbin, n_docs, n_tokens, cum_docs, cum_tokens,
         |       CAST(cum_docs AS DOUBLE) / tot_docs AS doc_share,
         |       CAST(cum_tokens AS DOUBLE) / tot_tokens AS token_share
         |FROM cum, tot ORDER BY qbin""".stripMargin,

    "corpus_dup_flow" -> (s"WITH ${DedupQueries.jaccardPairsSql},\n" +
      s"""flow AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b
         |  FROM jac
         |  JOIN documents da ON jac.doc_a = da.doc_id
         |  JOIN documents db ON jac.doc_b = db.doc_id
         |  WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |)
         |SELECT source_a, source_b, count(*) AS n_pairs
         |FROM flow GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),

    "corpus_ngram_novelty" -> (s"WITH ${DedupQueries.shingledSql},\n" +
      """ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
        |firsts AS (SELECT sh, min(doc_id) AS first_doc FROM ex GROUP BY sh),
        |per_doc AS (
        |  SELECT e.doc_id, count(*) AS n_sh,
        |         CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_novel
        |  FROM ex e JOIN firsts f ON e.sh = f.sh
        |  GROUP BY e.doc_id
        |)
        |SELECT d.source, count(*) AS n_docs,
        |       CAST(sum(p.n_sh) AS BIGINT) AS n_shingles,
        |       CAST(sum(p.n_novel) AS BIGINT) AS n_novel,
        |       CAST(sum(p.n_novel) AS DOUBLE) / CAST(sum(p.n_sh) AS DOUBLE)
        |         AS novelty_rate
        |FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    "corpus_shard_plan" ->
      s"""WITH planned AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |         (row_number() OVER (ORDER BY len(string_split(text, ' '))
         |            DESC, doc_id) - 1) % $OutShards AS shard
         |  FROM documents
         |),
         |hist AS (
         |  SELECT shard, count(*) AS n_docs,
         |         CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM planned GROUP BY shard
         |),
         |tot AS (
         |  SELECT CAST(max(n_tokens) AS BIGINT) AS max_tok,
         |         CAST(sum(n_tokens) AS BIGINT) AS tot_tok
         |  FROM hist
         |)
         |SELECT shard, n_docs, n_tokens,
         |       CAST(n_tokens AS DOUBLE) / tot_tok AS token_share,
         |       CAST(max_tok * $OutShards AS DOUBLE)
         |         / CAST(tot_tok AS DOUBLE) AS imbalance
         |FROM hist, tot ORDER BY shard""".stripMargin)
}
