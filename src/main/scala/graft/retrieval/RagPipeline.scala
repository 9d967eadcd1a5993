package graft.retrieval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{DedupComponents, DedupQueries}
import graft.text.{PipelineQueries, TextQueries}

/** The end-to-end RAG composition exhibit (round-8 verdict task 6): ONE
  * query chaining the pipeline a production retrieval deployment runs —
  *
  *   clean → dedup-suppress → chunk → (persisted sparse + dense serve)
  *         → fuse → result-dedup → context-pack
  *
  * — emitting the per-stage LEDGER (stage_id, stage, n): the
  * `corpus_clean_pipeline` analog for retrieval. What it certifies is
  * the COMPOSITION: the stage interfaces agree (the dedup suppression
  * really gates the served lists, the packer really consumes the
  * dedup-kept rows), not just that each stage works alone.
  *
  * Scale shape, stage by stage:
  *   - Stages 1–4 are the BUILD-SIDE curation ledger: one tokenize pass
  *     for quality/lang (shared columns with `corpus_clean_pipeline`),
  *     the capped n-gram-Jaccard component chain for suppression, and a
  *     chunk count read from the PERSISTED passage index's cdstats table
  *     — corpus-sized by nature (they are the corpus census), exactly
  *     once each.
  *   - Stages 5–8 are the SERVE-SIDE tail and touch NOTHING corpus-sized
  *     beyond the two pruned index legs inside [[RetrievalQueries.hybridIndexed]]:
  *     the eligibility check, vector fetch, and token fetch are all
  *     literal-IN pruned lookups of the ≤ |queries|·k candidate ids (the
  *     control-plane discipline every served path here uses). In a real
  *     deployment suppressed docs would never enter the index; with the
  *     indexes built over the full corpus, the post-filter expresses the
  *     same gate and keeps the suppression decision auditable.
  *
  * Every count is an exact integer; the suppression and packing rules
  * are the ones `ret_result_dedup` / `ret_context_pack` pin, re-run here
  * on the FILTERED lists (original hybrid ranks order both passes).
  */
object RagPipeline extends graft.QueryModule {

  import RetrievalQueries.{ContextBudget, QueryDocs, ResultDedupCos, TopK}

  /** One ledger row per stage from a 1-row count aggregate — the whole
    * ledger is a single 8-leg union plan, not 8 driver actions. */
  private def stage(id: Int, name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"))
      .select(lit(id.toLong).as("stage_id"), lit(name).as("stage"), col("n"))

  def ledger(s: SparkSession, dir: String): DataFrame = {
    val docsAll = s.read.parquet(s"$dir/documents.parquet")
    // The four build legs share no lineage (census+suppression vs the
    // persisted passage index vs the two serve indexes): overlap them as
    // concurrent jobs (guide §2.6) — the composition's stages are the
    // same, only the wall-clock overlap differs.
    val legs = graft.Par.together[AnyRef](
      () => {
        // -- build side: the curation census -----------------------------
        // checkpoint `clean`, not the wider `scored` it derives from:
        // scored has exactly one consumer (this filter), so a checkpoint
        // there was one extra eager job storing quality/lang columns
        // nothing re-reads; clean (doc_id only) is the frame consumed
        // twice (stage 2's count + the eligibility anti-join)
        val clean = TextQueries.tokenize(docsAll)
          .select(col("doc_id"), TextQueries.qualityCol.as("quality"),
            TextQueries.langPredCol.as("lang_pred"))
          .filter(col("quality") >= PipelineQueries.QualityThreshold &&
            col("lang_pred") === "en")
          .select("doc_id")
          .transform(graft.Materialize(_))
        val dupDrops = DedupComponents.components(
            DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
              .select("doc_a", "doc_b"))
          .filter(col("doc_id") =!= col("component"))
          .select("doc_id")
        val elig = clean.join(dupDrops, Seq("doc_id"), "left_anti")
          .transform(graft.Materialize(_))
        (clean, elig)
      },
      // chunk census comes from the PERSISTED passage index (one row per
      // chunk in cdstats) — no re-tokenize for the chunk stage
      () => PassageIndex.buildIfMissing(s, dir),
      // -- serve side: nothing corpus-sized beyond the index legs --------
      () => RetrievalQueries.hybridIndexed(s, dir)
        .select("query_doc", "rank", "doc_id").transform(graft.Materialize(_)))
    val (clean, elig) = legs(0).asInstanceOf[(DataFrame, DataFrame)]
    val ppath = legs(1).asInstanceOf[String]
    val lists = legs(2).asInstanceOf[DataFrame]
    val chunks = s.read.parquet(s"$ppath/cdstats")
      .select("doc_id", "chunk")
      .join(elig, Seq("doc_id"), "left_semi")
    val candIds = lists.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq // ≤ |queries|·k, CollectBoundsSpec
    val eligCand = elig.filter(col("doc_id").isin(candIds: _*))
    val flists = lists.join(broadcast(eligCand), Seq("doc_id"), "left_semi")
      .transform(graft.Materialize(_))
    // list-level SemDeDup on the filtered lists (ret_result_dedup's rule,
    // original hybrid ranks order the suppression)
    val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id"), col("embedding"))
    val fa = flists.join(broadcast(vecs), col("doc_id") === col("vec_id"))
      .select(col("query_doc"), col("rank"), col("doc_id"), col("embedding"))
      .transform(graft.Materialize(_))
    val fb = fa.select(col("query_doc").as("qb"), col("rank").as("rb"),
      col("doc_id").as("db"), col("embedding").as("eb"))
    val sup = fa.join(fb, col("query_doc") === col("qb") &&
        col("rb") < col("rank"))
      .filter(graft.sim.SimilarityQueries.cosine(col("embedding"), col("eb"))
        >= ResultDedupCos)
      .select("query_doc", "doc_id").distinct()
    val kept = flists.join(sup, Seq("query_doc", "doc_id"), "left_anti")
      .transform(graft.Materialize(_))
    // context pack over the dedup-kept rows (ret_context_pack's rule)
    val toks = docsAll.filter(col("doc_id").isin(candIds: _*))
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= lit("")))
          .cast("long").as("n_tokens"))
    val w = Window.partitionBy("query_doc").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = kept.join(broadcast(toks), "doc_id")
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= ContextBudget)
    stage(1, "corpus", docsAll)
      .unionByName(stage(2, "clean_kept", clean))
      .unionByName(stage(3, "dedup_kept", elig))
      .unionByName(stage(4, "chunks", chunks))
      .unionByName(stage(5, "retrieved", lists))
      .unionByName(stage(6, "eligible_results", flists))
      .unionByName(stage(7, "result_dedup_kept", kept))
      .unionByName(stage(8, "packed", packed))
      .orderBy("stage_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ret_rag_pipeline" -> ((s, dir) => ledger(s, dir)))

  /** One statement: the dedup component chain (WITH RECURSIVE head), the
    * quality/lang census, the chunk census, the hybrid-list chain, and
    * the filtered dedup + pack tail — each stage CTE named rag* to stay
    * clear of the composed chains' names. The suppression and packing
    * rules are textually the `ret_result_dedup` / `ret_context_pack`
    * rules over `ragflists`. */
  val oracle: Map[String, String] = Map(
    "ret_rag_pipeline" ->
      s"""WITH RECURSIVE
         |${DedupComponents.componentsCteSql},
         |ragscored AS (
         |  SELECT doc_id,
         |    ${TextQueries.qualitySqlExpr} AS quality,
         |    ${TextQueries.predSql} AS lang_pred
         |  FROM documents
         |),
         |ragclean AS (
         |  SELECT doc_id FROM ragscored
         |  WHERE quality >= ${PipelineQueries.QualityThreshold}
         |    AND lang_pred = 'en'
         |),
         |ragelig AS (
         |  SELECT doc_id FROM ragclean
         |  WHERE doc_id NOT IN
         |    (SELECT doc_id FROM components WHERE doc_id <> component)
         |),
         |ragchunks AS (
         |  SELECT DISTINCT doc_id, chunk FROM (
         |    SELECT doc_id, p // ${RetrievalQueries.ChunkTokens} AS chunk,
         |           tk[CAST(p + 1 AS INT)] AS term
         |    FROM (
         |      SELECT doc_id, tk, unnest(range(len(tk))) AS p FROM (
         |        SELECT doc_id, string_split_regex(text, '\\s+') AS tk
         |        FROM documents
         |      )
         |    )
         |  ) WHERE term <> ''
         |    AND doc_id IN (SELECT doc_id FROM ragelig)
         |),
         |${RetrievalQueries.hybridListsCtes},
         |ragflists AS (
         |  SELECT l.query_doc, l.rank, l.doc_id FROM hlists l
         |  WHERE l.doc_id IN (SELECT doc_id FROM ragelig)
         |),
         |ragsup AS (
         |  SELECT DISTINCT a.query_doc, a.doc_id
         |  FROM ragflists a
         |  JOIN ragflists b
         |    ON a.query_doc = b.query_doc AND b.rank < a.rank
         |  JOIN embeddings va ON va.vec_id = a.doc_id
         |  JOIN embeddings vb ON vb.vec_id = b.doc_id
         |  WHERE ${graft.oracle.Ora.cos64("va.embedding", "vb.embedding")}
         |    >= $ResultDedupCos
         |),
         |ragkept AS (
         |  SELECT f.query_doc, f.rank, f.doc_id FROM ragflists f
         |  WHERE NOT EXISTS (SELECT 1 FROM ragsup x
         |                    WHERE x.query_doc = f.query_doc
         |                      AND x.doc_id = f.doc_id)
         |),
         |ragtoks AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |           x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE doc_id IN (SELECT DISTINCT doc_id FROM ragkept)
         |),
         |ragpacked AS (
         |  SELECT query_doc, doc_id FROM (
         |    SELECT k.query_doc, k.doc_id,
         |           CAST(sum(t.n_tokens) OVER (PARTITION BY k.query_doc
         |             ORDER BY k.rank
         |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |    FROM ragkept k JOIN ragtoks t USING (doc_id)
         |  ) WHERE cum_tokens <= $ContextBudget
         |)
         |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage, n FROM (
         |  SELECT 1 AS stage_id, 'corpus' AS stage,
         |         count(*) AS n FROM documents
         |  UNION ALL SELECT 2, 'clean_kept', count(*) FROM ragclean
         |  UNION ALL SELECT 3, 'dedup_kept', count(*) FROM ragelig
         |  UNION ALL SELECT 4, 'chunks', count(*) FROM ragchunks
         |  UNION ALL SELECT 5, 'retrieved', count(*) FROM hlists
         |  UNION ALL SELECT 6, 'eligible_results', count(*) FROM ragflists
         |  UNION ALL SELECT 7, 'result_dedup_kept', count(*) FROM ragkept
         |  UNION ALL SELECT 8, 'packed', count(*) FROM ragpacked
         |) ORDER BY stage_id""".stripMargin)
}
