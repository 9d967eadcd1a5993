package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.hash.Fnv1a32
import graft.oracle.Ora
import SimilarityQueries._

/** Graph-traversal ANN serving — greedy BEAM SEARCH over the kNN graph,
  * the navigable-graph idiom of HNSW (Malkov & Yashunin, 2016, layer-0
  * search) and NSG: start from entry points, repeatedly score the
  * frontier's graph neighbors against the query, keep the best
  * [[BeamWidth]], answer with the top [[BeamK]] after [[BeamHops]]
  * rounds.
  *
  * Why this exists next to the bucket ANN family: every LSH/IVF variant
  * here prunes by PRECOMPUTED geometry (bucket, cell), so a query pays
  * for however many candidates its bucket holds. Graph traversal prunes
  * by CONNECTIVITY instead — per query it touches ≤ BeamHops ·
  * BeamWidth · (KnnK + 1) vectors NO MATTER THE CORPUS SIZE, which is
  * why navigable-graph search is the serving architecture of production
  * vector stores. With the graph read from the persisted
  * [[KnnGraphIndex]] (`sim_graph_beam_served`), per-query work is a
  * handful of literal-IN pruned lookups against vec_id-range-sorted
  * parquet — row-group pruning makes each fetch O(touched row groups),
  * not O(corpus) — and the only corpus-proportional stage left is the
  * entry sample, whose rate scales with N exactly like
  * `sim_cosine_calibration`'s (entry count held ~constant; at the gate
  * fixtures 1-in-[[EntryRate]] ≈ 8–28 entries).
  *
  * Driver-side state is the beam id list: ≤ BeamWidth ids + ≤
  * BeamWidth·KnnK neighbor ids per hop (32 values at the fixture
  * constants) — the literal-IN serving discipline the retrieval family
  * established, spec-pinned in BeamSearchSpec alongside the
  * CollectBoundsSpec sites.
  *
  * Everything is deterministic and oracle-mirrored: cosines are the
  * fold-exact [[Dot64]] chain, ties break on vec_id, the hop count is
  * fixed (so the oracle unrolls, the `sim_knn_kcore` pattern), and the
  * beam update is a pure top-B cut — `ORDER BY cos DESC, vec_id LIMIT B`
  * on both engines. Spark plans the cut as TakeOrderedAndProject (never
  * a global sort), and re-scoring a frontier member in a later round
  * reproduces identical bits, so carrying the frontier into the
  * candidate set needs no visited-set bookkeeping.
  */
object BeamSearch extends graft.QueryModule {

  /** Candidates kept per round — the `ef` of HNSW terminology. */
  val BeamWidth = 8

  /** Fixed expansion rounds. Fixed (not converged) so the DuckDB oracle
    * unrolls to the same depth; rounds past the fixed point only
    * re-confirm the beam (frontier ⊆ candidates makes the top-B cut
    * monotone non-worsening). */
  val BeamHops = 3

  /** Answers returned (≤ [[BeamWidth]]). */
  val BeamK = 5

  /** Entry-point hash-sample rate: vec_ids with
    * fnv1a32("beam:" + id) % EntryRate == 0 seed the search. At
    * production scale the rate grows with N so the entry COUNT stays
    * ~constant (the sim_cosine_calibration discipline); a navigable
    * graph needs only O(1) well-spread entries because the traversal,
    * not the seeding, closes in on the query's neighborhood. */
  val EntryRate = 64

  private def queryEmb(e: DataFrame): DataFrame =
    e.filter(col("vec_id") === lit(QueryVec))
      .select(col("embedding").as("q_emb"))

  /** The entry-point hash sample (see [[EntryRate]]). */
  private def isEntry: org.apache.spark.sql.Column =
    pmod(Fnv1a32.fnv1a32(
      concat(lit("beam:"), col("vec_id").cast("string"))),
      lit(EntryRate.toLong)) === 0

  /** Score `cands` (vec_id, embedding) against the 1-row broadcast query
    * and keep the beam: TakeOrderedAndProject, never a global sort. */
  private def topB(cands: DataFrame, q: DataFrame): DataFrame =
    cands.crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(BeamWidth)

  /** The beam loop over an edge list (vec_id, nbr). The walk seeds from
    * the hash sample PLUS the query's own graph neighbors (one
    * literal-IN edge lookup, ≤ KnnK ids) — the coarse-entry + graph-
    * refinement hybrid production systems run: the sample reaches
    * far-away islands, the query's node anchors the walk in its own
    * neighborhood (without it, recall is capped by whether a random
    * entry happens to land in the query's bucket island — measured 0.06
    * vs 0.1 single-probe LSH before the anchor was added). Per hop, the
    * two bounded collects documented in the scaladoc: the beam
    * (≤ BeamWidth) and its distinct neighbors (≤ BeamWidth·KnnK); both
    * feed literal-IN fetches so the embedding and edge scans stay
    * row-group-pruned. */
  private[sim] def beamOver(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val e = emb(s, dir)
    val q = queryEmb(e)
    val anchorIds = edges.filter(col("vec_id") === lit(QueryVec))
      .select("nbr").collect().map(_.getLong(0)) // ≤ KnnK
    val entries = e
      .filter(col("vec_id") =!= lit(QueryVec))
      .filter(isEntry || col("vec_id").isin(anchorIds: _*))
    var ids: Array[Long] = topB(entries, q)
      .select("vec_id").collect().map(_.getLong(0))
    for (_ <- 1 to BeamHops) {
      val nbrs = edges
        .filter(col("vec_id").isin(ids: _*) &&
          col("nbr") =!= lit(QueryVec))
        .select("nbr").distinct()
        .collect().map(_.getLong(0))
      val cand = (ids ++ nbrs).distinct.sorted
      ids = topB(e.filter(col("vec_id").isin(cand: _*)), q)
        .select("vec_id").collect().map(_.getLong(0))
    }
    // final emit re-derives the scored beam from the frozen id list so
    // the ranking window sits over a TakeOrderedAndProject subtree
    // (≤ BeamWidth rows — machine-checkably bounded in the plan audit)
    topB(e.filter(col("vec_id").isin(ids: _*)), q)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= BeamK)
      .select("rank", "vec_id", "cos_sim")
      .orderBy("rank")
  }

  /** The serving path: beam over the persisted [[KnnGraphIndex]] edge
    * table — per-query cost is corpus-independent given the built graph. */
  private[sim] def beamServed(s: SparkSession, dir: String): DataFrame = {
    val path = KnnGraphIndex.buildIfMissing(s, dir)
    beamOver(s, dir,
      s.read.parquet(s"$path/edges").select("vec_id", "nbr"))
  }

  /** BATCH serving: the whole `sim_ann_recall` query sample walks
    * simultaneously — the frontier is (q_id, vec_id) pairs, the per-hop
    * scoring cut is a q_id-PARTITIONED window (never global), and the
    * hop fetches are shared literal-IN lookups over the DISTINCT id set
    * across all queries (≤ |q|·BeamWidth frontier ids, ≤
    * |q|·BeamWidth·(KnnK+1) candidate ids — one pruned scan amortized
    * over the batch instead of one per query). Each round's beam is
    * localCheckpointed (≤ |q|·BeamWidth rows) so the next round's three
    * consumers (id collect, pair broadcast, union) share one execution. */
  private[sim] def beamBatch(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
    beamBatchOver(s, dir, edges, emb(s, dir).filter(sampled)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
  }

  /** The batch walk over an ARBITRARY query set (q_id, q_emb) — shared
    * by the fixed-sample batch query above and the streaming serving
    * twin ([[graft.streaming.BeamServeStream]]), whose micro-batches
    * each walk the standing graph through this exact code path. Queries
    * are independent (no cross-query state in the walk), so any
    * partition of a query set into batches yields bit-identical
    * per-query rows — the property the streaming spec pins. */
  private[graft] def beamBatchOver(s: SparkSession, dir: String,
      edges: DataFrame, qsIn: DataFrame): DataFrame = {
    val e = emb(s, dir)
    val qs = qsIn.transform(graft.Materialize(_)) // ≤ |q| rows, read every hop
    def topB(scoredPairs: DataFrame): DataFrame = {
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scoredPairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= BeamWidth)
        .select("q_id", "vec_id", "cos_sim")
    }
    // per-query anchors: each q_id's own graph neighbors (one pruned
    // edge lookup over the ≤ |q| query ids — the same hybrid entry as
    // the single-query walk). Collects stay bounded: |q| query ids +
    // ≤ |q|·KnnK anchor ids; the sample itself is scored distributedly
    // (one scan for the whole batch), never collected.
    val qIds = qs.select("q_id").collect().map(_.getLong(0)) // ≤ |q|
    val anchors = edges.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("q_id"), col("nbr").as("vec_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .transform(graft.Materialize(_)) // ≤ |q|·KnnK rows
    val anchorIds = anchors.select("vec_id").distinct()
      .collect().map(_.getLong(0))
    // a (q, v) pair enters beam0 iff v is a sampled entry (valid for
    // every query) or v is q's own graph neighbor
    var beam = topB(e.filter(isEntry || col("vec_id").isin(anchorIds: _*))
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(anchors.withColumn("is_anch", lit(true))),
          Seq("q_id", "vec_id"), "left")
        .filter(isEntry || coalesce(col("is_anch"), lit(false)))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim")))
      .transform(graft.Materialize(_))
    for (_ <- 1 to BeamHops) {
      val fIds = beam.select("vec_id").distinct()
        .collect().map(_.getLong(0))
      val nbrPairs = edges.filter(col("vec_id").isin(fIds: _*))
        .withColumnRenamed("vec_id", "src")
        .join(broadcast(beam.select(col("q_id"), col("vec_id").as("src"))),
          "src")
        .filter(col("nbr") =!= col("q_id"))
        .select(col("q_id"), col("nbr").as("vec_id"))
      val cand = beam.select("q_id", "vec_id").union(nbrPairs).distinct()
        .transform(graft.Materialize(_))
      val cIds = cand.select("vec_id").distinct()
        .collect().map(_.getLong(0))
      beam = topB(e.filter(col("vec_id").isin(cIds: _*))
          .join(broadcast(cand), "vec_id")
          .join(broadcast(qs), "q_id")
          .select(col("q_id"), col("vec_id"),
            cosine(col("embedding"), col("q_emb")).as("cos_sim")))
        .transform(graft.Materialize(_))
    }
    beam.withColumn("rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= BeamK)
      .select("q_id", "rank", "vec_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the algorithm exhibit: graph derived per call (same pair stage as
    // sim_knn_join), then the beam walk — checkpointed once so the three
    // hop probes don't re-run the pair derivation
    "sim_graph_beam_ann" -> ((s, dir) => {
      val edges = knnTopK(bucketCosinePairs(s, dir))
        .select("vec_id", "nbr").transform(graft.Materialize(_))
      beamOver(s, dir, edges)
    }),

    // the production shape: graph read from the persisted index;
    // bit-identical to the exact exhibit (the served edge table IS
    // sim_knn_join's output), so it shares the oracle
    "sim_graph_beam_served" -> ((s, dir) => beamServed(s, dir)),

    // the planes-grow-with-log-N twin (the ret_graph_ppr_scaled
    // discipline): beam over the [[SimilarityQueries.planesFor]]-
    // scheduled persisted graph — coincides with the fixed-plane walk
    // at gate SF (p floors at 8) and keeps buckets in-cap at 100×,
    // where the fixed geometry's graph is empty and a walk would
    // degenerate to its entry points
    "sim_graph_beam_scaled" -> ((s, dir) => {
      val path = KnnGraphIndex.buildScaledIfMissing(s, dir)
      beamOver(s, dir,
        s.read.parquet(s"$path/edges").select("vec_id", "nbr"))
    }),

    // batch serving over the persisted graph: the full sim_ann_recall
    // query sample walks at once — per-hop fetches amortize across the
    // batch (one pruned scan for ALL queries' candidates), the
    // production shape when queries arrive in micro-batches
    "sim_graph_beam_batch" -> ((s, dir) => {
      val path = KnnGraphIndex.buildIfMissing(s, dir)
      beamBatch(s, dir,
        s.read.parquet(s"$path/edges").select("vec_id", "nbr"))
    }),

    // per-query recall@5 of the batch walk in sim_ann_recall's exact
    // output shape — the row that makes graph traversal directly
    // comparable with the lsh/multiprobe/ivf legs on the same sample
    "sim_beam_batch_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
      val qs = e.filter(sampled)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val truth = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= BeamK).select("q_id", "vec_id")
      val path = KnnGraphIndex.buildIfMissing(s, dir)
      val pred = beamBatch(s, dir,
          s.read.parquet(s"$path/edges").select("vec_id", "nbr"))
        .select("q_id", "vec_id")
      qs.select("q_id").join(
          truth.join(pred, Seq("q_id", "vec_id"))
            .groupBy("q_id").agg(count("*").as("hits")),
          Seq("q_id"), "left")
        .select(col("q_id"), lit("graph_beam").as("method"),
          coalesce(col("hits"), lit(0L)).as("n_hits"),
          (coalesce(col("hits"), lit(0L)) / lit(5.0)).as("recall_at_5"))
        .orderBy("q_id")
    }),

    // measured recall@k of the beam answer against the brute-force
    // cosine truth — what graph traversal costs in answer quality, the
    // sim_ann_recall discipline. The truth leg is the documented
    // corpus × 1 eval contrast, not a serving path.
    "sim_beam_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queryEmb(e)
      val truth = e.filter(col("vec_id") =!= lit(QueryVec))
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(BeamK)
        .select("vec_id")
      beamServed(s, dir).select("vec_id")
        .join(truth, "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(BeamK.toLong).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(BeamK.toDouble)).as("recall"))
    }))

  /** kNN edges + unrolled beam rounds, hanging off `bpairs` (compose
    * after [[SimilarityQueries.bucketPairsSql]]). Ends at beam[[BeamHops]]. */
  private def beamChainSql: String = {
    val hops = (1 to BeamHops).map { h =>
      s"""bcand$h AS (
         |  SELECT vec_id FROM beam${h - 1}
         |  UNION
         |  SELECT k.nbr AS vec_id FROM bknn k
         |  JOIN beam${h - 1} b ON k.vec_id = b.vec_id
         |  WHERE k.nbr <> $QueryVec
         |),
         |beam$h AS MATERIALIZED (
         |  SELECT c.vec_id, ${Ora.cos64("e.embedding", "q.q_emb")} AS cos_sim
         |  FROM bcand$h c JOIN embeddings e USING (vec_id), bq q
         |  ORDER BY cos_sim DESC, c.vec_id LIMIT $BeamWidth
         |)""".stripMargin
    }.mkString(",\n")
    s"""bknn AS MATERIALIZED (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_sim DESC, nbr) AS rk FROM bpairs
       |  ) WHERE rk <= $KnnK
       |),
       |bq AS (SELECT embedding AS q_emb FROM embeddings
       |       WHERE vec_id = $QueryVec),
       |beam0 AS MATERIALIZED (
       |  SELECT vec_id, ${Ora.cos64("embedding", "q.q_emb")} AS cos_sim
       |  FROM embeddings, bq q
       |  WHERE vec_id <> $QueryVec
       |    AND (${Ora.fnv("'beam:' || vec_id")} % $EntryRate = 0
       |         OR vec_id IN (SELECT nbr FROM bknn
       |                       WHERE vec_id = $QueryVec))
       |  ORDER BY cos_sim DESC, vec_id LIMIT $BeamWidth
       |),
       |$hops""".stripMargin
  }

  /** The batch walk unrolled: per-q_id partitioned window cuts over the
    * shared sample. Ends at bbeam[[BeamHops]]. Composes after `bpairs`. */
  private def beamBatchChainSql: String = {
    def cut(src: String): String =
      s"""  SELECT q_id, vec_id, cos_sim FROM (
         |    SELECT q_id, vec_id, cos_sim, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM ($src)
         |  ) WHERE rk <= $BeamWidth""".stripMargin
    val hops = (1 to BeamHops).map { h =>
      s"""bbcand$h AS (
         |  SELECT q_id, vec_id FROM bbeam${h - 1}
         |  UNION
         |  SELECT b.q_id, k.nbr AS vec_id FROM bknn k
         |  JOIN bbeam${h - 1} b ON k.vec_id = b.vec_id
         |  WHERE k.nbr <> b.q_id
         |),
         |bbeam$h AS MATERIALIZED (
         |${cut(s"""SELECT c.q_id, c.vec_id,
           |             ${Ora.cos64("e.embedding", "q.q_emb")} AS cos_sim
           |      FROM bbcand$h c JOIN embeddings e USING (vec_id)
           |      JOIN bqs q USING (q_id)""".stripMargin)}
         |)""".stripMargin
    }.mkString(",\n")
    s"""bknn AS MATERIALIZED (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_sim DESC, nbr) AS rk FROM bpairs
       |  ) WHERE rk <= $KnnK
       |),
       |bqs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |        WHERE vec_id % 50 = 0 AND vec_id < 500),
       |bbeam0 AS MATERIALIZED (
       |${cut(s"""SELECT q.q_id, e.vec_id,
         |             ${Ora.cos64("e.embedding", "q.q_emb")} AS cos_sim
         |      FROM embeddings e, bqs q
         |      WHERE e.vec_id <> q.q_id
         |        AND (${Ora.fnv("'beam:' || e.vec_id")} % $EntryRate = 0
         |             OR EXISTS (SELECT 1 FROM bknn k
         |                        WHERE k.vec_id = q.q_id
         |                          AND k.nbr = e.vec_id))""".stripMargin)}
       |),
       |$hops""".stripMargin
  }

  val oracle: Map[String, String] = {
    val beamAnnSql =
      s"""WITH $bucketPairsSql,
         |$beamChainSql
         |SELECT rank, vec_id, cos_sim FROM (
         |  SELECT vec_id, cos_sim, row_number() OVER (
         |    ORDER BY cos_sim DESC, vec_id) AS rank
         |  FROM beam$BeamHops
         |) WHERE rank <= $BeamK ORDER BY rank""".stripMargin
    val recallSql =
      s"""WITH $bucketPairsSql,
         |$beamChainSql,
         |btop AS (SELECT vec_id FROM beam$BeamHops
         |         ORDER BY cos_sim DESC, vec_id LIMIT $BeamK),
         |btruth AS (
         |  SELECT e.vec_id FROM embeddings e, bq q
         |  WHERE e.vec_id <> $QueryVec
         |  ORDER BY ${Ora.cos64("e.embedding", "q.q_emb")} DESC, e.vec_id
         |  LIMIT $BeamK
         |)
         |SELECT CAST($BeamK AS BIGINT) AS k,
         |       CAST(count(*) AS BIGINT) AS n_hit,
         |       CAST(count(*) AS DOUBLE) / CAST($BeamK AS DOUBLE) AS recall
         |FROM btop JOIN btruth USING (vec_id)""".stripMargin
    val beamScaledSql =
      s"""WITH $scaledBucketPairsSql,
         |$beamChainSql
         |SELECT rank, vec_id, cos_sim FROM (
         |  SELECT vec_id, cos_sim, row_number() OVER (
         |    ORDER BY cos_sim DESC, vec_id) AS rank
         |  FROM beam$BeamHops
         |) WHERE rank <= $BeamK ORDER BY rank""".stripMargin
    val batchSql =
      s"""WITH $bucketPairsSql,
         |$beamBatchChainSql
         |SELECT q_id, rank, vec_id, cos_sim FROM (
         |  SELECT q_id, vec_id, cos_sim, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
         |  FROM bbeam$BeamHops
         |) WHERE rank <= $BeamK ORDER BY q_id, rank""".stripMargin
    val batchRecallSql =
      s"""WITH $bucketPairsSql,
         |$beamBatchChainSql,
         |bbtop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM bbeam$BeamHops
         |  ) WHERE rk <= $BeamK
         |),
         |bbtruth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY ${Ora.cos64("e.embedding", "q.q_emb")} DESC,
         |                      e.vec_id) AS rk
         |    FROM embeddings e, bqs q WHERE e.vec_id <> q.q_id
         |  ) WHERE rk <= $BeamK
         |),
         |bbhits AS (
         |  SELECT t.q_id, count(*) AS n_hits FROM bbtruth t
         |  JOIN bbtop c ON t.q_id = c.q_id AND t.vec_id = c.vec_id
         |  GROUP BY t.q_id
         |)
         |SELECT q_id, method, n_hits, n_hits / 5.0 AS recall_at_5 FROM (
         |  SELECT q.q_id, 'graph_beam' AS method,
         |         coalesce(h.n_hits, 0) AS n_hits
         |  FROM bqs q LEFT JOIN bbhits h USING (q_id)
         |) ORDER BY q_id""".stripMargin
    Map(
      "sim_graph_beam_ann" -> beamAnnSql,
      "sim_graph_beam_served" -> beamAnnSql,
      "sim_graph_beam_scaled" -> beamScaledSql,
      "sim_graph_beam_batch" -> batchSql,
      "sim_beam_batch_recall" -> batchRecallSql,
      "sim_beam_recall" -> recallSql)
  }
}
