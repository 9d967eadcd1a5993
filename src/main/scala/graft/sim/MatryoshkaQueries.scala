package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.Ora

/** Matryoshka-style truncated-dimension retrieval: rank with a cheap
  * PREFIX of the embedding, rerank the survivors with the full vector.
  *
  * The scale story: a Matryoshka-trained embedding keeps most of its
  * ranking power in its leading dimensions, so the serving tier stores
  * the first [[PrefixDims]] dims as their own (4× smaller) column and
  * scans only that for phase 1 — at 100 TB that is 4× less I/O and 4×
  * fewer FLOPs on the full-corpus pass, with the full vectors touched
  * only for [[CandidateK]] candidates per query. The fixture stores one
  * embedding column, so phase 1 slices in-flight; the plumbing (prefix
  * score → candidate cut → full-precision rerank) is the real pipeline.
  *
  * Both phases use the ordered-fold dot product ([[Dot64]] /
  * `Ora.dotN`), so every cosine is bit-identical to the DuckDB oracle.
  */
object MatryoshkaQueries extends graft.QueryModule {

  /** Leading dims scanned in phase 1 (the "stored prefix column"). */
  val PrefixDims = 16

  /** Phase-1 survivors reranked with the full vector, per query. */
  val CandidateK = 20

  /** Cut depths measured by the recall curve. */
  val RecallKs: Seq[Int] = Seq(1, 5, 10, 20)

  /** Probe depths measured by the IVF sweep. */
  val NProbes: Seq[Int] = Seq(1, 2, 3, 4)

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def cosN(a: Column, b: Column, n: Int): Column = {
    def p(c: Column) = slice(c, 1, n)
    Dot64.dot64(p(a), p(b)) /
      (sqrt(Dot64.dot64(p(a), p(a))) * sqrt(Dot64.dot64(p(b), p(b))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // recall@5 of the two-phase prefix path (and the no-rerank ablation)
    // against the exact full-dim top-5, for the suite's fixed 10-query
    // sample. The full-corpus legs are Q×N with constant Q — the
    // measurement harness; the served path's phase-2 cost is Q×K.
    "sim_trunc_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
      val qs = e.filter(sampled)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      def topK(scored: DataFrame, k: Int): DataFrame = {
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos_sim").desc, col("vec_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k).drop("rk")
      }
      // phase 1: prefix-cosine over the whole corpus
      val pre = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("embedding"), col("q_emb"),
          cosN(col("embedding"), col("q_emb"), PrefixDims).as("cos_sim"))
      val cands = topK(pre, CandidateK)
      // phase 2: full-precision rerank of the K survivors
      val reranked = topK(cands
        .select(col("q_id"), col("vec_id"),
          SimilarityQueries.cosine(col("embedding"), col("q_emb"))
            .as("cos_sim")), 5)
        .select("q_id", "vec_id")
      // ablation: trust the prefix ranking outright
      val norerank = topK(pre.select("q_id", "vec_id", "cos_sim"), 5)
        .select("q_id", "vec_id")
      val truth = topK(e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          SimilarityQueries.cosine(col("embedding"), col("q_emb"))
            .as("cos_sim")), 5)
        .select("q_id", "vec_id")
      def recallOf(pred: DataFrame, method: String): DataFrame =
        qs.select("q_id").join(
            truth.join(pred, Seq("q_id", "vec_id"))
              .groupBy("q_id").agg(count("*").as("hits")),
            Seq("q_id"), "left")
          .select(col("q_id"), lit(method).as("method"),
            coalesce(col("hits"), lit(0L)).as("n_hits"),
            (coalesce(col("hits"), lit(0L)) / lit(5.0)).as("recall_at_5"))
      recallOf(reranked, "trunc16_rerank")
        .unionByName(recallOf(norerank, "trunc16_only"))
        .orderBy("method", "q_id")
    }),

    // rank displacement: where does the TRUE nearest neighbor land in
    // the prefix-16 ordering? rank 1 everywhere = the prefix is a
    // perfect router; the reciprocal rank is the exact-rational summary
    // (per query — never averaged across rows, which would be an
    // order-dependent double sum). This is the statistic that sizes
    // CandidateK: P(prefix_rank <= K) IS the rerank path's recall@1.
    "sim_truth_rank" -> ((s, dir) => {
      val e = emb(s, dir)
      val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
      val qs = e.filter(sampled)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val scored = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          SimilarityQueries.cosine(col("embedding"), col("q_emb"))
            .as("full_cos"),
          cosN(col("embedding"), col("q_emb"), PrefixDims).as("cos_sim"))
      // both ranks land on the same row set: the row winning the full
      // ordering (trk=1) carries its own prefix rank — one pass, one
      // shuffle on q_id, no self-join
      scored
        .withColumn("trk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("full_cos").desc, col("vec_id"))))
        .withColumn("prefix_rank", row_number().over(w))
        .filter(col("trk") === 1)
        .select(col("q_id"), col("vec_id").as("truth_id"),
          col("prefix_rank").cast("long").as("prefix_rank"),
          (lit(1.0) / col("prefix_rank")).as("reciprocal_rank"))
        .orderBy("q_id")
    }),

    // the recall CURVE: recall@k of the prefix-16 ordering against the
    // exact ordering for k ∈ {1,5,10,20}, per query — the tuning table
    // for the candidate-cut knob (sim_truth_rank gives the top-1 story;
    // this gives the whole frontier). Both rankings land on the same
    // scored rows (two windows, one shuffle); recall@k = |both ranks
    // ≤ k| / k, an exact-int division.
    "sim_recall_curve" -> ((s, dir) => {
      val e = emb(s, dir)
      val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
      val qs = e.filter(sampled)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          SimilarityQueries.cosine(col("embedding"), col("q_emb"))
            .as("full_cos"),
          cosN(col("embedding"), col("q_emb"), PrefixDims).as("pre_cos"))
        .withColumn("trk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("full_cos").desc, col("vec_id"))))
        .withColumn("prk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("pre_cos").desc, col("vec_id"))))
      scored
        .select(col("q_id"), col("trk"), col("prk"),
          explode(typedLit(RecallKs)).as("k"))
        .filter(col("trk") <= col("k"))
        .groupBy("q_id", "k")
        .agg(sum(when(col("prk") <= col("k"), 1L).otherwise(0L))
          .as("n_hits"))
        .select(col("q_id"), col("k").cast("long").as("k"), col("n_hits"),
          (col("n_hits").cast("double") / col("k")).as("recall_at_k"))
        .orderBy("q_id", "k")
    }),

    // the OTHER tuning knob's sweep: IVF recall@5 at nprobe 1..4 —
    // together with sim_recall_curve this is the full ANN tuning
    // surface (scan-cost knob × cell-probe knob). Candidate cells per
    // (query, nprobe) come from one centroid ranking exploded across
    // nprobe values; every (q, nprobe) leg reranks its pruned candidate
    // set with the full cosine against the exact top-5 truth.
    "sim_ivf_nprobe_sweep" -> ((s, dir) => {
      val e = emb(s, dir)
      val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
      val qs = e.filter(sampled)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      def top5(scored: DataFrame, part: Seq[String]): DataFrame = {
        val w = Window.partitionBy(part.map(col): _*)
          .orderBy(col("cos_sim").desc, col("vec_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
      }
      val truth = top5(e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          SimilarityQueries.cosine(col("embedding"), col("q_emb"))
            .as("cos_sim")), Seq("q_id"))
        .select("q_id", "vec_id")
      val cents = SimilarityQueries.coarseCentroids(e)
      val assigned = SimilarityQueries.assignedCells(e)
      val qc = qs.crossJoin(broadcast(cents))
        .select(col("q_id"), col("q_emb"), col("cell"),
          SimilarityQueries.cosine(col("q_emb"), col("c_emb"))
            .as("cos_c"))
        .withColumn("rc", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos_c").desc, col("cell"))))
      val probes = qc
        .select(col("q_id"), col("q_emb"), col("cell"), col("rc"),
          explode(typedLit(NProbes)).as("nprobe"))
        .filter(col("rc") <= col("nprobe"))
        .select("q_id", "q_emb", "cell", "nprobe")
      val pred = top5(assigned.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("nprobe"), col("vec_id"),
          SimilarityQueries.cosine(col("embedding"), col("q_emb"))
            .as("cos_sim")), Seq("q_id", "nprobe"))
        .select("q_id", "nprobe", "vec_id")
      qs.select("q_id")
        .crossJoin(broadcast(
          s.range(0, 1).select(explode(typedLit(NProbes)).as("nprobe"))))
        .join(truth.join(pred, Seq("q_id", "vec_id"))
          .groupBy("q_id", "nprobe").agg(count(lit(1)).as("hits")),
          Seq("q_id", "nprobe"), "left")
        .select(col("q_id"), col("nprobe").cast("long").as("nprobe"),
          coalesce(col("hits"), lit(0L)).as("n_hits"),
          (coalesce(col("hits"), lit(0L)) / lit(5.0)).as("recall_at_5"))
        .orderBy("q_id", "nprobe")
    }))

  private def cosNSql(a: String, b: String, n: Int): String =
    s"${Ora.dotN(a, b, n)} / (sqrt(${Ora.dotN(a, a, n)}) * " +
      s"sqrt(${Ora.dotN(b, b, n)}))"

  val oracle: Map[String, String] = Map(
    "sim_trunc_recall" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id % 50 = 0 AND vec_id < 500
         |),
         |pre AS (
         |  SELECT q.q_id, e.vec_id, e.embedding, q.q_emb,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY ${cosNSql("e.embedding", "q.q_emb", PrefixDims)}
         |             DESC, e.vec_id) AS rk
         |  FROM embeddings e, qs q WHERE e.vec_id <> q.q_id
         |),
         |rerank AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY ${Ora.cos64("embedding", "q_emb")} DESC,
         |                      vec_id) AS rk2
         |    FROM pre WHERE rk <= $CandidateK
         |  ) WHERE rk2 <= 5
         |),
         |norerank AS (
         |  SELECT q_id, vec_id FROM pre WHERE rk <= 5
         |),
         |truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY ${Ora.cos64("e.embedding", "q.q_emb")} DESC,
         |                      e.vec_id) AS rk
         |    FROM embeddings e, qs q WHERE e.vec_id <> q.q_id
         |  ) WHERE rk <= 5
         |),
         |hits AS (
         |  SELECT m.method, q.q_id,
         |         CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hits
         |  FROM qs q
         |  CROSS JOIN (SELECT unnest(['trunc16_rerank', 'trunc16_only'])
         |              AS method) m
         |  LEFT JOIN (
         |    SELECT 'trunc16_rerank' AS method, t.q_id, count(*) AS hits
         |    FROM truth t JOIN rerank r
         |      ON t.q_id = r.q_id AND t.vec_id = r.vec_id
         |    GROUP BY 2
         |    UNION ALL
         |    SELECT 'trunc16_only', t.q_id, count(*)
         |    FROM truth t JOIN norerank r
         |      ON t.q_id = r.q_id AND t.vec_id = r.vec_id
         |    GROUP BY 2
         |  ) h ON h.method = m.method AND h.q_id = q.q_id
         |)
         |SELECT q_id, method, n_hits,
         |       n_hits / 5.0::DOUBLE AS recall_at_5
         |FROM hits ORDER BY method, q_id""".stripMargin,

    "sim_truth_rank" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id % 50 = 0 AND vec_id < 500
         |),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |         ${Ora.cos64("e.embedding", "q.q_emb")} AS full_cos,
         |         ${cosNSql("e.embedding", "q.q_emb", PrefixDims)} AS cos_sim
         |  FROM embeddings e, qs q WHERE e.vec_id <> q.q_id
         |),
         |ranked AS (
         |  SELECT q_id, vec_id,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY full_cos DESC, vec_id) AS trk,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos_sim DESC, vec_id) AS prefix_rank
         |  FROM scored
         |)
         |SELECT q_id, vec_id AS truth_id,
         |       CAST(prefix_rank AS BIGINT) AS prefix_rank,
         |       1.0::DOUBLE / prefix_rank AS reciprocal_rank
         |FROM ranked WHERE trk = 1 ORDER BY q_id""".stripMargin,

    "sim_recall_curve" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id % 50 = 0 AND vec_id < 500
         |),
         |ranked AS (
         |  SELECT q.q_id, e.vec_id,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY ${Ora.cos64("e.embedding", "q.q_emb")} DESC,
         |                    e.vec_id) AS trk,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY ${cosNSql("e.embedding", "q.q_emb", PrefixDims)}
         |             DESC, e.vec_id) AS prk
         |  FROM embeddings e, qs q WHERE e.vec_id <> q.q_id
         |)
         |SELECT q_id, CAST(k.k AS BIGINT) AS k,
         |       CAST(sum(CASE WHEN prk <= k.k THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_hits,
         |       CAST(sum(CASE WHEN prk <= k.k THEN 1 ELSE 0 END) AS DOUBLE)
         |         / k.k AS recall_at_k
         |FROM ranked
         |CROSS JOIN (SELECT unnest([${RecallKs.mkString(", ")}]) AS k) k
         |WHERE trk <= k.k
         |GROUP BY q_id, k.k ORDER BY q_id, k""".stripMargin,

    "sim_ivf_nprobe_sweep" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id % 50 = 0 AND vec_id < 500
         |),
         |truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY ${Ora.cos64("e.embedding", "q.q_emb")} DESC,
         |                      e.vec_id) AS rk
         |    FROM embeddings e, qs q WHERE e.vec_id <> q.q_id
         |  ) WHERE rk <= 5
         |),
         |centroids AS (
         |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
         |  WHERE vec_id < ${SimilarityQueries.NumCells}
         |),
         |ascored AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${Ora.cos64("e.embedding", "c.c_emb")} DESC,
         |                    c.cell) AS rk
         |  FROM embeddings e, centroids c
         |),
         |assigned AS (
         |  SELECT vec_id, embedding, cell FROM ascored WHERE rk = 1
         |),
         |qc AS (
         |  SELECT q.q_id, q.q_emb, c.cell,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY ${Ora.cos64("q.q_emb", "c.c_emb")} DESC,
         |                    c.cell) AS rc
         |  FROM qs q, centroids c
         |),
         |probes AS (
         |  SELECT q_id, q_emb, cell, p.p AS nprobe
         |  FROM qc
         |  CROSS JOIN (SELECT unnest([${NProbes.mkString(", ")}]) AS p) p
         |  WHERE rc <= p.p
         |),
         |pred AS (
         |  SELECT q_id, nprobe, vec_id FROM (
         |    SELECT pr.q_id, pr.nprobe, a.vec_id,
         |           row_number() OVER (PARTITION BY pr.q_id, pr.nprobe
         |             ORDER BY ${Ora.cos64("a.embedding", "pr.q_emb")} DESC,
         |                      a.vec_id) AS rk
         |    FROM assigned a JOIN probes pr ON a.cell = pr.cell
         |    WHERE a.vec_id <> pr.q_id
         |  ) WHERE rk <= 5
         |),
         |hits AS (
         |  SELECT t.q_id, p.nprobe, count(*) AS hits
         |  FROM truth t JOIN pred p
         |    ON t.q_id = p.q_id AND t.vec_id = p.vec_id
         |  GROUP BY 1, 2
         |)
         |SELECT q.q_id, CAST(np.p AS BIGINT) AS nprobe,
         |       CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hits,
         |       coalesce(h.hits, 0) / 5.0::DOUBLE AS recall_at_5
         |FROM qs q
         |CROSS JOIN (SELECT unnest([${NProbes.mkString(", ")}]) AS p) np
         |LEFT JOIN hits h ON h.q_id = q.q_id AND h.nprobe = np.p
         |ORDER BY q.q_id, nprobe""".stripMargin)
}
