package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.Ora

/** Collocation mining over the document corpus: PMI-style association
  * between adjacent tokens, kept in its algebraic RATIO form (observed
  * over expected) so both engines compute it from exact integer counts
  * with one double division chain — no transcendentals (ORACLE.md).
  *
  * Scale shape: one token-explode pass feeds the unigram aggregate and
  * one bigram-explode pass feeds the pair aggregate (both map-side
  * combined, corpus-sized shuffles on the token key — the same shape as
  * text_tfidf_keywords); everything after is vocabulary-sized. The
  * min-count cut happens BEFORE the two unigram joins, so the joined
  * table is the (tiny) candidate set, and both unigram sides broadcast.
  */
object CollocationQueries extends graft.QueryModule {

  /** Pairs below this count are noise (a single shared sentence can
    * produce a sky-high ratio at count 1). */
  val MinPairCount = 5

  /** Collocations reported. */
  val TopK = 20

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // lift(x,y) = p(xy) / (p(x)·p(y)) with p(xy) = c12/N2 over adjacent
    // pairs and p(w) = c1/N1 over tokens — i.e. (c12·N1·N1)/(N2·c1x·c1y).
    // c12·N1 stays exact BIGINT (≈2^41 worst case at sf0.1); the second
    // ·N1 and the denominator run in DOUBLE in the identical order on
    // both engines. exp-ln-free, so bit-exact. Top-K by (lift, w1, w2).
    "text_pmi_bigrams" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        // one tokenize feeds unigrams AND bigrams
        .transform(graft.Materialize(_))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
        .transform(graft.Materialize(_)) // vocabulary-sized; feeds joins AND N1
      val n1 = uni.agg(sum("c1").as("n1"))
      val pairs = toks.filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks)-2), " +
            "i -> struct(element_at(toks, i+1) AS w1, " +
            "element_at(toks, i+2) AS w2))")).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .transform(graft.Materialize(_)) // pair-sized; feeds the cut AND N2
      val n2 = pairs.agg(sum("c12").as("n2"))
      pairs.filter(col("c12") >= MinPairCount)
        .join(broadcast(uni.select(col("w").as("w1"), col("c1").as("c1x"))),
          "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("c1y"))),
          "w2")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .withColumn("lift",
          (col("c12") * col("n1")).cast("double") * col("n1") /
            (col("n2").cast("double") * col("c1x") * col("c1y")))
        .select(col("w1"), col("w2"), col("c12"), col("c1x"), col("c1y"),
          col("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(TopK)
    }),

    // Kneser–Ney bigram LM over the train split, scoring the val split
    // — the LM-filter upgrade of text_lm_holdout's Laplace model: KN
    // discounts every seen bigram by d = 3/4 and redistributes the mass
    // by CONTINUATION counts (how many contexts a word completes), the
    // fix for Laplace's overestimate of frequent-but-rigid words. The
    // whole probability is ONE exact rational per bigram:
    //   p = [max(4·c12 − 3, 0)·Nt + 3·N1L(w1)·N1R(w2)] / (4·c1·Nt)
    // (d = 3/4 scaled by 4; Nt = distinct train bigram types; N1L/N1R =
    // distinct right/left neighbors), floored into 2²⁰ fixed point so
    // per-doc sums stay in exact BIGINT — zero float summation.
    // Unseen context (c1 = 0) backs off to the pure continuation
    // probability N1R/Nt. One bigram pass; model tables are type-sized.
    "text_lm_kneser_ney" -> ((s, dir) => {
      val occ = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"),
          PipelineQueries.splitOf(col("doc_id")).as("split"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("split"), explode(expr(
          "transform(sequence(0, size(toks)-2), " +
            "i -> struct(element_at(toks, i+1) AS w1, " +
            "element_at(toks, i+2) AS w2))")).as("bg"))
        .select(col("doc_id"), col("split"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .transform(graft.Materialize(_)) // train model + val probe share one pass
      val m12 = occ.filter(col("split") === "train")
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .transform(graft.Materialize(_)) // c1, N1L, N1R, Nt all derive from it
      val m1 = m12.groupBy("w1").agg(sum("c12").as("c1"),
        count(lit(1)).as("n1l"))
      val n1r = m12.groupBy("w2").agg(count(lit(1)).as("n1r"))
      val nt = m12.agg(count(lit(1)).as("nt"))
      occ.filter(col("split") === "val")
        .join(broadcast(m12), Seq("w1", "w2"), "left")
        .join(broadcast(m1), Seq("w1"), "left")
        .join(broadcast(n1r), Seq("w2"), "left")
        .crossJoin(broadcast(nt))
        .select(col("doc_id"),
          expr(s"""CASE WHEN coalesce(c1, bigint(0)) = 0
            |THEN coalesce(n1r, bigint(0)) * 1048576 div nt
            |ELSE (greatest(4 * coalesce(c12, bigint(0)) - 3, bigint(0))
            |        * nt
            |      + 3 * coalesce(n1l, bigint(0))
            |        * coalesce(n1r, bigint(0))) * 1048576
            |     div (4 * c1 * nt)
            |END""".stripMargin).as("p_fp"),
          when(col("c12").isNull, 1L).otherwise(0L).as("oov"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("p_fp").as("sum_fp"),
          sum("oov").as("n_unseen"))
        .withColumn("mean_p", col("sum_fp").cast("double") /
          (col("n_bigrams") * lit(1048576L)).cast("double"))
        .orderBy("doc_id")
    }))

  val oracle: Map[String, String] = Map(
    "text_pmi_bigrams" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |),
         |uni AS (
         |  SELECT w, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY 1
         |),
         |n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM uni),
         |pairs AS (
         |  SELECT bg.w1, bg.w2, count(*) AS c12
         |  FROM (
         |    SELECT unnest(list_transform(range(len(toks) - 1),
         |             i -> struct_pack(w1 := toks[i + 1],
         |                              w2 := toks[i + 2]))) AS bg
         |    FROM toks WHERE len(toks) >= 2
         |  ) GROUP BY 1, 2
         |),
         |n2 AS (SELECT CAST(sum(c12) AS BIGINT) AS n2 FROM pairs)
         |SELECT p.w1, p.w2, p.c12, ux.c1 AS c1x, uy.c1 AS c1y,
         |       CAST(p.c12 * n1.n1 AS DOUBLE) * n1.n1 /
         |         (CAST(n2.n2 AS DOUBLE) * ux.c1 * uy.c1) AS lift
         |FROM pairs p
         |JOIN uni ux ON ux.w = p.w1
         |JOIN uni uy ON uy.w = p.w2
         |CROSS JOIN n1 CROSS JOIN n2
         |WHERE p.c12 >= $MinPairCount
         |ORDER BY lift DESC, p.w1, p.w2 LIMIT $TopK""".stripMargin,

    "text_lm_kneser_ney" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         CASE WHEN ${Ora.fnv("'split:' || doc_id")} % 10 = 0
         |                THEN 'test'
         |              WHEN ${Ora.fnv("'split:' || doc_id")} % 10 = 1
         |                THEN 'val'
         |              ELSE 'train' END AS split
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2
         |),
         |occ AS (
         |  SELECT doc_id, split, toks[i+1] AS w1, toks[i+2] AS w2
         |  FROM d, unnest(range(len(toks)-1)) AS u(i)
         |),
         |m12 AS (
         |  SELECT w1, w2, count(*) AS c12 FROM occ
         |  WHERE split = 'train' GROUP BY 1, 2
         |),
         |m1 AS (
         |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1l
         |  FROM m12 GROUP BY 1
         |),
         |nr AS (SELECT w2, count(*) AS n1r FROM m12 GROUP BY 1),
         |nt AS (SELECT count(*) AS nt FROM m12),
         |scored AS (
         |  SELECT o.doc_id,
         |         CASE WHEN coalesce(m1.c1, 0) = 0
         |              THEN coalesce(r.n1r, 0) * 1048576 // nt.nt
         |              ELSE (greatest(4 * coalesce(m12.c12, 0) - 3, 0)
         |                      * nt.nt
         |                    + 3 * coalesce(m1.n1l, 0)
         |                      * coalesce(r.n1r, 0)) * 1048576
         |                   // (4 * m1.c1 * nt.nt)
         |         END AS p_fp,
         |         CASE WHEN m12.c12 IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM occ o
         |  LEFT JOIN m12 ON o.w1 = m12.w1 AND o.w2 = m12.w2
         |  LEFT JOIN m1 ON o.w1 = m1.w1
         |  LEFT JOIN nr r ON o.w2 = r.w2
         |  CROSS JOIN nt
         |  WHERE o.split = 'val'
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       CAST(sum(p_fp) AS BIGINT) AS sum_fp,
         |       CAST(sum(oov) AS BIGINT) AS n_unseen,
         |       CAST(sum(p_fp) AS DOUBLE)
         |         / CAST(count(*) * 1048576 AS DOUBLE) AS mean_p
         |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin)
}
