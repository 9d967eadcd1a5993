package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.hash.Fnv1a32
import graft.oracle.Ora

/** Span-corruption planning (the T5/UL2 denoising objective): decide —
  * deterministically, from the data alone — which token spans of each
  * document get masked, and account for what the plan does to the
  * corpus. Reproducibility is the point: a hash-seeded plan means any
  * re-run, shard, or engine derives the SAME spans with no RNG state to
  * ship, which is what makes the objective auditable at 100 TB.
  *
  * A position starts a span when
  * `mix32(fnv1a32(doc_id:pos)) % 10000 < StartPerMyriad`; the span
  * covers [[SpanLen]] tokens and overlapping spans merge. With p ≈
  * 0.0526 and span 3 the expected corruption is 1 − (1−p)³ ≈ 15%, the
  * T5 default. The mix32 finalizer matters: raw FNV-1a's low bits are
  * biased on short numeric keys (the suite's documented trap), which
  * would skew the start rate.
  *
  * Scale shape: one tokenize+posexplode pass, two windows keyed by
  * doc_id (already the partition key), one per-doc aggregate — fully
  * map-local after the explode.
  */
object MaskingQueries extends graft.QueryModule {

  /** Span-start probability, in 1/10000ths. */
  val StartPerMyriad = 526

  /** Tokens per span (before merging overlaps). */
  val SpanLen = 3

  /** Tokens with the deterministic mask verdicts attached:
    * (doc_id, pos, tok, sel, masked, prevm) — the shared derivation of
    * the plan and the emit queries. */
  private def flagged(s: SparkSession, dir: String): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val wSpan = wDoc.rowsBetween(-(SpanLen - 1), 0)
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("sel",
        when(pmod(graft.events.EventsQueries.mix32(Fnv1a32.fnv1a32(
          concat(col("doc_id").cast("string"), lit(":"),
            col("pos").cast("string")))), lit(10000L))
          < StartPerMyriad.toLong, 1L).otherwise(0L))
      .withColumn("masked", max("sel").over(wSpan))
      .withColumn("prevm", lag("masked", 1, 0L).over(wDoc))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_span_mask_plan" -> ((s, dir) => {
      flagged(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum("sel").as("n_starts"),
          sum("masked").as("n_masked"),
          sum(when(col("masked") === 1L && col("prevm") === 0L, 1L)
            .otherwise(0L)).as("n_spans"))
        .withColumn("corruption_rate",
          col("n_masked").cast("double") / col("n_tok"))
        .orderBy("doc_id")
    }),

    // the objective itself: masked_input replaces each span with one
    // sentinel <X_k>, target lists <X_k> followed by the span's hidden
    // tokens — the exact (input, target) pair a T5-style trainer
    // consumes. Strings assemble from (pos, piece) structs sorted
    // in-array (Spark) / string_agg ORDER BY pos (DuckDB) — both
    // engines concatenate the identical sequence, so the emitted text
    // hash-matches. The span index k is the running count of span
    // starts, carried to continuation tokens by a prefix sum.
    "corpus_span_mask_emit" -> ((s, dir) => {
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val wCum = wDoc.rowsBetween(Window.unboundedPreceding, 0)
      val withK = flagged(s, dir)
        .withColumn("sstart",
          when(col("masked") === 1L && col("prevm") === 0L, 1L)
            .otherwise(0L))
        .withColumn("k", sum("sstart").over(wCum) - 1L)
        .withColumn("inp_piece",
          when(col("masked") === 0L, col("tok"))
            .when(col("sstart") === 1L,
              concat(lit("<X_"), col("k").cast("string"), lit(">")))
            .otherwise(lit("")))
        .withColumn("tgt_piece",
          when(col("sstart") === 1L,
            concat(lit("<X_"), col("k").cast("string"), lit("> "),
              col("tok")))
            .when(col("masked") === 1L, col("tok"))
            .otherwise(lit("")))
      def joined(piece: String) = expr(
        s"array_join(transform(filter(sort_array(collect_list(" +
          s"struct(pos, $piece))), p -> p.$piece != ''), " +
          s"p -> p.$piece), ' ')")
      withK.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum("sstart").as("n_spans"),
          sum(when(col("masked") === 0L, 1L).otherwise(0L))
            .as("n_visible"),
          joined("inp_piece").as("masked_input"),
          joined("tgt_piece").as("target"))
        .orderBy("doc_id")
    }))

  val oracle: Map[String, String] = Map(
    "corpus_span_mask_plan" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |),
         |tok AS (
         |  SELECT doc_id, u.i AS pos
         |  FROM t, unnest(range(len(toks))) AS u(i)
         |),
         |h0 AS (
         |  SELECT doc_id, pos,
         |         ${Ora.fnv("doc_id || ':' || pos")} AS h
         |  FROM tok
         |),
         |m1 AS (
         |  SELECT doc_id, pos,
         |         (xor(h, h >> 16) * 73244475) % 4294967296 AS m
         |  FROM h0
         |),
         |m2 AS (
         |  SELECT doc_id, pos,
         |         (xor(m, m >> 16) * 73244475) % 4294967296 AS m
         |  FROM m1
         |),
         |sel AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN xor(m, m >> 16) % 10000 < $StartPerMyriad
         |              THEN 1 ELSE 0 END AS sel
         |  FROM m2
         |),
         |fl AS (
         |  SELECT doc_id, pos, sel,
         |         max(sel) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN ${SpanLen - 1} PRECEDING AND CURRENT ROW)
         |           AS masked
         |  FROM sel
         |),
         |fl2 AS (
         |  SELECT *, coalesce(lag(masked) OVER (PARTITION BY doc_id
         |                                       ORDER BY pos), 0) AS prevm
         |  FROM fl
         |)
         |SELECT doc_id, count(*) AS n_tok,
         |       CAST(sum(sel) AS BIGINT) AS n_starts,
         |       CAST(sum(masked) AS BIGINT) AS n_masked,
         |       CAST(sum(CASE WHEN masked = 1 AND prevm = 0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         |       CAST(sum(masked) AS DOUBLE) / count(*) AS corruption_rate
         |FROM fl2 GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "corpus_span_mask_emit" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |),
         |tok AS (
         |  SELECT doc_id, u.i AS pos, toks[u.i + 1] AS tok
         |  FROM t, unnest(range(len(toks))) AS u(i)
         |),
         |h0 AS (
         |  SELECT doc_id, pos, tok,
         |         ${Ora.fnv("doc_id || ':' || pos")} AS h
         |  FROM tok
         |),
         |m1 AS (
         |  SELECT doc_id, pos, tok,
         |         (xor(h, h >> 16) * 73244475) % 4294967296 AS m
         |  FROM h0
         |),
         |m2 AS (
         |  SELECT doc_id, pos, tok,
         |         (xor(m, m >> 16) * 73244475) % 4294967296 AS m
         |  FROM m1
         |),
         |sel AS (
         |  SELECT doc_id, pos, tok,
         |         CASE WHEN xor(m, m >> 16) % 10000 < $StartPerMyriad
         |              THEN 1 ELSE 0 END AS sel
         |  FROM m2
         |),
         |fl AS (
         |  SELECT doc_id, pos, tok, sel,
         |         max(sel) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN ${SpanLen - 1} PRECEDING AND CURRENT ROW)
         |           AS masked
         |  FROM sel
         |),
         |fl2 AS (
         |  SELECT *, coalesce(lag(masked) OVER (PARTITION BY doc_id
         |                                       ORDER BY pos), 0) AS prevm
         |  FROM fl
         |),
         |st AS (
         |  SELECT *, CASE WHEN masked = 1 AND prevm = 0 THEN 1 ELSE 0 END
         |           AS sstart
         |  FROM fl2
         |),
         |wk AS (
         |  SELECT *, sum(sstart) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS k
         |  FROM st
         |),
         |pieces AS (
         |  SELECT doc_id, pos, masked, sstart,
         |         CASE WHEN masked = 0 THEN tok
         |              WHEN sstart = 1 THEN '<X_' || k || '>'
         |              ELSE '' END AS inp_piece,
         |         CASE WHEN sstart = 1 THEN '<X_' || k || '> ' || tok
         |              WHEN masked = 1 THEN tok
         |              ELSE '' END AS tgt_piece
         |  FROM wk
         |)
         |SELECT doc_id, count(*) AS n_tok,
         |       CAST(sum(sstart) AS BIGINT) AS n_spans,
         |       CAST(sum(CASE WHEN masked = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_visible,
         |       coalesce(string_agg(inp_piece, ' ' ORDER BY pos)
         |                FILTER (WHERE inp_piece <> ''), '')
         |         AS masked_input,
         |       coalesce(string_agg(tgt_piece, ' ' ORDER BY pos)
         |                FILTER (WHERE tgt_piece <> ''), '')
         |         AS target
         |FROM pieces GROUP BY 1 ORDER BY doc_id""".stripMargin)
}
