package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes an N× scale-up of a fixture directory for scale
  * rehearsals (default 10× — the round-2 methodology): fact tables are
  * replicated with key-offset copies so every key stays unique and
  * derived keyspaces (the kv op log, ring routing, posting lists) grow
  * linearly; document texts are word-perturbed per copy so near-dup
  * structure also grows linearly, not quadratically (10 identical
  * copies of the corpus would make every doc a 10-way exact dup and
  * measure a degenerate workload); embeddings get a tiny per-copy
  * first-element nudge for the same reason. Dimension tables copy
  * unchanged.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [dstDir] [copies]
  * This writes test data for rehearsal only — nothing here is part of
  * the query surface.
  */
object ScaleUp {

  /** Smallest power of 10 strictly above the current max key — offsets
    * by digit-aligned strides so scaled keys are recognizably
    * copy-banded when debugging. */
  private def stride(df: DataFrame, c: String): Long = {
    val mx = df.agg(max(col(c))).head().getLong(0)
    var s = 1L
    while (s <= mx) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1_synth")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session()

    val cs = spark.range(copies).toDF("c")
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // dimensions: unchanged
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      wr(rd(t), t)

    // orders + lineitem share ONE stride so the FK survives the offset
    val orders = rd("orders")
    val oStride = stride(orders, "o_orderkey")
    wr(orders.crossJoin(cs)
      .withColumn("o_orderkey", col("o_orderkey") + col("c") * oStride)
      .drop("c"), "orders")
    wr(rd("lineitem").crossJoin(cs)
      .withColumn("l_orderkey", col("l_orderkey") + col("c") * oStride)
      .drop("c"), "lineitem")

    val events = rd("events")
    val eStride = stride(events, "event_id")
    wr(events.crossJoin(cs)
      .withColumn("event_id", col("event_id") + col("c") * eStride)
      .drop("c"), "events")

    // documents: key-offset + per-copy word perturbation (every 7th word
    // gets a copy tag, phase-shifted by copy) — near-dup pairs grow
    // linearly in copies instead of quadratically
    val docs = rd("documents")
    val dStride = stride(docs, "doc_id")
    wr(docs.crossJoin(cs)
      .withColumn("text", expr(
        """CASE WHEN c = 0 THEN text ELSE array_join(
          |  zip_with(split(text, ' '),
          |           sequence(0, size(split(text, ' ')) - 1),
          |           (w, i) -> CASE WHEN (i + c) % 7 = 0
          |                          THEN concat(w, 'v', c) ELSE w END),
          |  ' ') END""".stripMargin))
      .withColumn("doc_id", col("doc_id") + col("c") * dStride)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("c"), "documents")

    // embeddings: key-offset + a small first-element nudge per copy so
    // exact-dup vectors don't grow 10-way
    val emb = rd("embeddings")
    val vStride = stride(emb, "vec_id")
    wr(emb.crossJoin(cs)
      .withColumn("embedding", expr(
        """CASE WHEN c = 0 THEN embedding ELSE
          |  zip_with(embedding, sequence(0, size(embedding) - 1),
          |    (v, i) -> CAST(CASE WHEN i = 0
          |       THEN v + CAST(c AS FLOAT) * CAST(0.001 AS FLOAT)
          |       ELSE v END AS FLOAT)) END""".stripMargin))
      .withColumn("vec_id", col("vec_id") + col("c") * vStride)
      .drop("c"), "embeddings")

    println(s"""{"scaled": "$dst", "copies": $copies}""")
    spark.stop()
  }
}
