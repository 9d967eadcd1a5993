package graft

import org.apache.spark.sql.functions._

/** Fixed-size-delta scale measurement for the incremental index paths
  * (round-9 verdict #6). The fixture convention sizes the delta as a
  * FRACTION of the corpus (`doc_id % 10`, `vec_id > max·9/10`), so the
  * 30×/100× rehearsal numbers for `dedup_lsh_incremental` and
  * `sim_knn_join_incremental` track corpus/10 — which measures the
  * convention, not the architecture. Production deltas track the
  * ARRIVAL RATE: this main re-runs both incremental paths with the
  * ABSOLUTE delta sizes the sf0.1 convention runs used (500 docs / 200
  * vectors — the last D ids play the arrivals), so a flat-ish number
  * across 1×/30×/100× certifies "cost follows the delta, not the
  * corpus".
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.FixedDeltaBench"
  * Prints one JSON line: {"metric":"fixed_delta","lsh_sec":…,
  * "knn_sec":…,"lsh_rows":…,"knn_rows":…,"n_docs":…,"n_vecs":…}.
  * Measurement-only — not part of the query surface or the gate.
  */
object FixedDeltaBench {

  val DeltaDocs = 500L
  val DeltaVecs = 200L

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()

    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val maxDoc = spark.read.parquet(s"$dir/documents.parquet")
      .agg(max("doc_id")).head().getLong(0)
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val maxVec = spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(max("vec_id")).head().getLong(0)

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // warm the JVM/codegen the same way Bench does (untimed)
    spark.read.parquet(s"$dir/documents.parquet").count()

    // the kNN-graph base build for the fixed cutoff is serve-time-0
    // infrastructure (built once, like the convention index) — pay it
    // OUTSIDE the timed serve, exactly as the rehearsal table's
    // incremental rows do for the convention cutoff
    // the _fd tags embed the delta constants: a change to DeltaVecs /
    // DeltaDocs (and hence the derived cutoff) must force a rebuild, not
    // silently serve an index built for the old split
    val knnTag = s"_fd$DeltaVecs"
    val knnCut = maxVec - DeltaVecs
    graft.sim.KnnGraphIndex.buildBaseIfMissingAt(spark, dir, knnCut, knnTag)

    val (knnRows, knnSec) = time {
      graft.sim.SimilarityQueries.knnTopK(
        graft.sim.KnnGraphIndex.pairsWithDeltaAt(spark, dir, knnCut, knnTag))
        .count()
    }

    // the SERVED probe (persisted index, standing corpus never
    // re-shingled) is the path whose cost must follow the delta; the
    // retrain-per-call incremental twin re-tokenizes the corpus BY
    // DESIGN and is reported alongside for contrast
    val isNewFd = col("doc_id") > lit(maxDoc - DeltaDocs)
    val lshPath = graft.dedup.LshIndex.buildIfMissingAt(
      spark, dir, isNewFd, s"_fd$DeltaDocs")
    val (lshRows, lshSec) = time {
      graft.dedup.LshIndex.probeWith(spark, dir, isNewFd, lshPath).count()
    }
    val (lshRetrainRows, lshRetrainSec) = time {
      graft.dedup.DedupQueries.lshIncrementalWith(spark, dir, isNewFd)
        .count()
    }

    // text indexes (round-10 verdict #5): the BM25 and passage
    // incremental serves under the SAME fixed 500-doc delta — base
    // built untimed (one-time infrastructure, like the other rows),
    // the timed region is tokenize-the-delta + merged-stats serve
    val textTag = s"_fd$DeltaDocs"
    val textCut = maxDoc - DeltaDocs
    graft.retrieval.SparseIndex.buildBaseIfMissingAt(
      spark, dir, textCut, textTag)
    val (bm25Rows, bm25Sec) = time {
      graft.retrieval.SparseIndex.serveWithDeltaAt(
        spark, dir, textCut, textTag).count()
    }
    graft.retrieval.PassageIndex.buildBaseIfMissingAt(
      spark, dir, textCut, textTag)
    val (pasRows, pasSec) = time {
      graft.retrieval.PassageIndex.serveWithDeltaAt(
        spark, dir, textCut, textTag).count()
    }

    println(s"""{"metric":"fixed_delta","sf_dir":"$dir",""" +
      s""""delta_docs":$DeltaDocs,"delta_vecs":$DeltaVecs,""" +
      s""""lsh_served_sec":$lshSec,"lsh_retrain_sec":$lshRetrainSec,""" +
      s""""knn_sec":$knnSec,""" +
      s""""bm25_sec":$bm25Sec,"passage_sec":$pasSec,""" +
      s""""lsh_rows":$lshRows,"lsh_retrain_rows":$lshRetrainRows,""" +
      s""""knn_rows":$knnRows,""" +
      s""""bm25_rows":$bm25Rows,"passage_rows":$pasRows,""" +
      s""""n_docs":$nDocs,"n_vecs":$nVecs}""")
    spark.stop()
  }
}
