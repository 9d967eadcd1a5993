package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SimilarityQueries._

/** The build/serve split every 100 TB vector store has — and the one
  * piece the per-query `sim_*` ANN paths deliberately skip: those
  * retrain centroids and codebooks on every call (fine for an oracle-
  * checked algorithm exhibit, wrong as a serving architecture). This
  * object PERSISTS the IVF-PQ index once and serves queries from the
  * persisted tables alone:
  *
  *   - `centroids/`  — the [[SimilarityQueries.NumCells]]-row coarse
  *     quantizer (cell, c_emb);
  *   - `codebooks/`  — the PqM·PqK product-quantizer codewords
  *     (sub, cluster, c);
  *   - `codes/`      — one row per (vector, subspace): (vec_id, sub,
  *     cluster), parquet PARTITIONED BY the coarse `cell`, so a probe
  *     of `nprobe` cells file-prunes to `nprobe/NumCells` of the
  *     corpus before a byte is read — the posting-list layout of a
  *     disk-resident IVF index (same partition-pruning contract as
  *     [[graft.keyspace.PartitionedLayout]]).
  *
  * Serving reads NOTHING corpus-sized: the query embedding is a
  * pushed-down point lookup, the probed cells are a ≤ NumCells-row
  * control-plane fetch (collected so the codes scan gets LITERAL
  * partition predicates), the LUT is a 32-row broadcast, and the ADC
  * top-k runs over the pruned code partitions as one TakeOrdered. At
  * 100 TB the only scaling knobs are NumCells (more, smaller
  * partitions) and the code width — the dataflow is fixed.
  *
  * Because build is a deterministic function of the corpus, serving
  * from the persisted index returns bit-identical results to the
  * retrain-per-query `sim_ivfpq_ann` — the served query shares that
  * query's DuckDB oracle.
  */
object IvfPqIndex {

  /** Index root for a fixture directory (one index per corpus, cached
    * across queries and processes under target/). The key embeds a
    * corpus fingerprint — see [[graft.sources.IndexCache]] — so a
    * regenerated fixture rebuilds instead of serving stale centroids. */
  def indexPath(s: SparkSession, dir: String): String =
    graft.sources.IndexCache.path(s, dir, "ivfpq", "embeddings", "vec_id")

  /** The codes table of a generation, partitioned by the coarse cell. */
  private def writeCodes(codes: DataFrame, path: String): Unit =
    codes.select("vec_id", "sub", "cluster", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")

  private def readCodes(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/codes").select("vec_id", "sub", "cluster", "cell")

  /** Train (coarse cells + PQ codebooks) on `e` and persist the three
    * index tables. One corpus read per Lloyd iteration — the same
    * training dataflow as the per-query path, run ONCE. */
  private def train(path: String, e: DataFrame): Unit = {
    // loop-invariant input to every pqCodebooks Lloyd round → the
    // mode-selectable materialization, like the loop's own rounds
    val sv = pqSubVecs(e.select("vec_id", "embedding"))
      .transform(graft.Materialize(_))
    val cb = pqCodebooks(sv)
    coarseCentroids(e).write.mode("overwrite").parquet(s"$path/centroids")
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    writeCodes(pqAssign(sv, cb).select("vec_id", "sub", "cluster")
      .join(assignedCells(e).select("vec_id", "cell"), "vec_id"), path)
  }

  /** The full-corpus generation, built once per corpus; later calls (and
    * later processes — the layout lives under target/) reuse the files. */
  def buildIfMissing(s: SparkSession, dir: String): String =
    graft.sources.IndexCache.generation(indexPath(s, dir)) { path =>
      train(path, s.read.parquet(s"$dir/embeddings.parquet"))
    }

  // -- incremental maintenance: frozen-quantizer delta append -------------

  /** Base/delta split point: the newest ~10% of vectors play the role
    * of post-build arrivals. Integer math (`* 9 / 10`) so the oracle's
    * `max(vec_id) * 9 // 10` lands on the same id. */
  def baseCutoff(s: SparkSession, dir: String): Long =
    s.read.parquet(s"$dir/embeddings.parquet")
      .agg(max("vec_id")).head().getLong(0) * 9 / 10

  private def basePath(s: SparkSession, dir: String): String =
    indexPath(s, dir) + "_base"

  /** The BASE generation: quantizers trained on vectors up to the
    * cutoff only, codes stored for those vectors only — the state an
    * index is in when new data starts arriving. */
  def buildBaseIfMissing(s: SparkSession, dir: String): String =
    graft.sources.IndexCache.generation(basePath(s, dir)) { path =>
      train(path, s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") <= baseCutoff(s, dir)))
    }

  /** Encode post-cutoff arrivals with the index's FROZEN quantizers —
    * no retraining, the operation an index runs on every ingest batch.
    * Returns (vec_id, sub, cluster, cell) rows shaped like the
    * persisted codes table. */
  def deltaCodes(s: SparkSession, dir: String, path: String): DataFrame = {
    val cut = baseCutoff(s, dir)
    val delta = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") > cut)
    val centroids = s.read.parquet(s"$path/centroids")
    val codebooks = s.read.parquet(s"$path/codebooks")
    pqAssign(pqSubVecs(delta.select("vec_id", "embedding")), codebooks)
      .select("vec_id", "sub", "cluster")
      .join(assignedCells(delta, centroids).select("vec_id", "cell"), "vec_id")
  }

  /** Serve over base + un-compacted delta: the persisted codes still
    * file-prune on cell; the delta tail is encoded with the frozen
    * quantizers and unioned in — the standard serving shape between
    * index rebuilds. Top-k can and does surface delta vectors. */
  def serveWithDelta(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val path = buildBaseIfMissing(s, dir)
    serveFrom(s, dir, path,
      readCodes(s, path).unionByName(deltaCodes(s, dir, path)), k)
  }

  /** Fold the delta tail into a `codes/` table of its own — the periodic
    * compaction that returns serving to a single pruned scan. Quantizers
    * stay frozen, so the compacted generation holds only `codes/` and is
    * served with the base's quantizers; it is a sibling directory
    * (`<base>_compacted`), so the base's codes never change and
    * [[serveWithDelta]] keeps unioning the delta onto delta-free codes.
    * The merge is idempotent — base rows are selected by
    * `vec_id <= cutoff` — so a re-run after a lost marker writes the
    * same table. */
  def compactDelta(s: SparkSession, dir: String): String =
    graft.sources.IndexCache.generation(basePath(s, dir) + "_compacted") { path =>
      val base = buildBaseIfMissing(s, dir)
      writeCodes(readCodes(s, base)
        .filter(col("vec_id") <= baseCutoff(s, dir)) // base rows by range
        .unionByName(deltaCodes(s, dir, base)), path)
    }

  /** Serve AFTER compaction: one pruned scan again, results identical
    * to [[serveWithDelta]] (same quantizers, same code set). The
    * compacted generation's marker is checked first; its quantizers are
    * the base's, which its compaction required to be complete. */
  def serveCompacted(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    serveFrom(s, dir, basePath(s, dir), readCodes(s, compactDelta(s, dir)), k)

  /** Serve top-k ADC neighbors for the stored query vector FROM THE
    * PERSISTED INDEX — zero training stages, zero corpus-embedding
    * scans; bit-identical to `sim_ivfpq_ann`. */
  def serve(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val path = buildIfMissing(s, dir)
    serveFrom(s, dir, path, readCodes(s, path), k)
  }

  /** Serve per-query ADC top-k for a SET of stored queries from the
    * persisted index — the fan-in shape a retrieval stack runs (one
    * codes scan shared by all queries, not one scan per query). The
    * probed cells of ALL queries collect into one literal IN filter
    * (static file pruning to the union of probed partitions), a
    * broadcast (query_doc, cell) table restricts each candidate row to
    * the queries that actually probed its cell, and the LUT join keys
    * on (query_doc, sub, cluster). Per-query top-k is a rank window
    * over candidate-sized input. Bit-mirrors
    * [[SimilarityQueries.ivfpqMultiCtes]]. */
  def serveMulti(s: SparkSession, dir: String, queryIds: Seq[Long],
      k: Int): DataFrame = {
    import s.implicits._
    val path = buildIfMissing(s, dir)
    val centroids = s.read.parquet(s"$path/centroids")
    val codebooks = s.read.parquet(s"$path/codebooks")
    val q = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_doc"), col("embedding").as("q_emb"))
      .transform(graft.Materialize(_))
    // per-query probed cells: |queries| × NumCells control-plane rows,
    // collected so the codes scan gets LITERAL partition predicates
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_doc").orderBy(col("cos_c").desc, col("cell"))
    val probedPairs = q.crossJoin(broadcast(centroids))
      .select(col("query_doc"), col("cell"),
        cosine(col("q_emb"), col("c_emb")).as("cos_c"))
      .withColumn("rk", row_number().over(probeW))
      .filter(col("rk") <= NProbe)
      .select("query_doc", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cellsUnion = probedPairs.map(_._2).distinct
    val pairs = probedPairs.toDF("query_doc", "cell")
    // per-query LUTs: |queries| · PqM · PqK rows, broadcast
    val qsv = q.select(col("query_doc"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> " +
          s"struct(CAST(j AS INT) AS sub, " +
          s"slice(q_emb, j * $PqSubDim + 1, $PqSubDim) AS qe))")).as("x"))
      .select(col("query_doc"), col("x.sub").as("sub"), col("x.qe").as("qe"))
    val lut = codebooks.join(broadcast(qsv), "sub")
      .select(col("query_doc"), col("sub"), col("cluster"),
        sqDist(col("qe"), col("c")).as("d"))
    val pivots = (0 until PqM).map(j =>
      max(when(col("sub") === j, col("d"))).as(s"d_$j"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_doc").orderBy(col("adc_dist"), col("vec_id"))
    readCodes(s, path)
      .filter(col("cell").isin(cellsUnion: _*))
      .join(broadcast(pairs), "cell")
      .filter(col("vec_id") =!= col("query_doc"))
      .join(broadcast(lut), Seq("query_doc", "sub", "cluster"))
      .groupBy("query_doc", "vec_id")
      .agg(pivots.head, pivots.tail: _*)
      .select(col("query_doc"), col("vec_id"),
        (0 until PqM).map(j => col(s"d_$j")).reduce(_ + _).as("adc_dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_doc"), col("rank"), col("vec_id").as("doc_id"),
        col("adc_dist"))
      .orderBy("query_doc", "rank")
  }

  /** The shared serving tail: probe cells against the centroids
    * persisted under `path`, broadcast the query LUT from its codebooks,
    * ADC top-k over `codes` (a persisted table, or base ∪ delta). */
  private def serveFrom(s: SparkSession, dir: String, path: String,
      codes: DataFrame, k: Int): DataFrame = {
    val centroids = s.read.parquet(s"$path/centroids")
    val codebooks = s.read.parquet(s"$path/codebooks")
    // the query embedding: one pushed-down point lookup, reused by the
    // cell probe and the LUT (checkpointed so it is read once)
    val qEmb = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("q_emb"))
      .transform(graft.Materialize(_))
    // probed cells as LITERALS: a NumCells-row control-plane fetch —
    // collecting here is what turns the codes read into static file
    // pruning instead of a data-dependent join over every partition
    val probed: Seq[Long] = centroids.crossJoin(qEmb)
      .select(col("cell"), cosine(col("q_emb"), col("c_emb")).as("cos_c"))
      .orderBy(col("cos_c").desc, col("cell")).limit(NProbe)
      .collect().map(_.getLong(0)).toSeq
    // the query's per-subspace LUT: 32 rows, broadcast
    val qsv = qEmb.select(explode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> " +
          s"struct(CAST(j AS INT) AS sub, " +
          s"slice(q_emb, j * $PqSubDim + 1, $PqSubDim) AS qe))")).as("x"))
      .select(col("x.sub").as("sub"), col("x.qe").as("qe"))
    val lut = codebooks.join(broadcast(qsv), "sub")
      .select(col("sub"), col("cluster"),
        sqDist(col("qe"), col("c")).as("d"))
    val pivots = (0 until PqM).map(j =>
      max(when(col("sub") === j, col("d"))).as(s"d_$j"))
    codes
      .filter(col("cell").isin(probed: _*))
      .filter(col("vec_id") =!= QueryVec)
      .join(broadcast(lut), Seq("sub", "cluster"))
      .groupBy("vec_id")
      .agg(pivots.head, pivots.tail: _*)
      .select(col("vec_id"),
        (0 until PqM).map(j => col(s"d_$j")).reduce(_ + _).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
  }
}
