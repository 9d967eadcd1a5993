package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SimilarityQueries._

/** The build/serve split for the kNN GRAPH — the neighbor structure
  * behind `sim_knn_join`, `ret_graph_ppr`, `sim_knn_kcore` and
  * `sim_hard_negatives`. Those queries re-derive the bucket-capped pair
  * set on every call (fine as algorithm exhibits, wrong as a serving
  * architecture: at 100 TB the pair stage is the dominant cost and the
  * graph is a deterministic function of the corpus — build once, serve
  * many). Four persisted tables, all through
  * [[graft.sources.IndexCache]]'s fingerprint discipline:
  *
  *   - `members/` — (bucket, vec_id, label, embedding, nrm), RANGE-
  *     PARTITIONED AND SORTED BY bucket: the bucketed corpus view pair
  *     generation runs over. Persisted so the delta path's touched-bucket
  *     recompute is a PRUNED scan (bucket min/max row-group stats), not a
  *     corpus scan.
  *   - `pairs/`   — (bucket, vec_id, label, nbr, nbr_label, cos_sim):
  *     the full bucket-capped scored pair set, vec_id-sorted. Σ bucket²
  *     under the MaxPosting cap — the same size the exact queries
  *     materialize per call, paid once.
  *   - `edges/`   — (vec_id, nbr, cos_sim, rk ≤ KnnK): the kNN edge
  *     list, vec_id-range-sorted — `sim_knn_join`'s exact output, so the
  *     served twin is a bare pruned scan sharing its oracle.
  *   - `degrees/` — (vec_id, deg): out-degrees of the edge list, the
  *     second input PPR's contribution join needs.
  *
  * The INCREMENTAL story exploits that pair generation is bucket-local
  * (each vector belongs to exactly one bucket, [[SimilarityQueries.pairsFrom]]):
  * a delta arrival perturbs ONLY the buckets its vectors land in, so
  * serve-with-delta = base pairs from untouched buckets (pruned
  * anti-predicate scan) ∪ an exact recompute of the touched buckets over
  * base members (pruned scan) + delta members. The union IS the full
  * rebuild's pair set — including cap flips (a bucket pushed past
  * MaxPosting by the delta drops ALL its pairs, because the touched
  * bucket is recomputed whole) — so the incremental and compacted paths
  * share the exact queries' oracles bit-for-bit, the same discipline as
  * [[graft.retrieval.SparseIndex]].
  *
  * At 100 TB: the plane count grows with log N so bucket sizes stay
  * ~constant and the bucket space grows — the touched-bucket list stays
  * proportional to the DELTA size, not the corpus, and every serve-side
  * scan is pruned by the persisted layout. The only driver-side step is
  * the touched-bucket literal list (≤ min(|delta|, 2^NumPlanes) = 256
  * values on this fixture geometry — spec-pinned in CollectBoundsSpec).
  */
object KnnGraphIndex extends graft.QueryModule {

  def indexPath(s: SparkSession, dir: String): String =
    graft.sources.IndexCache.path(s, dir, "knng", "embeddings", "vec_id")

  /** Derive all four tables from a members view and persist them — the
    * one table writer of every generation (full, planes-scaled, base,
    * compacted). */
  private def writeTables(m: DataFrame, path: String): Unit = {
    m.repartitionByRange(col("bucket"))
      .sortWithinPartitions("bucket", "vec_id")
      .write.mode("overwrite").parquet(s"$path/members")
    val pairs = pairsFrom(m).transform(graft.Materialize(_))
    pairs.repartitionByRange(col("vec_id"))
      .sortWithinPartitions("vec_id", "nbr")
      .write.mode("overwrite").parquet(s"$path/pairs")
    val edges = knnTopK(pairs).transform(graft.Materialize(_))
    edges.repartitionByRange(col("vec_id"))
      .sortWithinPartitions("vec_id", "rk")
      .write.mode("overwrite").parquet(s"$path/edges")
    edges.groupBy("vec_id").agg(count(lit(1)).as("deg"))
      .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$path/degrees")
  }

  /** Persist the generation at `path` over the members `m`. */
  private def generation(path: String)(m: => DataFrame): String =
    graft.sources.IndexCache.generation(path)(
      writeTables(m.transform(graft.Materialize(_)), _))

  def buildIfMissing(s: SparkSession, dir: String): String =
    generation(indexPath(s, dir))(pairMembers(s, dir))

  /** `sim_knn_join` from the persisted edge table alone — zero pair
    * stages at query time; bit-identical to the exact query. */
  def serveKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val path = buildIfMissing(s, dir)
    s.read.parquet(s"$path/edges").orderBy("vec_id", "rk")
  }

  /** `ret_graph_ppr` with the graph read from the persisted index: the
    * iterations themselves stay seed-sparse; what the split removes is
    * the per-call pair stage that dominated the exact query at scale. */
  def servePpr(s: SparkSession, dir: String): DataFrame = {
    val path = buildIfMissing(s, dir)
    val eDeg = s.read.parquet(s"$path/edges").select("vec_id", "nbr")
      .join(s.read.parquet(s"$path/degrees"), "vec_id")
      .transform(graft.Materialize(_))
    pprRun(s, eDeg)
  }

  /** The planes-grow-with-log-N index generation — the production
    * posture the object scaladoc documents, built for real instead of
    * only argued: bucket geometry follows
    * [[SimilarityQueries.planesFor]] (expected bucket load held
    * ~constant as the corpus grows), so at 100× the PPR seeds still
    * land in in-cap buckets where the fixed-8-plane graph is empty.
    * At gate SF the schedule floors at 8 planes and this index equals
    * the fixed one bit-for-bit. */
  def buildScaledIfMissing(s: SparkSession, dir: String): String =
    generation(indexPath(s, dir) + "_scaled")(
      SimilarityQueries.pairMembersScaled(s, dir))

  /** `ret_graph_ppr` served from the planes-scaled index generation. */
  def servePprScaled(s: SparkSession, dir: String): DataFrame = {
    val path = buildScaledIfMissing(s, dir)
    val eDeg = s.read.parquet(s"$path/edges").select("vec_id", "nbr")
      .join(s.read.parquet(s"$path/degrees"), "vec_id")
      .transform(graft.Materialize(_))
    pprRun(s, eDeg)
  }

  /** `sim_hard_negatives` from the persisted pair table. */
  def serveHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val path = buildIfMissing(s, dir)
    hardNegativesFrom(s.read.parquet(s"$path/pairs"))
  }

  // -- incremental maintenance: exact bucket-local delta -------------------

  /** Base/delta split point — the newest ~10% of vectors play the role
    * of post-build arrivals (the IVF-PQ / LSH / BM25 convention). */
  def baseCutoff(s: SparkSession, dir: String): Long =
    s.read.parquet(s"$dir/embeddings.parquet")
      .agg(max("vec_id")).head().getLong(0) * 9 / 10

  /** The BASE generation over vectors up to `cut` — `tag` keeps
    * fixed-delta measurement indexes ([[graft.FixedDeltaBench]]) from
    * colliding with the convention-cutoff index in the cache. */
  private[graft] def buildBaseIfMissingAt(s: SparkSession, dir: String,
      cut: Long, tag: String): String =
    generation(indexPath(s, dir) + s"_base$tag")(
      pairMembers(s, dir).filter(col("vec_id") <= cut))

  /** The full corpus's pair set served over base + delta: untouched
    * buckets stream from the base pair table (pruned NOT-IN predicate),
    * touched buckets recompute exactly from pruned base members + the
    * delta — bit-identical to a full rebuild (see object doc). The
    * touched-bucket collect is the documented ≤ 2^NumPlanes-value
    * control-plane fetch. */
  def pairsWithDelta(s: SparkSession, dir: String): DataFrame =
    pairsWithDeltaAt(s, dir, baseCutoff(s, dir), "")

  /** Cutoff-parametrized delta serve — the fixed-delta scale
    * measurement passes cut = maxId − D so the delta is D rows (the
    * production arrival-rate shape) instead of 10% of the corpus. */
  private[graft] def pairsWithDeltaAt(s: SparkSession, dir: String,
      cut: Long, tag: String): DataFrame = {
    val path = buildBaseIfMissingAt(s, dir, cut, tag)
    val dm = pairMembers(s, dir).filter(col("vec_id") > cut)
      .transform(graft.Materialize(_))
    val touched = dm.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val untouched = s.read.parquet(s"$path/pairs")
      .filter(!col("bucket").isin(touched: _*))
    val recomputed = pairsFrom(
      s.read.parquet(s"$path/members")
        .filter(col("bucket").isin(touched: _*))
        .unionByName(dm))
    untouched.unionByName(recomputed)
  }

  /** Fold the delta into a new index GENERATION beside the base — its
    * marker checked before the cutoff or the base is resolved, base rows
    * selected by the id range so the merge is idempotent — the
    * [[graft.retrieval.SparseIndex.compactDelta]] discipline. Members
    * merge by range-selected union; pairs/edges/degrees re-derive from
    * the merged members, so the generation equals a full rebuild
    * bit-for-bit. */
  def compactDelta(s: SparkSession, dir: String): String =
    generation(indexPath(s, dir) + "_base_compacted") {
      val cut = baseCutoff(s, dir)
      val base = buildBaseIfMissingAt(s, dir, cut, "")
      s.read.parquet(s"$base/members")
        .filter(col("vec_id") <= cut) // idempotent: base rows by range
        .unionByName(pairMembers(s, dir).filter(col("vec_id") > cut))
    }

  /** `sim_knn_join` served AFTER compaction: persisted pruned scans
    * only, no serve-time pair recompute; bit-identical to [[serveKnnJoin]]. */
  def serveKnnJoinCompacted(s: SparkSession, dir: String): DataFrame = {
    val path = compactDelta(s, dir)
    s.read.parquet(s"$path/edges").orderBy("vec_id", "rk")
  }

  /** The persisted-kNN-graph query family. Every entry shares its exact
    * twin's oracle — the graph is a deterministic function of the corpus
    * and every serve/delta/compaction path above is exact. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_knn_join_served" -> ((s, dir) => serveKnnJoin(s, dir)),
    "sim_knn_join_incremental" -> ((s, dir) =>
      knnTopK(pairsWithDelta(s, dir)).orderBy("vec_id", "rk")),
    "sim_knn_join_compacted" -> ((s, dir) => serveKnnJoinCompacted(s, dir)),
    "ret_graph_ppr_served" -> ((s, dir) => servePpr(s, dir)),
    "ret_graph_ppr_scaled" -> ((s, dir) => servePprScaled(s, dir)),
    "sim_hard_negatives_served" -> ((s, dir) => serveHardNegatives(s, dir)))

  val oracle: Map[String, String] = Map(
    "sim_knn_join_served" -> SimilarityQueries.oracle("sim_knn_join"),
    "sim_knn_join_incremental" -> SimilarityQueries.oracle("sim_knn_join"),
    "sim_knn_join_compacted" -> SimilarityQueries.oracle("sim_knn_join"),
    "ret_graph_ppr_served" -> SimilarityQueries.oracle("ret_graph_ppr"),
    // ret_graph_ppr_scaled's oracle lives in SimilarityQueries.oracle
    // (built next to the fixed-plane chain it shares CTEs with)
    "sim_hard_negatives_served" ->
      SimilarityQueries.oracle("sim_hard_negatives"))
}
