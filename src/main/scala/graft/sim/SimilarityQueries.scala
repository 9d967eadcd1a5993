package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.hash.Fnv1a32
import graft.oracle.Ora

/** Similarity search over the `embeddings` table (64-dim float vectors):
  *
  *   - brute-force cosine top-k: the correctness baseline — a broadcast of
  *     the query vector against a full scan; one pass, no shuffle except
  *     the global top-k (TakeOrderedAndProject, never a full sort at scale)
  *   - random-hyperplane LSH: 8 deterministic ±1 hyperplanes → 8-bit
  *     buckets; ANN search only scans the query's bucket — the 100 TB path
  *     (expected bucket size = N/256; hyperplanes derived from the fnv1a32
  *     kernel so Spark and the oracle agree exactly)
  *   - embedding near-dup pairs: cosine ≥ threshold; quadratic here for
  *     oracle verification, with the LSH bucket join as the scale variant
  *
  * All float math is double-precision ordered left-folds so results are
  * bit-identical to the DuckDB oracle (see [[graft.oracle.Ora.dot64]]).
  */
object SimilarityQueries extends graft.QueryModule {

  val Dim = 64
  val NumPlanes = 8
  val TopK = 10
  val RerankCandidates = 25 // int8 first-pass survivors reranked exactly
  val CosineThreshold = 0.45
  val SemThreshold = 0.35 // within-cell semantic-dup cosine (SemDeDup prune)
  val NumCells = 8 // IVF coarse cells
  val NProbe = 2 // IVF cells probed per query
  val QueryVec = 42L
  val KnnK = 3 // neighbors kept per vector in the batch kNN join
  val KCoreK = 3 // minimum within-core degree for sim_knn_kcore
  /** Peeling cap — and the oracle's unroll depth (identity past the
    * fixed point; the fixture stabilizes in ~3 rounds). */
  val KCoreMaxIters = 12

  /** Banded-LSH geometry for ANN near-dup PAIR generation (not point
    * lookup): 16 hyperplanes → 4 bands × 4 bits. A single 8-bit bucket
    * match (p_bit^8) would find almost no 0.45-cosine pairs; 4 chances at
    * a 4-bit match is the standard OR-of-ANDs recall amplification. 4-bit
    * bands ⇒ 16 buckets per band position, so expected bucket size is
    * corpus/16 per band — the [[graft.dedup.DedupQueries.MaxPosting]] cap
    * (mirrored in the oracle, same contract as the text dedups) bounds
    * pair generation when a band bucket degenerates. */
  val NumPlanesAnn = 16
  val AnnBands = 4
  val AnnBandBits = 4

  /** Deterministic ±1 hyperplanes from the engine's hash kernel. Uses bit
    * 16 of the hash: FNV-1a's LOW bit is just the XOR of input-byte parities
    * (multiplying by an odd prime preserves parity mod 2), so `hash % 2`
    * would yield structured, mutually-correlated planes that collapse all
    * vectors into two complementary buckets. High bits mix properly. */
  val hyperplanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until NumPlanes).map { j =>
      (0 until Dim).map { k =>
        if (((Fnv1a32.hashString(s"hp:$j:$k") >> 16) & 1L) == 0L) 1.0 else -1.0
      }
    }

  /** Ordered left-fold dot product in double precision — the codegen'd
    * [[Dot64]] expression (same fold order as the HOF form and the DuckDB
    * oracle, ~50× faster than an interpreted lambda per element). */
  def dot(a: Column, b: Column): Column = Dot64.dot64(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def dotLit(a: Column, w: Seq[Double]): Column =
    Dot64.dot64(a, typedLit(w))

  private[sim] def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Upper-triangle covariance cells (i, j, e_xy, cov) — the whitening/PCA
    * precursor shared by `embed_covariance` and the power-iteration
    * eigenvector. The (i, j) pair explosion streams straight into a
    * map-side partial hash aggregate over the FIXED 2080 cells inside one
    * codegen stage — nothing corpus-sized is materialized and the shuffle
    * carries partitions × 2080 rows regardless of corpus size. E[x_i·x_j]
    * on the 2^-20 fixed-point grid (exact integer sums, one correctly-
    * rounded division) keeps every double bit-equal across engines;
    * cov = E[xy] − E[x]·E[y] is then reader-exact too. */
  private[graft] def covarianceCells(e: DataFrame): DataFrame = {
    val means = e.select(posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("i")
      .agg((sum(floor(col("v").cast("double") * lit(KmeansFp) + lit(0.5))) /
        (count("*") * lit(KmeansFp))).as("mean_v"))
      .select(col("i").cast("long").as("i"), col("mean_v"))
      // 64-row dimension, two broadcast consumers
      .transform(graft.Materialize(_))
    val cells = e
      .select(col("embedding"),
        posexplode(col("embedding")).as(Seq("i", "vi")))
      .select(col("i"), col("vi"),
        posexplode(col("embedding")).as(Seq("j", "vj")))
      .filter(col("j") >= col("i"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (col("vi").cast("double") * col("vj").cast("double")).as("p"))
      .groupBy("i", "j")
      .agg((sum(floor(col("p") * lit(KmeansFp) + lit(0.5))) /
        (count("*") * lit(KmeansFp))).as("e_xy"))
    cells
      .join(broadcast(means.select(col("i"), col("mean_v").as("mean_i"))),
        "i")
      .join(broadcast(means.select(col("i").as("j"),
        col("mean_v").as("mean_j"))), "j")
      .select(col("i"), col("j"), col("e_xy"),
        (col("e_xy") - col("mean_i") * col("mean_j")).as("cov"))
  }

  /** The power-iteration core shared by `embed_top_eigvec` and
    * `embed_pca_projection`: the converged 2^-20 fixed-point eigvector
    * frame (j, v) plus the exact C·v multiply for Rayleigh consumers.
    * Numeric contract in the `embed_top_eigvec` query comment. */
  private def topEigvecFp(s: SparkSession,
      e: DataFrame): (DataFrame, DataFrame => DataFrame) = {
    val tri = covarianceCells(e)
      .select(col("i"), col("j"),
        floor(col("cov") * lit(KmeansFp) + lit(0.5)).cast("long").as("c"))
    val cov = tri
      .union(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c")))
      // 4096 rows, consumed by every power-iteration multiply — the
      // loop-invariant input gets the mode-selectable materialization
      .transform(graft.Materialize(_))
    def multiply(v: DataFrame): DataFrame =
      cov.join(v, "j").groupBy("i")
        .agg(sum(col("c") * col("v")).as("w"))
    // L∞ normalization via a whole-frame window (64 rows, one
    // single-partition pass) instead of agg + crossJoin: w is referenced
    // ONCE per round, so the plan stays a linear chain and all PowerIters
    // rounds execute as one job — no per-round materialization barrier
    val whole = Window.partitionBy(lit(1))
    var v: DataFrame = s.range(Dim)
      .select(col("id").as("j"), lit(1048576L).as("v"))
    var lastMat: DataFrame = null
    for (k <- 1 to PowerIters) {
      v = multiply(v)
        .select(col("i").as("j"),
          floor(col("w").cast("double") * lit(KmeansFp) /
            max(abs(col("w"))).over(whole).cast("double") + lit(0.5))
            .cast("long").as("v"))
      // bound optimizer/codegen cost on the growing chain; the
      // materialized frame is 64 rows. Each segment barrier supersedes
      // the previous one (the chain between barriers is lazy over it).
      if (k % 8 == 0) {
        v = graft.Materialize(v)
        if (lastMat != null) graft.Materialize.release(lastMat)
        lastMat = v
      }
    }
    (v, multiply)
  }

  /** (vec_id, embedding, bucket) with the 8-bit LSH bucket. */
  def bucketed(s: SparkSession, dir: String): DataFrame = {
    val bits = (0 until NumPlanes).map { j =>
      when(dotLit(col("embedding"), hyperplanes(j)) >= 0, 1L << j)
        .otherwise(0L)
    }
    emb(s, dir).withColumn("bucket", bits.reduce(_ + _))
  }

  /** The first [[NumPlanes]] ANN-banding planes coincide with
    * [[hyperplanes]] (same seed strings), so the 16-bit signature's low
    * byte IS the point-lookup bucket — one signature serves both paths. */
  val annPlanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until NumPlanesAnn).map { j =>
      (0 until Dim).map { k =>
        if (((Fnv1a32.hashString(s"hp:$j:$k") >> 16) & 1L) == 0L) 1.0 else -1.0
      }
    }

  /** (vec_id, embedding, nrm, sig16) — 16-bit banded-LSH signature plus
    * the precomputed L2 norm the pair verification divides by. */
  private def annSigned(s: SparkSession, dir: String): DataFrame = {
    val bits = (0 until NumPlanesAnn).map { j =>
      when(dotLit(col("embedding"), annPlanes(j)) >= 0, 1L << j)
        .otherwise(0L)
    }
    emb(s, dir)
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("sig16", bits.reduce(_ + _))
  }

  val KmeansK = 8
  val KmeansIters = 2

  /** The fixed-seed coarse centroid dimension (vec_id < NumCells). */
  private[sim] def coarseCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))

  /** Nearest coarse centroid per vector — ONE definition shared by the
    * IVF serving path, the persisted IVF-PQ index, the recall
    * measurement, and the semantic-dedup prune, so the assignment (and
    * its tie-break) can never drift between the path being measured and
    * the measurement. The centroids are `e`'s own fixed-seed cells, or a
    * given (cell, c_emb) table — the persisted one, when a delta is
    * encoded against a frozen index. */
  private[sim] def assignedCells(e: DataFrame): DataFrame =
    assignedCells(e, coarseCentroids(e))

  private[sim] def assignedCells(e: DataFrame, centroids: DataFrame)
      : DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_c").desc, col("cell"))
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cell"),
        cosine(col("embedding"), col("c_emb")).as("cos_c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** Squared L2 distance as three deterministic dot-product folds — THE
    * one distance expression every argmin and LUT in this file builds
    * from, so the float op sequence can never drift between them. */
  private[sim] def sqDist(v: Column, c: Column): Column =
    dot(v, v) - lit(2.0) * dot(v, c) + dot(c, c)

  /** Nearest centroid per vector: squared-L2 via three deterministic
    * dot-product folds, ties broken by cluster id. The 8-row centroid side
    * broadcasts, and the argmin is a struct-min hash aggregate — a vector's
    * K candidate rows are co-located after the broadcast join, so partial
    * aggregation collapses them map-side and only one row per vector
    * reaches the shuffle (a row_number window would shuffle AND sort all
    * N×K rows). The (dist, cluster) ordering key is unique per vector, so
    * the min is deterministic and equals the oracle's row_number pick. */
  private def kmeansAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cluster"),
        sqDist(col("embedding"), col("c")).as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"))

  /** Fixed-point scale for centroid means: elements quantize to multiples
    * of 2^-20 (~1e-6 — far below any clustering-relevant signal). */
  val KmeansFp = 1048576.0 // 2^20

  /** Bottom-k per label for the centroid-outlier audit. */
  val OutlierK = 5

  /** Personalized-PageRank geometry for `ret_graph_ppr`. Damping and
    * teleport are BOTH literals — computing 1.0 − 0.85 yields
    * 0.15000000000000002 in IEEE doubles and the engines must agree. */
  val PprDamping = 0.85
  val PprTeleport = 0.15
  val PprIterations = 4
  val PprTopK = 10

  /** Shared label-centroid table (label, cvec), fixed-point-quantized
    * per dimension for cross-engine exactness. Checkpointed: it's a
    * 10-row table with multiple consumers — without the checkpoint each
    * consumer re-runs the (label, dim) corpus aggregation, one extra
    * full scan per consumer at 100 TB. `sim_centroid_outliers` has one
    * consumer and keeps it: measured faster materialized (Profile). */
  private def labelCentroidsOf(e: DataFrame): DataFrame =
    e.select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg((sum(floor(col("v").cast("double") * lit(KmeansFp) + lit(0.5))) /
        (count("*") * lit(KmeansFp))).as("val"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("val")))),
        x => x.getField("val")).as("cvec"))
      .transform(graft.Materialize(_))

  /** Power-iteration rounds for the top-eigenvector query. Thirty-two L∞-
    * normalized multiplies from the all-ones start separate the dominant
    * eigenpair on this spectrum (spec-checked via the Cv ∥ λv residual);
    * a production run would iterate to a residual bound instead — each
    * extra round costs one Dim²-row multiply, nothing corpus-sized. */
  val PowerIters = 32

  /** Per-dimension member mean over 2^-20 fixed-point quantized elements.
    * The scaled values are exact integers, so the sum is EXACT and
    * order-independent, and the single division is correctly rounded —
    * the resulting doubles are bit-identical across partitionings and
    * engines. (A plain double sum leaks shuffle order into the last bits;
    * a DECIMAL sum is exact too, but DuckDB's wide-decimal→double
    * conversion is not correctly rounded, drifting 1 ulp from Spark's.) */
  private def kmeansUpdate(assigned: DataFrame, vecs: DataFrame): DataFrame =
    assigned.join(vecs, "vec_id")
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("cluster", "i")
      .agg((sum(floor(col("v").cast("double") * lit(KmeansFp) + lit(0.5))) /
        (count("*") * lit(KmeansFp))).as("val"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("val")))),
        x => x.getField("val")).as("c"))

  /** The k-core peeling loop behind sim_knn_kcore; returns the core
    * (vec_id, core_degree) and the round at which the edge set
    * stabilized (for the convergence-pinning spec). */
  private[graft] def knnKCoreWithRounds(s: SparkSession,
      dir: String): (DataFrame, Int) = {
    val knn = knnTopK(bucketCosinePairs(s, dir))
    val canon = knn
      .select(least(col("vec_id"), col("nbr")).as("a"),
        greatest(col("vec_id"), col("nbr")).as("b"))
      .distinct()
      .transform(graft.Materialize(_))
    var n = -1L // carried edge count: each round counts only `next`
    val (edges, iters) = graft.Materialize.iterate(
        canon.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(canon.select(col("b").as("src"), col("a").as("dst"))),
        KCoreMaxIters) { edges =>
      // in-round barrier: the keep set feeds both semi-joins
      val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCoreK).select(col("src").as("v"))
        .transform(graft.Materialize(_))
      edges
        .join(keep, edges("src") === keep("v"), "left_semi")
        .join(keep, edges("dst") === keep("v"), "left_semi")
    } { (edges, next) =>
      if (n < 0) n = edges.count()
      val m = next.count()
      val stable = m == n
      n = m
      stable
    }
    (edges.groupBy(col("src").as("vec_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy("vec_id"), iters)
  }

  /** (vec_id, label, embedding, bucket, nrm) — the bucketed corpus view
    * pair generation runs over; also the `members/` table the persisted
    * kNN-graph index ([[KnnGraphIndex]]) stores bucket-partitioned so a
    * delta arrival's touched-bucket recompute is a pruned scan. */
  private[graft] def pairMembers(s: SparkSession, dir: String): DataFrame =
    bucketed(s, dir)
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))

  /** log-N plane schedule for the SCALED kNN-graph variant: the plane
    * count grows with corpus size so the expected bucket load stays
    * ~[[PlanesTargetLoad]] vectors — the production posture the
    * [[KnnGraphIndex]] scaladoc documents (bucket sizes ~constant, the
    * bucket SPACE grows). At the fixture SFs (≤ 2 000 vectors) the
    * schedule floors at [[NumPlanes]], so the scaled graph coincides
    * bit-for-bit with the 8-plane one at gate scale and diverges
    * exactly where the fixed-plane geometry collapses (at 100× every
    * 8-plane bucket is over-cap and the fixed graph is empty).
    * Integer-exact on both engines: bitLength64 semantics here,
    * `length(format('{:b}', …))` in the DuckDB oracle. */
  val PlanesTargetLoad = 8L
  private[graft] def planesFor(n: Long): Int =
    math.min(NumPlanesAnn, math.max(NumPlanes,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, (n - 1) / PlanesTargetLoad))))

  /** [[pairMembers]] under the [[planesFor]] schedule: buckets from the
    * first planesFor(n) ANN planes (whose first [[NumPlanes]] coincide
    * with [[hyperplanes]] — same seed strings). The corpus count is a
    * 1-scalar control-plane fetch, the bounded-collect idiom. */
  private[graft] def pairMembersScaled(s: SparkSession, dir: String): DataFrame = {
    val p = planesFor(emb(s, dir).count())
    val bits = (0 until p).map { j =>
      when(dotLit(col("embedding"), annPlanes(j)) >= 0, 1L << j)
        .otherwise(0L)
    }
    emb(s, dir).withColumn("bucket", bits.reduce(_ + _))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
  }

  /** Bucket-local scored pairs from a members view — both directions,
    * per-bucket posting lists under the [[graft.dedup.DedupQueries.MaxPosting]]
    * cap. Keeps `bucket` in the output: pair generation is bucket-local
    * (each vector belongs to exactly one bucket), so the whole pair set —
    * and therefore the kNN graph — decomposes by bucket; that is what
    * makes the persisted index's delta path EXACT (recompute only the
    * buckets a delta vector lands in, union the rest unchanged). */
  private[graft] def pairsFrom(b: DataFrame): DataFrame = {
    val cand = b.select(col("vec_id"), col("bucket"))
      .groupBy("bucket").agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids"))
        .between(2, graft.dedup.DedupQueries.MaxPosting))
      .select(col("bucket"), explode(col("ids")).as("vec_id"), col("ids"))
      .select(col("bucket"), col("vec_id"), explode(col("ids")).as("nbr"))
      .filter(col("vec_id") =!= col("nbr"))
    cand
      .join(b.select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a")), Seq("vec_id"))
      .join(b.select(col("vec_id").as("nbr"),
        col("label").cast("long").as("nbr_label"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), Seq("nbr"))
      .select(col("bucket"), col("vec_id"), col("label"), col("nbr"),
        col("nbr_label"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cos_sim"))
  }

  /** Scored bucket-local pairs (vec_id, label, nbr, nbr_label, cos_sim),
    * both directions — ONE pair stage shared by the kNN join and the
    * hard-negative miner so their candidate sets cannot drift. Pairs come
    * from per-bucket posting lists under the standard MaxPosting cap
    * (never a self-join: the bucket derivation runs once, from one
    * checkpoint), then each side's embedding and precomputed norm joins
    * back by id. */
  private[graft] def bucketCosinePairs(s: SparkSession, dir: String): DataFrame =
    pairsFrom(pairMembers(s, dir).transform(graft.Materialize(_))).drop("bucket")

  /** Per-vector top-[[KnnK]] cut over a scored pair set — the kNN-graph
    * edge list (vec_id, nbr, cos_sim, rk). Shared by `sim_knn_join` and
    * the persisted index build, so the served edge table is bit-identical
    * to the exact query's output and shares its oracle. */
  private[graft] def knnTopK(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("cos_sim").desc, col("nbr"))).cast("long"))
      .filter(col("rk") <= KnnK)
      .select("vec_id", "nbr", "cos_sim", "rk")

  /** Hard-negative tail over a scored pair set: per vector, the single
    * most-similar neighbor with a DIFFERENT label. Shared by
    * `sim_hard_negatives` (pairs derived per call) and its `_served` twin
    * (pairs read from the persisted kNN-graph index). */
  private[graft] def hardNegativesFrom(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("label") =!= col("nbr_label"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("cos_sim").desc, col("nbr"))))
      .filter(col("rk") === 1)
      .select("vec_id", "label", "nbr", "nbr_label", "cos_sim")
      .orderBy("vec_id")

  /** The personalized-PageRank core over a prepared degree-attached edge
    * list (vec_id, nbr, deg) — shared by `ret_graph_ppr` (graph derived
    * per call) and `ret_graph_ppr_served` (edges + degrees read from the
    * persisted kNN-graph index), so both share one oracle bit-for-bit.
    * Rank vectors stay SPARSE (only reached nodes carry rows, ≤ K^i after
    * i hops); each iteration is one edges⋈ranks join + one (seed, dst)
    * aggregate, values rounded to the 1e-12 grid per iteration — the
    * pagerank family's cross-engine portability discipline. */
  private[graft] def pprRun(s: SparkSession, eDeg: DataFrame): DataFrame = {
    import s.implicits._
    val seeds = graft.retrieval.RetrievalQueries.QueryDocs
    // seed frames are |seeds|-row LocalRelations — no checkpoint jobs;
    // the iterations stay LAZY so the whole [[PprIterations]]-round loop
    // fuses into one job at the caller's action (the per-round 1e-12
    // rounding lives in the expressions, not in materialization
    // barriers). Rank vectors are seed-sparse (≤ K^i rows after i hops),
    // so the fused plan's intermediate joins are tiny; what the fusion
    // removes is PprIterations+1 scheduler round-trips — the dominant
    // cost of the iterative queries at bench SF (round-9, the
    // pagerank-family job-floor fix).
    val seedBase = seeds.map(q => (q, q, PprTeleport))
      .toDF("seed", "node", "base")
    var r = seeds.map(q => (q, q, 1.0)).toDF("seed", "node", "pr")
    for (_ <- 1 to PprIterations) {
      val contrib = eDeg.join(r, eDeg("vec_id") === r("node"))
        .groupBy("seed", "nbr").agg(sum(col("pr") / col("deg")).as("inflow"))
        .select(col("seed"), col("nbr").as("node"), col("inflow"))
      r = seedBase.join(contrib, Seq("seed", "node"), "outer")
        .select(col("seed"), col("node"),
          round(coalesce(col("base"), lit(0.0)) +
            lit(PprDamping) * coalesce(col("inflow"), lit(0.0)), 12)
            .as("pr"))
    }
    val w = Window.partitionBy("seed").orderBy(col("pr").desc, col("node"))
    r.filter(col("node") =!= col("seed"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= PprTopK)
      .select(col("seed").as("query_doc"), col("rank"),
        col("node").as("doc_id"), col("pr").as("ppr"))
      .orderBy("query_doc", "rank")
  }

  /** Product-quantization geometry: 64 dims → [[PqM]] independent 16-dim
    * subspaces, each with its own [[PqK]]-codeword k-means codebook
    * (seeds vec_id < k, [[PqIters]] Lloyd iterations — the same exact
    * fixed-point update as `sim_kmeans_cells`, so codebooks are bit-equal
    * across engines). A vector stores PqM small codes (here 4×3 bits;
    * production uses 8-bit codes) instead of 64 floats — the compression
    * rung below int8 quantization: int8 is 4×, PQ at 8×16 dims is 32×. */
  val PqM = 4
  val PqSubDim = 16 // Dim / PqM
  val PqK = 8
  val PqIters = 2

  /** All-subspaces view: (vec_id, sub, embedding=16-dim slice), one row
    * per subspace. The 4 sub-k-means train JOINTLY over this frame — one
    * corpus pass per Lloyd iteration instead of [[PqM]] (at 100 TB the
    * difference between reading the corpus twice and eight times), and
    * locally one job chain instead of four. */
  private[sim] def pqSubVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> " +
          s"struct(CAST(j AS INT) AS sub, " +
          s"slice(embedding, j * $PqSubDim + 1, $PqSubDim) AS emb))"))
        .as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"),
        col("x.emb").as("embedding"))

  /** Joint codebooks (sub, cluster, c): per-subspace Lloyd's, all
    * subspaces in one assign/update dataflow. The math per subspace is
    * identical to running [[kmeansAssign]]/[[kmeansUpdate]] on each
    * slice alone (the `sub` column just rides along every key), so the
    * per-subspace DuckDB oracle CTEs mirror it exactly. Each round's
    * ≤ PqM·PqK-row centroid table is checkpointed — it feeds the next
    * broadcast join, and an un-materialized broadcast build side re-runs
    * its whole upstream once per consumer. */
  private[sim] def pqCodebooks(vecs: DataFrame, seedOffset: Long = 0L): DataFrame = {
    val seeds = vecs
      .filter(col("vec_id") >= seedOffset && col("vec_id") < seedOffset + PqK)
      .select(col("sub"), (col("vec_id") - lit(seedOffset)).cast("long")
        .as("cluster"), col("embedding").as("c"))
    graft.Materialize.iterate(seeds, PqIters)(
      cents => pqUpdate(pqAssign(vecs, cents), vecs))((_, _) => false)._1
  }

  /** Joint nearest-codeword assignment with the winning distance: the
    * [[kmeansAssign]] argmin per (vec_id, sub), keeping the distance
    * (the per-subspace quantization error the PQ code table reports).
    * The lexicographic `min(struct(dist, cluster))` pick equals the
    * oracle's `row_number() ORDER BY dist, cluster` row — the (dist,
    * cluster) key is unique per vector. */
  private[sim] def pqAssign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    vecs.join(broadcast(cents), "sub")
      .select(col("vec_id"), col("sub"), col("cluster"),
        sqDist(col("embedding"), col("c")).as("dist"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cluster").as("cluster"),
        col("m.dist").as("dist"))
  }

  /** Joint fixed-point centroid update — [[kmeansUpdate]] keyed by
    * (sub, cluster). */
  private def pqUpdate(assigned: DataFrame, vecs: DataFrame): DataFrame =
    assigned.join(vecs, Seq("vec_id", "sub"))
      .select(col("sub"), col("cluster"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("sub", "cluster", "i")
      .agg((sum(floor(col("v").cast("double") * lit(KmeansFp) + lit(0.5))) /
        (count("*") * lit(KmeansFp))).as("val"))
      .groupBy("sub", "cluster")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("val")))),
        x => x.getField("val")).as("c"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PQ encode: per vector, the 4 subspace codes plus total squared
    // reconstruction error. ONE scan of the (vec_id, sub, slice) frame →
    // one PqM·PqK-row broadcast join → map-side-combined argmin → a
    // per-vector pivot aggregate (deterministic: exactly one row per
    // (vec_id, sub)). The qerr sum is written in fixed subspace order so
    // the doubles match the oracle's left-assoc `+` chain bit-for-bit.
    "sim_pq_codes" -> ((s, dir) => {
      val sv = pqSubVecs(emb(s, dir).select("vec_id", "embedding"))
        .transform(graft.Materialize(_)) // Lloyd-loop input
      val a = pqAssign(sv, pqCodebooks(sv))
      val pivots =
        (0 until PqM).map(j =>
          max(when(col("sub") === j, col("cluster"))).as(s"code_$j")) ++
        (0 until PqM).map(j =>
          max(when(col("sub") === j, col("dist"))).as(s"err_$j"))
      a.groupBy("vec_id")
        .agg(pivots.head, pivots.tail: _*)
        .select(col("vec_id") +: (0 until PqM).map(j => col(s"code_$j")) :+
          (0 until PqM).map(j => col(s"err_$j"))
            .reduce(_ + _).as("qerr"): _*)
        .orderBy("vec_id")
    }),

    // PQ ANN serving: asymmetric-distance (ADC) top-5 for query vector 0.
    // The classic PQ lookup shape: the PqM·PqK-row table of distances
    // from the query's exact slices to every codeword (the LUT)
    // broadcasts, and scanning the code table is a dictionary lookup —
    // approximate distance = sum of 4 LUT entries, summed in fixed
    // subspace order via the same pivot as the encode. No exact-vector
    // math ever touches the corpus at query time; at 100 TB the corpus
    // side is the 4-code table (32× smaller than the floats), scan + one
    // broadcast join + TakeOrdered, shuffle-free until the final top-k.
    "sim_pq_ann" -> ((s, dir) => {
      val sv = pqSubVecs(emb(s, dir).select("vec_id", "embedding"))
        .transform(graft.Materialize(_)) // Lloyd-loop input
      val cb = pqCodebooks(sv)
      val q = sv.filter(col("vec_id") === 0)
        .select(col("sub"), col("embedding").as("qe"))
      val lut = cb.join(broadcast(q), "sub")
        .select(col("sub"), col("cluster"), sqDist(col("qe"), col("c")).as("d"))
      val pivots = (0 until PqM).map(j =>
        max(when(col("sub") === j, col("d"))).as(s"d_$j"))
      pqAssign(sv, cb).select("vec_id", "sub", "cluster")
        .join(broadcast(lut), Seq("sub", "cluster"))
        .groupBy("vec_id")
        .agg(pivots.head, pivots.tail: _*)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (0 until PqM).map(j => col(s"d_$j")).reduce(_ + _).as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(5)
    }),

    // IVF-PQ: the two prunings composed — the architecture a 100 TB
    // vector corpus actually serves from (FAISS's IVFPQ shape). The IVF
    // coarse quantizer restricts the scan to the query's NProbe nearest
    // cells (cell-pruned I/O: at 1024 cells / nprobe 8, ~1% of the
    // corpus is read), and within the probed cells distance is PQ
    // asymmetric-distance — the scan touches only the 4-code table, with
    // the query→codeword LUT broadcast. No float vector is read at query
    // time: the corpus-side inputs are the cell assignment (one int) and
    // the PQ codes (4 small ints) per vector — together ~33× less scan
    // bandwidth than the float embeddings. Production refinement not
    // modeled here: encoding RESIDUALS (vector − cell centroid) per cell
    // sharpens the codebooks; the dataflow is identical. Both prunings,
    // the LUT, and the fixed-order ADC sum are each bit-mirrored in the
    // oracle, so even the approximate distances hash-match.
    "sim_ivfpq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = coarseCentroids(e)
      // IVF leg: the query's NProbe nearest cells, then the cell-pruned
      // candidate id set (the posting lists an IVF index stores)
      val qcells = e.filter(col("vec_id") === QueryVec)
        .select(col("embedding").as("q_emb"))
        .crossJoin(broadcast(centroids))
        .select(col("cell"), cosine(col("q_emb"), col("c_emb")).as("cos_c"))
        .orderBy(col("cos_c").desc, col("cell")).limit(NProbe)
        .select("cell")
      val cand = assignedCells(e)
        .join(broadcast(qcells), "cell")
        .filter(col("vec_id") =!= QueryVec)
        .select("vec_id")
      // PQ leg: codebooks + corpus codes + the query's per-subspace LUT
      val sv = pqSubVecs(e.select("vec_id", "embedding"))
        .transform(graft.Materialize(_)) // Lloyd-loop input
      val cb = pqCodebooks(sv)
      val q = sv.filter(col("vec_id") === QueryVec)
        .select(col("sub"), col("embedding").as("qe"))
      val lut = cb.join(broadcast(q), "sub")
        .select(col("sub"), col("cluster"), sqDist(col("qe"), col("c")).as("d"))
      val pivots = (0 until PqM).map(j =>
        max(when(col("sub") === j, col("d"))).as(s"d_$j"))
      pqAssign(sv, cb).select("vec_id", "sub", "cluster")
        .join(cand, Seq("vec_id"), "left_semi")
        .join(broadcast(lut), Seq("sub", "cluster"))
        .groupBy("vec_id")
        .agg(pivots.head, pivots.tail: _*)
        .select(col("vec_id"),
          (0 until PqM).map(j => col(s"d_$j")).reduce(_ + _).as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(5)
    }),

    // IVF-PQ SERVED from the persisted index (IvfPqIndex): the
    // build/serve split production runs — training happens once at
    // build time, and the query touches only the index tables, with
    // the probed cells arriving at the codes scan as literal partition
    // predicates (file pruning, audited in IvfPqIndexSpec). Results are
    // bit-identical to sim_ivfpq_ann, so it shares that oracle.
    "sim_ivfpq_served" -> ((s, dir) => IvfPqIndex.serve(s, dir)),

    // incremental index maintenance: quantizers trained on the BASE
    // corpus only (oldest ~90%), the newest ~10% of vectors encoded
    // post-build with the FROZEN centroids/codebooks and unioned into
    // serving — the ingest path every production index runs between
    // rebuilds. Delta vectors can and do reach the top-k.
    "sim_ivfpq_delta_served" -> ((s, dir) => IvfPqIndex.serveWithDelta(s, dir)),

    // the lifecycle's third act: the delta tail folded into the
    // partitioned codes table (next generation written beside the old,
    // then swapped), returning serving to a single file-pruned scan —
    // results identical to the pre-compaction union, and oracle-checked
    // against the same base-trained mirror
    "sim_ivfpq_compacted_served" -> ((s, dir) => IvfPqIndex.serveCompacted(s, dir)),

    // IVF-PQ with RESIDUAL encoding — the refinement sim_ivfpq_ann names
    // as what production FAISS actually runs: PQ codebooks are trained on
    // (vector − its cell centroid), which concentrates the coded
    // distribution near the origin and sharpens every codeword. Two
    // consequences the plain variant doesn't have: (1) PQ seeds shift to
    // vec_ids [NumCells, NumCells+PqK) — the first 8 vectors ARE the cell
    // centroids, so their residuals are ~0 and would degenerate the
    // codebooks; (2) the query's LUT is PER PROBED CELL (the query
    // residual differs by cell), so the broadcast LUT is NProbe·PqM·PqK
    // rows and candidates join it on (cell, sub, code) — ADC then
    // approximates ‖q−x‖² = ‖(q−c)−(x−c)‖² within each cell. The
    // residual subtraction is one correctly-rounded double op per
    // element, so the whole chain stays bit-mirrored in the oracle.
    "sim_ivfpq_residual_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = coarseCentroids(e)
      val assigned = assignedCells(e).transform(graft.Materialize(_))
      val sub = expr("zip_with(embedding, c_emb, " +
        "(a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE))")
      val resid = assigned.join(broadcast(centroids), "cell")
        .select(col("vec_id"), col("cell"), sub.as("embedding"))
      val rsv = pqSubVecs(resid.select("vec_id", "embedding"))
        .transform(graft.Materialize(_)) // Lloyd-loop input
      val cb = pqCodebooks(rsv, seedOffset = NumCells)
      // query side: NProbe nearest cells, each with its own residual
      val qres = e.filter(col("vec_id") === QueryVec)
        .select(col("embedding").as("q_emb"))
        .crossJoin(broadcast(centroids))
        .select(col("cell"), col("c_emb"), col("q_emb"),
          cosine(col("q_emb"), col("c_emb")).as("cos_c"))
        .orderBy(col("cos_c").desc, col("cell")).limit(NProbe)
        .select(col("cell"), expr("zip_with(q_emb, c_emb, " +
          "(a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE))").as("qr"))
      val qsv = qres.select(col("cell"), explode(expr(
          s"transform(sequence(0, ${PqM - 1}), j -> " +
            s"struct(CAST(j AS INT) AS sub, " +
            s"slice(qr, j * $PqSubDim + 1, $PqSubDim) AS emb))")).as("x"))
        .select(col("cell"), col("x.sub").as("sub"), col("x.emb").as("qe"))
      val lut = cb.join(broadcast(qsv), "sub")
        .select(col("cell"), col("sub"), col("cluster"),
          sqDist(col("qe"), col("c")).as("d"))
      val cand = assigned
        .join(broadcast(qres.select("cell")), "cell")
        .filter(col("vec_id") =!= QueryVec)
        .select("vec_id", "cell")
      val pivots = (0 until PqM).map(j =>
        max(when(col("sub") === j, col("d"))).as(s"d_$j"))
      pqAssign(rsv, cb).select("vec_id", "sub", "cluster")
        .join(cand, "vec_id")
        .join(broadcast(lut), Seq("cell", "sub", "cluster"))
        .groupBy("vec_id")
        .agg(pivots.head, pivots.tail: _*)
        .select(col("vec_id"),
          (0 until PqM).map(j => col(s"d_$j")).reduce(_ + _).as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(5)
    }),

    // PQ recall@5 — what the 32× compression costs, measured. For the
    // same fixed 10-query sample as sim_ann_recall, compare (a) plain
    // PQ-ADC over the full code table and (b) IVF-PQ (cell-pruned ADC)
    // against the EXACT L2 top-5 (PQ approximates squared L2, so L2
    // truth is the right denominator; sim_ann_recall's legs measure
    // against cosine truth — different contract, kept separate). The
    // ADC scan is corpus × Q with Q fixed — the batch-serving shape —
    // and the per-query LUTs (Q·PqM·PqK rows) broadcast.
    "sim_pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
      val qs = e.filter(sampled)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      def top5(scored: DataFrame, scoreAsc: Column): DataFrame = {
        val w = Window.partitionBy("q_id").orderBy(scoreAsc, col("vec_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5).select("q_id", "vec_id")
      }
      val truth = top5(e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          sqDist(col("embedding"), col("q_emb")).as("dist")), col("dist"))
      val sv = pqSubVecs(e.select("vec_id", "embedding"))
        .transform(graft.Materialize(_)) // Lloyd-loop input
      val cb = pqCodebooks(sv)
      val qsv = sv.filter(sampled)
        .select(col("vec_id").as("q_id"), col("sub"),
          col("embedding").as("qe"))
      val lut = cb.join(broadcast(qsv), "sub")
        .select(col("q_id"), col("sub"), col("cluster"),
          sqDist(col("qe"), col("c")).as("d"))
      val pivots = (0 until PqM).map(j =>
        max(when(col("sub") === j, col("d"))).as(s"d_$j"))
      val adc = pqAssign(sv, cb).select("vec_id", "sub", "cluster")
        .join(broadcast(lut), Seq("sub", "cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(pivots.head, pivots.tail: _*)
        .select(col("q_id"), col("vec_id"),
          (0 until PqM).map(j => col(s"d_$j")).reduce(_ + _).as("adc_dist"))
        .transform(graft.Materialize(_)) // feeds both legs
      val pq5 = top5(adc, col("adc_dist"))
      // IVF leg: the query's NProbe cells prune the candidate set
      val centroids = coarseCentroids(e)
      val qcells = qs.crossJoin(broadcast(centroids))
        .select(col("q_id"), col("cell"),
          cosine(col("q_emb"), col("c_emb")).as("cos_c"))
        .withColumn("rk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos_c").desc, col("cell"))))
        .filter(col("rk") <= NProbe)
        .select("q_id", "cell")
      val cand = assignedCells(e).select("vec_id", "cell")
        .join(broadcast(qcells), "cell")
        .select("q_id", "vec_id")
      val ipq5 = top5(adc.join(cand, Seq("q_id", "vec_id")),
        col("adc_dist"))
      def recallOf(pred: DataFrame, method: String): DataFrame =
        qs.select("q_id").join(
            truth.join(pred, Seq("q_id", "vec_id"))
              .groupBy("q_id").agg(count("*").as("hits")),
            Seq("q_id"), "left")
          .select(col("q_id"), lit(method).as("method"),
            coalesce(col("hits"), lit(0L)).as("n_hits"),
            (coalesce(col("hits"), lit(0L)) / lit(5.0)).as("recall_at_5"))
      recallOf(pq5, "pq").unionByName(recallOf(ipq5, "ivfpq"))
        .orderBy("method", "q_id")
    }),

    // distributed k-means (Lloyd's): the clustering that trains IVF cells
    // and drives data-curation mixes. Deterministic seeds (vec_id < k),
    // fixed iteration count, decimal-exact centroid means — bit-equal to
    // the unrolled DuckDB oracle. Per iteration: one broadcast join + one
    // aggregation; nothing quadratic, nothing driver-side.
    "sim_kmeans_cells" -> ((s, dir) => {
      val vecs = emb(s, dir).select("vec_id", "embedding")
        .transform(graft.Materialize(_))
      val seeds = vecs.filter(col("vec_id") < KmeansK)
        .select(col("vec_id").cast("long").as("cluster"),
          col("embedding").as("c"))
      val (cents, _) = graft.Materialize.iterate(seeds, KmeansIters)(
        cents => kmeansUpdate(kmeansAssign(vecs, cents), vecs))((_, _) => false)
      kmeansAssign(vecs, cents)
        .groupBy("cluster").agg(count("*").as("n_members"))
        .join(cents.select(col("cluster"),
          dot(col("c"), col("c")).as("c_norm_sq")), "cluster")
        .orderBy("cluster")
    }),
    // vector norms: the shared fold machinery, checkable in isolation
    "embed_norms" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
        sqrt(dot(col("embedding"), col("embedding"))).as("l2_norm"))
        .orderBy("vec_id")),

    // Maximum-inner-product search via the norm-augmentation reduction
    // (Shrivastava & Li, NeurIPS 2014 "ALSH"): append one dimension
    // sqrt(M² − ‖x‖²) to every database vector (M = the corpus' max
    // norm) and a 0 to the query — every augmented vector then has norm
    // exactly M, so COSINE rank order of the augmented space IS inner-
    // product rank order, and the whole cosine-LSH ANN stack becomes
    // applicable to un-normalized embeddings (recommendation scores,
    // classifier logits). The query outputs both rankings and whether
    // they agree, computed the scale-right way: the top-k itself is a
    // TakeOrdered (no global sort), and the augmented-cosine rank of
    // those k rows is a count-above against a broadcast k-row dimension
    // — one corpus pass, never a corpus-wide window. The two dot-product
    // passes share one scan via localCheckpoint.
    "sim_mips_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val db = e.filter(col("vec_id") =!= 0)
      val m2 = db.agg(max(dot(col("embedding"), col("embedding"))).as("m2"))
      val scored = db.crossJoin(broadcast(q)).crossJoin(broadcast(m2))
        .select(col("vec_id"),
          dot(col("embedding"), col("q_emb")).as("ip"),
          dot(col("embedding"), col("embedding")).as("xx"),
          dot(col("q_emb"), col("q_emb")).as("qq"),
          col("m2"))
        .withColumn("aug", sqrt(col("m2") - col("xx")))
        // the honest augmented-vector cosine: ‖P(x)‖ is recomputed from
        // xx + aug² (floating, both engines identically), not assumed M
        .withColumn("mips_cos", col("ip") /
          (sqrt(col("xx") + col("aug") * col("aug")) * sqrt(col("qq"))))
        .transform(graft.Materialize(_))
      val top = scored.orderBy(col("ip").desc, col("vec_id")).limit(TopK)
        .withColumn("rank_ip",
          row_number().over(Window.orderBy(col("ip").desc, col("vec_id")))
            .cast("long")) // window over the k already-taken rows only
      val cand = top.select(col("vec_id").as("c_id"), col("rank_ip"),
        col("ip").as("c_ip"), col("mips_cos").as("c_cos"))
      val above = scored.select("vec_id", "mips_cos")
        .crossJoin(broadcast(cand))
        .filter(col("mips_cos") > col("c_cos") ||
          (col("mips_cos") === col("c_cos") && col("vec_id") < col("c_id")))
        .groupBy("c_id").agg(count(lit(1)).as("n_above"))
      cand.join(above, Seq("c_id"), "left")
        .select(col("rank_ip"), col("c_id").as("vec_id"),
          col("c_ip").as("ip"), col("c_cos").as("mips_cos"),
          (col("rank_ip") === lit(1L) + coalesce(col("n_above"), lit(0L)))
            .as("rank_agrees"))
        .orderBy("rank_ip")
    }),

    // brute-force cosine top-k against query vector vec_id = 0
    "sim_topk_bruteforce" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      emb(s, dir).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(TopK)
    }),

    // int8 symmetric quantization — the storage path for a 100 TB
    // embedding corpus (4 bytes → 1 byte per dim before ANN indexing).
    // Per-vector scale = max|x|/127; q_i = floor(x_i/scale + 0.5), which
    // is bit-stable across engines (round() half-away ties differ).
    // Summary per vector keeps the oracle compact; the ≤ scale/2
    // reconstruction bound is asserted in SimilaritySpec.
    "embed_quantize_int8" -> ((s, dir) => {
      val absmax =
        array_max(transform(col("embedding"), v => abs(v.cast("double"))))
      emb(s, dir)
        .withColumn("scale", absmax / lit(127.0))
        .withColumn("q",
          when(col("scale") === 0.0,
            transform(col("embedding"), _ => lit(0L)))
          .otherwise(transform(col("embedding"),
            v => floor(v.cast("double") / col("scale") + lit(0.5))
              .cast("long"))))
        .select(col("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"))
        .orderBy("vec_id")
    }),

    // LSH bucket histogram: the partitioning the ANN path prunes with
    "sim_lsh_buckets" -> ((s, dir) =>
      bucketed(s, dir).groupBy("bucket").agg(count("*").as("n"))
        .orderBy("bucket")),

    // ANN via LSH: scan ONLY the query's bucket, then exact cosine top-5.
    // At 100 TB the bucket column is the partition key; this join prunes
    // the corpus before any distance math. Probes on the coarser 4-plane
    // prefix (16 buckets) — the precision/recall knob: more prefix bits =
    // smaller scan, lower recall.
    "sim_ann_lsh" -> ((s, dir) => {
      val b = bucketed(s, dir)
        .withColumn("coarse", col("bucket") % 16)
      val q = b.filter(col("vec_id") === 0)
        .select(col("coarse"), col("embedding").as("q_emb"))
      b.filter(col("vec_id") =!= 0)
        .join(broadcast(q), "coarse")
        .select(col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    }),

    // multi-probe LSH ANN: scan the query's coarse bucket AND its four
    // Hamming-1 neighbors (one coarse bit flipped per probe) — the
    // standard recall knob that does NOT touch the index: the corpus
    // keeps exactly one bucket per vector (its partition key at scale)
    // and only the query side fans out, a 5-row broadcast dimension.
    // 5/16 of the corpus scanned instead of 1/16, recall strictly ≥ the
    // single-probe path (measured in sim_ann_recall's multiprobe leg).
    "sim_ann_multiprobe" -> ((s, dir) => {
      val b = bucketed(s, dir).withColumn("coarse", col("bucket") % 16)
      val q = b.filter(col("vec_id") === 0)
        .select(explode(expr(
          "transform(array(0, 1, 2, 4, 8), p -> coarse ^ p)")).as("coarse"),
          col("embedding").as("q_emb"))
      b.filter(col("vec_id") =!= 0)
        .join(broadcast(q), "coarse")
        .select(col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    }),

    // IVF-flat ANN: assign every vector to its nearest of 8 coarse
    // centroids (deterministically the first 8 vectors — a training-free
    // stand-in for k-means cells), then search only the query's nprobe=2
    // nearest cells with exact cosine. At 100 TB the cell id is the
    // partition key: nprobe/num_cells of the corpus is scanned per query,
    // and the centroid table stays a broadcast dimension.
    "sim_ivf_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = coarseCentroids(e)
      val assigned = assignedCells(e)
      val queryCells = assigned.filter(col("vec_id") === QueryVec)
        .select(col("embedding").as("q_emb"))
        .crossJoin(broadcast(centroids))
        .select(col("cell"), col("q_emb"),
          cosine(col("q_emb"), col("c_emb")).as("cos_c"))
        .orderBy(col("cos_c").desc, col("cell")).limit(NProbe)
        .select(col("cell"), col("q_emb"))
      assigned.filter(col("vec_id") =!= QueryVec)
        .join(broadcast(queryCells), "cell")
        .select(col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    }),

    // ANN recall@5: the measurement that closes the ANN story — for a
    // FIXED 10-query sample (vec_id % 50 = 0 below 500; fixed so the
    // brute-force leg stays Q×N with constant Q at any corpus size,
    // never N²/50), compare each variant's top-5 against the exact
    // brute-force top-5 and emit per-query recall. The brute-force leg
    // is the measurement harness, not the serving path; the candidates
    // legs reuse the pruned bucket/cell scans that ARE the serving path.
    "sim_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val sampled = col("vec_id") % 50 === 0 && col("vec_id") < 500
      val qs = e.filter(sampled)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      def top5(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos_sim").desc, col("vec_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5).select("q_id", "vec_id")
      }
      val truth = top5(e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim")))
      // LSH leg: candidates share the query's coarse bucket
      val b = bucketed(s, dir).withColumn("coarse", col("bucket") % 16)
      val qb = b.filter(sampled)
        .select(col("vec_id").as("q_id"), col("coarse"),
          col("embedding").as("q_emb"))
      val lsh = top5(b.join(broadcast(qb), "coarse")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim")))
      // multiprobe leg: same index, query fans out to Hamming-1 probes
      val qmp = qb.select(col("q_id"), col("q_emb"),
        explode(expr("transform(array(0, 1, 2, 4, 8), p -> coarse ^ p)"))
          .as("coarse"))
      val mp = top5(b.join(broadcast(qmp), "coarse")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim")))
      // IVF leg: candidates in the query's nprobe nearest cells
      val centroids = coarseCentroids(e)
      val assigned = assignedCells(e)
      val qcells = qs.crossJoin(broadcast(centroids))
        .select(col("q_id"), col("q_emb"), col("cell"),
          cosine(col("q_emb"), col("c_emb")).as("cos_c"))
        .withColumn("rk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos_c").desc, col("cell"))))
        .filter(col("rk") <= NProbe)
        .select("q_id", "q_emb", "cell")
      val ivf = top5(assigned.join(broadcast(qcells), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim")))
      def recallOf(pred: DataFrame, method: String): DataFrame =
        qs.select("q_id").join(
            truth.join(pred, Seq("q_id", "vec_id"))
              .groupBy("q_id").agg(count("*").as("hits")),
            Seq("q_id"), "left")
          .select(col("q_id"), lit(method).as("method"),
            coalesce(col("hits"), lit(0L)).as("n_hits"),
            (coalesce(col("hits"), lit(0L)) / lit(5.0)).as("recall_at_5"))
      recallOf(lsh, "lsh").unionByName(recallOf(ivf, "ivf"))
        .unionByName(recallOf(mp, "multiprobe"))
        .orderBy("method", "q_id")
    }),

    // two-phase ANN with an int8 first pass — the serving shape a 100 TB
    // embedding corpus actually runs: the quantized corpus (1 byte/dim,
    // embed_quantize_int8's storage path) is scanned with an exact
    // INTEGER dot product, per-vector scales recover an approximate
    // score, and only the top RerankCandidates survivors are reranked
    // with the exact float cosine. The integer sum is order-independent
    // and the scale product is one double expression, so even the
    // approximate scores oracle-check bit-for-bit; both selections
    // tie-break on vec_id. 4× less scan bandwidth than the float
    // first pass, exact results wherever the true top-5 survives the
    // candidate cut (SimilaritySpec measures that recall).
    "sim_ann_int8_rerank" -> ((s, dir) => {
      val absmax =
        array_max(transform(col("embedding"), v => abs(v.cast("double"))))
      val quant = emb(s, dir)
        .withColumn("scale", absmax / lit(127.0))
        .withColumn("q",
          when(col("scale") === 0.0,
            transform(col("embedding"), _ => lit(0L)))
          .otherwise(transform(col("embedding"),
            v => floor(v.cast("double") / col("scale") + lit(0.5))
              .cast("long"))))
      val q = quant.filter(col("vec_id") === 0)
        .select(col("q").as("qq"), col("scale").as("qscale"),
          col("embedding").as("q_emb"))
      quant.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("q_emb"),
          ((col("scale") * col("qscale")) *
            aggregate(zip_with(col("q"), col("qq"), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x).cast("double"))
            .as("approx_score"))
        .orderBy(col("approx_score").desc, col("vec_id"))
        .limit(RerankCandidates)
        .select(col("vec_id"), col("approx_score"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    }),

    // cross-modal agreement: the text-level near-dup pairs annotated with
    // the embedding cosine of the same documents (vec_id aligns with
    // doc_id in the fixtures) — the validation join a curation pipeline
    // runs before trusting one modality's dedup verdict
    "crossmodal_dup_agreement" -> ((s, dir) => {
      val pairs = graft.dedup.DedupQueries
        .queries("dedup_ngram_jaccard")(s, dir)
      val e = emb(s, dir)
      pairs
        .join(e.select(col("vec_id").as("doc_a"),
          col("embedding").as("emb_a")), Seq("doc_a"))
        .join(e.select(col("vec_id").as("doc_b"),
          col("embedding").as("emb_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          cosine(col("emb_a"), col("emb_b")).as("cos_sim"))
        .orderBy("doc_a", "doc_b")
    }),

    // semantic clustering with topic labels: docs grouped by their
    // embedding's coarse cell (vec_id aligns with doc_id), each cluster
    // labeled with its 3 most distinctive terms — distinctiveness =
    // cell-df × corpus-size / corpus-df, the tf-idf shape over clusters
    // instead of documents. The corpus is scanned once; everything
    // after the (cell, doc, term) distinct is vocabulary-sized, and the
    // final rank runs over 8 cells. At 100 TB the per-cell top-k would
    // aggregate partially (map-side heaps) instead of a window, but the
    // dataflow — assign, explode, two dfs, rank — is the same.
    "corpus_semantic_clusters" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val cells = assignedCells(emb(s, dir))
        .select(col("vec_id").as("doc_id"), col("cell"))
      val cd = docs.join(cells, "doc_id").transform(graft.Materialize(_))
      val nDocs = cd.count()
      val terms = cd.select(col("cell"), col("doc_id"),
          explode(split(col("text"), "\\s+")).as("term"))
        .filter(col("term") =!= "").distinct()
        .transform(graft.Materialize(_)) // feeds both df aggregations
      val dfc = terms.groupBy("cell", "term").agg(count("*").as("df_cell"))
      // a doc lives in exactly one cell, so count(*) per term IS the
      // corpus document frequency
      val dfa = terms.groupBy("term").agg(count("*").as("df"))
      val ncell = cd.groupBy("cell").agg(count("*").as("n_docs"))
      val w = Window.partitionBy("cell")
        .orderBy(col("score").desc, col("term"))
      dfc.join(dfa, "term")
        .select(col("cell"), col("term"), col("df_cell"), col("df"),
          (col("df_cell").cast("double") * lit(nDocs) /
            col("df").cast("double")).as("score"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .join(broadcast(ncell), "cell")
        .select(col("cell"), col("n_docs"), col("rank"), col("term"),
          col("df_cell"), col("df"), col("score"))
        .orderBy("cell", "rank")
    }),

    // embedding near-dup pairs: cosine >= threshold (quadratic baseline;
    // LSH-bucketed variant is the scale path). Norms are computed once per
    // vector and joined in — one dot product per pair instead of three;
    // the value is bit-identical (same folds, same division).
    "dedup_embedding_cosine" -> ((s, dir) => {
      val e = emb(s, dir).withColumn("nrm",
        sqrt(dot(col("embedding"), col("embedding"))))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          (dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
        .filter(col("cos_sim") >= CosineThreshold)
        .orderBy("vec_a", "vec_b")
    }),

    // embedding near-dup pairs via banded LSH — the sub-linear scale path
    // that dedup_embedding_cosine's comment names. Same plan family as the
    // simhash pair dedups: one signature pass (checkpointed), band-bucket
    // posting lists (cost Σ bucket², capped, never corpus²), exact cosine
    // verification of candidates only. Precision is exactly 1 vs the
    // quadratic baseline (verification is the same fold-exact cosine);
    // recall is the banding probability — SimilaritySpec measures it
    // against dedup_embedding_cosine on the fixture.
    "dedup_embedding_ann" -> ((s, dir) => {
      val e = annSigned(s, dir).transform(graft.Materialize(_))
      val cand = e.select(col("vec_id"), col("sig16"),
          explode(sequence(lit(0), lit(AnnBands - 1))).as("c"))
        .withColumn("chunk",
          expr(s"shiftright(sig16, CAST($AnnBandBits * c AS INT)) & ${(1 << AnnBandBits) - 1}"))
        .groupBy("c", "chunk").agg(collect_list(col("vec_id")).as("ids"))
        .filter(size(col("ids"))
          .between(2, graft.dedup.DedupQueries.MaxPosting))
        .select(explode(col("ids")).as("vec_a"), col("ids"))
        .select(col("vec_a"), explode(col("ids")).as("vec_b"))
        .filter(col("vec_a") < col("vec_b"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("vec_a"),
          col("embedding").as("emb_a"), col("nrm").as("nrm_a")), Seq("vec_a"))
        .join(e.select(col("vec_id").as("vec_b"),
          col("embedding").as("emb_b"), col("nrm").as("nrm_b")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
            .as("cos_sim"))
        .filter(col("cos_sim") >= CosineThreshold)
        .orderBy("vec_a", "vec_b")
    }),

    // batch kNN JOIN — the all-vectors neighbor-graph operator (feeds
    // clustering, graph dedup, diversity scoring): per vector, its top-3
    // cosine neighbors among LSH-bucket-mates. Every other ANN query
    // here answers ONE query vector; this one answers all N at once, and
    // the shape is what makes that affordable: pair generation is
    // bucket-local posting lists via [[bucketCosinePairs]] (cost
    // Σ bucket², capped by MaxPosting — at real scale the plane count
    // grows with log N so bucket sizes stay ~constant), then one window
    // per vector cuts top-k. Vectors whose bucket has no cap-surviving
    // mate simply have no neighbors — a kNN graph with degree ≤ k, not a
    // dense matrix.
    "sim_knn_join" -> ((s, dir) =>
      knnTopK(bucketCosinePairs(s, dir)).orderBy("vec_id", "rk")),

    // Graph-based retrieval expansion ("graph RAG"): personalized
    // PageRank seeded at each query doc over the SAME bucket-capped kNN
    // graph as sim_knn_join — reaches docs that are not directly similar
    // to the query but sit in its neighborhood's dense core. Rank
    // vectors stay SPARSE (only reached nodes carry rows, ≤ K^i after i
    // hops); each iteration is one edges⋈ranks join + one (seed, dst)
    // aggregate, and values round to the 1e-12 grid per iteration — the
    // pagerank family's cross-engine portability discipline. Lives here
    // (not retrieval/) because the graph derivation and its oracle CTE
    // are this family's.
    "ret_graph_ppr" -> ((s, dir) => {
      val knn = knnTopK(bucketCosinePairs(s, dir))
        .select("vec_id", "nbr").transform(graft.Materialize(_))
      val eDeg = knn
        .join(knn.groupBy("vec_id").agg(count(lit(1)).as("deg")), "vec_id")
        .transform(graft.Materialize(_))
      pprRun(s, eDeg)
    }),

    // k-core of the kNN graph: the dense similarity clusters — every
    // surviving vector has ≥ KCoreK neighbors that THEMSELVES survive,
    // which is the structural signature of a template farm / boilerplate
    // cluster (a hub with many one-off neighbors peels away; a clique
    // does not). Iterative peeling: drop vertices of degree < k, re-check
    // — each round is one degree aggregate + two semi joins on the edge
    // key, and the edge set only shrinks, so later rounds move less
    // data. Peeling is monotone ⇒ the edge COUNT is a sound fixed-point
    // detector (equal count means nothing was removed), and the oracle
    // unrolls to [[KCoreMaxIters]] — iterations past the fixed point are
    // the identity, so one unroll depth is correct at any SF (the
    // pagerank_converged pattern). SimilaritySpec pins the fixture's
    // convergence round.
    "sim_knn_kcore" -> ((s, dir) => knnKCoreWithRounds(s, dir)._1),

    // hard-negative mining for contrastive training: per vector, the
    // single most-similar bucket-mate carrying a DIFFERENT label — high
    // cosine + disagreeing supervision is exactly the "hard" pair a
    // contrastive or metric-learning objective wants in the batch. Same
    // capped bucket-local pair stage as the kNN join; the label filter
    // runs before the per-vector top-1 window, so the pick is the
    // hardest negative, not a negative that happened to rank first.
    "sim_hard_negatives" -> ((s, dir) =>
      hardNegativesFrom(bucketCosinePairs(s, dir))),

    // threshold calibration: the corpus-background cosine distribution
    // the dedup/ANN cutoffs (0.35, 0.45) are judged against. Pairs come
    // from a deterministic fnv-hash sample (1-in-10 of the corpus, all
    // pairs within the sample) — at 100 TB the sampling rate scales so
    // the sample stays ~constant-size, keeping the pair stage bounded
    // while the histogram still estimates the background distribution;
    // the full-corpus quadratic would be the unusable alternative.
    // 0.1-wide bins over [-1, 1]; bin edges hit identical doubles on
    // both engines because the cosines are fold-exact.
    "sim_cosine_calibration" -> ((s, dir) => {
      val samp = emb(s, dir)
        .filter(pmod(Fnv1a32.fnv1a32(
          concat(lit("cal:"), col("vec_id").cast("string"))), lit(10L)) === 0)
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        .transform(graft.Materialize(_))
      samp.as("a").join(samp.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select((dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
        .select(least(lit(19L),
          floor((col("cos_sim") + lit(1.0)) * lit(10.0)).cast("long"))
          .as("bin"), col("cos_sim"))
        .groupBy("bin")
        .agg(count("*").as("n"), min("cos_sim").as("cos_min"),
          max("cos_sim").as("cos_max"))
        .orderBy("bin")
    }),

    // per-label centroid + cohesion over the fixture's supervision
    // column: the class-prototype computation behind label-balanced
    // curation and centroid-classifier sanity checks. One (label, dim)
    // shuffle for the exact fixed-point means (same 2^-20 quantization
    // as the k-means update, so the centroid doubles are bit-equal
    // across engines), then the 10-row centroid table broadcasts back
    // for the cohesion pass — per-member cosines are quantized to the
    // same fixed-point grid before summing, so the AVERAGE is exact and
    // order-independent too. Nothing here is ever corpus² or sorted.
    "sim_label_centroids" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = labelCentroidsOf(e)
      val coh = e.select(col("label").cast("long").as("label"),
          col("embedding"))
        .join(broadcast(cents), "label")
        .select(col("label"),
          floor(cosine(col("embedding"), col("cvec")) * lit(KmeansFp) +
            lit(0.5)).cast("long").as("qc"))
        .groupBy("label")
        .agg(count("*").as("n_members"),
          (sum("qc") / (count("*") * lit(KmeansFp))).as("avg_cos"))
      coh.join(cents.select(col("label"),
          dot(col("cvec"), col("cvec")).as("c_norm_sq")), "label")
        .select(col("label"), col("n_members"), col("avg_cos"),
          col("c_norm_sq"))
        .orderBy("label")
    }),

    // Embedding-space outlier audit for curation: each vector's
    // quantized cosine to its OWN label centroid, per-label bottom-k —
    // the least-cohesive members are the mislabeled/noisy candidates a
    // cleaning pass reviews first. One (label, dim) aggregate builds
    // the 10-row centroid table (broadcast back), one vector scan
    // scores; the rank window runs over corpus rows keyed by label —
    // the same top-k shape as every ranked query here
    "sim_centroid_outliers" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = labelCentroidsOf(e)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
        .orderBy(col("qc").asc, col("vec_id"))
      e.select(col("label").cast("long").as("label"), col("vec_id"),
          col("embedding"))
        .join(broadcast(cents), "label")
        .select(col("label"), col("vec_id"),
          floor(cosine(col("embedding"), col("cvec")) * lit(KmeansFp) +
            lit(0.5)).cast("long").as("qc"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= OutlierK)
        .select(col("label"), col("rank"), col("vec_id"),
          (col("qc").cast("double") / lit(KmeansFp)).as("cos_centroid"))
        .orderBy("label", "rank")
    }),

    // per-dimension embedding health: the audit run before normalization
    // / whitening / quantization — dead dimensions (mean_sq ≈ 0), scale
    // drift between dimensions, and range outliers all surface here.
    // One (dim) shuffle of 64 groups with map-side partials; means are
    // exact on the 2^-20 fixed-point grid (the k-means contract: scaled
    // sums are exact integers, one correctly-rounded division), and
    // mean_sq quantizes v² the same way so E[x²] is exact too — variance
    // = mean_sq - mean² is reader-derivable without a double-sum anywhere.
    "embed_dim_stats" -> ((s, dir) => {
      emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("i").cast("long").as("i"), col("v").cast("double").as("v"))
        .groupBy("i")
        .agg(count("*").as("n"),
          (sum(floor(col("v") * lit(KmeansFp) + lit(0.5))) /
            (count("*") * lit(KmeansFp))).as("mean_v"),
          (sum(floor(col("v") * col("v") * lit(KmeansFp) + lit(0.5))) /
            (count("*") * lit(KmeansFp))).as("mean_sq"),
          min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("i")
    }),

    // covariance matrix upper triangle — the whitening/PCA precursor
    // (the 64×64 Gram/covariance accumulation; the eigen-decomposition
    // that follows is a 64×64 driver-side problem by construction, like
    // every dense-linear-algebra tail of a distributed reduction). The
    // (i, j) pair explosion streams straight into a map-side partial
    // hash aggregate over the FIXED 2080 cells inside one codegen stage
    // — nothing corpus-sized is materialized and the shuffle carries
    // partitions × 2080 rows regardless of corpus size. E[x_i·x_j] on
    // the 2^-20 fixed-point grid (exact integer sums, one correctly-
    // rounded division) keeps every double bit-equal across engines;
    // cov = E[xy] − E[x]·E[y] is then reader-exact too.
    "embed_covariance" -> ((s, dir) =>
      covarianceCells(emb(s, dir)).orderBy("i", "j")),

    // Principal component via power iteration — the eigen-decomposition
    // tail of the covariance reduction, kept DISTRIBUTED and bit-exact
    // instead of collected: the corpus is touched exactly once (inside
    // covarianceCells); every iteration afterwards is a Dim²-row
    // matrix-vector multiply (4096 rows — control-plane-sized forever,
    // independent of corpus scale). All arithmetic that must agree with
    // the oracle is EXACT-INTEGER: the covariance is quantized once to
    // the 2^-20 grid, each w = C·v is an exact BIGINT sum (≤ 2^46),
    // and L∞ normalization (divide by max |w|, itself exact) needs no
    // sum-of-squares — the only doubles are correctly-rounded functions
    // of exact integers, identical on both engines. The Rayleigh
    // quotient's v·w crosses 2^63, so that one sum runs in DECIMAL(38,0)
    // (DuckDB: HUGEINT) — still exact. Thirty-two iterations from the all-ones
    // vector; convergence on this spectrum is spec-checked via the
    // Cv ∥ λv residual.
    "embed_top_eigvec" -> ((s, dir) => {
      val (v, multiply) = topEigvecFp(s, emb(s, dir))
      val joined = multiply(v)
        .join(v.select(col("j").as("i"), col("v")), "i")
      val scalars = joined.agg(
        sum(col("v").cast("decimal(38,0)") * col("w")).as("num"),
        sum(col("v") * col("v")).as("den"))
      joined.crossJoin(broadcast(scalars))
        .select(col("i"),
          (col("v").cast("double") / lit(KmeansFp)).as("component"),
          (col("num").cast("double") / col("den").cast("double") /
            lit(KmeansFp)).as("eigval"))
        .orderBy("i")
    }),

    // the eigvec put to work: every embedding projected onto the first
    // principal component, reported as per-label projection stats — the
    // one-number class-separation view (labels whose projection ranges
    // barely overlap are linearly separable along PC1 alone). The
    // projection keeps the repo's exactness contract: embedding elements
    // quantize to the 2^-20 grid ONCE, the eigvec is already integer fp,
    // so each dot product is an exact BIGINT sum (≤ 2^46) — order-free,
    // engine-invariant — and the per-label moments divide exact integers.
    // One corpus pass for the projection (the explode streams into a
    // partial aggregate keyed by vec; the 64-row eigvec broadcasts), on
    // top of the covariance derivation's own single pass.
    "embed_pca_projection" -> ((s, dir) => {
      val (v, _) = topEigvecFp(s, emb(s, dir))
      val proj = emb(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("j", "x")))
        .select(col("vec_id"), col("label"), col("j").cast("long").as("j"),
          floor(col("x").cast("double") * lit(KmeansFp) + lit(0.5))
            .cast("long").as("xq"))
        .join(broadcast(v), "j")
        .groupBy("vec_id", "label")
        .agg(sum(col("xq") * col("v")).as("pfp"))
      val ProjDen = 1099511627776.0 // 2^40: (2^-20 grid)²
      proj.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("pfp").as("s"),
          min("pfp").as("mn"), max("pfp").as("mx"))
        .select(col("label"), col("n_vecs"),
          (col("s").cast("double") / (col("n_vecs") * lit(ProjDen)))
            .as("mean_proj"),
          (col("mn").cast("double") / lit(ProjDen)).as("min_proj"),
          (col("mx").cast("double") / lit(ProjDen)).as("max_proj"))
        .orderBy("label")
    }),

    // SemDeDup-style semantic dedup: cluster, then prune inside cells.
    // Every vector goes to its nearest coarse centroid (the same
    // broadcast-assign as the IVF path; production trains the cells with
    // sim_kmeans_cells — the fixed-seed centroids keep the oracle
    // compact); within each cell, a vector is dropped when a lower-id
    // cell-mate sits above [[SemThreshold]] cosine. The pair stage joins
    // on the cell key, so its cost is Σ cell² — at 100 TB the cell count
    // scales with the corpus (k ≈ N/√N-ish in SemDeDup practice), holding
    // cell sizes constant; it is never the corpus² of the flat pair scan.
    // Output is the per-cell keep/drop ledger a curation run reports.
    "dedup_semantic" -> ((s, dir) => {
      val assigned = assignedCells(emb(s, dir))
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        .transform(graft.Materialize(_))
      val pairs = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.cell").as("cell"), col("b.vec_id").as("vec_b"),
          (dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
        .filter(col("cos_sim") >= SemThreshold)
      val drops = pairs.select("cell", "vec_b").distinct()
        .groupBy("cell").agg(count("*").as("n_dropped"))
      assigned.groupBy("cell").agg(count("*").as("n_members"))
        .join(drops, Seq("cell"), "left")
        .select(col("cell"), col("n_members"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_members") - coalesce(col("n_dropped"), lit(0L)))
            .as("n_kept"))
        .orderBy("cell")
    }),
  )

  // ---- shared oracle CTE builders (object-level: the retrieval family
  // composes them into its hybrid oracle) ---------------------------------

  /** Mirror of assignedCells — one definition, all consumers. */
  private[graft] lazy val assignedCellsSql =
    s"""centroids AS MATERIALIZED (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id < $NumCells
       |),
       |scored AS MATERIALIZED (
       |  -- MATERIALIZED (with every reused CTE below): DuckDB 1.0 inlines
       |  -- plain CTEs per reference, and these chains are consumed by
       |  -- k-means/PQ iteration CTEs that reference their predecessor
       |  -- multiple times -- un-annotated the corpus-sized subtrees
       |  -- recompute near-exponentially with iteration depth (the sf1
       |  -- residual-PQ oracle ran >1 h before this annotation).
       |  SELECT e.vec_id, e.embedding, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${Ora.cos64("e.embedding", "c.c_emb")} DESC,
       |                    c.cell) AS rk
       |  FROM embeddings e, centroids c
       |),
       |assigned AS MATERIALIZED (SELECT vec_id, embedding, cell FROM scored WHERE rk = 1)""".stripMargin

  // product quantization: the per-subspace mirror of the same
  // assign/update chain, run on 16-dim slices (sv{j}); pcode{j} is the
  // final assignment WITH its winning distance (the qerr leg)
  private[graft] def pqDist(v: String, c: String) =
    s"${Ora.dotN(v, v, PqSubDim)} - 2 * ${Ora.dotN(v, c, PqSubDim)}" +
      s" + ${Ora.dotN(c, c, PqSubDim)}"
  private[graft] def pqAssignSql(j: Int, cents: String, src: String = "sv") =
    s"""SELECT vec_id, cluster, dist FROM (
       |  SELECT v.vec_id, c.cluster, ${pqDist("v.emb", "c.c")} AS dist,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${pqDist("v.emb", "c.c")}, c.cluster) AS rn
       |  FROM $src$j v CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
  private[graft] def pqUpdateSql(j: Int, assign: String, src: String = "sv") =
    s"""SELECT cluster, list(val ORDER BY i) AS c FROM (
       |  SELECT a.cluster, ii.i,
       |         sum(floor(v.emb[ii.i + 1]::DOUBLE * $KmeansFp + 0.5))
       |           / (count(*) * $KmeansFp) AS val
       |  FROM $assign a JOIN $src$j v USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range($PqSubDim)) AS i) ii
       |  GROUP BY a.cluster, ii.i
       |) GROUP BY cluster""".stripMargin
  private[graft] lazy val pqCtes = (0 until PqM).map { j =>
    val lo = j * PqSubDim + 1
    val hi = (j + 1) * PqSubDim
    val iters = (1 to PqIters).map { i =>
      s"pa$j$i AS MATERIALIZED (${pqAssignSql(j, s"pc$j${i - 1}")}),\n" +
        s"pc$j$i AS MATERIALIZED (${pqUpdateSql(j, s"pa$j$i")})"
    }.mkString(",\n")
    s"""sv$j AS MATERIALIZED (SELECT vec_id, embedding[$lo:$hi] AS emb FROM embeddings),
       |pc${j}0 AS MATERIALIZED (
       |  SELECT CAST(vec_id AS BIGINT) AS cluster, emb AS c
       |  FROM sv$j WHERE vec_id < $PqK
       |),
       |$iters,
       |pcode$j AS MATERIALIZED (${pqAssignSql(j, s"pc$j$PqIters")})""".stripMargin
  }.mkString(",\n")

  /** Multi-query IVF-PQ ADC candidate lists as a CTE chain — the
    * query-parameterized generalization of `ivfpqSql` (one query_doc
    * column threaded through the probe, LUT, and ADC legs). Emits
    * `hadck` (query_doc, rank, doc_id, adc_dist): per-query rank-ordered
    * ADC top-k over the cells each query probes. Bit-mirrors
    * [[IvfPqIndex.serveMulti]], which serves the same lists from the
    * persisted index. */
  private[graft] def ivfpqMultiCtes(queryIds: Seq[Long], k: Int): String = {
    val qin = queryIds.mkString("(", ", ", ")")
    val luts = (0 until PqM).map { j =>
      s"""hqs$j AS (SELECT q.query_doc, s.emb AS qe FROM sv$j s
         |  JOIN hqv q ON s.vec_id = q.query_doc),
         |hlut$j AS (
         |  SELECT q.query_doc, c.cluster, ${pqDist("q.qe", "c.c")} AS d
         |  FROM pc$j$PqIters c, hqs$j q
         |)""".stripMargin
    }.mkString(",\n")
    val adcJoin = (0 until PqM).map { j =>
      (if (j == 0) s"pcode$j c$j"
       else s"JOIN pcode$j c$j ON c0.vec_id = c$j.vec_id") +
        s" JOIN hlut$j l$j ON c$j.cluster = l$j.cluster" +
        (if (j == 0) "" else s" AND l$j.query_doc = l0.query_doc")
    }.mkString(" ")
    s"""$pqCtes,
       |$assignedCellsSql,
       |hqv AS (SELECT vec_id AS query_doc, embedding FROM embeddings
       |        WHERE vec_id IN $qin),
       |hqc AS (
       |  SELECT query_doc, cell FROM (
       |    SELECT q.query_doc, c.cell, row_number() OVER (
       |      PARTITION BY q.query_doc
       |      ORDER BY ${Ora.cos64("q.embedding", "c.c_emb")} DESC, c.cell)
       |      AS rk
       |    FROM centroids c, hqv q) WHERE rk <= $NProbe
       |),
       |hcand AS (
       |  SELECT h.query_doc, a.vec_id
       |  FROM assigned a JOIN hqc h USING (cell)
       |  WHERE a.vec_id <> h.query_doc
       |),
       |$luts,
       |hadc AS (
       |  SELECT l0.query_doc, c0.vec_id,
       |         ${(0 until PqM).map(j => s"l$j.d").mkString(" + ")} AS adc_dist
       |  FROM $adcJoin
       |  JOIN hcand ON c0.vec_id = hcand.vec_id
       |    AND hcand.query_doc = l0.query_doc
       |),
       |hadck AS (
       |  SELECT query_doc, rank, vec_id AS doc_id, adc_dist FROM (
       |    SELECT query_doc, vec_id, adc_dist, row_number() OVER (
       |      PARTITION BY query_doc ORDER BY adc_dist, vec_id) AS rank
       |    FROM hadc) WHERE rank <= $k
       |)""".stripMargin
  }

  /** The fixed-plane LSH bucketing as a DuckDB CTE — object-level so
    * sibling modules whose oracles hang off the same graph derivation
    * ([[BeamSearch]]) compose it verbatim rather than re-deriving it. */
  private[sim] lazy val bucketedSql: String = {
    val bitsSql = (0 until NumPlanes).map { j =>
      s"CASE WHEN ${Ora.dotLit64("embedding", hyperplanes(j))} >= 0 " +
        s"THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    // CAST: the CASE literals sum as INTEGER in DuckDB while Spark's
    // bit-or chain is BIGINT — align the declared type, not just values
    s"bucketed AS (SELECT vec_id, embedding, " +
      s"CAST($bitsSql AS BIGINT) AS bucket FROM embeddings)"
  }

  /** Mirror of [[bucketCosinePairs]] — shared by sim_knn_join and
    * sim_hard_negatives exactly as the Spark helper is; the chain hangs
    * off whichever `bucketed` CTE precedes it (fixed-plane or
    * planes-scaled). Object-level for the same reason as [[bucketedSql]]. */
  private[sim] lazy val pairsChainSql: String =
    s"""blabeled AS MATERIALIZED (
       |  -- MATERIALIZED: self-joined (a, b) plus the ok subquery --
       |  -- un-annotated, DuckDB recomputes the 8-hyperplane bucketing
       |  -- and the norm dot three times over the corpus.
       |  SELECT b.vec_id, b.embedding, b.bucket,
       |         CAST(e.label AS BIGINT) AS label,
       |         sqrt(${Ora.dot64("b.embedding", "b.embedding")}) AS nrm
       |  FROM bucketed b JOIN embeddings e USING (vec_id)
       |),
       |ok AS (
       |  SELECT bucket FROM blabeled GROUP BY bucket
       |  HAVING count(*) BETWEEN 2 AND ${graft.dedup.DedupQueries.MaxPosting}
       |),
       |bmem AS MATERIALIZED (
       |  -- in-cap members ONLY, restricted BEFORE the self-join: with the
       |  -- cap filter left as a third join the optimizer may pair the
       |  -- full buckets first, and one over-cap value-duplicated bucket
       |  -- (the kind the cap exists to drop) emits its members² pairs
       |  -- before the filter — the 100x cert's temp-disk blowout. Here
       |  -- the self-join INPUT provably holds no bucket above the cap.
       |  SELECT bl.* FROM blabeled bl JOIN ok o USING (bucket)
       |),
       |bpairs AS MATERIALIZED (
       |  -- MATERIALIZED narrow (5 scalars/row): the sigma-bucket-squared
       |  -- pair set is computed once and stored without embeddings, so
       |  -- downstream window sorts spill ~40 B/row, not ~1 KB/row.
       |  SELECT a.vec_id, a.label, b.vec_id AS nbr, b.label AS nbr_label,
       |         ${Ora.dot64("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
       |           AS cos_sim
       |  FROM bmem a
       |  JOIN bmem b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |)""".stripMargin

  /** Fixed-plane bucketing + scored in-cap pair set, ending at `bpairs`. */
  private[sim] lazy val bucketPairsSql: String =
    s"$bucketedSql,\n$pairsChainSql"

  /** The [[planesFor]] schedule in SQL: integer bit-length via binary
    * format (transcendental-free), planes applied as a per-plane CASE
    * gate over the full 16-plane bit sum — at p = 8 this reproduces the
    * fixed-plane [[bucketedSql]] exactly (the first 8 ANN planes ARE
    * the hyperplanes). Object-level so the planes-scaled twins outside
    * this file ([[BeamSearch]]) compose it. */
  private[sim] lazy val scaledBucketedSql: String = {
    val cases = (0 until NumPlanesAnn).map { j =>
      s"CASE WHEN $j < np.p AND " +
        s"${Ora.dotLit64("e.embedding", annPlanes(j))} >= 0 " +
        s"THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""nv AS (SELECT count(*) AS n FROM embeddings),
       |np AS (SELECT least($NumPlanesAnn, greatest($NumPlanes,
       |  length(format('{:b}',
       |    greatest(1, (n - 1) // $PlanesTargetLoad))))) AS p FROM nv),
       |bucketed AS (
       |  SELECT e.vec_id, e.embedding, CAST($cases AS BIGINT) AS bucket
       |  FROM embeddings e, np)""".stripMargin
  }

  /** Planes-scaled bucketing + scored in-cap pair set, ending at `bpairs`. */
  private[sim] lazy val scaledBucketPairsSql: String =
    s"$scaledBucketedSql,\n$pairsChainSql"

  val oracle: Map[String, String] = {

    // SQL mirror of covarianceCells — shared by embed_covariance and the
    // power-iteration eigenvector exactly as the Spark helper is
    val covTriSql =
      s"""means AS (
         |  SELECT ii.i,
         |         sum(CAST(floor(embedding[ii.i+1]::DOUBLE * $KmeansFp + 0.5)
         |           AS BIGINT)) / (count(*) * $KmeansFp) AS mean_v
         |  FROM embeddings CROSS JOIN (SELECT unnest(range($Dim)) AS i) ii
         |  GROUP BY ii.i
         |),
         |cells AS (
         |  SELECT ii.i, jj.j,
         |         sum(CAST(floor(embedding[ii.i+1]::DOUBLE *
         |           embedding[jj.j+1]::DOUBLE * $KmeansFp + 0.5) AS BIGINT))
         |           / (count(*) * $KmeansFp) AS e_xy
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(range($Dim)) AS i) ii
         |  CROSS JOIN (SELECT unnest(range($Dim)) AS j) jj
         |  WHERE jj.j >= ii.i
         |  GROUP BY ii.i, jj.j
         |),
         |covtri AS (
         |  SELECT c.i, c.j, c.e_xy, c.e_xy - (mi.mean_v * mj.mean_v) AS cov
         |  FROM cells c
         |  JOIN means mi ON c.i = mi.i
         |  JOIN means mj ON c.j = mj.i
         |)""".stripMargin

    // shared unrolled power-iteration chain ending at v$PowerIters —
    // consumed by the eigvec report and the PCA projection
    val eigChainSql: String = {
      val iters = (1 to PowerIters).map { k =>
        s"""w$k AS MATERIALIZED (
           |  SELECT c.i, CAST(sum(c.c * v${k - 1}.v) AS BIGINT) AS w
           |  FROM covfp c JOIN v${k - 1} ON c.j = v${k - 1}.j GROUP BY c.i
           |),
           |v$k AS MATERIALIZED (
           |  SELECT i AS j, CAST(floor(w::DOUBLE * $KmeansFp /
           |    (SELECT max(abs(w))::DOUBLE FROM w$k) + 0.5) AS BIGINT) AS v
           |  FROM w$k
           |)""".stripMargin
      }.mkString(",\n")
      s"""$covTriSql,
         |covfp AS MATERIALIZED (
         |  SELECT i, j, CAST(floor(cov * $KmeansFp + 0.5) AS BIGINT) AS c
         |  FROM covtri
         |  UNION ALL
         |  SELECT j, i, CAST(floor(cov * $KmeansFp + 0.5) AS BIGINT)
         |  FROM covtri WHERE i <> j
         |),
         |v0 AS (SELECT unnest(range($Dim))::BIGINT AS j, 1048576::BIGINT AS v),
         |$iters""".stripMargin
    }

    // the [[planesFor]] schedule in SQL: integer bit-length via binary
    // format (transcendental-free), planes applied as a per-plane CASE
    // gate over the full 16-plane bit sum — at p = 8 this reproduces
    // bitsSql exactly (the first 8 ANN planes ARE the hyperplanes)

    // the kNN-edge + personalized-PageRank chain over whatever `bpairs`
    // precedes it — shared verbatim by the fixed-plane and planes-scaled
    // PPR oracles (the graph derivation is the ONLY thing that differs)
    val pprChainSql: String = {
      val seedList = graft.retrieval.RetrievalQueries.QueryDocs
        .map(q => s"$q").mkString("[", ", ", "]")
      val iters = (1 to PprIterations).map { i =>
        s"""pp$i AS MATERIALIZED (
           |  SELECT coalesce(b.seed, c.seed) AS seed,
           |         coalesce(b.node, c.node) AS node,
           |         round(coalesce(b.base, 0.0::DOUBLE)
           |               + $PprDamping::DOUBLE
           |                 * coalesce(c.inflow, 0.0::DOUBLE), 12) AS pr
           |  FROM (SELECT seed, seed AS node, $PprTeleport::DOUBLE AS base
           |        FROM pseeds) b
           |  FULL JOIN (
           |    SELECT r.seed, e.nbr AS node, sum(r.pr / dg.deg) AS inflow
           |    FROM pknn e
           |    JOIN pp${i - 1} r ON e.vec_id = r.node
           |    JOIN pkdeg dg ON e.vec_id = dg.vec_id
           |    GROUP BY r.seed, e.nbr
           |  ) c ON b.seed = c.seed AND b.node = c.node
           |)""".stripMargin
      }.mkString(",\n")
      s"""pknn AS MATERIALIZED (
         |  SELECT vec_id, nbr FROM (
         |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_sim DESC, nbr) AS rk FROM bpairs
         |  ) WHERE rk <= $KnnK
         |),
         |pkdeg AS MATERIALIZED (
         |  SELECT vec_id, count(*) AS deg FROM pknn GROUP BY vec_id
         |),
         |pseeds AS (SELECT CAST(unnest($seedList) AS BIGINT) AS seed),
         |pp0 AS MATERIALIZED (
         |  SELECT seed, seed AS node, 1.0::DOUBLE AS pr FROM pseeds
         |),
         |$iters
         |SELECT seed AS query_doc, rank, node AS doc_id, pr AS ppr
         |FROM (
         |  SELECT seed, node, pr, row_number() OVER (PARTITION BY seed
         |    ORDER BY pr DESC, node) AS rank
         |  FROM pp$PprIterations WHERE node <> seed
         |) WHERE rank <= $PprTopK
         |ORDER BY query_doc, rank""".stripMargin
    }

    def distSql(v: String, c: String) =
      s"${Ora.dot64(v, v)} - 2 * ${Ora.dot64(v, c)} + ${Ora.dot64(c, c)}"
    def assignSql(cents: String) =
      s"""SELECT vec_id, cluster FROM (
         |  SELECT v.vec_id, c.cluster,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${distSql("v.embedding", "c.c")}, c.cluster) AS rn
         |  FROM embeddings v CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
    def updateSql(assign: String) =
      s"""SELECT cluster, list(val ORDER BY i) AS c FROM (
         |  SELECT a.cluster, ii.i,
         |         sum(floor(v.embedding[ii.i + 1]::DOUBLE * $KmeansFp + 0.5))
         |           / (count(*) * $KmeansFp) AS val
         |  FROM $assign a JOIN embeddings v USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(64)) AS i) ii
         |  GROUP BY a.cluster, ii.i
         |) GROUP BY cluster""".stripMargin
    val kmeansIterCtes = (1 to KmeansIters).map { i =>
      s"a$i AS (${assignSql(s"c${i - 1}")}),\nc$i AS (${updateSql(s"a$i")})"
    }.mkString(",\n")
    val kmeansSql =
      s"""WITH c0 AS (
         |  SELECT CAST(vec_id AS BIGINT) AS cluster, embedding AS c
         |  FROM embeddings WHERE vec_id < $KmeansK
         |),
         |$kmeansIterCtes,
         |af AS (${assignSql(s"c$KmeansIters")}),
         |sizes AS (SELECT cluster, count(*) AS n_members FROM af GROUP BY cluster)
         |SELECT s.cluster, s.n_members, ${Ora.dot64("c.c", "c.c")} AS c_norm_sq
         |FROM sizes s JOIN c$KmeansIters c USING (cluster)
         |ORDER BY s.cluster""".stripMargin

    val pqCodesSql =
      s"""WITH $pqCtes
         |SELECT c0.vec_id,
         |       ${(0 until PqM).map(j => s"c$j.cluster AS code_$j").mkString(", ")},
         |       ${(0 until PqM).map(j => s"c$j.dist").mkString(" + ")} AS qerr
         |FROM ${(0 until PqM).map(j => s"pcode$j c$j").zipWithIndex.map {
        case (t, 0) => t
        case (t, j) => s"JOIN $t ON c0.vec_id = c$j.vec_id"
      }.mkString(" ")}
         |ORDER BY c0.vec_id""".stripMargin
    val pqAnnSql =
      s"""WITH $pqCtes,
         |${(0 until PqM).map { j =>
        s"""q$j AS (SELECT emb AS qe FROM sv$j WHERE vec_id = 0),
           |lut$j AS (
           |  SELECT c.cluster, ${pqDist("q.qe", "c.c")} AS d
           |  FROM pc$j$PqIters c, q$j q
           |)""".stripMargin
      }.mkString(",\n")}
         |SELECT c0.vec_id,
         |       ${(0 until PqM).map(j => s"l$j.d").mkString(" + ")} AS adc_dist
         |FROM ${(0 until PqM).map { j =>
        (if (j == 0) s"pcode$j c$j"
         else s"JOIN pcode$j c$j ON c0.vec_id = c$j.vec_id") +
          s" JOIN lut$j l$j ON c$j.cluster = l$j.cluster"
      }.mkString(" ")}
         |WHERE c0.vec_id <> 0
         |ORDER BY adc_dist, c0.vec_id LIMIT 5""".stripMargin

    // mirror of sim_ivfpq_ann: the pqAnn LUT/code chain with the query at
    // QueryVec and an extra cell-pruned candidate semi-join (IVF leg)
    val ivfpqSql =
      s"""WITH $pqCtes,
         |$assignedCellsSql,
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVec),
         |qc AS (
         |  SELECT cell FROM (
         |    SELECT c.cell, row_number() OVER (
         |      ORDER BY ${Ora.cos64("q.embedding", "c.c_emb")} DESC, c.cell)
         |      AS rk
         |    FROM centroids c, qv q) WHERE rk <= $NProbe
         |),
         |cand AS (
         |  SELECT a.vec_id FROM assigned a JOIN qc USING (cell)
         |  WHERE a.vec_id <> $QueryVec
         |),
         |${(0 until PqM).map { j =>
        s"""qs$j AS (SELECT emb AS qe FROM sv$j WHERE vec_id = $QueryVec),
           |lut$j AS (
           |  SELECT c.cluster, ${pqDist("q.qe", "c.c")} AS d
           |  FROM pc$j$PqIters c, qs$j q
           |)""".stripMargin
      }.mkString(",\n")}
         |SELECT c0.vec_id,
         |       ${(0 until PqM).map(j => s"l$j.d").mkString(" + ")} AS adc_dist
         |FROM ${(0 until PqM).map { j =>
        (if (j == 0) s"pcode$j c$j"
         else s"JOIN pcode$j c$j ON c0.vec_id = c$j.vec_id") +
          s" JOIN lut$j l$j ON c$j.cluster = l$j.cluster"
      }.mkString(" ")}
         |JOIN cand ON c0.vec_id = cand.vec_id
         |ORDER BY adc_dist, c0.vec_id LIMIT 5""".stripMargin

    // mirror of sim_ivfpq_delta_served: identical IVF/LUT/ADC chain, but
    // the PQ training loop folds over svb{j} — the base subset (vec_id
    // <= max*9//10) — while pcodeb{j} encodes ALL vectors with the
    // frozen result, exactly the base-build + delta-append composition
    val deltaIvfpqSql = {
      val cutoffSql = "(SELECT max(vec_id) * 9 // 10 FROM embeddings)"
      val basePqCtes = (0 until PqM).map { j =>
        val lo = j * PqSubDim + 1
        val hi = (j + 1) * PqSubDim
        val iters = (1 to PqIters).map { i =>
          s"pab$j$i AS (${pqAssignSql(j, s"pcb$j${i - 1}", "svb")}),\n" +
            s"pcb$j$i AS (${pqUpdateSql(j, s"pab$j$i", "svb")})"
        }.mkString(",\n")
        s"""sv$j AS (SELECT vec_id, embedding[$lo:$hi] AS emb FROM embeddings),
           |svb$j AS (SELECT * FROM sv$j WHERE vec_id <= $cutoffSql),
           |pcb${j}0 AS (
           |  SELECT CAST(vec_id AS BIGINT) AS cluster, emb AS c
           |  FROM svb$j WHERE vec_id < $PqK
           |),
           |$iters,
           |pcodeb$j AS (${pqAssignSql(j, s"pcb$j$PqIters", "sv")})""".stripMargin
      }.mkString(",\n")
      s"""WITH $basePqCtes,
         |$assignedCellsSql,
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVec),
         |qc AS (
         |  SELECT cell FROM (
         |    SELECT c.cell, row_number() OVER (
         |      ORDER BY ${Ora.cos64("q.embedding", "c.c_emb")} DESC, c.cell)
         |      AS rk
         |    FROM centroids c, qv q) WHERE rk <= $NProbe
         |),
         |cand AS (
         |  SELECT a.vec_id FROM assigned a JOIN qc USING (cell)
         |  WHERE a.vec_id <> $QueryVec
         |),
         |${(0 until PqM).map { j =>
        s"""qsb$j AS (SELECT emb AS qe FROM sv$j WHERE vec_id = $QueryVec),
           |lutb$j AS (
           |  SELECT c.cluster, ${pqDist("q.qe", "c.c")} AS d
           |  FROM pcb$j$PqIters c, qsb$j q
           |)""".stripMargin
      }.mkString(",\n")}
         |SELECT c0.vec_id,
         |       ${(0 until PqM).map(j => s"l$j.d").mkString(" + ")} AS adc_dist
         |FROM ${(0 until PqM).map { j =>
        (if (j == 0) s"pcodeb$j c$j"
         else s"JOIN pcodeb$j c$j ON c0.vec_id = c$j.vec_id") +
          s" JOIN lutb$j l$j ON c$j.cluster = l$j.cluster"
      }.mkString(" ")}
         |JOIN cand ON c0.vec_id = cand.vec_id
         |ORDER BY adc_dist, c0.vec_id LIMIT 5""".stripMargin
    }

    // mirror of sim_ivfpq_residual_ann: the PQ chain re-run over residual
    // vectors (rbase), seeds shifted past the cell-centroid ids, LUT per
    // probed cell
    val residIvfpqSql = {
      val rPqCtes = (0 until PqM).map { j =>
        val lo = j * PqSubDim + 1
        val hi = (j + 1) * PqSubDim
        val iters = (1 to PqIters).map { i =>
          s"rpa$j$i AS MATERIALIZED (${pqAssignSql(j, s"rpc$j${i - 1}", "rsv")}),\n" +
            s"rpc$j$i AS MATERIALIZED (${pqUpdateSql(j, s"rpa$j$i", "rsv")})"
        }.mkString(",\n")
        s"""rsv$j AS MATERIALIZED (SELECT vec_id, r[$lo:$hi] AS emb FROM rbase),
           |rpc${j}0 AS MATERIALIZED (
           |  SELECT CAST(vec_id - $NumCells AS BIGINT) AS cluster, emb AS c
           |  FROM rsv$j
           |  WHERE vec_id >= $NumCells AND vec_id < ${NumCells + PqK}
           |),
           |$iters,
           |rpcode$j AS MATERIALIZED (${pqAssignSql(j, s"rpc$j$PqIters", "rsv")})""".stripMargin
      }.mkString(",\n")
      val qluts = (0 until PqM).map { j =>
        val lo = j * PqSubDim + 1
        val hi = (j + 1) * PqSubDim
        s"""qrs$j AS (SELECT cell, qr[$lo:$hi] AS emb FROM qres),
           |rlut$j AS MATERIALIZED (
           |  SELECT q.cell, c.cluster, ${pqDist("q.emb", "c.c")} AS d
           |  FROM rpc$j$PqIters c, qrs$j q
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $assignedCellsSql,
         |rbase AS MATERIALIZED (
         |  SELECT a.vec_id,
         |         list_transform(range($Dim), i ->
         |           a.embedding[i+1]::DOUBLE - c.c_emb[i+1]::DOUBLE) AS r
         |  FROM assigned a JOIN centroids c USING (cell)
         |),
         |$rPqCtes,
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVec),
         |qc AS (
         |  SELECT cell FROM (
         |    SELECT c.cell, row_number() OVER (
         |      ORDER BY ${Ora.cos64("q.embedding", "c.c_emb")} DESC, c.cell)
         |      AS rk
         |    FROM centroids c, qv q) WHERE rk <= $NProbe
         |),
         |qres AS (
         |  SELECT qc.cell,
         |         list_transform(range($Dim), i ->
         |           q.embedding[i+1]::DOUBLE - ce.c_emb[i+1]::DOUBLE) AS qr
         |  FROM qc JOIN centroids ce USING (cell), qv q
         |),
         |$qluts,
         |cand AS (
         |  SELECT a.vec_id, a.cell FROM assigned a JOIN qc USING (cell)
         |  WHERE a.vec_id <> $QueryVec
         |)
         |SELECT c0.vec_id,
         |       ${(0 until PqM).map(j => s"l$j.d").mkString(" + ")} AS adc_dist
         |FROM rpcode0 c0 JOIN cand ON c0.vec_id = cand.vec_id
         |${(0 until PqM).map { j =>
        (if (j == 0) ""
         else s"JOIN rpcode$j c$j ON c0.vec_id = c$j.vec_id ") +
          s"JOIN rlut$j l$j ON cand.cell = l$j.cell AND c$j.cluster = l$j.cluster"
      }.mkString("\n")}
         |ORDER BY adc_dist, c0.vec_id LIMIT 5""".stripMargin
    }

    // mirror of sim_pq_recall: ADC over the full code table per sampled
    // query, the IVF leg cell-pruned, both judged against exact-L2 top-5
    val pqRecallSql = {
      val qsvs = (0 until PqM).map { j =>
        s"""qsv$j AS (SELECT vec_id AS q_id, emb FROM sv$j
           |  WHERE vec_id % 50 = 0 AND vec_id < 500),
           |plut$j AS (
           |  SELECT q.q_id, c.cluster, ${pqDist("q.emb", "c.c")} AS d
           |  FROM pc$j$PqIters c, qsv$j q
           |)""".stripMargin
      }.mkString(",\n")
      val adcJoin = (0 until PqM).map { j =>
        if (j == 0) s"pcode$j c$j JOIN plut$j l$j ON c$j.cluster = l$j.cluster"
        else s"JOIN pcode$j c$j ON c0.vec_id = c$j.vec_id " +
          s"JOIN plut$j l$j ON c$j.cluster = l$j.cluster AND l$j.q_id = l0.q_id"
      }.mkString(" ")
      def recallLeg(pred: String, method: String) =
        s"""SELECT q.q_id, '$method' AS method,
           |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           |       coalesce(h.n, 0) / 5.0 AS recall_at_5
           |FROM qs q LEFT JOIN (
           |  SELECT t.q_id, count(*) AS n FROM truth t JOIN $pred p
           |    ON t.q_id = p.q_id AND t.vec_id = p.vec_id
           |  GROUP BY t.q_id) h ON q.q_id = h.q_id""".stripMargin
      s"""WITH $pqCtes,
         |$assignedCellsSql,
         |qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |       WHERE vec_id % 50 = 0 AND vec_id < 500),
         |truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id, row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY ${distSql("e.embedding", "q.q_emb")}, e.vec_id) AS rk
         |    FROM embeddings e, qs q WHERE e.vec_id <> q.q_id) WHERE rk <= 5
         |),
         |$qsvs,
         |adc AS (
         |  SELECT l0.q_id, c0.vec_id,
         |         ${(0 until PqM).map(j => s"l$j.d").mkString(" + ")} AS adc_dist
         |  FROM $adcJoin
         |  WHERE c0.vec_id <> l0.q_id
         |),
         |pq5 AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_dist, vec_id) AS rk FROM adc) WHERE rk <= 5),
         |qc AS (SELECT q_id, cell FROM (
         |  SELECT q.q_id, c.cell, row_number() OVER (PARTITION BY q.q_id
         |    ORDER BY ${Ora.cos64("q.q_emb", "c.c_emb")} DESC, c.cell) AS rk
         |  FROM qs q, centroids c) WHERE rk <= $NProbe),
         |ipq5 AS (SELECT q_id, vec_id FROM (
         |  SELECT a.q_id, a.vec_id, row_number() OVER (PARTITION BY a.q_id
         |    ORDER BY a.adc_dist, a.vec_id) AS rk
         |  FROM adc a JOIN assigned s ON a.vec_id = s.vec_id
         |  JOIN qc ON qc.q_id = a.q_id AND qc.cell = s.cell) WHERE rk <= 5)
         |${recallLeg("pq5", "pq")}
         |UNION ALL
         |${recallLeg("ipq5", "ivfpq")}
         |ORDER BY method, q_id""".stripMargin
    }

    Map(
      "sim_kmeans_cells" -> kmeansSql,
      "sim_pq_codes" -> pqCodesSql,
      "sim_pq_ann" -> pqAnnSql,
      "sim_ivfpq_ann" -> ivfpqSql,
      // the served path is bit-identical to the retrain-per-query path
      // (the persisted index is a deterministic function of the corpus),
      // so it shares the oracle statement verbatim
      "sim_ivfpq_served" -> ivfpqSql,
      "sim_ivfpq_delta_served" -> deltaIvfpqSql,
      // compaction changes the physical layout, not the code set: same oracle
      "sim_ivfpq_compacted_served" -> deltaIvfpqSql,

      "corpus_semantic_clusters" ->
        s"""WITH $assignedCellsSql,
           |cd AS (
           |  SELECT a.cell, d.doc_id, d.text
           |  FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
           |),
           |n AS (SELECT count(*) AS n FROM cd),
           |terms AS (
           |  SELECT DISTINCT cell, doc_id, t.term
           |  FROM cd, unnest(string_split_regex(text, '\\s+')) AS t(term)
           |  WHERE t.term <> ''
           |),
           |dfc AS (SELECT cell, term, count(*) AS df_cell
           |        FROM terms GROUP BY 1, 2),
           |dfa AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
           |ncell AS (SELECT cell, count(*) AS n_docs FROM cd GROUP BY 1),
           |ranked AS (
           |  SELECT c.cell, c.term, c.df_cell, f.df,
           |         c.df_cell::DOUBLE * n.n / f.df::DOUBLE AS score,
           |         row_number() OVER (PARTITION BY c.cell
           |           ORDER BY c.df_cell::DOUBLE * n.n / f.df::DOUBLE DESC,
           |                    c.term) AS rank
           |  FROM dfc c JOIN dfa f USING (term), n
           |)
           |SELECT s.cell, nc.n_docs, s.rank, s.term, s.df_cell, s.df,
           |       s.score
           |FROM ranked s JOIN ncell nc USING (cell)
           |WHERE s.rank <= 3
           |ORDER BY s.cell, s.rank""".stripMargin,
      "sim_ivfpq_residual_ann" -> residIvfpqSql,
      "sim_pq_recall" -> pqRecallSql,

      "embed_norms" ->
        s"""SELECT vec_id, sqrt(${Ora.dot64("embedding", "embedding")}) AS l2_norm
           |FROM embeddings ORDER BY vec_id""".stripMargin,

      "sim_topk_bruteforce" ->
        s"""SELECT e.vec_id, ${Ora.cos64("e.embedding", "q.embedding")} AS cos_sim
           |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
           |WHERE e.vec_id <> 0
           |ORDER BY cos_sim DESC, e.vec_id LIMIT $TopK""".stripMargin,

      // rank_mips via row_number is equivalent to the Spark side's
      // count-above + 1 because both use the identical
      // (mips_cos DESC, vec_id) total order
      "sim_mips_topk" ->
        s"""WITH qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
           |db AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
           |m AS (SELECT max(${Ora.dot64("embedding", "embedding")}) AS m2 FROM db),
           |scored AS (
           |  SELECT vec_id,
           |         ${Ora.dot64("embedding", "q_emb")} AS ip,
           |         ${Ora.dot64("embedding", "embedding")} AS xx,
           |         ${Ora.dot64("q_emb", "q_emb")} AS qq,
           |         m2
           |  FROM db, qv, m
           |),
           |sc2 AS (
           |  SELECT vec_id, ip,
           |         ip / (sqrt(xx + sqrt(m2 - xx) * sqrt(m2 - xx))
           |               * sqrt(qq)) AS mips_cos
           |  FROM scored
           |),
           |ranked AS (
           |  SELECT vec_id, ip, mips_cos,
           |         row_number() OVER (ORDER BY ip DESC, vec_id) AS rank_ip,
           |         row_number() OVER (ORDER BY mips_cos DESC, vec_id)
           |           AS rank_mips
           |  FROM sc2
           |)
           |SELECT rank_ip, vec_id, ip, mips_cos,
           |       rank_ip = rank_mips AS rank_agrees
           |FROM ranked WHERE rank_ip <= $TopK
           |ORDER BY rank_ip""".stripMargin,

      "embed_quantize_int8" ->
        """WITH scaled AS (
          |  SELECT vec_id, embedding,
          |         list_max(list_transform(embedding, v -> abs(v::DOUBLE)))
          |           / 127.0 AS scale
          |  FROM embeddings
          |),
          |quant AS (
          |  SELECT vec_id, scale,
          |         CASE WHEN scale = 0
          |              THEN list_transform(embedding, v -> 0::BIGINT)
          |              ELSE list_transform(embedding, v ->
          |                CAST(floor(v::DOUBLE / scale + 0.5) AS BIGINT)) END AS q
          |  FROM scaled
          |)
          |SELECT vec_id, scale, CAST(list_sum(q) AS BIGINT) AS q_sum,
          |       list_min(q) AS q_min, list_max(q) AS q_max
          |FROM quant ORDER BY vec_id""".stripMargin,

      "embed_dim_stats" ->
        s"""WITH ex AS (
           |  SELECT unnest(range($Dim)) AS i, embedding FROM embeddings
           |),
           |vals AS (SELECT i, embedding[i+1]::DOUBLE AS v FROM ex)
           |SELECT i, count(*) AS n,
           |  sum(CAST(floor(v * $KmeansFp + 0.5) AS BIGINT))
           |    / (count(*) * $KmeansFp) AS mean_v,
           |  sum(CAST(floor(v * v * $KmeansFp + 0.5) AS BIGINT))
           |    / (count(*) * $KmeansFp) AS mean_sq,
           |  min(v) AS min_v, max(v) AS max_v
           |FROM vals GROUP BY i ORDER BY i""".stripMargin,

      "embed_covariance" ->
        s"WITH $covTriSql\nSELECT i, j, e_xy, cov FROM covtri ORDER BY i, j",

      // mirror of the power iteration: covtri quantized once to the 2^-20
      // grid, then PowerIters unrolled (multiply, L∞-normalize) CTE pairs
      // — every sum an exact integer, every double a correctly-rounded
      // function of exact integers. The Rayleigh v·w crosses 2^63 →
      // HUGEINT (Spark: DECIMAL(38,0)). Every iteration CTE is
      // AS MATERIALIZED: DuckDB inlines plain CTEs, and each round
      // references its w twice (normalize + max), so un-materialized
      // unrolling re-expands the whole chain 2^PowerIters times.
      "embed_top_eigvec" -> (s"WITH $eigChainSql,\n" +
        s"""wf AS MATERIALIZED (
           |  SELECT c.i, CAST(sum(c.c * v$PowerIters.v) AS BIGINT) AS w
           |  FROM covfp c JOIN v$PowerIters ON c.j = v$PowerIters.j GROUP BY c.i
           |),
           |sc AS MATERIALIZED (
           |  SELECT CAST(sum(v.v::HUGEINT * wf.w) AS DOUBLE) AS num,
           |         CAST(sum(v.v * v.v) AS BIGINT) AS den
           |  FROM wf JOIN v$PowerIters v ON wf.i = v.j
           |)
           |SELECT wf.i, v.v::DOUBLE / $KmeansFp AS component,
           |       sc.num / sc.den::DOUBLE / $KmeansFp AS eigval
           |FROM wf JOIN v$PowerIters v ON wf.i = v.j CROSS JOIN sc
           |ORDER BY wf.i""".stripMargin),

      // projection onto v$PowerIters: exact-integer dot per vector, then
      // per-label moments dividing exact integers
      "embed_pca_projection" -> (s"WITH $eigChainSql,\n" +
        s"""proj AS MATERIALIZED (
           |  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
           |         CAST(sum(CAST(floor(e.embedding[d.i+1]::DOUBLE
           |             * $KmeansFp + 0.5) AS BIGINT) * v.v) AS BIGINT) AS pfp
           |  FROM embeddings e
           |  CROSS JOIN (SELECT unnest(range($Dim)) AS i) d
           |  JOIN v$PowerIters v ON v.j = d.i
           |  GROUP BY e.vec_id, e.label
           |)
           |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           |       CAST(sum(pfp) AS BIGINT)::DOUBLE
           |         / (count(*) * 1099511627776.0) AS mean_proj,
           |       min(pfp)::DOUBLE / 1099511627776.0 AS min_proj,
           |       max(pfp)::DOUBLE / 1099511627776.0 AS max_proj
           |FROM proj GROUP BY label ORDER BY label""".stripMargin),

      "sim_ann_int8_rerank" ->
        s"""WITH scaled AS (
           |  SELECT vec_id, embedding,
           |         list_max(list_transform(embedding, v -> abs(v::DOUBLE)))
           |           / 127.0 AS scale
           |  FROM embeddings
           |),
           |quant AS (
           |  SELECT vec_id, embedding, scale,
           |         CASE WHEN scale = 0
           |              THEN list_transform(embedding, v -> 0::BIGINT)
           |              ELSE list_transform(embedding, v ->
           |                CAST(floor(v::DOUBLE / scale + 0.5) AS BIGINT)) END AS q
           |  FROM scaled
           |),
           |qv AS (SELECT q AS qq, scale AS qscale, embedding AS q_emb
           |       FROM quant WHERE vec_id = 0),
           |scored AS (
           |  SELECT c.vec_id, c.embedding, qv.q_emb,
           |         (c.scale * qv.qscale) * CAST(list_reduce(
           |            list_transform(range(64), i -> c.q[i+1] * qv.qq[i+1]),
           |            (x, y) -> x + y) AS DOUBLE) AS approx_score
           |  FROM quant c, qv WHERE c.vec_id <> 0
           |),
           |cand AS (SELECT * FROM scored
           |         ORDER BY approx_score DESC, vec_id LIMIT $RerankCandidates)
           |SELECT vec_id, approx_score, ${Ora.cos64("embedding", "q_emb")} AS cos_sim
           |FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin,

      "sim_lsh_buckets" -> (s"WITH $bucketedSql\n" +
        "SELECT bucket, count(*) AS n FROM bucketed GROUP BY bucket ORDER BY bucket"),

      "sim_ann_lsh" -> (s"WITH $bucketedSql\n" +
        s"""SELECT e.vec_id, ${Ora.cos64("e.embedding", "q.embedding")} AS cos_sim
           |FROM bucketed e,
           |     (SELECT bucket % 16 AS coarse, embedding FROM bucketed
           |      WHERE vec_id = 0) q
           |WHERE e.vec_id <> 0 AND e.bucket % 16 = q.coarse
           |ORDER BY cos_sim DESC, e.vec_id LIMIT 5""".stripMargin),

      "sim_knn_join" -> (s"WITH $bucketPairsSql,\n" +
        s"""ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY cos_sim DESC, nbr) AS rk FROM bpairs
           |)
           |SELECT vec_id, nbr, cos_sim, rk FROM ranked WHERE rk <= $KnnK
           |ORDER BY vec_id, rk""".stripMargin),

      "ret_graph_ppr" -> (s"WITH $bucketPairsSql,\n$pprChainSql"),

      // the planes-scaled serve path ([[KnnGraphIndex.servePprScaled]]):
      // identical PPR chain over the [[planesFor]]-scheduled graph —
      // coincides with ret_graph_ppr at gate SF (p floors at 8) and
      // stays in-cap at 100×, where the fixed-plane graph is empty
      "ret_graph_ppr_scaled" ->
        (s"WITH $scaledBucketPairsSql,\n$pprChainSql"),

      "sim_hard_negatives" -> (s"WITH $bucketPairsSql,\n" +
        """ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY vec_id
          |    ORDER BY cos_sim DESC, nbr) AS rk
          |  FROM bpairs WHERE label <> nbr_label
          |)
          |SELECT vec_id, label, nbr, nbr_label, cos_sim FROM ranked
          |WHERE rk = 1 ORDER BY vec_id""".stripMargin),

      // k-core peeling unrolled to the cap (identity past the fixed
      // point); MATERIALIZED per iteration — DuckDB's CTE inlining goes
      // exponential on chained iteration CTEs otherwise
      "sim_knn_kcore" -> (s"WITH $bucketPairsSql,\n" +
        s"""ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY cos_sim DESC, nbr) AS rk FROM bpairs
           |),
           |canon AS MATERIALIZED (
           |  SELECT DISTINCT least(vec_id, nbr) AS a,
           |                  greatest(vec_id, nbr) AS b
           |  FROM ranked WHERE rk <= $KnnK
           |),
           |e0 AS MATERIALIZED (
           |  SELECT a AS src, b AS dst FROM canon
           |  UNION ALL SELECT b, a FROM canon
           |),
           |""".stripMargin +
        (1 to KCoreMaxIters).map { i =>
          s"""kv$i AS MATERIALIZED (
             |  SELECT src FROM e${i - 1} GROUP BY src
             |  HAVING count(*) >= $KCoreK
             |),
             |e$i AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM e${i - 1} e
             |  JOIN kv$i s ON e.src = s.src
             |  JOIN kv$i d ON e.dst = d.src
             |)""".stripMargin
        }.mkString(",\n") +
        s"""
           |SELECT src AS vec_id, count(*) AS core_degree
           |FROM e$KCoreMaxIters GROUP BY src ORDER BY vec_id""".stripMargin),

      "sim_ann_multiprobe" -> (s"WITH $bucketedSql,\n" +
        s"""q AS (SELECT bucket % 16 AS c0, embedding FROM bucketed
           |       WHERE vec_id = 0),
           |probes AS (
           |  SELECT xor(q.c0, p.p) AS coarse, q.embedding
           |  FROM q, (SELECT unnest([0, 1, 2, 4, 8]) AS p) p
           |)
           |SELECT e.vec_id, ${Ora.cos64("e.embedding", "q.embedding")} AS cos_sim
           |FROM bucketed e JOIN probes q ON e.bucket % 16 = q.coarse
           |WHERE e.vec_id <> 0
           |ORDER BY cos_sim DESC, e.vec_id LIMIT 5""".stripMargin),

      "sim_ivf_ann" ->
        s"""WITH $assignedCellsSql,
           |qcells AS (
           |  SELECT c.cell, q.embedding AS q_emb
           |  FROM (SELECT embedding FROM embeddings WHERE vec_id = $QueryVec) q,
           |       centroids c
           |  ORDER BY ${Ora.cos64("q.embedding", "c.c_emb")} DESC, c.cell
           |  LIMIT $NProbe
           |)
           |SELECT a.vec_id, ${Ora.cos64("a.embedding", "qc.q_emb")} AS cos_sim
           |FROM assigned a JOIN qcells qc ON a.cell = qc.cell
           |WHERE a.vec_id <> $QueryVec
           |ORDER BY cos_sim DESC, a.vec_id LIMIT 5""".stripMargin,

      "sim_ann_recall" -> (s"WITH $bucketedSql,\n" +
        s"""qs AS (
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
           |qb AS (
           |  SELECT vec_id AS q_id, bucket % 16 AS coarse, embedding AS q_emb
           |  FROM bucketed WHERE vec_id % 50 = 0 AND vec_id < 500
           |),
           |lsh_cand AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q.q_id, e.vec_id,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${Ora.cos64("e.embedding", "q.q_emb")} DESC,
           |                      e.vec_id) AS rk
           |    FROM bucketed e JOIN qb q
           |      ON e.bucket % 16 = q.coarse AND e.vec_id <> q.q_id
           |  ) WHERE rk <= 5
           |),
           |qmp AS (
           |  SELECT q.q_id, xor(q.coarse, p.p) AS coarse, q.q_emb
           |  FROM qb q, (SELECT unnest([0, 1, 2, 4, 8]) AS p) p
           |),
           |mp_cand AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q.q_id, e.vec_id,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${Ora.cos64("e.embedding", "q.q_emb")} DESC,
           |                      e.vec_id) AS rk
           |    FROM bucketed e JOIN qmp q
           |      ON e.bucket % 16 = q.coarse AND e.vec_id <> q.q_id
           |  ) WHERE rk <= 5
           |),
           |$assignedCellsSql,
           |qcells AS (
           |  SELECT q_id, q_emb, cell FROM (
           |    SELECT q.q_id, q.q_emb, c.cell,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${Ora.cos64("q.q_emb", "c.c_emb")} DESC,
           |                      c.cell) AS rk
           |    FROM qs q, centroids c
           |  ) WHERE rk <= $NProbe
           |),
           |ivf_cand AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT qc.q_id, a.vec_id,
           |           row_number() OVER (PARTITION BY qc.q_id
           |             ORDER BY ${Ora.cos64("a.embedding", "qc.q_emb")} DESC,
           |                      a.vec_id) AS rk
           |    FROM assigned a JOIN qcells qc
           |      ON a.cell = qc.cell AND a.vec_id <> qc.q_id
           |  ) WHERE rk <= 5
           |),
           |hits_lsh AS (
           |  SELECT t.q_id, count(*) AS n_hits FROM truth t
           |  JOIN lsh_cand c ON t.q_id = c.q_id AND t.vec_id = c.vec_id
           |  GROUP BY t.q_id
           |),
           |hits_ivf AS (
           |  SELECT t.q_id, count(*) AS n_hits FROM truth t
           |  JOIN ivf_cand c ON t.q_id = c.q_id AND t.vec_id = c.vec_id
           |  GROUP BY t.q_id
           |),
           |hits_mp AS (
           |  SELECT t.q_id, count(*) AS n_hits FROM truth t
           |  JOIN mp_cand c ON t.q_id = c.q_id AND t.vec_id = c.vec_id
           |  GROUP BY t.q_id
           |)
           |SELECT q_id, method, n_hits, n_hits / 5.0 AS recall_at_5 FROM (
           |  SELECT q.q_id, 'lsh' AS method, coalesce(h.n_hits, 0) AS n_hits
           |  FROM qs q LEFT JOIN hits_lsh h USING (q_id)
           |  UNION ALL
           |  SELECT q.q_id, 'ivf' AS method, coalesce(h.n_hits, 0) AS n_hits
           |  FROM qs q LEFT JOIN hits_ivf h USING (q_id)
           |  UNION ALL
           |  SELECT q.q_id, 'multiprobe' AS method, coalesce(h.n_hits, 0) AS n_hits
           |  FROM qs q LEFT JOIN hits_mp h USING (q_id)
           |) ORDER BY method, q_id""".stripMargin),

      "crossmodal_dup_agreement" -> (
        s"WITH ${graft.dedup.DedupQueries.jaccardPairsSql}\n" +
        s"""SELECT j.doc_a, j.doc_b, j.jaccard,
           |       ${Ora.cos64("ea.embedding", "eb.embedding")} AS cos_sim
           |FROM jac j
           |JOIN embeddings ea ON j.doc_a = ea.vec_id
           |JOIN embeddings eb ON j.doc_b = eb.vec_id
           |WHERE j.jaccard >= ${graft.dedup.DedupQueries.JaccardThreshold}
           |ORDER BY j.doc_a, j.doc_b""".stripMargin),

      "dedup_embedding_cosine" ->
        s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |       ${Ora.cos64("a.embedding", "b.embedding")} AS cos_sim
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE ${Ora.cos64("a.embedding", "b.embedding")} >= $CosineThreshold
           |ORDER BY vec_a, vec_b""".stripMargin,

      "dedup_embedding_ann" -> {
        val bits16 = (0 until NumPlanesAnn).map { j =>
          s"CASE WHEN ${Ora.dotLit64("embedding", annPlanes(j))} >= 0 " +
            s"THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH signed16 AS (
           |  SELECT vec_id, embedding, $bits16 AS sig16 FROM embeddings
           |),
           |chunks AS (
           |  SELECT vec_id, (sig16 >> ($AnnBandBits * CAST(c AS INT))) & ${(1 << AnnBandBits) - 1} AS chunk, c
           |  FROM signed16, (SELECT unnest(range($AnnBands)) AS c)
           |),
           |ok_chunks AS (
           |  SELECT c, chunk FROM chunks GROUP BY c, chunk
           |  HAVING count(*) BETWEEN 2 AND ${graft.dedup.DedupQueries.MaxPosting}
           |),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM chunks a JOIN chunks b
           |    ON a.c = b.c AND a.chunk = b.chunk AND a.vec_id < b.vec_id
           |  JOIN ok_chunks o ON a.c = o.c AND a.chunk = o.chunk
           |)
           |SELECT vec_a, vec_b,
           |       ${Ora.cos64("ea.embedding", "eb.embedding")} AS cos_sim
           |FROM cand
           |JOIN embeddings ea ON vec_a = ea.vec_id
           |JOIN embeddings eb ON vec_b = eb.vec_id
           |WHERE ${Ora.cos64("ea.embedding", "eb.embedding")} >= $CosineThreshold
           |ORDER BY vec_a, vec_b""".stripMargin
      },

      "sim_cosine_calibration" ->
        s"""WITH samp AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  WHERE ${Ora.fnv("'cal:' || vec_id")} % 10 = 0
           |),
           |cs AS (
           |  SELECT ${Ora.cos64("a.embedding", "b.embedding")} AS cos_sim
           |  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
           |)
           |SELECT least(19, CAST(floor((cos_sim + 1.0) * 10.0) AS BIGINT))
           |         AS bin,
           |       count(*) AS n, min(cos_sim) AS cos_min,
           |       max(cos_sim) AS cos_max
           |FROM cs GROUP BY bin ORDER BY bin""".stripMargin,

      "sim_label_centroids" ->
        s"""WITH cents AS (
           |  SELECT label, list(val ORDER BY i) AS cvec FROM (
           |    SELECT v.label, ii.i,
           |           sum(floor(v.embedding[ii.i + 1]::DOUBLE * $KmeansFp + 0.5))
           |             / (count(*) * $KmeansFp) AS val
           |    FROM embeddings v
           |    CROSS JOIN (SELECT unnest(range(64)) AS i) ii
           |    GROUP BY v.label, ii.i
           |  ) GROUP BY label
           |),
           |coh AS (
           |  SELECT v.label, count(*) AS n_members,
           |         CAST(sum(floor(${Ora.cos64("v.embedding", "c.cvec")}
           |             * $KmeansFp + 0.5)) AS BIGINT)
           |           / (count(*) * $KmeansFp) AS avg_cos
           |  FROM embeddings v JOIN cents c USING (label)
           |  GROUP BY v.label
           |)
           |SELECT CAST(co.label AS BIGINT) AS label, co.n_members, co.avg_cos,
           |       ${Ora.dot64("ce.cvec", "ce.cvec")} AS c_norm_sq
           |FROM coh co JOIN cents ce USING (label)
           |ORDER BY label""".stripMargin,

      "sim_centroid_outliers" ->
        s"""WITH cents AS (
           |  SELECT label, list(val ORDER BY i) AS cvec FROM (
           |    SELECT v.label, ii.i,
           |           sum(floor(v.embedding[ii.i + 1]::DOUBLE * $KmeansFp + 0.5))
           |             / (count(*) * $KmeansFp) AS val
           |    FROM embeddings v
           |    CROSS JOIN (SELECT unnest(range(64)) AS i) ii
           |    GROUP BY v.label, ii.i
           |  ) GROUP BY label
           |),
           |sc AS (
           |  SELECT CAST(v.label AS BIGINT) AS label, v.vec_id,
           |         CAST(floor(${Ora.cos64("v.embedding", "c.cvec")}
           |             * $KmeansFp + 0.5) AS BIGINT) AS qc
           |  FROM embeddings v JOIN cents c USING (label)
           |)
           |SELECT label, rank, vec_id,
           |       CAST(qc AS DOUBLE) / $KmeansFp AS cos_centroid
           |FROM (
           |  SELECT label, vec_id, qc,
           |         row_number() OVER (PARTITION BY label
           |           ORDER BY qc ASC, vec_id) AS rank
           |  FROM sc
           |) WHERE rank <= $OutlierK
           |ORDER BY label, rank""".stripMargin,

      "dedup_semantic" ->
        s"""WITH $assignedCellsSql,
           |pairs AS (
           |  SELECT a.cell, b.vec_id AS vec_b
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${Ora.cos64("a.embedding", "b.embedding")} >= $SemThreshold
           |),
           |drops AS (
           |  SELECT cell, count(DISTINCT vec_b) AS n_dropped FROM pairs
           |  GROUP BY cell
           |),
           |sizes AS (SELECT cell, count(*) AS n_members FROM assigned GROUP BY cell)
           |SELECT s.cell, s.n_members,
           |       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           |       CAST(s.n_members - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept
           |FROM sizes s LEFT JOIN drops d USING (cell)
           |ORDER BY s.cell""".stripMargin,
    )
  }
}
