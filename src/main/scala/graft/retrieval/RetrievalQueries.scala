package graft.retrieval

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.Ora
import graft.sim.Dot64
import graft.sim.SimilarityQueries.cosine

/** Ranked retrieval over the corpus — the serving-side counterpart of
  * the dedup/similarity families: given a query, return the best-k
  * documents, sparse (BM25), dense (embedding cosine), hybrid
  * (reciprocal-rank fusion), and score the three against ground truth
  * (nDCG@k on the embedding cluster labels). This is the retrieval
  * stack a RAG pipeline or a decontamination sweep runs over a 100 TB
  * corpus, exercised query-by-example: each query is a corpus document
  * ([[QueryDocs]]), its sparse query terms are its own top-TF-IDF
  * keywords and its dense query vector is its embedding — fully
  * deterministic, no out-of-band query strings.
  *
  * Numeric portability (the family rule, see `text_tfidf_keywords` and
  * `text_lm_likelihood`): scoring avoids transcendentals entirely.
  * BM25's idf is the RATIONAL (N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1)
  * rather than its log, and each per-term contribution is computed as
  * one exact integer product chain followed by a single `div` onto the
  * 2^-14 fixed-point grid — bit-identical in Spark and DuckDB. The
  * chain's intermediates run 128-bit wide (decimal(38,0) in Spark,
  * HUGEINT in DuckDB — [[RetrievalQueries.bm25ContribExpr]]; round 9,
  * after the 30× rehearsal's ordinary corpus overflowed the earlier
  * int64 chain), so the representable-corpus bound is 10^38 — a 100 TB
  * corpus sits ~6 orders of magnitude under it. The build-time
  * [[RetrievalQueries.assertBm25Headroom]] guard still fails loudly —
  * in BOTH engines' favor — if a corpus ever approaches the widened
  * bound or an un-widened int64 sub-expression's.
  * RRF and nDCG produce doubles only through single-operation
  * divisions of exact integers (and one fixed-order addition), and the
  * DCG discount weights 1/log2(r+1) are pre-baked 2^32 fixed-point
  * LITERALS shared by both engines, so no log is ever evaluated at
  * query time.
  *
  * Scale shape: one corpus scan builds the (doc, term, tf) table; df
  * is a vocabulary-row aggregate broadcast back; the candidate set is
  * a broadcast semi-join of the ≤ |queries|·[[NumKeywords]] query-term
  * rows against the posting rows — never corpus × queries. The dense
  * side broadcasts the |queries| embeddings through one scan of the
  * vector table. Final per-query top-k is a rank window keyed by
  * query — parallelism = #queries there, but the rows entering it are
  * already candidate-sized, not corpus-sized.
  */
object RetrievalQueries extends graft.QueryModule {

  /** Query-by-example document ids — present at every SF (min corpus:
    * 500 docs) and inside the embedded prefix at sf0.1 (2000 vectors
    * over 5000 docs: documents past the prefix rank sparse-only, like
    * any not-yet-embedded tail in a real corpus). */
  val QueryDocs: Seq[Long] = Seq(7L, 42L, 123L)

  val TopK = 10
  val NumKeywords = 3

  /** Okapi k1 = 6/5 and b = 3/4, folded into the integer contribution
    * below; RRF's standard dampener. */
  val RrfK = 60

  /** BM25 fixed-point scale (2^14). */
  val Scale = 16384L

  /** The BM25 per-term contribution on the exact 2^-14 grid — ONE
    * definition shared by every Spark-side scoring chain (doc and chunk
    * granularity, exact and served). Intermediates are widened to
    * decimal(38,0): the quotient is bit-identical to the int64 chain
    * wherever that chain fits (floor division is invariant under a
    * wider intermediate type), and the representable-corpus ceiling
    * moves from ~1.2e19 (int64, hit at the 30× rehearsal's n=150 000,
    * tl=8.1e6) to 10^38 — far past any physical corpus (a 100 TB corpus
    * at ~1 KB/doc is n≈1e11, tl≈2.5e13 → num bound ≈ 6e31). The only
    * int64 sub-expressions left are `2·n`, `22·tf` and `2·df+1`, loudly
    * bounded by [[checkBm25Bound]]. Spark's `div` (IntegralDivide)
    * accepts decimal operands and returns BIGINT, so downstream types
    * are unchanged. Column names `tf`/`tl`/`dl` are fixed; `n`/`df`
    * vary by granularity (doc: n/df, chunk: n_chunks/df_chunk). */
  private[retrieval] def bm25ContribExpr(n: String, df: String): String =
    s"(cast(2*$n - 2*$df + 1 as decimal(38,0)) * (22 * tf) * tl * $Scale)" +
      s" div ((10 * cast(tl as decimal(38,0)) * tf" +
      s" + 3 * cast(tl as decimal(38,0))" +
      s" + 9 * cast(dl as decimal(38,0)) * $n) * (2*$df + 1))"

  /** The DuckDB twin of [[bm25ContribExpr]] — HUGEINT (int128)
    * intermediates, `//` floor division (identical to Spark's `div` on
    * the all-positive operands here). Callers alias the result and
    * CAST(sum(..) AS BIGINT) exactly as before; the widened type never
    * escapes the contribution CTE. */
  private[retrieval] def bm25ContribSql(n: String, df: String, tf: String,
      tl: String, dl: String): String =
    s"(CAST(2*$n - 2*$df + 1 AS HUGEINT) * (22 * $tf) * $tl * $Scale)" +
      s" // ((10 * CAST($tl AS HUGEINT) * $tf" +
      s" + 3 * CAST($tl AS HUGEINT)" +
      s" + 9 * CAST($dl AS HUGEINT) * $n) * (2*$df + 1))"

  /** DCG discount weights: round(2^32 / log2(r+1)) for rank r = 1..10,
    * and their prefix sums (IDCG of r relevant docs). Literals, not
    * computed — the whole point is that neither engine evaluates a log. */
  val DcgW: Seq[Long] = Seq(4294967296L, 2709822658L, 2147483648L,
    1849741732L, 1661520155L, 1529898219L, 1431655765L, 1354911329L,
    1292913986L, 1241523975L)
  val DcgPrefix: Seq[Long] = Seq(4294967296L, 7004789954L, 9152273602L,
    11002015334L, 12663535489L, 14193433708L, 15625089473L,
    16980000802L, 18272914788L, 19514438763L)

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The pure bound check behind [[assertBm25Headroom]] — split out so
    * the overflow spec can exercise pathological stats directly without
    * fabricating a 3-billion-token fixture. */
  private[retrieval] def checkBm25Bound(n: BigInt, tl: BigInt,
      mtf: BigInt): Unit = {
    // the chain's intermediates are decimal(38,0) / HUGEINT (see
    // [[bm25ContribExpr]] — round-9: the int64 bound was hit by the 30×
    // rehearsal's perfectly ordinary corpus, n=150 000 / tl=8.1e6, so
    // the exact chain now runs 128-bit wide); what must still fit int64
    // are the un-widened sub-expressions 2·n, 22·tf and 2·df+1 (df ≤ n,
    // tf ≤ mtf), and the widened products must fit 38 decimal digits
    val numBound = 2 * n * 22 * mtf * tl * BigInt(Scale)
    val denBound = (10 * tl * mtf + 3 * tl + 9 * tl * n) * (2 * n + 1)
    val dec38 = BigInt(10).pow(38)
    require(numBound < dec38 && denBound < dec38 &&
        2 * n < Long.MaxValue && 22 * mtf < Long.MaxValue,
      s"BM25 fixed-point chain would overflow decimal(38,0) on this " +
        s"corpus (n=$n, tl=$tl, max tf=$mtf → num bound $numBound, den " +
        s"bound $denBound): shrink Scale or pre-divide per term")
  }

  /** How many times the guard actually aggregated corpus stats this
    * process — the observable the memo spec pins. */
  private[retrieval] val headroomAggs =
    new java.util.concurrent.atomic.AtomicInteger
  private val headroomChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Loud overflow guard for the BM25 integer chain (ADVICE r7): bound
    * the worst numerator/denominator from the ACTUAL corpus stats
    * (max per-doc tf is the factor a pathological repeated-token doc
    * inflates) and refuse to build rather than let non-ANSI Spark wrap
    * silently where DuckDB would error. Scalar control-plane fetch over
    * the already-checkpointed tf table + a parquet metadata count —
    * memoized per corpus through [[graft.sources.IndexCache]]'s
    * staleness-safe fingerprint (rows + maxId + filesystem signature),
    * so the 7 sparse-family queries pay the two guard actions once per
    * process per corpus, not once per query; an in-place fixture
    * rewrite changes the fingerprint and re-checks. A FAILED check is
    * never memoized: it re-runs (and re-throws) on every build. */
  private[retrieval] def assertBm25Headroom(s: SparkSession, dir: String,
      t: DataFrame, tag: String = "doc",
      nCollection: Option[() => Long] = None): Unit = {
    val key = graft.sources.IndexCache.fingerprint(s, dir, "documents",
      "doc_id") + "|" + tag
    // computeIfAbsent, not containsKey-then-put: under Par.together two
    // concurrent legs could both pass a check-then-act guard and run the
    // guard aggregate twice (double-counting headroomAggs, which a memo
    // spec pins). A mapper that throws leaves the key absent, so a
    // FAILED check is still never memoized and re-throws on every build.
    headroomChecked.computeIfAbsent(key, _ => {
      headroomAggs.incrementAndGet()
      val r = t.agg(max("tf"), sum("tf")).head
      checkBm25Bound(
        n = BigInt(nCollection.map(_.apply())
          .getOrElse(docs(s, dir).count())),
        tl = BigInt(r.getLong(1)), mtf = BigInt(r.getLong(0)))
      true
    })
    ()
  }

  /** Build-count metrics: how many times the corpus tokenize (sparse)
    * and the dense scoring scan were MATERIALIZED this process — the
    * observable RetrievalQueriesSpec pins to prove `ret_ndcg_eval`
    * builds each pipeline exactly once (ADVICE r7: it used to build
    * both twice through rrfFusion's internal calls). */
  private[retrieval] val tfBuilds = new java.util.concurrent.atomic.AtomicInteger
  private[retrieval] val denseBuilds = new java.util.concurrent.atomic.AtomicInteger

  /** (doc_id, term, tf) over the whole corpus. */
  private def tf(s: SparkSession, dir: String): DataFrame = tfOf(docs(s, dir))

  /** (doc_id, term, tf) over a document subset in one scan — whitespace
    * tokens, empties out (same tokenization as the text family).
    * Checkpointed: df, dl, keywords, and scoring all reuse it. The one
    * doc-level tokenize: the per-query BM25 family and every
    * [[SparseIndex]] generation (full, base, delta, compacted) run it. */
  private[retrieval] def tfOf(d: DataFrame): DataFrame = {
    tfBuilds.incrementAndGet()
    // Measured both ways at sf0.1 (full warm bench, this round): forcing
    // full parallelism here (spread the scan + pin the checkpoint on
    // doc_id) REGRESSED the whole BM25 family ~40-120% — the table is
    // small enough that per-stage task dispatch on 32-way stages costs
    // more than the serial work it displaces, and AQE's coalesced layout
    // is the right local answer. Left as-is deliberately; at cluster
    // scale the same chain gets its parallelism from the natural input
    // splits, not from this plan.
    d.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(graft.Materialize(_))
  }

  /** The sparse (BM25) top-k lists: (query_doc, rank, doc_id, n_terms,
    * score_fp, score). */
  def sparseTopk(s: SparkSession, dir: String): DataFrame =
    sparseFrom(s, dir, tf(s, dir))

  /** BM25 over an already-checkpointed (doc_id, term, tf) table — split
    * out so [[ndcgEval]] can share ONE tokenize/groupBy across the
    * sparse, dense, and fused lists instead of rebuilding it per list.
    *
    * The per-term contribution is the reduced form of
    * ((2N−2df+1)·44·tf·TL·Scale) div ((20·TL·tf+6·TL+18·dl·N)·(2df+1)):
    * numerator and denominator share the factor 2, and cancelling it
    * (22 / (10·TL·tf+3·TL+9·dl·N)) leaves the quotient bit-identical —
    * computed 128-bit wide by [[bm25ContribExpr]] (decimal(38,0) /
    * HUGEINT) since round 9. [[assertBm25Headroom]] checks the actual
    * corpus's bound loudly at build time (Spark would otherwise wrap
    * silently where DuckDB errors). */
  private def sparseFrom(s: SparkSession, dir: String, t: DataFrame)
      : DataFrame = {
    assertBm25Headroom(s, dir, t)
    bm25Rank(s, dir, t, keywordsOf(s, dir, t))
  }

  /** Each query doc's [[NumKeywords]] strongest TF-IDF terms — the
    * rational tf·N/df scoring of text_tfidf_keywords, (score, term)
    * tie-broken; ≤ |QueryDocs|·NumKeywords rows, broadcast onward. */
  private def keywordsOf(s: SparkSession, dir: String, t: DataFrame)
      : DataFrame = {
    val df = t.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    val kw = Window.partitionBy("query_doc")
      .orderBy(col("kw_score").desc, col("term"))
    t.filter(col("doc_id").isin(QueryDocs: _*))
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id").as("query_doc"), col("term"),
        (col("tf").cast("double") * col("n").cast("double") /
          col("df").cast("double")).as("kw_score"))
      .withColumn("krank", row_number().over(kw))
      .filter(col("krank") <= NumKeywords)
      .select("query_doc", "term")
  }

  /** The pre-window scoring stage: every candidate's (n_terms,
    * score_fp) — split from the rank so [[filteredSparse]] can apply
    * its facet restriction BEFORE the top-k window (pre-filter
    * semantics). */
  private def bm25Scores(s: SparkSession, dir: String, t: DataFrame,
      keywords: DataFrame): DataFrame = {
    val df = t.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = t.groupBy("doc_id").agg(sum("tf").as("dl"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    val tl = t.agg(sum("tf").as("tl"))
    t.join(broadcast(keywords), "term")
      .filter(col("doc_id") =!= col("query_doc"))
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n)).crossJoin(broadcast(tl))
      .select(col("query_doc"), col("doc_id"),
        expr(bm25ContribExpr("n", "df")).as("c"))
      .groupBy("query_doc", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("c").as("score_fp"))
  }

  /** The BM25 scoring tail over an ARBITRARY (query_doc, term) keyword
    * table — split out so [[prfExpand]] can rescore with an expanded
    * term set. Candidate generation IS the broadcast semi-join: posting
    * rows that carry a query term; then one exact integer chain per
    * (query, candidate, term) onto the 2^-14 grid. */
  private def bm25Rank(s: SparkSession, dir: String, t: DataFrame,
      keywords: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_doc")
      .orderBy(col("score_fp").desc, col("doc_id"))
    bm25Scores(s, dir, t, keywords)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_doc"), col("rank"), col("doc_id"), col("n_terms"),
        col("score_fp"),
        (col("score_fp").cast("double") / lit(Scale.toDouble)).as("score"))
      .orderBy("query_doc", "rank")
  }

  /** The dense (cosine) top-k lists: (query_doc, rank, doc_id,
    * cos_sim). Query embeddings are a |QueryDocs|-row broadcast; one
    * scan of the vector table scores every candidate. */
  def denseTopk(s: SparkSession, dir: String): DataFrame = {
    denseBuilds.incrementAndGet()
    val q = emb(s, dir).filter(col("vec_id").isin(QueryDocs: _*))
      .select(col("vec_id").as("query_doc"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_doc")
      .orderBy(col("cos_sim").desc, col("doc_id"))
    emb(s, dir).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_doc"))
      .select(col("query_doc"), col("vec_id").as("doc_id"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select("query_doc", "rank", "doc_id", "cos_sim")
      .orderBy("query_doc", "rank")
  }

  /** Reciprocal-rank fusion of the two top-k lists: score =
    * Σ 1/(RrfK + rank) over the lists containing the doc — computed as
    * ONE fixed-order addition of two single-division doubles, so the
    * doubles stay bit-exact. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame =
    rrfFrom(sparseTopk(s, dir), denseTopk(s, dir))

  /** Fusion of two top-k lists (≤ |queries|·k rows each) — shared by
    * [[rrfFusion]], the hybrids and the evals; [[ndcgEval]] and
    * [[mrrEval]] pass materialized lists so the sparse and dense
    * pipelines are built exactly once per run. */
  private def rrfFrom(spList: DataFrame, deList: DataFrame): DataFrame = {
    val sp = spList
      .select(col("query_doc"), col("doc_id"), col("rank").as("rs"))
    val de = deList
      .select(col("query_doc"), col("doc_id"), col("rank").as("rd"))
    val w = Window.partitionBy("query_doc")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    sp.join(de, Seq("query_doc", "doc_id"), "full_outer")
      .select(col("query_doc"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("rs")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rd")), lit(0.0)))
          .as("rrf_score"),
        col("rs").isNotNull.as("in_sparse"),
        col("rd").isNotNull.as("in_dense"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select("query_doc", "rank", "doc_id", "rrf_score",
        "in_sparse", "in_dense")
      .orderBy("query_doc", "rank")
  }

  /** nDCG@[[TopK]] per (query, method): relevance = the candidate
    * shares the query's embedding cluster label (docs without a vector
    * — the un-embedded tail at sf0.1 — count irrelevant, as unjudged
    * docs do); DCG sums the literal 2^32-grid discount weights as
    * BIGINTs, IDCG is the matching prefix sum, and the only double is
    * the final single division. */
  def ndcgEval(s: SparkSession, dir: String): DataFrame = {
    // one sparse build + one dense build, checkpointed (≤ |queries|·k
    // rows each); the fused list derives from the SAME materialized
    // pair — the corpus is tokenized once and vector-scanned once
    val Seq(sp, de) = graft.Par.together(
      () => sparseTopk(s, dir).transform(graft.Materialize(_)),
      () => denseTopk(s, dir).transform(graft.Materialize(_)))
    val lists =
      sp.select(lit("sparse").as("method"),
          col("query_doc"), col("rank"), col("doc_id"))
        .unionByName(de.select(lit("dense").as("method"),
          col("query_doc"), col("rank"), col("doc_id")))
        .unionByName(rrfFrom(sp, de).select(lit("rrf").as("method"),
          col("query_doc"), col("rank"), col("doc_id")))
    val lab = emb(s, dir).select(col("vec_id"), col("label"))
    val ql = lab.filter(col("vec_id").isin(QueryDocs: _*))
      .select(col("vec_id").as("query_doc"), col("label").as("q_label"))
    val nRel = lab.crossJoin(broadcast(ql))
      .filter(col("label") === col("q_label") &&
        col("vec_id") =!= col("query_doc"))
      .groupBy("query_doc").agg(count(lit(1)).as("n_rel"))
    val dcg = lists
      .join(broadcast(ql), "query_doc")
      .join(lab, lists("doc_id") === lab("vec_id"), "left")
      .select(col("method"), col("query_doc"),
        (when(col("label") === col("q_label"), 1L).otherwise(0L) *
          element_at(typedLit(DcgW), col("rank").cast("int"))).as("g"))
      .groupBy("method", "query_doc").agg(sum("g").as("dcg_fp"))
    dcg.join(broadcast(nRel), "query_doc")
      .select(col("query_doc"), col("method"), col("n_rel"),
        col("dcg_fp"),
        element_at(typedLit(DcgPrefix),
          least(lit(TopK), col("n_rel")).cast("int")).as("idcg_fp"))
      .withColumn("ndcg",
        col("dcg_fp").cast("double") / col("idcg_fp").cast("double"))
      .orderBy("query_doc", "method")
  }

  /** Hybrid retrieval SERVED FROM THE PERSISTED ANN INDEX — the
    * composition a 100 TB RAG stack actually runs: dense candidates come
    * from [[graft.sim.IvfPqIndex.serveMulti]] (cell-pruned scan of the
    * persisted codes table, zero training stages at query time) instead
    * of the exact full-scan, fused with the BM25 list by the same RRF
    * formula as [[rrfFusion]]. The exact dense leg remains available as
    * eval ground truth (`ret_dense_topk`); this is the serving path. */
  def hybridServed(s: SparkSession, dir: String): DataFrame = {
    // one consumer per leg, kept: measured faster materialized (Profile)
    val Seq(sp, ann) = graft.Par.together(
      () => sparseTopk(s, dir).transform(graft.Materialize(_)),
      () => graft.sim.IvfPqIndex.serveMulti(s, dir, QueryDocs, TopK)
        .transform(graft.Materialize(_)))
    rrfFrom(sp, ann)
  }

  /** MRR and recall@k per (query, method), across all four list
    * sources — the exact sparse/dense/fused lists AND the
    * served-from-index hybrid, so the eval quantifies what the
    * approximate serving path gives up against the exact one. Shares
    * one sparse build, one dense build, and one index serve; relevance
    * is the same embedding-cluster label as [[ndcgEval]]. The only
    * doubles are single divisions of exact integers. */
  def mrrEval(s: SparkSession, dir: String): DataFrame = {
    // sp and de each feed two lists; the served list feeds one, kept:
    // measured faster materialized (Profile)
    val Seq(sp, de, ann) = graft.Par.together(
      () => sparseTopk(s, dir).transform(graft.Materialize(_)),
      () => denseTopk(s, dir).transform(graft.Materialize(_)),
      () => graft.sim.IvfPqIndex.serveMulti(s, dir, QueryDocs, TopK)
        .transform(graft.Materialize(_)))
    def leg(df: DataFrame, m: String) =
      df.select(lit(m).as("method"), col("query_doc"), col("rank"),
        col("doc_id"))
    // no checkpoint: the union is consumed exactly once below and its
    // inputs are already materialized — a checkpoint here is one extra
    // scheduler round-trip for nothing
    val lists = leg(sp, "sparse")
      .unionByName(leg(de, "dense"))
      .unionByName(leg(rrfFrom(sp, de), "rrf"))
      .unionByName(leg(rrfFrom(sp, ann), "hybrid"))
    val lab = emb(s, dir).select(col("vec_id"), col("label"))
    val ql = lab.filter(col("vec_id").isin(QueryDocs: _*))
      .select(col("vec_id").as("query_doc"), col("label").as("q_label"))
    val nRel = lab.crossJoin(broadcast(ql))
      .filter(col("label") === col("q_label") &&
        col("vec_id") =!= col("query_doc"))
      .groupBy("query_doc").agg(count(lit(1)).as("n_rel"))
    lists
      .join(broadcast(ql), "query_doc")
      .join(lab, lists("doc_id") === lab("vec_id"), "left")
      .select(col("method"), col("query_doc"), col("rank"),
        when(col("label") === col("q_label"), 1L).otherwise(0L).as("is_rel"))
      .groupBy("method", "query_doc")
      .agg(sum("is_rel").as("hits"),
        min(when(col("is_rel") === 1L, col("rank"))).as("first_rel_rank"))
      .join(broadcast(nRel), "query_doc")
      .select(col("query_doc"), col("method"), col("n_rel"), col("hits"),
        col("first_rel_rank"),
        coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)).as("mrr"),
        when(col("n_rel") > 0,
          col("hits").cast("double") / col("n_rel").cast("double"))
          .otherwise(lit(0.0)).as("recall"))
      .orderBy("query_doc", "method")
  }

  /** The FULLY-indexed hybrid: BOTH legs come from persisted indexes —
    * BM25 from [[SparseIndex.serve]] (pruned postings scan) and dense
    * candidates from [[graft.sim.IvfPqIndex.serveMulti]] (pruned codes
    * scan) — so the whole query touches no corpus-sized table and runs
    * zero tokenize/training stages: the steady-state serving shape of a
    * 100 TB RAG deployment. Because the served BM25 lists are
    * bit-identical to the exact ones, this shares `ret_hybrid_served`'s
    * oracle. */
  def hybridIndexed(s: SparkSession, dir: String): DataFrame = {
    // the two persisted indexes are distinct paths (no build race) and
    // the serve legs share no lineage: overlap them (guide §2.6); one
    // consumer per leg, kept: measured faster materialized (Profile)
    val Seq(sp, ann) = graft.Par.together(
      () => SparseIndex.serve(s, dir).transform(graft.Materialize(_)),
      () => graft.sim.IvfPqIndex.serveMulti(s, dir, QueryDocs, TopK)
        .transform(graft.Materialize(_)))
    rrfFrom(sp, ann)
  }

  /** Snippet-window geometry: the best [[SnippetWindow]]-token span per
    * (query, result) over the top [[SnippetDocs]] served results. */
  val SnippetWindow = 8
  val SnippetDocs = 3

  /** Snippet extraction over the SERVED lists: for each query's top
    * results, the [[SnippetWindow]]-token window with the most query-
    * keyword occurrences — the highlighting step between retrieval and
    * display/LLM-context assembly. The span is ANCHORED: windows start
    * at a keyword hit (any optimal window shifts right to its leftmost
    * hit without losing occurrences), making max-hits-then-min-start a
    * total, engine-portable criterion. Only the ≤ |queries|·SnippetDocs
    * candidate documents are re-read (literal IN pushdown); positions
    * are raw whitespace-split indices in both engines. */
  def snippetSpans(s: SparkSession, dir: String): DataFrame = {
    val sp = SparseIndex.serve(s, dir).filter(col("rank") <= SnippetDocs)
      .select("query_doc", "rank", "doc_id").transform(graft.Materialize(_))
    // ≤ 9 rows, one consumer, kept: measured faster materialized (Profile)
    val kw = SparseIndex.queryKeywords(s, dir).transform(graft.Materialize(_))
    val candIds = sp.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val pos = docs(s, dir).filter(col("doc_id").isin(candIds: _*))
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("p", "term")))
      .join(broadcast(kw), "term")
      .select(col("query_doc"), col("doc_id"), col("p").cast("long").as("p"))
    val hits = sp.join(pos, Seq("query_doc", "doc_id"))
      .select("query_doc", "doc_id", "p").transform(graft.Materialize(_))
    val a = hits.select(col("query_doc"), col("doc_id"), col("p").as("start"))
    val b = hits.select(col("query_doc").as("qb"), col("doc_id").as("db"),
      col("p").as("pb"))
    val w = Window.partitionBy("query_doc", "doc_id")
      .orderBy(col("window_hits").desc, col("start"))
    a.join(b, col("query_doc") === col("qb") && col("doc_id") === col("db") &&
        col("pb") >= col("start") &&
        col("pb") < col("start") + SnippetWindow)
      .groupBy("query_doc", "doc_id", "start")
      .agg(count(lit(1)).as("window_hits"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(sp, Seq("query_doc", "doc_id"))
      .select(col("query_doc"), col("rank"), col("doc_id"),
        col("start").as("window_start"), col("window_hits"))
      .orderBy("query_doc", "rank")
  }

  /** Inverted-index profile from the persisted tables: vocabulary size,
    * posting volume, heavy-term and singleton counts, df quantiles —
    * the capacity-planning numbers an index operator reads before
    * sizing shards (posting-list skew is what melts a term-partitioned
    * layout). */
  def indexStats(s: SparkSession, dir: String): DataFrame = {
    val path = SparseIndex.buildIfMissing(s, dir)
    val v = s.read.parquet(s"$path/vstats")
    v.agg(
      count(lit(1)).as("n_terms"),
      sum("df").as("n_postings"),
      max("df").as("max_df"),
      sum(when(col("df") === 1, 1L).otherwise(0L)).as("singleton_terms"),
      expr("percentile(df, 0.5D)").as("df_p50"),
      expr("percentile(df, 0.9D)").as("df_p90"))
  }

  /** Phrase (positional) search — the retrieval capability bag-of-words
    * BM25 cannot express: each query doc's most frequent interior
    * bigram (tie-broken lexically) is matched ADJACENTLY across the
    * corpus, ranked by occurrence count. The per-doc bigram table is
    * the positional index a phrase engine stores (2-gram posting
    * lists): one tokenize pass, one corpus-shuffle on (doc, w1, w2),
    * then the ≤ |queries|-row phrase dimension broadcasts against it —
    * never corpus × queries. Empty tokens (leading/double whitespace)
    * are excluded from phrases on both engines. */
  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    def bigramStream(src: DataFrame): DataFrame = src
      .select(col("doc_id"), split(col("text"), "\\s+").as("tk"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), " +
          "(x, i) -> struct(x AS w1, element_at(tk, i + 2) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    // phrase selection reads ONLY the query docs (pushed-down IN)
    val pw = Window.partitionBy("query_doc")
      .orderBy(col("n_occ").desc, col("w1"), col("w2"))
    val phrases = bigramStream(
        docs(s, dir).filter(col("doc_id").isin(QueryDocs: _*)))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("n_occ"))
      .select(col("doc_id").as("query_doc"), col("w1"), col("w2"),
        col("n_occ"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") === 1)
      .select("query_doc", "w1", "w2")
    // the corpus pass filters by the broadcast phrase dim BEFORE any
    // aggregation, so the shuffle carries only matching bigram rows —
    // cost tracks phrase selectivity, not corpus token count
    val w = Window.partitionBy("query_doc")
      .orderBy(col("n_occurrences").desc, col("doc_id"))
    bigramStream(docs(s, dir))
      .join(broadcast(phrases), Seq("w1", "w2"))
      .filter(col("doc_id") =!= col("query_doc"))
      .groupBy("query_doc", "w1", "w2", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .select(col("query_doc"),
        concat(col("w1"), lit(" "), col("w2")).as("phrase"),
        col("doc_id"), col("n_occurrences"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select("query_doc", "phrase", "rank", "doc_id", "n_occurrences")
      .orderBy("query_doc", "rank")
  }

  /** Feedback depth for [[prfExpand]]. */
  val FbDocs = 3

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM-style, the
    * integer-exact core): run BM25, treat the top [[FbDocs]] results as
    * relevant, pick the single highest-mass term across them that is
    * NOT already a query keyword (Σtf desc, term asc tie-break), add it
    * to the keyword set, and rescore with the SAME integer chain. Two
    * rounds of the broadcast-semi-join candidate shape over one shared
    * checkpointed tokenize — the feedback and expansion stages are
    * |queries|-sized. Emits the expansion term per row so the re-ranked
    * list is auditable. */
  def prfExpand(s: SparkSession, dir: String): DataFrame = {
    val t = tf(s, dir)
    assertBm25Headroom(s, dir, t)
    val kw1 = keywordsOf(s, dir, t).transform(graft.Materialize(_))
    // one consumer, kept: measured faster materialized (Profile)
    val fb = bm25Rank(s, dir, t, kw1).filter(col("rank") <= FbDocs)
      .select("query_doc", "doc_id").transform(graft.Materialize(_))
    val ew = Window.partitionBy("query_doc")
      .orderBy(col("w").desc, col("term"))
    val expt = t.join(broadcast(fb), "doc_id")
      .select(col("query_doc"), col("term"), col("tf"))
      .join(kw1, Seq("query_doc", "term"), "left_anti")
      .groupBy("query_doc", "term").agg(sum("tf").as("w"))
      .withColumn("rn", row_number().over(ew))
      .filter(col("rn") === 1)
      .select("query_doc", "term").transform(graft.Materialize(_))
    bm25Rank(s, dir, t, kw1.unionByName(expt))
      .join(broadcast(expt.withColumnRenamed("term", "exp_term")),
        "query_doc")
      .select(col("query_doc"), col("rank"), col("doc_id"), col("n_terms"),
        col("score_fp"), col("score"), col("exp_term"))
      .orderBy("query_doc", "rank")
  }

  /** Passage geometry: non-overlapping [[ChunkTokens]]-token windows
    * over the raw whitespace token positions (empties excluded from the
    * counts but not the positions, matching the phrase family's
    * positional idiom). */
  val ChunkTokens = 32

  /** Passage (chunk) retrieval with MaxP document aggregation — the
    * standard long-document RAG shape: score fixed-size chunks as if
    * they were documents (chunk-level df/dl/N on the same exact integer
    * BM25 chain), keep each document's best chunk, and rank documents
    * by that best-chunk score. One POSITIONAL tokenize of the corpus
    * feeds everything: the chunk posting table directly, and the
    * doc-level (doc, term, tf) table by summing a doc's chunks (exact
    * because the windows are non-overlapping), which is what the shared
    * query-keyword derivation runs on — so the plan has a single corpus
    * scan, chunk stats are vocabulary/chunk-row aggregates broadcast
    * back, and candidate generation stays the broadcast semi-join of
    * query-term rows against chunk postings. Emits the winning chunk
    * index per hit so the caller can fetch the passage. */
  def passageTopk(s: SparkSession, dir: String): DataFrame =
    passageFrom(s, dir, chunkTf(s, dir))

  /** The passage chain over an already-checkpointed chunk posting table
    * — split out so [[granularityAgreement]] can feed BOTH granularities
    * from one positional tokenize. */
  private def passageFrom(s: SparkSession, dir: String, ct: DataFrame)
      : DataFrame = {
    val tDoc = ct.groupBy("doc_id", "term").agg(sum("tf").as("tf"))
    assertBm25Headroom(s, dir, ct, tag = "chunk",
      nCollection = Some(() =>
        ct.select("doc_id", "chunk").distinct().count()))
    val df = ct.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = ct.groupBy("doc_id", "chunk").agg(sum("tf").as("dl"))
    val n = ct.agg(countDistinct(col("doc_id"), col("chunk")).as("n"))
    val tl = ct.agg(sum("tf").as("tl"))
    val wBest = Window.partitionBy("query_doc", "doc_id")
      .orderBy(col("chunk_fp").desc, col("chunk"))
    val wTop = Window.partitionBy("query_doc")
      .orderBy(col("chunk_fp").desc, col("doc_id"))
    ct.join(broadcast(keywordsOf(s, dir, tDoc)), "term")
      .filter(col("doc_id") =!= col("query_doc"))
      .join(broadcast(df), "term")
      .join(dl, Seq("doc_id", "chunk"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(tl))
      .select(col("query_doc"), col("doc_id"), col("chunk"),
        expr(bm25ContribExpr("n", "df")).as("c"))
      .groupBy("query_doc", "doc_id", "chunk")
      .agg(count(lit(1)).as("n_terms"), sum("c").as("chunk_fp"))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_doc"), col("rank"), col("doc_id"), col("chunk"),
        col("n_terms"), col("chunk_fp"),
        (col("chunk_fp").cast("double") / lit(Scale.toDouble)).as("score"))
      .orderBy("query_doc", "rank")
  }

  /** (doc_id, chunk, term, tf) chunk posting table in one positional
    * corpus scan, checkpointed. Chunk index = raw token position div
    * [[ChunkTokens]]; empty tokens hold their position but contribute
    * no postings. */
  private[retrieval] def chunkTf(s: SparkSession, dir: String): DataFrame =
    chunkTfOf(docs(s, dir))

  /** The positional chunk tokenize over an arbitrary document subset —
    * the delta-ingest entry point for [[PassageIndex]]. */
  private[retrieval] def chunkTfOf(d: DataFrame): DataFrame = {
    tfBuilds.incrementAndGet()
    // same decision as [[tfOf]]: measured, forced parallelism regressed —
    // see the comment there.
    d.select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("p", "term")))
      .filter(col("term") =!= "")
      .select(col("doc_id"),
        expr(s"CAST(p AS BIGINT) div $ChunkTokens").as("chunk"),
        col("term"))
      .groupBy("doc_id", "chunk", "term").agg(count(lit(1)).as("tf"))
      .transform(graft.Materialize(_))
  }

  /** MMR trade-off λ — and its complement as a LITERAL, because
    * `1.0 - 0.7` is 0.30000000000000004 in IEEE doubles and both engines
    * must multiply by the same constant. */
  val MmrLambda = 0.7
  val MmrMu = 0.3

  /** Maximal-marginal-relevance re-ranking of the dense top-k: greedily
    * pick argmax of λ·rel(c) − (1−λ)·max sim(c, selected), doc_id
    * tie-broken, until the whole candidate list is ordered. Relevance
    * and candidate-pair similarities are the SAME fixed-order cosine
    * both engines already agree on bit-for-bit (dense family), and the
    * MMR score is two multiplies and a subtract of those doubles, so
    * the greedy argmax decisions are deterministic across engines.
    *
    * Scale shape: the per-query greedy is embarrassingly parallel
    * across queries, so it runs EXECUTOR-SIDE as a `flatMapGroups` over
    * `query_doc` — each group is ≤ k candidate rows with their vectors
    * attached, the k² pair similarities are computed in-memory inside
    * the group, and NOTHING in this plan touches the driver: the
    * candidate-vector prune is a broadcast semi-join (the distributed
    * twin of the literal-IN fetch), not a collected id list. The
    * in-group cosine is a strict-left-fold double dot — the exact
    * operation order of [[graft.sim.Dot64]] — so the greedy argmax
    * decisions stay bit-identical to the collected cross-check variant
    * ([[mmrRerankCollected]], spec-pinned equal) and to the oracle. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val de = denseTopk(s, dir).transform(graft.Materialize(_))
    val cand = de.select(col("query_doc"), col("rank").as("dense_rank"),
      col("doc_id"), col("cos_sim").as("relevance"))
    val vecs = emb(s, dir).join(
        broadcast(cand.select(col("doc_id").as("vec_id")).distinct()),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"))
    val rows = cand.join(vecs, col("doc_id") === col("vec_id"))
      .select(col("query_doc"), col("dense_rank"), col("doc_id"),
        col("relevance"), col("embedding"))
      .as[(Long, Long, Long, Double, Array[Float])]
    rows.groupByKey(_._1).flatMapGroups {
      (q: Long, it: Iterator[(Long, Long, Long, Double, Array[Float])]) =>
        val cs = it.toArray // ≤ TopK rows per query by construction
        def cos(a: Array[Float], b: Array[Float]): Double =
          Dot64.dot(a, b) /
            (math.sqrt(Dot64.dot(a, a)) * math.sqrt(Dot64.dot(b, b)))
        val byId = cs.map(c => c._3 -> c).toMap
        val simCache = scala.collection.mutable.Map.empty[(Long, Long), Double]
        def sim(x: Long, y: Long): Double =
          simCache.getOrElseUpdate((x, y), cos(byId(x)._5, byId(y)._5))
        val remaining = scala.collection.mutable.Set(cs.map(_._3): _*)
        val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
        (1 to cs.length).map { step =>
          val (bestId, bestScore) = remaining.toSeq.map { c =>
            val rel = byId(c)._4
            val pen =
              if (picked.isEmpty) 0.0
              else picked.map(p => sim(c, p)).max
            c -> (MmrLambda * rel - MmrMu * pen)
          }.minBy { case (id, sc) => (-sc, id) }
          remaining -= bestId; picked += bestId
          val (_, dRank, _, rel, _) = byId(bestId)
          (q, step.toLong, bestId, dRank, rel, bestScore)
        }
    }.toDF("query_doc", "mmr_rank", "doc_id", "dense_rank",
        "relevance", "mmr_score")
      .orderBy("query_doc", "mmr_rank")
  }

  /** The original driver-side MMR — two bounded collects (≤ |q|·k
    * candidates, ≤ |q|·k² pair sims, CollectBoundsSpec-pinned), then the
    * sequential greedy on the driver. Kept as the CROSS-CHECK for the
    * executor-side [[mmrRerank]]: MmrEquivalenceSpec asserts the two are
    * bit-identical, so the served path's in-group Scala cosine is pinned
    * against the Catalyst-expression arithmetic this variant uses. */
  private[retrieval] def mmrRerankCollected(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val de = denseTopk(s, dir).transform(graft.Materialize(_))
    val cand = de.select(col("query_doc"), col("rank").as("dense_rank"),
      col("doc_id"), col("cos_sim").as("relevance"))
    // candidate vectors by literal IN — ≤ |queries|·k ids, pruned scan
    val ids = cand.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val vecs = emb(s, dir).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding"))
    val a = cand.select(col("query_doc"), col("doc_id").as("da"))
      .join(broadcast(vecs), col("da") === col("vec_id"))
      .select(col("query_doc"), col("da"), col("embedding").as("ea"))
    val sims = a.join(
        cand.select(col("query_doc").as("qb"), col("doc_id").as("db"))
          .join(broadcast(vecs), col("db") === col("vec_id"))
          .select(col("qb"), col("db"), col("embedding").as("eb")),
        col("query_doc") === col("qb") && col("da") =!= col("db"))
      .select(col("query_doc"), col("da"), col("db"),
        cosine(col("ea"), col("eb")).as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val rows = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val out = rows.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      val remaining = scala.collection.mutable.Set(cs.map(_._3): _*)
      val byId = cs.map(c => c._3 -> c).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      (1 to cs.length).map { step =>
        val (bestId, bestScore) = remaining.toSeq.map { c =>
          val rel = byId(c)._4
          val pen =
            if (picked.isEmpty) 0.0
            else picked.map(p => sims((q, c, p))).max
          c -> (MmrLambda * rel - MmrMu * pen)
        }.minBy { case (id, sc) => (-sc, id) }
        remaining -= bestId; picked += bestId
        val (_, dRank, _, rel) = byId(bestId)
        (q, step.toLong, bestId, dRank, rel, bestScore)
      }
    }
    out.toDF("query_doc", "mmr_rank", "doc_id", "dense_rank",
        "relevance", "mmr_score")
      .orderBy("query_doc", "mmr_rank")
  }

  /** Context-window budget (whitespace tokens) for [[contextPack]]. */
  val ContextBudget = 256L

  /** The retrieve → pack composition that feeds a RAG prompt: take the
    * fully-indexed hybrid lists (both legs served from persisted
    * indexes — the steady-state shape), fetch the candidates' token
    * counts by literal-IN pruned scan (≤ |queries|·k ids), and greedily
    * pack docs in rank order until the [[ContextBudget]]-token context
    * window is full. The pack rule is the rank-order prefix: cumulative
    * token sum per query (a rank window over ≤ k rows), kept while the
    * running total fits — cum is monotone, so "kept" is exactly the
    * maximal prefix. Emits every candidate with its running total and
    * kept flag so the budget decision is auditable. */
  def contextPack(s: SparkSession, dir: String): DataFrame = {
    val lists = hybridIndexed(s, dir)
      .select("query_doc", "rank", "doc_id").transform(graft.Materialize(_))
    val candIds = lists.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val toks = docs(s, dir).filter(col("doc_id").isin(candIds: _*))
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= lit("")))
          .cast("long").as("n_tokens"))
    val w = Window.partitionBy("query_doc").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lists.join(broadcast(toks), "doc_id")
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("kept", col("cum_tokens") <= ContextBudget)
      .select("query_doc", "rank", "doc_id", "n_tokens", "cum_tokens",
        "kept")
      .orderBy("query_doc", "rank")
  }

  /** Granularity-agreement eval — "measure, don't guess" for the
    * passage family: per query, how much does the passage-MaxP document
    * ranking agree with the doc-level BM25 ranking? Reports the common
    * doc count, concordant/discordant rank pairs among the common docs
    * (exact integer counts — ranks are distinct so there are no ties),
    * and overlap@k. A long-document corpus where the two diverge is one
    * where chunking changes retrieval, which is exactly what this
    * number quantifies before a pipeline switches granularity. Both
    * lists are ≤ |queries|·k rows; the pair stage is ≤ k² per query. */
  def granularityAgreement(s: SparkSession, dir: String): DataFrame = {
    // ONE positional tokenize feeds both granularities: the doc-level
    // (doc, term, tf) table is a doc's chunk tfs summed (exact — the
    // windows don't overlap), so the doc-level BM25 list here is
    // bit-identical to ret_bm25_topk's
    val ct = chunkTf(s, dir)
    val tDoc = ct.groupBy("doc_id", "term").agg(sum("tf").as("tf"))
      .transform(graft.Materialize(_))
    val sp = sparseFrom(s, dir, tDoc)
      .select(col("query_doc"), col("doc_id"), col("rank").as("rs"))
    val pp = passageFrom(s, dir, ct)
      .select(col("query_doc"), col("doc_id"), col("rank").as("rp"))
    val common = sp.join(pp, Seq("query_doc", "doc_id"))
      .transform(graft.Materialize(_))
    val a = common.select(col("query_doc"), col("doc_id").as("da"),
      col("rs").as("rsa"), col("rp").as("rpa"))
    val b = common.select(col("query_doc").as("qb"), col("doc_id").as("db"),
      col("rs").as("rsb"), col("rp").as("rpb"))
    val pc = a.join(b, col("query_doc") === col("qb") && col("da") < col("db"))
      .select(col("query_doc"),
        when((col("rsa") < col("rsb")) === (col("rpa") < col("rpb")), 1L)
          .otherwise(0L).as("conc"))
      .groupBy("query_doc")
      .agg(sum("conc").as("n_concordant"),
        (count(lit(1)) - sum("conc")).as("n_discordant"))
    common.groupBy("query_doc").agg(count(lit(1)).as("n_common"))
      .join(pc, Seq("query_doc"), "left")
      .select(col("query_doc"), col("n_common"),
        coalesce(col("n_concordant"), lit(0L)).as("n_concordant"),
        coalesce(col("n_discordant"), lit(0L)).as("n_discordant"),
        (col("n_common").cast("double") / lit(TopK.toDouble)).as("overlap"))
      .orderBy("query_doc")
  }

  /** List-level redundancy gate for [[resultDedup]] — deliberately
    * LOWER than the corpus SemDeDup threshold (0.35): within a 10-result
    * list, even moderate semantic overlap is redundancy the prompt
    * budget shouldn't pay for twice. */
  val ResultDedupCos = 0.25

  /** SemDeDup over the SERVED result lists: a result is suppressed when
    * any higher-ranked result in the same list sits above
    * [[ResultDedupCos]] cosine — the diversity pass between retrieval
    * and packing (the dedup-flavored complement of [[mmrRerank]]: hard
    * suppression instead of soft re-scoring). Emits every result with
    * its kept flag and, for suppressed rows, the highest-ranked
    * suppressor — auditable like the context pack. Pair stage is
    * |queries|·k² rows; candidate vectors fetched by literal IN. */
  def resultDedup(s: SparkSession, dir: String): DataFrame = {
    val lists = hybridIndexed(s, dir)
      .select("query_doc", "rank", "doc_id").transform(graft.Materialize(_))
    val ids = lists.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val vecs = emb(s, dir).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding"))
    val a = lists.join(broadcast(vecs), col("doc_id") === col("vec_id"))
      .select(col("query_doc"), col("rank"), col("doc_id"), col("embedding"))
      .transform(graft.Materialize(_))
    val b = a.select(col("query_doc").as("qb"), col("rank").as("rb"),
      col("doc_id").as("db"), col("embedding").as("eb"))
    val sup = a.join(b, col("query_doc") === col("qb") &&
        col("rb") < col("rank"))
      .filter(cosine(col("embedding"), col("eb")) >= ResultDedupCos)
      .groupBy("query_doc", "doc_id")
      .agg(min(struct(col("rb"), col("db"))).as("s"))
      .select(col("query_doc"), col("doc_id"), col("s.db").as("dup_of"))
    lists.join(sup, Seq("query_doc", "doc_id"), "left")
      .select(col("query_doc"), col("rank"), col("doc_id"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
      .orderBy("query_doc", "rank")
  }

  /** Filtered (faceted) vector search with PRE-filter semantics: the
    * dense top-k restricted to candidates sharing the query doc's
    * source facet — the metadata-filtered retrieval every production
    * vector store must answer, and the classic hard case for ANN
    * serving (post-filtering an ANN list under-fills k when the filter
    * is selective; pre-filtering is the exact reference semantics).
    * This is that exact reference: facet applied BEFORE ranking, so
    * every query gets a full k from its eligible pool. Emits
    * n_eligible per row — the selectivity number that decides, at
    * 100 TB, whether a facet should become a partition key (scan only
    * its shard) or stay a post-scan predicate. One co-partitioned
    * id join attaches facets to vectors; queries broadcast. */
  def filteredDense(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).join(
      docs(s, dir).select(col("doc_id").as("vec_id"), col("source")),
      "vec_id")
    val q = e.filter(col("vec_id").isin(QueryDocs: _*))
      .select(col("vec_id").as("query_doc"), col("embedding").as("q_emb"),
        col("source").as("q_source"))
    val w = Window.partitionBy("query_doc")
      .orderBy(col("cos_sim").desc, col("doc_id"))
    val cand = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_doc") &&
        col("source") === col("q_source"))
      .select(col("query_doc"), col("vec_id").as("doc_id"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .transform(graft.Materialize(_))
    cand
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .join(broadcast(cand.groupBy("query_doc")
        .agg(count(lit(1)).as("n_eligible"))), "query_doc")
      .select("query_doc", "rank", "doc_id", "cos_sim", "n_eligible")
      .orderBy("query_doc", "rank")
  }

  /** The sparse twin of [[filteredDense]]: BM25 top-k restricted to
    * candidates sharing the query doc's source facet, with the SAME
    * pre-filter semantics (facet applied before the rank window, so
    * every query fills k from its eligible pool) and GLOBAL collection
    * statistics — "search within a collection" with corpus-calibrated
    * idf, the choice that keeps the served facet shards' scores
    * comparable across facets. Emits the facet-eligible candidate
    * count per row. */
  def filteredSparse(s: SparkSession, dir: String): DataFrame = {
    val t = tf(s, dir)
    assertBm25Headroom(s, dir, t)
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val qsrc = src.filter(col("doc_id").isin(QueryDocs: _*))
      .select(col("doc_id").as("query_doc"), col("source").as("q_source"))
    val scored = bm25Scores(s, dir, t, keywordsOf(s, dir, t))
      .join(src, "doc_id")
      .join(broadcast(qsrc), "query_doc")
      .filter(col("source") === col("q_source"))
      .select("query_doc", "doc_id", "n_terms", "score_fp")
      .transform(graft.Materialize(_))
    val w = Window.partitionBy("query_doc")
      .orderBy(col("score_fp").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .join(broadcast(scored.groupBy("query_doc")
        .agg(count(lit(1)).as("n_eligible"))), "query_doc")
      .select(col("query_doc"), col("rank"), col("doc_id"), col("n_terms"),
        col("score_fp"),
        (col("score_fp").cast("double") / lit(Scale.toDouble)).as("score"),
        col("n_eligible"))
      .orderBy("query_doc", "rank")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ret_bm25_topk" -> ((s, dir) => sparseTopk(s, dir)),
    "ret_dense_topk" -> ((s, dir) => denseTopk(s, dir)),
    "ret_rrf_fusion" -> ((s, dir) => rrfFusion(s, dir)),
    "ret_ndcg_eval" -> ((s, dir) => ndcgEval(s, dir)),
    "ret_hybrid_served" -> ((s, dir) => hybridServed(s, dir)),
    "ret_bm25_served" -> ((s, dir) => SparseIndex.serve(s, dir)),
    "ret_bm25_incremental" -> ((s, dir) => SparseIndex.serveWithDelta(s, dir)),
    "ret_bm25_compacted" -> ((s, dir) => SparseIndex.serveCompacted(s, dir)),
    "ret_hybrid_indexed" -> ((s, dir) => hybridIndexed(s, dir)),
    "ret_snippet_spans" -> ((s, dir) => snippetSpans(s, dir)),
    "ret_index_stats" -> ((s, dir) => indexStats(s, dir)),
    "ret_phrase_search" -> ((s, dir) => phraseSearch(s, dir)),
    "ret_prf_expand" -> ((s, dir) => prfExpand(s, dir)),
    "ret_passage_topk" -> ((s, dir) => passageTopk(s, dir)),
    "ret_passage_served" -> ((s, dir) => PassageIndex.serve(s, dir)),
    "ret_passage_incremental" -> ((s, dir) => PassageIndex.serveWithDelta(s, dir)),
    "ret_passage_compacted" -> ((s, dir) => PassageIndex.serveCompacted(s, dir)),
    "ret_context_pack" -> ((s, dir) => contextPack(s, dir)),
    "ret_granularity_agreement" -> ((s, dir) => granularityAgreement(s, dir)),
    "ret_result_dedup" -> ((s, dir) => resultDedup(s, dir)),
    "ret_filtered_dense" -> ((s, dir) => filteredDense(s, dir)),
    "ret_filtered_bm25" -> ((s, dir) => filteredSparse(s, dir)),
    "ret_mmr_rerank" -> ((s, dir) => mmrRerank(s, dir)),
    "ret_mrr_eval" -> ((s, dir) => mrrEval(s, dir)))

  // ---- DuckDB oracles ----------------------------------------------------

  private val qdocs = QueryDocs.mkString("(", ", ", ")")

  /** Shared CTE chain: tf/df/dl/corpus stats → keywords → BM25 top-k
    * (`stopk`) and cosine top-k (`dtopk`). */
  private val listsCte =
    s"""t AS MATERIALIZED (
       |  -- MATERIALIZED: referenced by dfq/dlq/st/kw/contrib; DuckDB 1.0
       |  -- inlines plain CTEs, so un-annotated the full corpus tokenize
       |  -- would run five times -- the 100x cert's temp-disk ceiling.
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
       |    FROM documents
       |  ) WHERE term <> '' GROUP BY doc_id, term
       |),
       |dfq AS MATERIALIZED (SELECT term, count(*) AS df FROM t GROUP BY term),
       |dlq AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |        FROM t GROUP BY doc_id),
       |st AS (SELECT (SELECT count(*) FROM documents) AS n,
       |              (SELECT CAST(sum(tf) AS BIGINT) FROM t) AS tl),
       |kw AS (
       |  SELECT query_doc, term FROM (
       |    SELECT t.doc_id AS query_doc, t.term,
       |           row_number() OVER (PARTITION BY t.doc_id ORDER BY
       |             CAST(t.tf AS DOUBLE) * CAST(st.n AS DOUBLE)
       |               / CAST(dfq.df AS DOUBLE) DESC, t.term) AS krank
       |    FROM t JOIN dfq USING (term), st
       |    WHERE t.doc_id IN $qdocs
       |  ) WHERE krank <= $NumKeywords
       |),
       |contrib AS (
       |  SELECT kw.query_doc, t.doc_id,
       |         ${bm25ContribSql("st.n", "dfq.df", "t.tf", "st.tl", "dlq.dl")} AS c
       |  FROM t JOIN kw USING (term) JOIN dfq USING (term)
       |         JOIN dlq ON t.doc_id = dlq.doc_id, st
       |  WHERE t.doc_id <> kw.query_doc
       |),
       |stopk AS MATERIALIZED (
       |  SELECT query_doc, rank, doc_id, n_terms, score_fp FROM (
       |    SELECT query_doc, doc_id, count(*) AS n_terms,
       |           CAST(sum(c) AS BIGINT) AS score_fp,
       |           row_number() OVER (PARTITION BY query_doc
       |             ORDER BY CAST(sum(c) AS BIGINT) DESC, doc_id) AS rank
       |    FROM contrib GROUP BY query_doc, doc_id
       |  ) WHERE rank <= $TopK
       |),
       |dtopk AS MATERIALIZED (
       |  SELECT query_doc, rank, doc_id, cos_sim FROM (
       |    SELECT q.vec_id AS query_doc, e.vec_id AS doc_id,
       |           ${Ora.cos64("e.embedding", "q.embedding")} AS cos_sim,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             ${Ora.cos64("e.embedding", "q.embedding")} DESC,
       |             e.vec_id) AS rank
       |    FROM embeddings e,
       |         (SELECT vec_id, embedding FROM embeddings
       |          WHERE vec_id IN $qdocs) q
       |    WHERE e.vec_id <> q.vec_id
       |  ) WHERE rank <= $TopK
       |),
       |rtopk AS (
       |  SELECT query_doc, rank, doc_id, rrf_score, in_sparse, in_dense
       |  FROM (
       |    SELECT query_doc, doc_id, rrf_score, in_sparse, in_dense,
       |           row_number() OVER (PARTITION BY query_doc
       |             ORDER BY rrf_score DESC, doc_id) AS rank
       |    FROM (
       |      SELECT coalesce(s.query_doc, d.query_doc) AS query_doc,
       |             coalesce(s.doc_id, d.doc_id) AS doc_id,
       |             coalesce(1.0::DOUBLE / ($RrfK + s.rank), 0.0::DOUBLE)
       |               + coalesce(1.0::DOUBLE / ($RrfK + d.rank),
       |                          0.0::DOUBLE) AS rrf_score,
       |             s.rank IS NOT NULL AS in_sparse,
       |             d.rank IS NOT NULL AS in_dense
       |      FROM stopk s FULL JOIN dtopk d
       |        ON s.query_doc = d.query_doc AND s.doc_id = d.doc_id
       |    )
       |  ) WHERE rank <= $TopK
       |)""".stripMargin

  private val dcgWSql = DcgW.mkString("[", ", ", "]")
  private val dcgPSql = DcgPrefix.mkString("[", ", ", "]")

  /** The hybrid-list CTE chain ending in `hlists` (query_doc, rank,
    * doc_id, rrf_score, in_sparse, in_dense) — the fused BM25 ∪ IVF-PQ
    * lists both hybrid oracles and the RAG-pipeline composition read. */
  private[retrieval] lazy val hybridListsCtes =
    s"""$listsCte,
       |${graft.sim.SimilarityQueries.ivfpqMultiCtes(QueryDocs, TopK)},
       |hlists AS (
       |  SELECT query_doc, rank, doc_id, rrf_score, in_sparse, in_dense
       |  FROM (
       |    SELECT query_doc, doc_id, rrf_score, in_sparse, in_dense,
       |           row_number() OVER (PARTITION BY query_doc
       |             ORDER BY rrf_score DESC, doc_id) AS rank
       |    FROM (
       |      SELECT coalesce(s.query_doc, d.query_doc) AS query_doc,
       |             coalesce(s.doc_id, d.doc_id) AS doc_id,
       |             coalesce(1.0::DOUBLE / ($RrfK + s.rank), 0.0::DOUBLE)
       |               + coalesce(1.0::DOUBLE / ($RrfK + d.rank),
       |                          0.0::DOUBLE) AS rrf_score,
       |             s.rank IS NOT NULL AS in_sparse,
       |             d.rank IS NOT NULL AS in_dense
       |      FROM stopk s FULL JOIN hadck d
       |        ON s.query_doc = d.query_doc AND s.doc_id = d.doc_id
       |    )
       |  ) WHERE rank <= $TopK
       |)""".stripMargin

  /** The hybrid fusion oracle — shared by `ret_hybrid_served` (exact
    * BM25 leg) and `ret_hybrid_indexed` (served BM25 leg): the served
    * sparse lists are bit-identical to the exact ones, so one SQL covers
    * both compositions. */
  private lazy val hybridSql =
    s"""WITH $hybridListsCtes
       |SELECT query_doc, rank, doc_id, rrf_score, in_sparse, in_dense
       |FROM hlists
       |ORDER BY query_doc, rank""".stripMargin

  /** `ret_bm25_topk`'s oracle — also the oracle of BOTH served sparse
    * paths: the persisted index is a deterministic reshaping of the same
    * tokenize, and the incremental path's stat merges are exact, so all
    * three queries are bit-identical by construction. */
  private val bm25Sql =
    s"""WITH $listsCte
       |SELECT query_doc, rank, doc_id, n_terms, score_fp,
       |       CAST(score_fp AS DOUBLE) / ${Scale}.0 AS score
       |FROM stopk ORDER BY query_doc, rank""".stripMargin

  /** The MMR oracle: the greedy argmax is UNROLLED into [[TopK]] chained
    * CTE steps (s1..s10 / p1..p10 = selection and picked-set after each
    * step) — recursive CTEs with aggregates in the recursive term are
    * off-limits in portable SQL, and k is a fixed literal here, so the
    * unrolled form keeps the oracle in plain window/aggregate SQL. The
    * λ/(1−λ) multipliers are the same LITERALS Spark uses ([[MmrMu]] is
    * not computed as 1−λ), and the ordering key is the mmr score itself
    * in both engines, so every argmax decision compares identical IEEE
    * doubles. */
  private lazy val mmrSql = {
    val steps = (2 to TopK).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT query_doc, doc_id, dense_rank, rel, mmr FROM (
         |    SELECT c.query_doc, c.doc_id, c.dense_rank, c.rel,
         |           $MmrLambda::DOUBLE * c.rel
         |             - $MmrMu::DOUBLE * max(ps.sim) AS mmr,
         |           row_number() OVER (PARTITION BY c.query_doc
         |             ORDER BY $MmrLambda::DOUBLE * c.rel
         |               - $MmrMu::DOUBLE * max(ps.sim) DESC,
         |             c.doc_id) AS rn
         |    FROM mcand c
         |    JOIN msim ps
         |      ON ps.query_doc = c.query_doc AND ps.da = c.doc_id
         |    JOIN p${i - 1} p
         |      ON p.query_doc = c.query_doc AND p.doc_id = ps.db
         |    WHERE NOT EXISTS (SELECT 1 FROM p${i - 1} x
         |                      WHERE x.query_doc = c.query_doc
         |                        AND x.doc_id = c.doc_id)
         |    GROUP BY c.query_doc, c.doc_id, c.dense_rank, c.rel
         |  ) WHERE rn = 1
         |),
         |p$i AS MATERIALIZED (SELECT query_doc, doc_id FROM p${i - 1}
         |        UNION ALL SELECT query_doc, doc_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 to TopK).map { i =>
      s"""SELECT query_doc, CAST($i AS BIGINT) AS mmr_rank, doc_id,
         |       dense_rank, rel AS relevance, mmr AS mmr_score FROM s$i"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $listsCte,
       |mcand AS MATERIALIZED (
       |  SELECT query_doc, doc_id, rank AS dense_rank, cos_sim AS rel
       |  FROM dtopk
       |),
       |msim AS MATERIALIZED (
       |  SELECT a.query_doc, a.doc_id AS da, b.doc_id AS db,
       |         ${Ora.cos64("va.embedding", "vb.embedding")} AS sim
       |  FROM mcand a
       |  JOIN mcand b
       |    ON a.query_doc = b.query_doc AND a.doc_id <> b.doc_id
       |  JOIN embeddings va ON va.vec_id = a.doc_id
       |  JOIN embeddings vb ON vb.vec_id = b.doc_id
       |),
       |s1 AS MATERIALIZED (
       |  SELECT query_doc, doc_id, dense_rank, rel,
       |         $MmrLambda::DOUBLE * rel AS mmr FROM (
       |    SELECT query_doc, doc_id, dense_rank, rel,
       |           row_number() OVER (PARTITION BY query_doc
       |             ORDER BY $MmrLambda::DOUBLE * rel DESC, doc_id) AS rn
       |    FROM mcand
       |  ) WHERE rn = 1
       |),
       |p1 AS MATERIALIZED (SELECT query_doc, doc_id FROM s1),
       |$steps
       |$union
       |ORDER BY query_doc, mmr_rank""".stripMargin
  }

  /** The passage CTE chain (positional tokenize → chunk postings →
    * chunk BM25 → MaxP `ptopk`), shared by the passage oracles and the
    * granularity-agreement eval. Depends on `kw` from [[listsCte]]. */
  private lazy val passageCtes =
    s"""ptoks AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS tk
         |  FROM documents
         |),
         |ppos AS (
         |  SELECT doc_id, tk, unnest(range(len(tk))) AS p FROM ptoks
         |),
         |pctf AS (
         |  SELECT doc_id, chunk, term, count(*) AS tf FROM (
         |    SELECT doc_id, p // $ChunkTokens AS chunk,
         |           tk[CAST(p + 1 AS INT)] AS term
         |    FROM ppos
         |  ) WHERE term <> ''
         |  GROUP BY doc_id, chunk, term
         |),
         |pdf AS (SELECT term, count(*) AS df FROM pctf GROUP BY term),
         |pdl AS (SELECT doc_id, chunk, CAST(sum(tf) AS BIGINT) AS dl
         |        FROM pctf GROUP BY doc_id, chunk),
         |pst AS (SELECT (SELECT count(*) FROM
         |                 (SELECT DISTINCT doc_id, chunk FROM pctf)) AS n,
         |               (SELECT CAST(sum(tf) AS BIGINT) FROM pctf) AS tl),
         |pcontrib AS (
         |  SELECT kw.query_doc, c.doc_id, c.chunk,
         |         ${bm25ContribSql("pst.n", "pdf.df", "c.tf", "pst.tl", "pdl.dl")} AS c
         |  FROM pctf c JOIN kw USING (term) JOIN pdf USING (term)
         |       JOIN pdl ON c.doc_id = pdl.doc_id AND c.chunk = pdl.chunk,
         |       pst
         |  WHERE c.doc_id <> kw.query_doc
         |),
         |pchunk AS (
         |  SELECT query_doc, doc_id, chunk, count(*) AS n_terms,
         |         CAST(sum(c) AS BIGINT) AS chunk_fp
         |  FROM pcontrib GROUP BY query_doc, doc_id, chunk
         |),
         |pbest AS (
         |  SELECT query_doc, doc_id, chunk, n_terms, chunk_fp FROM (
         |    SELECT query_doc, doc_id, chunk, n_terms, chunk_fp,
         |           row_number() OVER (PARTITION BY query_doc, doc_id
         |             ORDER BY chunk_fp DESC, chunk) AS rn
         |    FROM pchunk
         |  ) WHERE rn = 1
         |),
         |ptopk AS (
         |  SELECT query_doc, rank, doc_id, chunk, n_terms, chunk_fp FROM (
         |    SELECT query_doc, doc_id, chunk, n_terms, chunk_fp,
         |           row_number() OVER (PARTITION BY query_doc
         |             ORDER BY chunk_fp DESC, doc_id) AS rank
         |    FROM pbest
         |  ) WHERE rank <= $TopK
         |)""".stripMargin

  /** `ret_passage_topk`'s oracle — also `ret_passage_served`'s:
    * the persisted chunk index is a deterministic reshaping of the same
    * positional tokenize, so the served lists are bit-identical by
    * construction. */
  private lazy val passageSql =
    s"""WITH $listsCte,
       |$passageCtes
       |SELECT query_doc, rank, doc_id, chunk, n_terms, chunk_fp,
       |       CAST(chunk_fp AS DOUBLE) / ${Scale}.0 AS score
       |FROM ptopk ORDER BY query_doc, rank""".stripMargin

  /** The served-hybrid fused list as a reusable CTE (`cfused`) —
    * shared by the context-pack and result-dedup oracles. Depends on
    * `stopk` (listsCte) and `hadck` (ivfpqMultiCtes). */
  private lazy val fusedCte =
    s"""cfused AS (
       |  SELECT query_doc, rank, doc_id FROM (
       |    SELECT query_doc, doc_id, rrf_score,
       |           row_number() OVER (PARTITION BY query_doc
       |             ORDER BY rrf_score DESC, doc_id) AS rank
       |    FROM (
       |      SELECT coalesce(s.query_doc, d.query_doc) AS query_doc,
       |             coalesce(s.doc_id, d.doc_id) AS doc_id,
       |             coalesce(1.0::DOUBLE / ($RrfK + s.rank), 0.0::DOUBLE)
       |               + coalesce(1.0::DOUBLE / ($RrfK + d.rank),
       |                          0.0::DOUBLE) AS rrf_score
       |      FROM stopk s FULL JOIN hadck d
       |        ON s.query_doc = d.query_doc AND s.doc_id = d.doc_id
       |    )
       |  ) WHERE rank <= $TopK
       |)""".stripMargin

  def oracle: Map[String, String] = Map(
    "ret_bm25_topk" -> bm25Sql,
    "ret_bm25_served" -> bm25Sql,
    "ret_bm25_incremental" -> bm25Sql,
    "ret_bm25_compacted" -> bm25Sql,

    "ret_mrr_eval" ->
      s"""WITH $listsCte,
         |${graft.sim.SimilarityQueries.ivfpqMultiCtes(QueryDocs, TopK)},
         |hfused AS (
         |  SELECT query_doc, rank, doc_id FROM (
         |    SELECT query_doc, doc_id, rrf_score,
         |           row_number() OVER (PARTITION BY query_doc
         |             ORDER BY rrf_score DESC, doc_id) AS rank
         |    FROM (
         |      SELECT coalesce(s.query_doc, d.query_doc) AS query_doc,
         |             coalesce(s.doc_id, d.doc_id) AS doc_id,
         |             coalesce(1.0::DOUBLE / ($RrfK + s.rank), 0.0::DOUBLE)
         |               + coalesce(1.0::DOUBLE / ($RrfK + d.rank),
         |                          0.0::DOUBLE) AS rrf_score
         |      FROM stopk s FULL JOIN hadck d
         |        ON s.query_doc = d.query_doc AND s.doc_id = d.doc_id
         |    )
         |  ) WHERE rank <= $TopK
         |),
         |mlists AS (
         |  SELECT 'sparse' AS method, query_doc, rank, doc_id FROM stopk
         |  UNION ALL
         |  SELECT 'dense', query_doc, rank, doc_id FROM dtopk
         |  UNION ALL
         |  SELECT 'rrf', query_doc, rank, doc_id FROM rtopk
         |  UNION ALL
         |  SELECT 'hybrid', query_doc, rank, doc_id FROM hfused
         |),
         |mql AS (SELECT vec_id AS query_doc, label AS q_label
         |        FROM embeddings WHERE vec_id IN $qdocs),
         |mnrel AS (
         |  SELECT mql.query_doc, count(*) AS n_rel
         |  FROM embeddings e JOIN mql
         |    ON e.label = mql.q_label AND e.vec_id <> mql.query_doc
         |  GROUP BY mql.query_doc
         |),
         |mrel AS (
         |  SELECT l.method, l.query_doc, l.rank,
         |         CASE WHEN e.label = mql.q_label THEN 1 ELSE 0 END AS is_rel
         |  FROM mlists l
         |  JOIN mql USING (query_doc)
         |  LEFT JOIN embeddings e ON l.doc_id = e.vec_id
         |),
         |magg AS (
         |  SELECT method, query_doc,
         |         CAST(sum(is_rel) AS BIGINT) AS hits,
         |         min(CASE WHEN is_rel = 1 THEN rank END) AS first_rel_rank
         |  FROM mrel GROUP BY method, query_doc
         |)
         |SELECT query_doc, method, n_rel, hits, first_rel_rank,
         |       coalesce(1.0::DOUBLE / first_rel_rank, 0.0::DOUBLE) AS mrr,
         |       CASE WHEN n_rel > 0
         |            THEN CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE)
         |            ELSE 0.0::DOUBLE END AS recall
         |FROM magg JOIN mnrel USING (query_doc)
         |ORDER BY query_doc, method""".stripMargin,

    "ret_dense_topk" ->
      s"""WITH $listsCte
         |SELECT query_doc, rank, doc_id, cos_sim
         |FROM dtopk ORDER BY query_doc, rank""".stripMargin,

    "ret_rrf_fusion" ->
      s"""WITH $listsCte
         |SELECT query_doc, rank, doc_id, rrf_score, in_sparse, in_dense
         |FROM rtopk ORDER BY query_doc, rank""".stripMargin,

    "ret_hybrid_served" -> hybridSql,
    "ret_hybrid_indexed" -> hybridSql,

    "ret_snippet_spans" ->
      s"""WITH $listsCte,
         |cand AS (
         |  SELECT query_doc, rank, doc_id FROM stopk
         |  WHERE rank <= $SnippetDocs
         |),
         |ctoks AS (
         |  SELECT d.doc_id, string_split_regex(d.text, '\\s+') AS tk
         |  FROM documents d
         |  WHERE d.doc_id IN (SELECT doc_id FROM cand)
         |),
         |cpos AS (
         |  SELECT doc_id, tk, unnest(range(len(tk))) AS p FROM ctoks
         |),
         |hits AS (
         |  SELECT c.query_doc, c.doc_id, cp.p
         |  FROM cand c
         |  JOIN cpos cp ON cp.doc_id = c.doc_id
         |  JOIN kw k ON k.query_doc = c.query_doc
         |    AND cp.tk[CAST(cp.p + 1 AS INT)] = k.term
         |),
         |wins AS (
         |  SELECT a.query_doc, a.doc_id, a.p AS start, count(*) AS window_hits
         |  FROM hits a JOIN hits b
         |    ON a.query_doc = b.query_doc AND a.doc_id = b.doc_id
         |    AND b.p >= a.p AND b.p < a.p + $SnippetWindow
         |  GROUP BY a.query_doc, a.doc_id, a.p
         |),
         |best AS (
         |  SELECT query_doc, doc_id, start, window_hits,
         |         row_number() OVER (PARTITION BY query_doc, doc_id
         |           ORDER BY window_hits DESC, start) AS rn
         |  FROM wins
         |)
         |SELECT c.query_doc, c.rank, c.doc_id,
         |       b.start AS window_start, b.window_hits
         |FROM cand c JOIN best b
         |  ON b.query_doc = c.query_doc AND b.doc_id = c.doc_id AND b.rn = 1
         |ORDER BY c.query_doc, c.rank""".stripMargin,

    "ret_prf_expand" ->
      s"""WITH $listsCte,
         |fb AS (
         |  SELECT query_doc, doc_id FROM stopk WHERE rank <= $FbDocs
         |),
         |expt AS (
         |  SELECT query_doc, term FROM (
         |    SELECT f.query_doc, t.term,
         |           CAST(sum(t.tf) AS BIGINT) AS w,
         |           row_number() OVER (PARTITION BY f.query_doc
         |             ORDER BY CAST(sum(t.tf) AS BIGINT) DESC, t.term) AS rn
         |    FROM fb f JOIN t ON t.doc_id = f.doc_id
         |    WHERE NOT EXISTS (SELECT 1 FROM kw k
         |                      WHERE k.query_doc = f.query_doc
         |                        AND k.term = t.term)
         |    GROUP BY f.query_doc, t.term
         |  ) WHERE rn = 1
         |),
         |kw2 AS (
         |  SELECT query_doc, term FROM kw
         |  UNION ALL SELECT query_doc, term FROM expt
         |),
         |contrib2 AS (
         |  SELECT kw2.query_doc, t.doc_id,
         |         ${bm25ContribSql("st.n", "dfq.df", "t.tf", "st.tl", "dlq.dl")} AS c
         |  FROM t JOIN kw2 USING (term) JOIN dfq USING (term)
         |         JOIN dlq ON t.doc_id = dlq.doc_id, st
         |  WHERE t.doc_id <> kw2.query_doc
         |),
         |stopk2 AS (
         |  SELECT query_doc, rank, doc_id, n_terms, score_fp FROM (
         |    SELECT query_doc, doc_id, count(*) AS n_terms,
         |           CAST(sum(c) AS BIGINT) AS score_fp,
         |           row_number() OVER (PARTITION BY query_doc
         |             ORDER BY CAST(sum(c) AS BIGINT) DESC, doc_id) AS rank
         |    FROM contrib2 GROUP BY query_doc, doc_id
         |  ) WHERE rank <= $TopK
         |)
         |SELECT s2.query_doc, s2.rank, s2.doc_id, s2.n_terms, s2.score_fp,
         |       CAST(s2.score_fp AS DOUBLE) / ${Scale}.0 AS score,
         |       e.term AS exp_term
         |FROM stopk2 s2 JOIN expt e USING (query_doc)
         |ORDER BY s2.query_doc, s2.rank""".stripMargin,

    "ret_passage_topk" -> passageSql,
    "ret_passage_served" -> passageSql,
    "ret_passage_incremental" -> passageSql,
    "ret_passage_compacted" -> passageSql,

    "ret_granularity_agreement" ->
      s"""WITH $listsCte,
         |$passageCtes,
         |agc AS (
         |  SELECT s.query_doc, s.doc_id, s.rank AS rs, p.rank AS rp
         |  FROM stopk s JOIN ptopk p USING (query_doc, doc_id)
         |),
         |agp AS (
         |  SELECT a.query_doc,
         |         CASE WHEN (a.rs < b.rs) = (a.rp < b.rp)
         |              THEN 1 ELSE 0 END AS conc
         |  FROM agc a JOIN agc b
         |    ON a.query_doc = b.query_doc AND a.doc_id < b.doc_id
         |),
         |agg1 AS (
         |  SELECT query_doc, CAST(sum(conc) AS BIGINT) AS n_concordant,
         |         CAST(count(*) - sum(conc) AS BIGINT) AS n_discordant
         |  FROM agp GROUP BY query_doc
         |),
         |agn AS (
         |  SELECT query_doc, count(*) AS n_common FROM agc GROUP BY query_doc
         |)
         |SELECT n.query_doc, n.n_common,
         |       CAST(coalesce(g.n_concordant, 0) AS BIGINT) AS n_concordant,
         |       CAST(coalesce(g.n_discordant, 0) AS BIGINT) AS n_discordant,
         |       CAST(n.n_common AS DOUBLE) / ${TopK}.0 AS overlap
         |FROM agn n LEFT JOIN agg1 g USING (query_doc)
         |ORDER BY query_doc""".stripMargin,

    "ret_context_pack" ->
      s"""WITH $listsCte,
         |${graft.sim.SimilarityQueries.ivfpqMultiCtes(QueryDocs, TopK)},
         |$fusedCte,
         |ctoks AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |           x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM cfused)
         |)
         |SELECT query_doc, rank, doc_id, n_tokens, cum_tokens,
         |       cum_tokens <= $ContextBudget AS kept
         |FROM (
         |  SELECT f.query_doc, f.rank, f.doc_id, t.n_tokens,
         |         CAST(sum(t.n_tokens) OVER (PARTITION BY f.query_doc
         |           ORDER BY f.rank) AS BIGINT) AS cum_tokens
         |  FROM cfused f JOIN ctoks t USING (doc_id)
         |)
         |ORDER BY query_doc, rank""".stripMargin,

    "ret_result_dedup" ->
      s"""WITH $listsCte,
         |${graft.sim.SimilarityQueries.ivfpqMultiCtes(QueryDocs, TopK)},
         |$fusedCte,
         |rvec AS (
         |  SELECT f.query_doc, f.rank, f.doc_id, e.embedding
         |  FROM cfused f JOIN embeddings e ON e.vec_id = f.doc_id
         |),
         |rsup AS (
         |  SELECT a.query_doc, a.doc_id, arg_min(b.doc_id, b.rank) AS dup_of
         |  FROM rvec a JOIN rvec b
         |    ON a.query_doc = b.query_doc AND b.rank < a.rank
         |  WHERE ${Ora.cos64("a.embedding", "b.embedding")}
         |          >= $ResultDedupCos
         |  GROUP BY a.query_doc, a.doc_id
         |)
         |SELECT f.query_doc, f.rank, f.doc_id,
         |       (s.dup_of IS NULL) AS kept, s.dup_of
         |FROM cfused f LEFT JOIN rsup s USING (query_doc, doc_id)
         |ORDER BY query_doc, rank""".stripMargin,

    "ret_filtered_dense" ->
      s"""WITH fq AS (
         |  SELECT e.vec_id AS query_doc, e.embedding AS q_emb,
         |         d.source AS q_source
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |  WHERE e.vec_id IN $qdocs
         |),
         |fcand AS MATERIALIZED (
         |  SELECT q.query_doc, e.vec_id AS doc_id,
         |         ${Ora.cos64("e.embedding", "q.q_emb")} AS cos_sim
         |  FROM embeddings e
         |  JOIN documents d ON e.vec_id = d.doc_id
         |  JOIN fq q ON d.source = q.q_source AND e.vec_id <> q.query_doc
         |),
         |fnel AS (
         |  SELECT query_doc, count(*) AS n_eligible
         |  FROM fcand GROUP BY query_doc
         |)
         |SELECT c.query_doc, c.rank, c.doc_id, c.cos_sim, n.n_eligible
         |FROM (
         |  SELECT query_doc, doc_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_doc
         |           ORDER BY cos_sim DESC, doc_id) AS rank
         |  FROM fcand
         |) c JOIN fnel n USING (query_doc)
         |WHERE c.rank <= $TopK
         |ORDER BY query_doc, rank""".stripMargin,

    "ret_filtered_bm25" ->
      s"""WITH $listsCte,
         |fbs AS (
         |  SELECT query_doc, doc_id, count(*) AS n_terms,
         |         CAST(sum(c) AS BIGINT) AS score_fp
         |  FROM contrib GROUP BY query_doc, doc_id
         |),
         |fbq AS (
         |  SELECT doc_id AS query_doc, source AS q_source
         |  FROM documents WHERE doc_id IN $qdocs
         |),
         |fbf AS MATERIALIZED (
         |  SELECT f.query_doc, f.doc_id, f.n_terms, f.score_fp
         |  FROM fbs f
         |  JOIN documents d ON f.doc_id = d.doc_id
         |  JOIN fbq q ON f.query_doc = q.query_doc
         |            AND d.source = q.q_source
         |),
         |fbn AS (
         |  SELECT query_doc, count(*) AS n_eligible
         |  FROM fbf GROUP BY query_doc
         |)
         |SELECT c.query_doc, c.rank, c.doc_id, c.n_terms, c.score_fp,
         |       CAST(c.score_fp AS DOUBLE) / ${Scale}.0 AS score,
         |       n.n_eligible
         |FROM (
         |  SELECT query_doc, doc_id, n_terms, score_fp,
         |         row_number() OVER (PARTITION BY query_doc
         |           ORDER BY score_fp DESC, doc_id) AS rank
         |  FROM fbf
         |) c JOIN fbn n USING (query_doc)
         |WHERE c.rank <= $TopK
         |ORDER BY query_doc, rank""".stripMargin,

    "ret_mmr_rerank" -> mmrSql,

    "ret_phrase_search" ->


      s"""WITH toksq AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS tk
         |  FROM documents
         |),
         |bigpos AS (
         |  SELECT doc_id, tk, unnest(range(greatest(len(tk) - 1, 0))) AS p
         |  FROM toksq
         |),
         |big AS (
         |  SELECT doc_id, w1, w2, count(*) AS n_occ FROM (
         |    SELECT doc_id,
         |           tk[CAST(p + 1 AS INT)] AS w1,
         |           tk[CAST(p + 2 AS INT)] AS w2
         |    FROM bigpos
         |  ) WHERE w1 <> '' AND w2 <> ''
         |  GROUP BY doc_id, w1, w2
         |),
         |ph AS (
         |  SELECT query_doc, w1, w2 FROM (
         |    SELECT doc_id AS query_doc, w1, w2,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY n_occ DESC, w1, w2) AS rn
         |    FROM big WHERE doc_id IN $qdocs
         |  ) WHERE rn = 1
         |)
         |SELECT query_doc, phrase, rank, doc_id, n_occurrences FROM (
         |  SELECT ph.query_doc, ph.w1 || ' ' || ph.w2 AS phrase,
         |         b.doc_id, b.n_occ AS n_occurrences,
         |         row_number() OVER (PARTITION BY ph.query_doc
         |           ORDER BY b.n_occ DESC, b.doc_id) AS rank
         |  FROM big b JOIN ph ON b.w1 = ph.w1 AND b.w2 = ph.w2
         |  WHERE b.doc_id <> ph.query_doc
         |) WHERE rank <= $TopK
         |ORDER BY query_doc, rank""".stripMargin,

    "ret_index_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
         |    FROM documents
         |  ) WHERE term <> '' GROUP BY doc_id, term
         |),
         |dfq AS (SELECT term, count(*) AS df FROM t GROUP BY term),
         |rkd AS (
         |  -- NULL-skip guard to mirror Spark percentile's rank space
         |  -- (df is never NULL here; kept for scaffold uniformity).
         |  SELECT df, row_number() OVER (ORDER BY df) AS rn,
         |         count(*) OVER () AS n
         |  FROM dfq WHERE df IS NOT NULL
         |),
         |pq AS (
         |  SELECT ${graft.oracle.Ora.pct("df", "0.5")} AS df_p50,
         |         ${graft.oracle.Ora.pct("df", "0.9")} AS df_p90
         |  FROM rkd GROUP BY n
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_terms,
         |       CAST(sum(df) AS BIGINT) AS n_postings,
         |       CAST(max(df) AS BIGINT) AS max_df,
         |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS singleton_terms,
         |       (SELECT df_p50 FROM pq) AS df_p50,
         |       (SELECT df_p90 FROM pq) AS df_p90
         |FROM dfq""".stripMargin,

    "ret_ndcg_eval" ->
      s"""WITH $listsCte,
         |lists AS (
         |  SELECT 'sparse' AS method, query_doc, rank, doc_id FROM stopk
         |  UNION ALL
         |  SELECT 'dense', query_doc, rank, doc_id FROM dtopk
         |  UNION ALL
         |  SELECT 'rrf', query_doc, rank, doc_id FROM rtopk
         |),
         |ql AS (SELECT vec_id AS query_doc, label AS q_label
         |       FROM embeddings WHERE vec_id IN $qdocs),
         |nrel AS (
         |  SELECT ql.query_doc, count(*) AS n_rel
         |  FROM embeddings e JOIN ql
         |    ON e.label = ql.q_label AND e.vec_id <> ql.query_doc
         |  GROUP BY ql.query_doc
         |),
         |dcg AS (
         |  SELECT l.method, l.query_doc,
         |         CAST(sum(CASE WHEN e.label = ql.q_label THEN 1 ELSE 0 END
         |           * ($dcgWSql)[l.rank]) AS BIGINT) AS dcg_fp
         |  FROM lists l
         |  JOIN ql USING (query_doc)
         |  LEFT JOIN embeddings e ON l.doc_id = e.vec_id
         |  GROUP BY l.method, l.query_doc
         |)
         |SELECT query_doc, method, n_rel, dcg_fp,
         |       ($dcgPSql)[least($TopK, n_rel)] AS idcg_fp,
         |       CAST(dcg_fp AS DOUBLE)
         |         / CAST(($dcgPSql)[least($TopK, n_rel)] AS DOUBLE) AS ndcg
         |FROM dcg JOIN nrel USING (query_doc)
         |ORDER BY query_doc, method""".stripMargin)
}
