package graft.retrieval

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.IvfPqIndex

/** The ranked-retrieval family's own hardening (round-8: the family
  * shipped bare in round 7): list invariants, the single-build contract
  * for the eval query, the served-hybrid plan shape, and the BM25
  * overflow guard.
  */
class RetrievalQueriesSpec extends SparkSpec {

  import RetrievalQueries._

  test("top-k lists: ranks are 1..k contiguous per query, scores ordered") {
    for ((name, scoreCol) <- Seq(
        ("ret_bm25_topk", "score"),
        ("ret_dense_topk", "cos_sim"),
        ("ret_rrf_fusion", "rrf_score"),
        ("ret_hybrid_served", "rrf_score"))) {
      val rows = queries(name)(spark, sf)
        .select("query_doc", "rank", scoreCol).collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.keySet == QueryDocs.toSet, s"$name query set")
      for ((q, rs) <- byQ) {
        val ranks = rs.map(_.getLong(1)).sorted.toSeq
        assert(ranks == (1L to ranks.size).toSeq, s"$name q=$q ranks=$ranks")
        val scores = rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
        assert(scores == scores.sorted.reverse, s"$name q=$q not score-ordered")
      }
    }
  }

  test("ret_bm25_topk: scores carry the fixed-point relation and exclude " +
      "the query doc") {
    val rows = queries("ret_bm25_topk")(spark, sf).collect()
    rows.foreach { r =>
      val (q, d) = (r.getLong(0), r.getLong(2))
      assert(q != d, "query doc must not retrieve itself")
      assert(r.getDouble(5) == r.getLong(4).toDouble / Scale.toDouble,
        "score must be score_fp / Scale exactly")
    }
  }

  test("ndcg eval builds the sparse and dense pipelines exactly once " +
      "(ADVICE r7: they were built twice through rrfFusion)") {
    val t0 = tfBuilds.get()
    val d0 = denseBuilds.get()
    queries("ret_ndcg_eval")(spark, sf).collect()
    assert(tfBuilds.get() - t0 == 1,
      s"corpus was tokenized ${tfBuilds.get() - t0} times, want 1")
    assert(denseBuilds.get() - d0 == 1,
      s"dense pipeline built ${denseBuilds.get() - d0} times, want 1")
  }

  test("ndcg values: 0 <= ndcg <= 1, three methods per query") {
    val rows = queries("ret_ndcg_eval")(spark, sf).collect()
    assert(rows.length == QueryDocs.size * 3)
    rows.foreach { r =>
      val ndcg = r.getDouble(5)
      assert(ndcg >= 0.0 && ndcg <= 1.0, s"ndcg out of range: $ndcg")
      assert(r.getLong(3) <= DcgPrefix.last * TopK, "dcg_fp bound")
    }
  }

  test("hybrid served: dense leg comes from the persisted index — no " +
      "training stages, pruned codes scan, no corpus-embedding read") {
    val ann = IvfPqIndex.serveMulti(spark, sf, QueryDocs, TopK)
    val p = ann.queryExecution.executedPlan.toString
    // the query embeddings are checkpointed and the probed cells are
    // literals: the served plan reads ONLY index tables
    assert(!p.contains("embeddings.parquet"),
      "serving must not scan the corpus embeddings:\n" + p.take(2000))
    assert(p.contains("PartitionFilters"),
      "codes scan must carry literal cell predicates:\n" + p.take(2000))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 2,
      s"cell-pair and LUT joins should broadcast, got $nBroadcast")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("hybrid served fuses the SAME lists the index serves") {
    val ann = IvfPqIndex.serveMulti(spark, sf, QueryDocs, TopK)
      .select(col("query_doc"), col("doc_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fused = queries("ret_hybrid_served")(spark, sf).collect()
    val sparse = queries("ret_bm25_topk")(spark, sf)
      .select(col("query_doc"), col("doc_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val (inSparse, inDense) = (r.getBoolean(4), r.getBoolean(5))
      assert(inSparse == sparse.contains(key), s"in_sparse flag at $key")
      assert(inDense == ann.contains(key), s"in_dense flag at $key")
      val expect =
        sparse.get(key).map(rk => 1.0 / (RrfK + rk)).getOrElse(0.0) +
          ann.get(key).map(rk => 1.0 / (RrfK + rk)).getOrElse(0.0)
      assert(r.getDouble(3) == expect, s"rrf_score at $key")
    }
  }

  test("fully-indexed hybrid: the whole plan touches NO corpus table — " +
      "both legs serve from persisted indexes") {
    val df = queries("ret_hybrid_indexed")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"),
      "sparse leg must come from the inverted index:\n" + p.take(2000))
    assert(!p.contains("embeddings.parquet"),
      "dense leg must come from the IVF-PQ index:\n" + p.take(2000))
    // and it returns exactly what the exact-sparse hybrid returns
    val a = queries("ret_hybrid_served")(spark, sf).collect().toSeq
    val b = df.collect().toSeq
    assert(a == b, "served-BM25 fusion must equal exact-BM25 fusion")
  }

  test("bm25 candidate generation: no cartesian, keyword and df joins " +
      "broadcast") {
    val p = queries("ret_bm25_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "corpus x queries product is forbidden:\n" + p.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("snippet spans: anchored-window optimality against brute force") {
    val kw = SparseIndex.queryKeywords(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = queries("ret_snippet_spans")(spark, sf).collect()
    assert(rows.length == QueryDocs.size * SnippetDocs)
    rows.foreach { r =>
      val (q, d) = (r.getLong(0), r.getLong(2))
      val (start, hits) = (r.getLong(3), r.getLong(4))
      val toks = texts(d).split("\\s+", -1)
      val qTerms = kw.filter(_._1 == q).map(_._2).toSet
      val ps = toks.indices.filter(i => qTerms.contains(toks(i)))
      assert(ps.nonEmpty, s"candidate ($q,$d) must contain a keyword")
      // brute force over anchored windows
      def hitsAt(st: Int) = ps.count(p => p >= st && p < st + SnippetWindow)
      val bestBrute = ps.map(st => (-hitsAt(st), st)).min
      assert(hits == -bestBrute._1 && start == bestBrute._2,
        s"($q,$d): got ($start,$hits), brute ${(bestBrute._2, -bestBrute._1)}")
    }
  }

  test("phrase search: adjacency counts match a brute-force scan and the " +
      "phrase is the query doc's modal bigram") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bigrams(t: String): Seq[(String, String)] = {
      val tk = t.split("\\s+", -1)
      tk.indices.dropRight(1).map(i => (tk(i), tk(i + 1)))
        .filter(p => p._1.nonEmpty && p._2.nonEmpty)
    }
    val rows = queries("ret_phrase_search")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    for ((q, rs) <- byQ) {
      // the chosen phrase is the query doc's most frequent bigram
      // under the (count desc, lexical) tie-break
      val counts = bigrams(texts(q)).groupBy(identity)
        .map { case (b, os) => (b, os.size) }
      val modal = counts.toSeq.map { case ((a, b), n) => (-n, a, b) }.min
      val phrase = rs.head.getString(1)
      assert(phrase == s"${modal._2} ${modal._3}", s"q=$q phrase=$phrase")
      // every reported occurrence count matches a brute-force recount
      rs.foreach { r =>
        val d = r.getLong(3)
        val brute = bigrams(texts(d)).count(_ == ((modal._2, modal._3)))
        assert(r.getLong(4) == brute, s"($q,$d) count")
        assert(d != q)
      }
    }
  }

  test("index stats are internally consistent") {
    val r = queries("ret_index_stats")(spark, sf).head()
    val (nTerms, nPost, maxDf, singles) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nTerms > 0 && nPost >= nTerms && maxDf >= 1)
    assert(singles <= nTerms)
    assert(r.getDouble(4) <= r.getDouble(5), "p50 <= p90")
    assert(r.getDouble(5) <= maxDf.toDouble)
  }

  test("prf expansion: the term is new, and scores only grow — every " +
      "BM25 contribution is positive") {
    val base = queries("ret_bm25_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(4)).toMap
    val rows = queries("ret_prf_expand")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the expansion term is not one of the query's own keywords
    val kw = SparseIndex.queryKeywords(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    rows.foreach { r =>
      val q = r.getLong(0)
      assert(!kw.contains((q, r.getString(6))),
        s"q=$q expansion ${r.getString(6)} is already a keyword")
      // adding a term can only add positive integer contributions, so a
      // doc present in both lists scores at least its original fp
      base.get((q, r.getLong(2))).foreach { orig =>
        assert(r.getLong(4) >= orig, s"($q,${r.getLong(2)}) score shrank")
      }
    }
    // the expansion changed at least one query's ranking or membership
    val prfPairs = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(prfPairs != base.keySet || rows.exists(r =>
      base((r.getLong(0), r.getLong(2))) != r.getLong(4)),
      "expansion had no observable effect — vacuous on this fixture")
  }

  test("prf rescore reuses the checkpointed tokenize: ONE tf build, and " +
      "the final plan never re-tokenizes the corpus") {
    val t0 = tfBuilds.get()
    val df = queries("ret_prf_expand")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    df.collect()
    assert(tfBuilds.get() - t0 == 1,
      s"prf tokenized the corpus ${tfBuilds.get() - t0} times, want 1")
    // both scoring rounds read the checkpointed (doc,term,tf) RDD; the
    // only documents.parquet touches left are metadata-count scans for N
    assert(!p.contains("explode"),
      "rescore plan re-tokenizes the corpus:\n" + p.take(2000))
  }

  test("passage top-k: contiguous ranks, MaxP ordering, chunks carry " +
      "query terms, and the query doc never retrieves itself") {
    val rows = queries("ret_passage_topk")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == QueryDocs.toSet)
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
      // MaxP: docs ordered by best-chunk fixed-point score
      val fps = sorted.map(_.getLong(5)).toSeq
      assert(fps == fps.sorted.reverse, s"q=$q not MaxP-ordered: $fps")
      sorted.foreach { r =>
        assert(r.getLong(2) != q, "query doc retrieved itself")
        assert(r.getLong(3) >= 0L, "negative chunk index")
        assert(r.getLong(4) >= 1L, "winning chunk carries no query term")
        assert(r.getDouble(6) ==
          r.getLong(5).toDouble / Scale.toDouble, "score grid relation")
      }
    }
  }

  test("passage plan: ONE corpus tokenize feeds chunk and doc stats; " +
      "keyword candidates join by broadcast") {
    val df = queries("ret_passage_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scans = "documents\\.parquet".r.findAllIn(p).length
    // the posting pipeline reads the checkpointed chunk table; the only
    // extra documents touches are the keyword N metadata-count scans
    assert("posexplode|Generate".r.findAllIn(p).isEmpty,
      "chunk postings must come from the checkpointed positional " +
        "tokenize, not a re-tokenize:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(scans <= 2, s"documents scanned $scans times:\n" + p.take(2000))
  }

  test("served passage index: bit-identical lists, and the serving plan " +
      "touches NO corpus table and never tokenizes") {
    val exact = queries("ret_passage_topk")(spark, sf).collect().toSeq
    val df = queries("ret_passage_served")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val served = df.collect().toSeq
    assert(served.map(_.toSeq) == exact.map(_.toSeq),
      "served passage lists diverge from the exact path")
    assert(!p.contains("documents.parquet"),
      "serving must not read the corpus:\n" + p.take(2000))
    assert("posexplode|Generate".r.findAllIn(p).isEmpty,
      "serving must not tokenize:\n" + p.take(2000))
    // every scan in the plan is an index-table scan
    assert("FileScan parquet".r.findAllIn(p).nonEmpty ||
      "Scan parquet".r.findAllIn(p).nonEmpty, p.take(2000))
  }

  test("mmr rerank: a permutation of the dense top-k, first pick is the " +
      "most relevant, scores non-increasing from step 2") {
    val dense = queries("ret_dense_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    val rows = queries("ret_mmr_rerank")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == QueryDocs.toSet)
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
      // same doc set as the dense list, with matching rank/relevance
      sorted.foreach { r =>
        val (dRank, rel) = dense((q, r.getLong(2)))
        assert(r.getLong(3) == dRank && r.getDouble(4) == rel,
          s"q=$q doc=${r.getLong(2)} dense metadata mismatch")
      }
      assert(sorted.map(_.getLong(2)).toSet ==
        dense.keys.filter(_._1 == q).map(_._2).toSet, s"q=$q not a permutation")
      // greedy argmax: the first pick is dense rank 1, and from step 2 on
      // the selected score can only shrink (the penalty set only grows)
      assert(sorted.head.getLong(3) == 1L, "first pick must be most relevant")
      val tail = sorted.drop(1).map(_.getDouble(5)).toSeq
      assert(tail == tail.sorted.reverse, s"q=$q scores not non-increasing")
    }
    // diversification is non-vacuous on this fixture: some query's mmr
    // order differs from its dense order
    assert(rows.exists(r => r.getLong(1) != r.getLong(3)),
      "MMR never reordered — vacuous fixture")
  }

  test("context pack: running totals are exact, kept is the maximal " +
      "prefix, and the budget actually bites on this fixture") {
    val rows = queries("ret_context_pack")(spark, sf).collect()
    assert(rows.groupBy(_.getLong(0)).keySet == QueryDocs.toSet)
    for ((q, rs) <- rows.groupBy(_.getLong(0))) {
      val sorted = rs.sortBy(_.getLong(1))
      var cum = 0L
      var stillKept = true
      sorted.foreach { r =>
        cum += r.getLong(3)
        assert(r.getLong(4) == cum, s"q=$q cum drift at rank ${r.getLong(1)}")
        val kept = r.getBoolean(5)
        assert(kept == (cum <= ContextBudget), s"q=$q kept rule")
        // kept is a prefix: once false, never true again
        assert(stillKept || !kept, s"q=$q kept re-opened")
        stillKept = kept
      }
    }
    assert(rows.exists(_.getBoolean(5)), "budget kept nothing — vacuous")
    assert(rows.exists(!_.getBoolean(5)), "budget excluded nothing — vacuous")
  }

  test("passage lifecycle: base+delta and compacted serves are " +
      "bit-identical to the full-build serve, and compaction recovers " +
      "from a lost marker") {
    val full = queries("ret_passage_served")(spark, sf).collect().map(_.toSeq)
    val inc = queries("ret_passage_incremental")(spark, sf)
      .collect().map(_.toSeq)
    val comp = queries("ret_passage_compacted")(spark, sf)
      .collect().map(_.toSeq)
    assert(inc.toSeq == full.toSeq, "incremental serve diverges")
    assert(comp.toSeq == full.toSeq, "compacted serve diverges")
    // crash window: the marker is lost after the tables landed — the
    // next serve must re-run the (idempotent, base-range-selected)
    // merge and produce the same lists
    val marker = new java.io.File(PassageIndex.compactDelta(spark, sf),
      graft.sources.IndexCache.Marker)
    assert(marker.delete(), "marker should exist after compaction")
    val again = queries("ret_passage_compacted")(spark, sf)
      .collect().map(_.toSeq)
    assert(again.toSeq == full.toSeq, "post-crash recompaction diverges")
  }

  test("filtered dense: every hit shares the query's source facet and " +
      "the filter genuinely changes the list") {
    val srcOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = queries("ret_filtered_dense")(spark, sf).collect()
    assert(rows.groupBy(_.getLong(0)).keySet == QueryDocs.toSet)
    rows.foreach { r =>
      assert(srcOf(r.getLong(2)) == srcOf(r.getLong(0)),
        s"hit ${r.getLong(2)} outside the facet")
      assert(r.getLong(4) >= r.getLong(1), "n_eligible below rank")
    }
    // pre-filter semantics matter: the filtered list differs from a
    // post-filtered unfiltered list for at least one query
    val unf = queries("ret_dense_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows.exists(r => !unf.contains((r.getLong(0), r.getLong(2)))),
      "filtered top-k is a subset of the unfiltered list — vacuous facet")
  }

  test("filtered bm25: facet containment, global-stat scores match the " +
      "unfiltered chain, pre-filter semantics bite") {
    val srcOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val unf = queries("ret_bm25_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(4)).toMap
    val rows = queries("ret_filtered_bm25")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(srcOf(r.getLong(2)) == srcOf(r.getLong(0)), "facet containment")
      // global stats: a doc in both lists carries the identical score_fp
      unf.get((r.getLong(0), r.getLong(2))).foreach { fp =>
        assert(fp == r.getLong(4), "facet must not change the score")
      }
      assert(r.getLong(6) >= r.getLong(1), "n_eligible below rank")
    }
    // the facet admits candidates the unfiltered top-k cut off
    assert(rows.exists(r => !unf.contains((r.getLong(0), r.getLong(2)))),
      "filtered list is a subset of the unfiltered top-k — vacuous facet")
  }

  test("result dedup: rank-1 always survives, suppressors outrank their " +
      "suppressed rows, and the gate actually bites") {
    val rows = queries("ret_result_dedup")(spark, sf).collect()
    val rankOf = rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1))
      .toMap
    assert(rows.groupBy(_.getLong(0)).keySet == QueryDocs.toSet)
    rows.foreach { r =>
      val kept = r.getBoolean(3)
      assert(kept == r.isNullAt(4), "kept XOR dup_of")
      if (r.getLong(1) == 1L) assert(kept, "rank 1 suppressed")
      if (!kept) {
        val supRank = rankOf((r.getLong(0), r.getLong(4)))
        assert(supRank < r.getLong(1),
          s"suppressor rank $supRank !< ${r.getLong(1)}")
      }
    }
    assert(rows.exists(!_.getBoolean(3)), "gate suppressed nothing — vacuous")
  }

  test("granularity agreement: counts reconcile with a driver-side " +
      "recomputation from the two lists") {
    val sp = queries("ret_bm25_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val pp = queries("ret_passage_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val rows = queries("ret_granularity_agreement")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getLong(0)
      val common = sp.keySet.intersect(pp.keySet).filter(_._1 == q).map(_._2)
      assert(r.getLong(1) == common.size.toLong, s"q=$q n_common")
      val pairs = for {
        d1 <- common.toSeq; d2 <- common.toSeq if d1 < d2
      } yield (sp((q, d1)) < sp((q, d2))) == (pp((q, d1)) < pp((q, d2)))
      assert(r.getLong(2) == pairs.count(identity).toLong, s"q=$q concordant")
      assert(r.getLong(3) == pairs.count(!_).toLong, s"q=$q discordant")
      assert(r.getDouble(4) == common.size.toDouble / TopK, s"q=$q overlap")
    }
  }

  test("the BM25 overflow guard fails loudly on a pathological corpus") {
    // stats whose worst factor chain exceeds int64: the guard must
    // refuse at build time instead of letting Spark wrap silently
    // decimal(38,0) bound: tl·mtf products past 38 digits must refuse
    val e = intercept[IllegalArgumentException] {
      RetrievalQueries.checkBm25Bound(n = BigInt(2),
        tl = BigInt("20000000000000000001"), mtf = BigInt("2000000000000000000"))
    }
    assert(e.getMessage.contains("overflow"), e.getMessage)
    // int64 sub-expression bound: 22·tf must fit a long even when the
    // 128-bit products would
    val e2 = intercept[IllegalArgumentException] {
      RetrievalQueries.checkBm25Bound(n = BigInt(2), tl = BigInt(10),
        mtf = BigInt("500000000000000000"))
    }
    assert(e2.getMessage.contains("overflow"), e2.getMessage)
    // the 30× rehearsal's corpus stats — the int64 chain's failure point
    // (round 9) — now sit comfortably under the widened bound
    RetrievalQueries.checkBm25Bound(n = BigInt(150000),
      tl = BigInt(8121120), mtf = BigInt(14))
    // and the real fixtures sit comfortably under the bound
    queries("ret_bm25_topk")(spark, sf).collect()
  }

  test("the headroom guard aggregates corpus stats once per corpus, " +
      "not once per query") {
    import org.apache.spark.sql.functions._
    val t = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    RetrievalQueries.assertBm25Headroom(spark, sf, t)
    val after = RetrievalQueries.headroomAggs.get()
    RetrievalQueries.assertBm25Headroom(spark, sf, t)
    RetrievalQueries.assertBm25Headroom(spark, sf, t)
    assert(RetrievalQueries.headroomAggs.get() === after,
      "repeat guard calls on an unchanged corpus re-aggregated")
  }
}
