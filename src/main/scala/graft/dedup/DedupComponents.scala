package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over the near-duplicate pair graph — the step that
  * turns pairwise dedup hits into keep/drop decisions: every document in a
  * component keeps the component's minimum doc_id as its canonical
  * representative, and only the representative survives.
  *
  * Implementation is iterative min-label propagation on DataFrames: each
  * round every vertex takes the min of its own label and its neighbors'
  * labels; convergence in O(component diameter) rounds (near-dup
  * components are overwhelmingly small cliques → 1–2 rounds). Each round
  * is one shuffle join, materialized per round via [[graft.Materialize]]
  * (default `localCheckpoint` plan truncation; persist/reliable modes for
  * preemptible clusters — see the helper's scaladoc). This
  * is the same computation GraphX's connectedComponents runs, expressed on
  * Datasets so it stays inside Catalyst/Tungsten.
  */
object DedupComponents extends graft.QueryModule {

  /** edges: (doc_a, doc_b) undirected. Returns (doc_id, component). */
  def components(edges: DataFrame): DataFrame = {
    // checkpoint the edge derivation BEFORE the two-orientation union —
    // without this the caller's whole pair pipeline (e.g. the Jaccard
    // posting-list join) appears as two subtrees of the union and is
    // computed twice in the adj job
    val e = edges.transform(graft.Materialize(_))
    componentsFromAdj(adjacency(e))
  }

  /** Materialized two-orientation adjacency of a (checkpointed) canonical
    * edge list. */
  private def adjacency(e: DataFrame): DataFrame =
    e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .transform(graft.Materialize(_))

  /** Round cap shared by the label-propagation, star-contraction and
    * BFS loops: a runaway guard, far above the few rounds near-dup
    * components need. */
  val MaxRounds = 50

  private def componentsFromAdj(adj: DataFrame): DataFrame = {
    // carry a changed flag instead of re-joining the old labels: one
    // materialization (localCheckpoint) and one cheap count per round
    var changed = 1L
    val (labels, rounds) = graft.Materialize.iterate(
        adj.select(col("src").as("id")).distinct()
          .withColumn("label", col("id")), MaxRounds) { labels =>
      val nbrMin = adj
        .join(labels.select(col("id").as("dst_id"), col("label")),
          col("dst") === col("dst_id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      val label = least(col("label"), coalesce(col("nbr_label"), col("label")))
      labels
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), label.as("label"),
          (label =!= col("label")).as("changed"))
    } { (_, next) =>
      changed = next.filter(col("changed")).count()
      changed == 0L
    }
    // The round cap is a runaway guard, not a silent truncation: the
    // documented loudness contract (a too-small oracle unroll mismatches
    // because Spark reached the TRUE fixed point) only holds if we refuse
    // to return an unconverged labeling here.
    require(changed == 0L,
      s"componentsFromAdj: not converged after $rounds rounds " +
        s"($changed labels still changing) — component eccentricity " +
        "exceeds the cap; raise it or use componentsStar for this graph")
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }

  /** Alternating large-star/small-star connected components — the
    * O(log² n)-round contraction algorithm for web-scale graphs (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC '14).
    *
    * Label propagation converges in O(component diameter) rounds, which
    * is fine for near-dup cliques (diameter 1–2) but degenerates on the
    * long chains a crawl-link or citation graph can contain — a
    * 10 000-hop path costs 10 000 shuffles. Star contraction instead
    * halves every path each alternation, so rounds stay logarithmic in
    * the component size regardless of topology:
    *
    *   large-star: every node connects its LARGER neighbors to the
    *     minimum of its neighborhood (keeps the graph connected while
    *     pulling high ids toward local minima);
    *   small-star: every node connects its smaller-or-equal neighbors
    *     to that minimum (collapses the remaining short hops).
    *
    * Each half-round is one groupBy + one broadcast-free join — the same
    * per-round shuffle cost as one label-propagation round, and the edge
    * set shrinks monotonically toward the final star, so later rounds
    * move less data. The fixed point is exactly one star per component,
    * centered on the component's minimum id.
    */
  private[graft] def componentsStarWithRounds(edges: DataFrame): (DataFrame, Int) = {
    // materialize the caller's edge derivation ONCE: the vertex set and
    // the canonical edge set are three subtrees over it, and an
    // un-checkpointed pair cascade (the usual caller) would re-run per
    // subtree (measured: 5.9 s vs 2.5 s on the Jaccard pair input)
    val src = edges.transform(graft.Materialize(_))
    // every vertex incident to ANY input edge — kept aside so vertices
    // whose only edges are self-loops still label themselves, exactly as
    // the label-propagation twin does (its adjacency retains (v, v))
    // lazy: consumed exactly once (the final labeling join), and its
    // upstream is the already-checkpointed `src` — a second eager
    // materialization here would be one extra job for no reuse
    val verts = src.select(col("doc_a").as("id"))
      .unionByName(src.select(col("doc_b").as("id")))
      .distinct()
    // canonical undirected edge set, no self-loops
    var e = src
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .transform(graft.Materialize(_))
    // order-free edge-set signature: count + XOR-checksum of the
    // canonical pairs (XOR never overflows under ANSI mode; the pairs are
    // distinct so cancellation can't mask a change; collision odds ~2^-64
    // and the round cap backstops even that); carried across rounds so
    // each round pays ONE tiny agg job
    def signature(df: DataFrame): (Long, Long) = {
      val r = df
        .agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(col("lo"), col("hi"))), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(e)
    var rounds = 0
    var converged = sig._1 == 0L
    while (!converged && rounds < MaxRounds) {
      // large-star: per node x, m = min(N(x) ∪ {x}); edge (nbr, m) for
      // every nbr > x. m ≤ x < nbr keeps the (lo, hi) orientation.
      val adj = e.select(col("lo").as("x"), col("hi").as("nbr"))
        .unionByName(e.select(col("hi").as("x"), col("lo").as("nbr")))
      val mLarge = adj.groupBy("x")
        .agg(least(min(col("nbr")), first(col("x"))).as("m"))
      val large = adj.join(mLarge, "x")
        .filter(col("nbr") > col("x"))
        .select(col("m").as("lo"), col("nbr").as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
        .transform(graft.Materialize(_))
      // small-star: orient larger→smaller, m = min neighbor of x; edge
      // (v, m) for every smaller neighbor v plus x itself.
      val dirSmall = large.select(col("hi").as("x"), col("lo").as("nbr"))
      val mSmall = dirSmall.groupBy("x").agg(min(col("nbr")).as("m"))
      val small = dirSmall.join(mSmall, "x")
        .select(col("m").as("lo"), col("nbr").as("hi"))
        .unionByName(mSmall.select(col("m").as("lo"), col("x").as("hi")))
        .filter(col("lo") =!= col("hi"))
        .distinct()
        .transform(graft.Materialize(_))
      // fixed point: the star set is invariant under both half-rounds
      val next = signature(small)
      converged = next == sig
      sig = next
      graft.Materialize.release(large) // consumed building `small`
      graft.Materialize.release(e)     // superseded by `small`
      e = small
      rounds += 1
    }
    // final stars: hi → lo is the component label; centers label
    // themselves; vertices the self-loop filter isolated come back as
    // their own singleton components (left join over the vertex set)
    val starred = e.select(col("hi").as("doc_id"), col("lo").as("component"))
      .unionByName(e.select(col("lo").as("doc_id"), col("lo").as("component")))
      .distinct()
    val labels = verts
      .join(starred, verts("id") === starred("doc_id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("component"), col("id")).as("component"))
    (labels, rounds)
  }

  def componentsStar(edges: DataFrame): DataFrame =
    componentsStarWithRounds(edges)._1

  /** Level-synchronous multi-source BFS: hop distance of every vertex
    * from its component's canonical representative. With unit edge
    * weights a vertex's first-reached round IS its minimum hop count, so
    * the loop stops as soon as the reached set stops growing; each round
    * is one join + one min-aggregate, checkpoint-truncated like the
    * label-propagation loop. Rounds = max eccentricity of a canonical
    * vertex (near-dup components are small cliques → 1-2). */
  def bfsFromCanonicals(edges: DataFrame): DataFrame = {
    val e = edges.transform(graft.Materialize(_))
    // one adjacency serves both the seed-finding label propagation and
    // the frontier expansion
    val adj = adjacency(e)
    var reached = componentsFromAdj(adj)
      .filter(col("doc_id") === col("component"))
      .select(col("doc_id").as("id"), lit(0L).as("hops"))
      .transform(graft.Materialize(_))
    // expand only the newest frontier: joining the whole reached set each
    // round would redo every earlier round's neighbor derivation (O(R×E)
    // total instead of O(E))
    var frontier = reached
    var grew = true
    var rounds = 0
    while (grew && rounds < MaxRounds) {
      val next = adj
        .join(frontier.withColumnRenamed("id", "src_id"),
          col("src") === col("src_id"))
        .select(col("dst").as("id"), (col("hops") + 1).as("hops"))
        .groupBy("id").agg(min("hops").as("hops"))
        .join(reached.select("id"), Seq("id"), "left_anti")
        .transform(graft.Materialize(_))
      grew = next.count() > 0
      if (grew) {
        val merged = reached.unionByName(next).transform(graft.Materialize(_))
        // release superseded frames (round 1: frontier eq reached — a
        // second release of the same frame is a harmless no-op)
        graft.Materialize.release(frontier)
        graft.Materialize.release(reached)
        reached = merged
        frontier = next
      }
      rounds += 1
    }
    reached.select(col("id").as("doc_id"), col("hops"))
  }

  /** Fixed-point grid for SSSP edge weights (2^20, the repo-wide scale). */
  val SsspFp = 1048576.0

  /** Hop cap shared by the relaxation loop and the recursive-CTE oracle:
    * the oracle explores paths of at most this many hops, so the Spark
    * loop must converge strictly under it (spec-pinned). Near-dup
    * components are small cliques — optimal paths are 1–3 hops. */
  val SsspMaxHops = 12

  /** Weighted multi-source SSSP (Bellman–Ford relaxation): the minimum
    * total DISSIMILARITY from every vertex to its component's canonical,
    * edge weight = 1 − jaccard quantized to the 2^-20 grid. Integer
    * weights make every path sum exact, so min comparisons agree with the
    * DuckDB recursive-CTE oracle bit-for-bit — no double accumulates
    * anywhere. Unlike hop-BFS, a later round can IMPROVE an
    * already-reached vertex (two strong near-dup hops can be cheaper than
    * one weak hop), so each round relaxes the FULL distance table and the
    * loop stops at the (count, sum) fixed point: distances only decrease
    * and the reached set only grows, so an unchanged signature means an
    * unchanged table. Each round is one join + one min-aggregate,
    * checkpoint-truncated like the components loop. */
  private[graft] def ssspFromCanonicalsWithRounds(
      scored: DataFrame): (DataFrame, Int) = {
    val e = scored.transform(graft.Materialize(_))
    val wgt = floor((lit(1.0) - col("jaccard")) * lit(SsspFp) + lit(0.5))
      .cast("long")
    val und = e
      .select(col("doc_a").as("s"), col("doc_b").as("d"), wgt.as("w"))
      .unionByName(
        e.select(col("doc_b").as("s"), col("doc_a").as("d"), wgt.as("w")))
      .transform(graft.Materialize(_))
    // order-free table signature: (row count, exact integer dist sum) —
    // both monotone under relaxation, so equality is a fixed point
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum("dist"), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var s0: (Long, Long) = null // carried: each round signs only `next`
    val (dist, rounds) = graft.Materialize.iterate(
        componentsFromAdj(adjacency(e.select("doc_a", "doc_b")))
          .filter(col("doc_id") === col("component"))
          .select(col("doc_id").as("id"), lit(0L).as("dist")),
        SsspMaxHops) { dist =>
      val relaxed = und
        .join(dist.withColumnRenamed("id", "sid"), col("s") === col("sid"))
        .select(col("d").as("id"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed).groupBy("id").agg(min("dist").as("dist"))
    } { (dist, next) =>
      if (s0 == null) s0 = sig(dist)
      val s1 = sig(next)
      val same = s1 == s0
      s0 = s1
      same
    }
    (dist.select(col("id").as("doc_id"),
      (col("dist").cast("double") / lit(SsspFp)).as("dist"))
      .orderBy("doc_id"), rounds)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // components of the exact-Jaccard near-dup graph + keep/drop verdict
    "dedup_components" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b")
      components(pairs)
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .orderBy("doc_id")
    }),

    // dup-cluster size histogram: how many components have k members —
    // the shape curation reads before choosing a keep policy (a corpus
    // of pairs dedups cheaply; a few giant clusters mean boilerplate or
    // a template farm, and the canonical-keep policy starts to matter).
    // Two component-sized rollups on top of the shared component
    // derivation; docs in no dup pair are singletons by definition and
    // reported as size 1 from the doc-count complement, so the
    // histogram conserves the whole corpus.
    "dedup_component_sizes" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b")
      val sizes = components(pairs)
        .groupBy("component").agg(count(lit(1)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_components"))
      val docTotal = s.read.parquet(s"$dir/documents.parquet")
        .agg(count(lit(1)).as("n_docs"))
      val inDup = sizes.agg(sum(col("k") * col("n_components")).as("n_in"))
      val singletons = docTotal.crossJoin(broadcast(inDup))
        .select(lit(1L).as("k"),
          (col("n_docs") - coalesce(col("n_in"), lit(0L)))
            .as("n_components"))
      sizes.unionByName(singletons)
        .groupBy("k").agg(sum("n_components").as("n_components"))
        .filter(col("n_components") > 0)
        .orderBy("k")
    }),

    // same components by alternating star contraction — the variant that
    // stays O(log² n) rounds on ANY topology (label propagation pays
    // O(diameter); identical on near-dup cliques, decisive on the long
    // chains of a crawl-scale link graph). Same output, same oracle.
    "dedup_components_star" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b")
      componentsStar(pairs)
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .orderBy("doc_id")
    }),

    // hop distance from each member to its canonical doc — the
    // chain-length signal behind a dedup verdict: hops = 1 is a direct
    // near-dup of the kept doc, hops ≥ 2 survives only transitively and
    // deserves a second look before dropping
    "graph_bfs_hops" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b")
      bfsFromCanonicals(pairs).orderBy("doc_id")
    }),

    // weighted twin of the hop distance: minimum accumulated
    // dissimilarity to the canonical — the confidence score behind a
    // transitive drop verdict (hops says HOW a doc reached the keep set;
    // dist says how much similarity evidence the chain actually carries)
    "graph_sssp_weighted" -> ((s, dir) => {
      val scored = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
      ssspFromCanonicalsWithRounds(scored)._1
    }),

    // degree histogram of the near-dup graph: how many docs have k
    // near-duplicates. The shape diagnostic a curator reads before
    // trusting a dedup pass — a heavy tail here means boilerplate hubs
    // (one template matching thousands), which the MaxPosting cap is
    // supposed to bound; the histogram makes that bound observable.
    // Scale shape: edges are already pair-capped upstream; two exact
    // integer aggregations (doc-sized, then degree-sized), no joins.
    "graph_degree_hist" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b")
      val und = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      und.groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }),

    // Degree assortativity of the near-dup graph: Pearson correlation of
    // endpoint degrees over the directed edge list (each undirected edge
    // counted in both orientations — the standard Newman estimator).
    // Positive ⇒ hubs link to hubs (template farms cross-matching),
    // negative ⇒ hubs link to leaves (one boilerplate matching many
    // unique docs) — which of the two dedup failure modes a corpus has.
    // All five moments are exact BIGINTs (degrees are posting-capped);
    // the two centered second moments are multiplied in DOUBLE (their
    // product can cross 2^63), then one sqrt and one division —
    // identical op order on both engines. Edge and degree tables are
    // dup-graph-sized, never corpus-sized.
    "graph_assortativity" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b").transform(graft.Materialize(_))
      val und = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val deg = und.groupBy(col("doc_a").as("v"))
        .agg(count(lit(1)).as("k"))
      val edges = und
        .join(deg.select(col("v").as("doc_a"), col("k").as("kx")), "doc_a")
        .join(deg.select(col("v").as("doc_b"), col("k").as("ky")), "doc_b")
      val agg = edges.agg(count(lit(1)).as("m"),
        sum("kx").as("sx"), sum("ky").as("sy"),
        sum(col("kx") * col("ky")).as("sxy"),
        sum(col("kx") * col("kx")).as("sxx"),
        sum(col("ky") * col("ky")).as("syy"))
      val num = col("m") * col("sxy") - col("sx") * col("sy")
      val dx = col("m") * col("sxx") - col("sx") * col("sx")
      val dy = col("m") * col("syy") - col("sy") * col("sy")
      agg.select(col("m").as("m_directed_edges"),
        when(dx === 0L || dy === 0L, lit(null).cast("double"))
          .otherwise(num.cast("double") /
            sqrt(dx.cast("double") * dy.cast("double")))
          .as("assortativity"))
    }),
  )

  /** Unroll depth of the non-recursive components oracle. Min-label
    * propagation reaches the component minimum in (eccentricity of the
    * min vertex) rounds; near-dup components are small cliques (1–3
    * hops), and the 10× ScaleUp fixture's copy-perturbed chains stay
    * within single digits, so 16 is a ≥5× margin. A too-small unroll is
    * LOUD, never silently wrong: the Spark side iterates to its true
    * fixed point, so unconverged oracle labels mismatch at the gate. */
  val ComponentsUnrollRounds = 16

  /** CTE chain computing (doc_id, component, is_canonical) from the
    * documents table — shared by the components oracle and the pipeline
    * oracle. Composes the SAME `jaccardPairsSql` chain the pairwise
    * oracle uses, so shingling, the MaxPosting cap, and the similarity
    * formula exist in exactly one place.
    *
    * NOT recursive (though consumers' `WITH RECURSIVE` headers remain
    * legal): the original `reach` transitive-closure CTE materializes
    * O(Σ component²) states and at 10× scale DuckDB spilled >78 GB of
    * temp and died. This is the iteration-bounded unroll the pagerank
    * oracle family uses — [[ComponentsUnrollRounds]] rounds of the exact
    * min-label propagation [[componentsFromAdj]] runs, one linear
    * (edges ⋈ labels → group-by) pass per round. The fixed point is the
    * unique component-minimum labeling, so at convergence the unroll is
    * bit-identical to the closure it replaces. Every lab CTE is
    * MATERIALIZED: each is referenced twice by the next round, and
    * DuckDB 1.0 inlines plain CTEs — un-annotated, the jac chain would
    * be duplicated 2^rounds times. */
  val componentsCteSql: String = {
    val rounds = (1 to ComponentsUnrollRounds).map { k =>
      s"""lab$k AS MATERIALIZED (
         |  SELECT l.id, least(l.label, min(n.label)) AS label
         |  FROM lab${k - 1} l
         |  JOIN und u ON u.s = l.id
         |  JOIN lab${k - 1} n ON n.id = u.d
         |  GROUP BY l.id, l.label
         |)""".stripMargin
    }.mkString(",\n")
    s"""${DedupQueries.jaccardPairsSql},
       |edges AS (
       |  SELECT doc_a, doc_b FROM jac
       |  WHERE jaccard >= ${DedupQueries.JaccardThreshold}
       |),
       |und AS MATERIALIZED (
       |  SELECT doc_a AS s, doc_b AS d FROM edges
       |  UNION ALL SELECT doc_b, doc_a FROM edges
       |),
       |lab0 AS MATERIALIZED (
       |  SELECT DISTINCT s AS id, s AS label FROM und
       |),
       |$rounds,
       |components AS (
       |  SELECT id AS doc_id, label AS component,
       |         id = label AS is_canonical
       |  FROM lab$ComponentsUnrollRounds
       |)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // unrolled min-label propagation, then the converged label per vertex
    "dedup_components" -> (
      s"""WITH RECURSIVE
         |$componentsCteSql
         |SELECT doc_id, component, is_canonical
         |FROM components ORDER BY doc_id""".stripMargin),

    "dedup_component_sizes" -> (
      s"""WITH RECURSIVE
         |$componentsCteSql,
         |comp_sizes AS (
         |  SELECT component, count(*) AS k FROM components GROUP BY 1
         |),
         |comp_hist AS (
         |  SELECT k, count(*) AS n_components FROM comp_sizes GROUP BY k
         |),
         |n_in AS (
         |  SELECT CAST(coalesce(sum(k * n_components), 0) AS BIGINT) AS n
         |  FROM comp_hist
         |),
         |docs_total AS (SELECT count(*) AS n_docs FROM documents),
         |merged AS (
         |  SELECT k, n_components FROM comp_hist
         |  UNION ALL
         |  SELECT 1 AS k, d.n_docs - i.n AS n_components
         |  FROM docs_total d, n_in i
         |)
         |SELECT k, CAST(sum(n_components) AS BIGINT) AS n_components
         |FROM merged GROUP BY k HAVING sum(n_components) > 0
         |ORDER BY k""".stripMargin),

    // identical semantics to dedup_components — the algorithms must agree
    "dedup_components_star" -> (
      s"""WITH RECURSIVE
         |$componentsCteSql
         |SELECT doc_id, component, is_canonical
         |FROM components ORDER BY doc_id""".stripMargin),

    // hop-bounded recursive expansion from the canonicals; the UNION
    // dedups (id, hops) pairs so the recursion is finite, min() recovers
    // the true BFS depth
    "graph_bfs_hops" -> (
      s"""WITH RECURSIVE
         |$componentsCteSql,
         |bfs(id, hops) AS (
         |  SELECT component, CAST(0 AS BIGINT) FROM components
         |  WHERE is_canonical
         |  UNION
         |  SELECT u.d, b.hops + 1 FROM und u JOIN bfs b ON u.s = b.id
         |  WHERE b.hops < $MaxRounds
         |)
         |SELECT id AS doc_id, CAST(min(hops) AS BIGINT) AS hops
         |FROM bfs GROUP BY id ORDER BY doc_id""".stripMargin),

    // weighted walk: UNION dedups (id, dist, hops) states; the shared
    // SsspMaxHops cap bounds the exploration exactly where the Spark
    // loop's convergence is spec-pinned to land first. Integer weights on
    // the 2^-20 grid keep every path sum exact.
    "graph_sssp_weighted" -> (
      s"""WITH RECURSIVE
         |$componentsCteSql,
         |wund AS (
         |  SELECT doc_a AS s, doc_b AS d,
         |         CAST(floor((1.0 - jaccard) * $SsspFp + 0.5) AS BIGINT) AS w
         |  FROM jac WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |  UNION ALL
         |  SELECT doc_b, doc_a,
         |         CAST(floor((1.0 - jaccard) * $SsspFp + 0.5) AS BIGINT)
         |  FROM jac WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |),
         |walk(id, dist, hops) AS (
         |  SELECT component, CAST(0 AS BIGINT), 0 FROM components
         |  WHERE is_canonical
         |  UNION
         |  SELECT u.d, wk.dist + u.w, wk.hops + 1
         |  FROM wund u JOIN walk wk ON u.s = wk.id
         |  WHERE wk.hops < $SsspMaxHops
         |)
         |SELECT id AS doc_id, min(dist)::DOUBLE / $SsspFp AS dist
         |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin),

    "graph_degree_hist" -> (
      s"""WITH ${DedupQueries.jaccardPairsSql},
         |edges AS (
         |  SELECT doc_a, doc_b FROM jac
         |  WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |),
         |und AS (
         |  SELECT doc_a AS s, doc_b AS d FROM edges
         |  UNION ALL SELECT doc_b, doc_a FROM edges
         |),
         |deg AS (
         |  SELECT s AS doc_id, count(*) AS degree FROM und GROUP BY s
         |)
         |SELECT degree, count(*) AS n_docs
         |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),

    "graph_assortativity" -> (
      s"""WITH ${DedupQueries.jaccardPairsSql},
         |edges0 AS (
         |  SELECT doc_a, doc_b FROM jac
         |  WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |),
         |und AS (
         |  SELECT doc_a AS s, doc_b AS d FROM edges0
         |  UNION ALL SELECT doc_b, doc_a FROM edges0
         |),
         |deg AS (SELECT s AS v, count(*) AS k FROM und GROUP BY s),
         |e AS (
         |  SELECT dx.k AS kx, dy.k AS ky
         |  FROM und JOIN deg dx ON und.s = dx.v
         |           JOIN deg dy ON und.d = dy.v
         |),
         |a AS (
         |  SELECT count(*) AS m,
         |         CAST(sum(kx) AS BIGINT) AS sx,
         |         CAST(sum(ky) AS BIGINT) AS sy,
         |         CAST(sum(kx * ky) AS BIGINT) AS sxy,
         |         CAST(sum(kx * kx) AS BIGINT) AS sxx,
         |         CAST(sum(ky * ky) AS BIGINT) AS syy
         |  FROM e
         |)
         |SELECT m AS m_directed_edges,
         |       CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0
         |            THEN NULL
         |            ELSE CAST(m * sxy - sx * sy AS DOUBLE) /
         |                 sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
         |                      CAST(m * syy - sy * sy AS DOUBLE)) END
         |         AS assortativity
         |FROM a""".stripMargin),
  )
}
