package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{DedupComponents, DedupQueries}

/** GraphX implementations of the graph analytics (the north-star approach
  * for the reference's aspirational graph phase — `ARCHITECTURE.md:744-751`
  * planned graph traversals that were never built).
  *
  * GraphX runs the same dataflow as the DataFrame versions but over
  * RDD-partitioned vertex/edge tables with Pregel-style message passing —
  * the right tool once iteration counts grow (its vertex cuts and
  * in-memory replication amortize across many supersteps, where the
  * DataFrame loop pays a shuffle per round). Connected components here is
  * oracle-checked against the same recursive-CTE closure as the DataFrame
  * variant, proving the two implementations agree.
  */
object GraphXAnalytics extends graft.QueryModule {

  /** Connected components of an undirected (doc_a, doc_b) edge list via
    * GraphX; labels are the min vertex id, matching both the DataFrame
    * label propagation and the SQL transitive closure. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val edgeRdd = edges.select("doc_a", "doc_b").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0)
      .connectedComponents()
      .vertices
      .toDF("doc_id", "component")
  }

  /** Per-vertex triangle counts of an undirected canonical (doc_a < doc_b)
    * edge list via GraphX's clustering-coefficient kernel. Edge partitions
    * ship neighbor sets, not the corpus — the distributed-join shape of
    * triangle enumeration; the vertex-cut `partitionBy` bounds replication
    * at high-degree vertices. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val edgeRdd = edges.select("doc_a", "doc_b").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0)
      .partitionBy(PartitionStrategy.RandomVertexCut)
      .triangleCount()
      .vertices
      .toDF("doc_id", "n_tri")
      .select(col("doc_id"), col("n_tri").cast("long").as("n_triangles"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_components_graphx" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b")
      connectedComponents(pairs)
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .orderBy("doc_id")
    }),

    // triangles per vertex of the near-dup graph — the cluster-cohesion
    // signal a curation pipeline reads before collapsing a component to
    // its canonical doc (a triangle-dense component is a true duplicate
    // clique; a triangle-free star is one hub pairing with unrelated
    // near-misses). Oracle: three-way self-join of the canonical edge
    // list, unpivoted to per-vertex counts.
    "graph_triangle_count" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b")
      triangleCounts(pairs).orderBy("doc_id")
    }),

    // clustering-coefficient profile by degree: for each vertex degree,
    // how closed are the neighborhoods? coeff(d) = Σ2T / (n·d·(d-1)) —
    // the aggregate local clustering of that degree class. Degree-1
    // vertices have no wedges, so their coefficient is NULL (not 0/0 —
    // Spark runs ANSI and the CASE keeps both engines agreeing). All
    // sums are BIGINT (triangle counts, node counts); the single double
    // division happens once per output row, so the result hash-matches
    // DuckDB exactly. Scale: degrees and triangles are vertex-sized
    // reductions of the edge list; the histogram is ≤ max-degree rows.
    "graph_clustering_coeff" -> ((s, dir) => {
      val pairs = DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b").transform(graft.Materialize(_))
      val deg = pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      deg.join(triangleCounts(pairs), "doc_id")
        .groupBy("degree")
        .agg(count(lit(1)).as("n_nodes"),
          sum("n_triangles").as("n_triangles"))
        .withColumn("coeff",
          when(col("degree") >= 2,
            (col("n_triangles") * 2L).cast("double") /
              (col("n_nodes") * col("degree") * (col("degree") - 1L))
                .cast("double"))
            .otherwise(lit(null).cast("double")))
        .orderBy("degree")
    }),

    // modularity of the SOURCE partition over the near-dup graph: are
    // duplicate edges concentrated within sources (mirrored feeds
    // duplicating themselves) or spread across them (cross-crawl
    // copies)? Per-source contribution q_s = e_ss/m − (deg_s/2m)²,
    // computed as the exact rational (4m·e_ss − deg_s²)/(4m²) — every
    // input an integer, ONE double division per row, so the doubles
    // hash-match DuckDB. Σ q_s over sources is the partition's global
    // modularity (the spec pins it into [−1, 1]). Shape: the pair list
    // joins twice against the (doc_id, source) projection, folds to a
    // ≤#sources table; the 1-row m/deg² totals broadcast.
    "graph_source_modularity" -> ((s, dir) => {
      val src = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
      modularityFromLabeledEdges(
        DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
          .select("doc_a", "doc_b")
          .join(src.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("source", "src_a"), "doc_a")
          .join(src.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("source", "src_b"), "doc_b"))
    }),
  )

  /** Modularity of a label partition over any labeled undirected edge
    * list (src_a, src_b) — factored so the exact-rational arithmetic is
    * property-testable on seeded random graphs against a direct
    * driver-side computation. */
  private[graft] def modularityFromLabeledEdges(edges: DataFrame)
      : DataFrame = {
    val pairs = edges.select("src_a", "src_b")
      .transform(graft.Materialize(_)) // feeds intra counts, degrees, and totals
    val intra = pairs.filter(col("src_a") === col("src_b"))
      .groupBy(col("src_a").as("source"))
      .agg(count(lit(1)).as("e_intra"))
    val deg = pairs.select(col("src_a").as("source"))
      .unionAll(pairs.select(col("src_b").as("source")))
      .groupBy("source").agg(count(lit(1)).as("deg"))
    val m = pairs.agg(count(lit(1)).as("m"))
    deg.join(intra, Seq("source"), "left")
      .select(col("source"), col("deg"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"))
      .crossJoin(broadcast(m))
      .select(col("source"), col("deg"), col("e_intra"),
        ((lit(4L) * col("m") * col("e_intra") - col("deg") * col("deg"))
          .cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double")).as("q_contrib"))
      .orderBy("source")
  }

  /** Same closure oracle as the DataFrame variant — both must agree. */
  val oracle: Map[String, String] = Map(
    "dedup_components_graphx" ->
      DedupComponents.oracle("dedup_components"),

    "graph_triangle_count" -> (s"WITH ${DedupQueries.jaccardPairsSql},\n" +
      s"""e AS MATERIALIZED (SELECT doc_a, doc_b FROM jac
         |      WHERE jaccard >= ${DedupQueries.JaccardThreshold}),
         |tri AS (
         |  SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
         |  FROM e ab
         |  JOIN e bc ON ab.doc_b = bc.doc_a
         |  JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
         |),
         |per AS (
         |  SELECT v, count(*) AS n FROM (
         |    SELECT a AS v FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri
         |  ) GROUP BY v
         |),
         |verts AS (
         |  SELECT doc_a AS v FROM e UNION SELECT doc_b FROM e
         |)
         |SELECT v AS doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_triangles
         |FROM verts LEFT JOIN per USING (v) ORDER BY doc_id""".stripMargin),

    "graph_clustering_coeff" -> (s"WITH ${DedupQueries.jaccardPairsSql},\n" +
      s"""e AS MATERIALIZED (SELECT doc_a, doc_b FROM jac
         |      WHERE jaccard >= ${DedupQueries.JaccardThreshold}),
         |tri AS (
         |  SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
         |  FROM e ab
         |  JOIN e bc ON ab.doc_b = bc.doc_a
         |  JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
         |),
         |per AS (
         |  SELECT v, count(*) AS n FROM (
         |    SELECT a AS v FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri
         |  ) GROUP BY v
         |),
         |deg AS (
         |  SELECT v, count(*) AS degree FROM (
         |    SELECT doc_a AS v FROM e UNION ALL SELECT doc_b FROM e
         |  ) GROUP BY v
         |),
         |byd AS (
         |  SELECT degree, count(*) AS n_nodes,
         |         CAST(sum(coalesce(n, 0)) AS BIGINT) AS n_triangles
         |  FROM deg LEFT JOIN per USING (v) GROUP BY degree
         |)
         |SELECT degree, n_nodes, n_triangles,
         |       CASE WHEN degree >= 2
         |         THEN CAST(n_triangles * 2 AS DOUBLE)
         |              / CAST(n_nodes * degree * (degree - 1) AS DOUBLE)
         |         ELSE NULL END AS coeff
         |FROM byd ORDER BY degree""".stripMargin),

    "graph_source_modularity" -> (s"WITH ${DedupQueries.jaccardPairsSql},\n" +
      s"""p AS (
         |  SELECT da.source AS src_a, db.source AS src_b
         |  FROM jac
         |  JOIN documents da ON jac.doc_a = da.doc_id
         |  JOIN documents db ON jac.doc_b = db.doc_id
         |  WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |),
         |intra AS (
         |  SELECT src_a AS source, count(*) AS e_intra
         |  FROM p WHERE src_a = src_b GROUP BY 1
         |),
         |deg AS (
         |  SELECT source, count(*) AS deg FROM (
         |    SELECT src_a AS source FROM p
         |    UNION ALL SELECT src_b FROM p
         |  ) GROUP BY source
         |),
         |m AS (SELECT count(*) AS m FROM p)
         |SELECT d.source, CAST(d.deg AS BIGINT) AS deg,
         |       CAST(coalesce(i.e_intra, 0) AS BIGINT) AS e_intra,
         |       CAST(4 * m.m * coalesce(i.e_intra, 0) - d.deg * d.deg
         |            AS DOUBLE)
         |         / CAST(4 * m.m * m.m AS DOUBLE) AS q_contrib
         |FROM deg d LEFT JOIN intra i ON d.source = i.source, m
         |ORDER BY d.source""".stripMargin),
  )
}
