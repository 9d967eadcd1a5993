package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.keyspace.{KvLog, PartitionedLayout}
import graft.relational.RelationalQueries

/** Plan-shape assertions: the optimizations the 100 TB design depends on
  * must be visible in the executed plans, not just hoped for.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    RelationalQueries.queries
      .getOrElse(name, graft.relational.TpchMoreQueries.queries(name))(spark, sf)
      .queryExecution.executedPlan.toString

  /** `body`'s result and the Spark jobs it submitted, counted by a
    * listener's `onJobStart` on a job group of this call's own. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"plan-audit-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("bpe served: one corpus scan, no joins — the tokenizer is literals") {
    graft.text.BpeVocab.buildIfMissing(spark, sf)
    val p = graft.text.TextQueries.queries("text_bpe_tokenize_served")(spark, sf)
      .queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(p).length
    assert(docScans == 1, s"$docScans corpus scans:\n${p.take(2000)}")
    // the persisted merge chain is collected at construction and inlined
    // as literals, so serving has NO join and NO second table
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("/merges"), "merge table must not appear at runtime")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-doc aggregate must combine map-side:\n" + p.take(2000))
  }

  test("media decode queries: map-only over one corpus scan each") {
    for (q <- Seq("media_ppm_decode", "media_wav_decode", "media_y4m_frames")) {
      val p = graft.multimodal.Multimodal.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      val docScans = "documents\\.parquet".r.findAllIn(p).length
      assert(docScans == 1, s"$q: $docScans corpus scans\n${p.take(1500)}")
      assert(!p.contains("Join"), s"$q must be join-free\n${p.take(1500)}")
      // the decode batch shape: typed mapPartitions over the repartition
      assert(p.contains("MapPartitions"), s"$q\n${p.take(1500)}")
    }
  }

  test("q1: ship-date filter is pushed into the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(3000))
  }

  test("q1: scan reads only the referenced columns") {
    val p = plan("q1_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema line in plan:\n${p.take(2000)}"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      readSchema)
  }

  test("q1: aggregation is partial before the shuffle (map-side combine)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(3000))
  }

  test("q5: all three dimension joins broadcast; fact side never shuffles for them") {
    val p = plan("q5_nation_revenue")
    val n = "BroadcastHashJoin".r.findAllIn(p).length
    assert(n === 3, s"expected 3 broadcast joins, got $n")
    assert(!p.contains("SortMergeJoin"), "no shuffle join expected")
  }

  test("pushdown scan carries both predicates to the reader") {
    val p = plan("filter_pushdown_scan")
    assert(p.contains("EqualTo(p_size,15)") && p.contains("StringContains(p_name,a)"),
      p.take(3000))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("top_customers_revenue")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q18: one partial-agg'd fact shuffle, customer broadcast, TakeOrdered") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), "customer dim should broadcast")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "HAVING aggregate should be partial before the shuffle")
  }

  test("search terms: posting filter reaches the scan reader") {
    val p = graft.text.TextQueries.queries("text_search_terms")(spark, sf)
      .queryExecution.executedPlan.toString
    // the term filter itself is post-explode (row-local), but the scan
    // must read only the columns the posting derivation needs
    assert(p.contains("ReadSchema") && p.contains("doc_id"), p.take(2000))
  }

  test("ivfpq: LUT and cell list broadcast; the code table never sorts") {
    val p = graft.sim.SimilarityQueries.queries("sim_ivfpq_ann")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "LUT join should broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "final top-5 should be TakeOrdered, not a global sort")
  }

  test("q3: date filters push to both scans; segment dim broadcasts; top-k TakeOrdered") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("LessThan(o_orderdate"), p.take(3000))
    assert(p.contains("GreaterThan(l_shipdate"), p.take(3000))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p.take(3000))
  }

  test("whole-stage codegen spans cover the scan+filter+project pipeline") {
    // AQE finalizes (and codegen-wraps) the plan only on execution
    val df = RelationalQueries.queries("q1_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("minhash LSH derives the shingle pipeline exactly once (checkpointed)") {
    // the round-1 plan recomputed shingles+minhash ~5× via a self-join;
    // after the checkpoint, the final plan must contain NO WordNgrams —
    // every consumer reads the materialized checkpoint instead
    val p = graft.dedup.DedupQueries.queries("dedup_minhash_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("word_ngrams"), p.take(3000))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "expected the checkpointed shingle scan in the plan")
  }

  test("simhash pairs derive the signature aggregation exactly once") {
    // tokenize+hash+aggregate must not appear in the pair plan at all —
    // only the checkpointed signature scan
    val p = graft.dedup.DedupQueries.queries("dedup_simhash_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("fnv1a32"), p.take(3000))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0, s"expected no parquet scans post-checkpoint, got $scans")
  }

  test("exact dedup hashes the corpus exactly once (single FileScan)") {
    // the round-2 form fed two separate md5 subtrees into a crossJoin —
    // a full extra corpus scan at 100 TB for a 1-row summary
    val p = graft.dedup.DedupQueries.queries("dedup_exact")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one-pass shape requires 1 scan, got $scans\n${p.take(2000)}")
  }

  test("pagerank: per-iteration join re-uses the edge table's layout") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val (eDeg, nodes) = graft.relational.PageRank.prepared(spark, sf)
    try {
      val r = nodes.select(col("node"), lit(1.0).as("pr"))
      val contrib = eDeg.join(r, eDeg("src") === r("node"))
        .groupBy("dst").agg(sum(col("pr") / col("deg")).as("inflow"))
      contrib.collect()
      val finalPlan = contrib.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // the big side must arrive through the cached pre-partitioned scan…
      assert(finalPlan.toString.contains("InMemoryTableScan"),
        finalPlan.toString.take(3000))
      // …and the only exchanges are the ranks-side co-partition and the
      // dst aggregation; a third would mean the edge table re-shuffled
      val n = finalPlan.collect { case s: ShuffleExchangeLike => s }.size
      assert(n <= 2,
        s"edge side must not re-shuffle: got $n exchanges\n${finalPlan.toString.take(3000)}")
    } finally eDeg.unpersist()
  }

  test("tombstone audit reads the orders fixture exactly once") {
    val p = graft.keyspace.KeyspaceQueries.queries("kv_delete_tombstone")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"single-pass shape requires 1 scan, got $scans\n${p.take(2000)}")
  }

  test("partitioned keyspace layout: point GET prunes to one shard directory") {
    val dir = Files.createTempDirectory("graft_kv_layout").toString
    try {
      // coalesce(1): one file per shard directory, so file counts in the
      // scan metrics directly reflect partition pruning
      PartitionedLayout.write(KvLog.state(spark, sf).coalesce(1), dir)
      // the reader declares the layout schema, so planning the GET reads
      // no footer: no job until the action, and the action is one job
      val (q, planJobs) = jobsOf {
        val q = PartitionedLayout.pointGet(spark, dir, "order:42")
        q.queryExecution.executedPlan
        q
      }
      assert(planJobs === 0, "building and planning a GET must submit no job")
      val p = q.queryExecution.executedPlan.toString
      // constant-folded fnv1a32('order:42') % 4 = 1 arrives as a literal
      // partition filter
      assert(p.contains("PartitionFilters"), p.take(3000))
      assert(p.contains("(shard_id#") && p.contains("= 1)"), p.take(3000))
      // and the key predicate is pushed to the reader
      assert(p.contains("EqualTo(key,order:42)"), p.take(3000))
      val (rows, runJobs) = jobsOf(q.collect())
      assert(runJobs === 1, s"a GET must run as one job, ran $runJobs")
      assert(rows.length === 1 && rows.head.getString(0) === "order:42")
      // partition pruning: only 1 of the 4 shard directories is read
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      assert(scanned === 1, s"expected 1 file scanned, got $scanned")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("keyset page: one shard directory, pushed cursor, TakeOrdered") {
    val dir = Files.createTempDirectory("graft_kv_page").toString
    try {
      PartitionedLayout.write(KvLog.state(spark, sf).coalesce(1), dir)
      val q = PartitionedLayout.listPage(spark, dir, 0, "order:5", 50)
      val p = q.queryExecution.executedPlan.toString
      // shard filter prunes at planning; cursor predicate reaches the
      // reader; the page is a per-partition top-n, never a global sort
      assert(p.contains("PartitionFilters"), p.take(3000))
      assert(p.contains("GreaterThan(key,order:5)"), p.take(3000))
      assert(p.contains("TakeOrderedAndProject"), p.take(3000))
      q.collect() // execute so scan metrics materialize
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      assert(scanned === 1, s"expected 1 shard file scanned, got $scanned")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("range-sharded layout: a range scan reads only overlapping directories") {
    val dir = Files.createTempDirectory("graft_kv_ranged").toString
    // AQE wraps the sort's plan in query stages whose leaves hide the
    // scan metrics; turn it off so the file count is directly readable
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 4 ranges: (-inf,3), [3,5), [5,7), [7,inf) over 'order:<n>' keys
      val bounds = Seq("order:3", "order:5", "order:7")
      PartitionedLayout.writeRanged(
        KvLog.state(spark, sf).coalesce(1), dir, bounds)
      val q = PartitionedLayout.rangeScan(spark, dir,
        "order:3", "order:5", bounds)
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters"), p.take(3000))
      // key bounds push to the reader for row-group pruning
      assert(p.contains("GreaterThanOrEqual(key,order:3)") &&
        p.contains("LessThan(key,order:5)"), p.take(3000))
      val rows = q.collect().map(_.getString(0))
      // semantics: identical to the unpartitioned range scan
      val expected = KvLog.state(spark, sf)
        .filter(col("key") >= "order:3" && col("key") < "order:5")
        .select("key").collect().map(_.getString(0)).sorted
      assert(rows.toSeq === expected.toSeq)
      // pruning: only the single overlapping directory of 4 is read
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      assert(scanned === 1, s"expected 1 of 4 range files, got $scanned")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bucketed layout: a big-big join plans with zero exchanges") {
    val dir = Files.createTempDirectory("graft_bucketed").toString
    val bcastWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    // force the sort-merge path: broadcast would hide the exchange
    // question; AQE off so the join subtree is directly collectible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      PartitionedLayout.writeBucketed(ord, "b_orders", s"$dir/o",
        "o_orderkey")
      PartitionedLayout.writeBucketed(li, "b_lineitem", s"$dir/l",
        "l_orderkey")
      val q = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count("*").as("n"))
      val plan = q.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          // the final single-key groupBy may legitimately exchange; the
          // JOIN inputs must not — count exchanges below the join
          if e.toString.nonEmpty => e
      }
      val joinSubtree = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joinSubtree.nonEmpty, s"expected a sort-merge join:\n$plan")
      val joinExchanges = joinSubtree.get.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(joinExchanges.isEmpty,
        s"bucketed join must not exchange either side:\n${joinSubtree.get}")
      // semantics: identical to the shuffled join over the raw parquet
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count("*").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expected)
      assert(exchanges.size <= 1, s"only the final rollup may exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("z-ordered layout: a 2-D box scan prunes to the overlapped cells") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = graft.events.EventsQueries.events(spark, sf)
        .withColumn("day", expr(s"ts div ${graft.events.EventsQueries.DayUs}"))
      val day0 = e.agg(min("day")).collect()(0).getLong(0)
      // 32×32 domain, 8×8 cells: the fixture's 30-day × 32-cohort grid
      // spreads over ~8 populated cell directories
      val xy = e.select((col("day") - lit(day0)).as("x"),
        pmod(col("user_id"), lit(32L)).as("y"), col("event_id"))
      PartitionedLayout.writeZOrdered(xy, dir, col("x"), col("y"),
        bits = 5, cellShift = 6)
      val total = spark.read.parquet(dir).inputFiles.length
      assert(total >= 4, s"fixture should spread over >= 4 cells, got $total")
      // a tight box: first week × one 8-bucket cohort band
      val q = PartitionedLayout.boxScan(spark, dir, "x", "y",
        0L, 6L, 8L, 15L, bits = 5, cellShift = 6)
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters"), p.take(3000))
      // semantics: identical to the unpartitioned box filter
      val got = q.select("event_id").collect().map(_.getLong(0)).sorted
      val expected = xy
        .filter(col("x").between(0, 6) && col("y").between(8, 15))
        .select("event_id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq === expected.toSeq)
      assert(got.nonEmpty, "the audit box must actually select rows")
      // pruning: the box overlaps a strict subset of the cell directories
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      assert(scanned < total,
        s"box scan read all $total files - no multi-dim pruning")
      assert(scanned <= total / 2,
        s"expected <= half the cells for a 7x32 box, got $scanned/$total")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("curation ledger shingles the corpus exactly once") {
    // the pair pipeline and the contamination probe must both read the
    // checkpointed shingle pass; the only live parquet scan left is the
    // quality/language/PII projection
    val p = graft.text.PipelineQueries
      .queries("corpus_curation_ledger")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"expected only the scored-docs scan, got $scans")
  }

  test("semantic dedup derives the cell assignment exactly once") {
    // the assignment (embedding scan + centroid argmin) is checkpointed;
    // every downstream consumer (both pair sides + the sizes aggregate)
    // must read the materialization, never re-scan the corpus
    val p = graft.sim.SimilarityQueries.queries("dedup_semantic")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0, s"expected no parquet scans post-checkpoint, got $scans")
  }

  test("daily anomaly: stats dimension broadcasts; no shuffle join") {
    val p = graft.events.EventsQueries
      .moreQueries("events_anomaly_day")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "stats side must broadcast")
    assert(p.contains("partial_count"), "daily rollup needs map-side combine")
  }

  test("quantile sketch reads the event scan exactly once") {
    val p = graft.events.EventsQueries
      .moreQueries("events_quantile_sketch")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one-pass sketch requires 1 scan, got $scans")
    assert(p.contains("partial_count"), "bin histogram needs map-side combine")
  }

  test("label centroids: corpus scanned once post-checkpoint; prototypes broadcast") {
    val p = graft.sim.SimilarityQueries
      .queries("sim_label_centroids")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1,
      s"cohesion pass scans the corpus once, centroids come checkpointed; got $scans")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("int8 rerank: both selections are TakeOrdered, query vector broadcast") {
    val p = graft.sim.SimilarityQueries
      .queries("sim_ann_int8_rerank")(spark, sf)
      .queryExecution.executedPlan.toString
    // candidate cut AND final top-5 must be top-k operators — a global
    // Sort+Limit would shuffle-sort the scored corpus at 100 TB
    val topk = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(topk === 2, s"expected 2 TakeOrderedAndProject, got $topk\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"), "query vector must broadcast")
  }

  test("incremental LSH probe plans on the checkpointed shingles only") {
    val p = graft.dedup.DedupQueries
      .queries("dedup_lsh_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("word_ngrams"), p.take(3000))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0, s"expected no parquet scans post-checkpoint, got $scans")
  }

  test("late arrivals: watermark series is batch-sized, events join broadcast") {
    val p = graft.events.EventsQueries
      .moreQueries("events_late_arrivals")(spark, sf)
      .queryExecution.executedPlan.toString
    // the O(#micro-batches) watermark table broadcasts back over the
    // event scan — the event side must never shuffle for the join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("covariance: pair cells partial-aggregate map-side; means broadcast") {
    val p = graft.sim.SimilarityQueries.queries("embed_covariance")(spark, sf)
      .queryExecution.executedPlan.toString
    // the 2080-cell explosion must collapse BEFORE the shuffle — a plan
    // that exchanges corpus×2080 rows is the 100 TB failure mode
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      p.take(3000))
    // both 64-row mean tables broadcast back; the cells never sort-merge
    val b = "BroadcastHashJoin".r.findAllIn(p).length
    assert(b >= 2, s"expected 2 broadcast mean joins, got $b")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("PQ serving: code table joins the LUT by broadcast, top-5 TakeOrdered") {
    val p = graft.sim.SimilarityQueries.queries("sim_pq_ann")(spark, sf)
      .queryExecution.executedPlan.toString
    // ADC = dictionary lookup: the corpus-side code table must join the
    // PqM·PqK-row LUT via broadcast, and the final cut is TakeOrdered,
    // never a global sort
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("waterfill plans one corpus scan; the rest is dimension windows") {
    val p = graft.text.BudgetQueries.queries("corpus_budget_waterfill")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one corpus pass required, got $scans\n${p.take(2000)}")
  }

  test("q17 scans lineitem once — windowed decorrelation, no self-join") {
    val p = graft.relational.RelationalQueries
      .queries("q17_small_quantity_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    // one lineitem scan + one part scan; the textbook agg+self-join
    // shape would scan lineitem twice
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 2, s"expected lineitem+part scans only, got $scans\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("q4: EXISTS plans as one semi join — no distinct, no post-join dedup") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), p.take(3000))
    // semi join emits each order at most once; a DISTINCT/dedup aggregate
    // beyond the final groupBy would mean the inner-join+dedup anti-shape
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs <= 2, s"expected only the priority rollup (partial+final), got $aggs")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "orders date window should push to its scan\n" + p.take(3000))
  }

  test("q13: orders pre-aggregate before the outer join") {
    val p = plan("q13_customer_distribution")
    // the per-customer count must sit BELOW the join (scale-right shape);
    // plan order: final distribution agg … join … per-customer agg
    val joinAt = p.indexOf("LeftOuter")
    val innerAggAt = p.lastIndexOf("HashAggregate")
    assert(joinAt >= 0, p.take(3000))
    assert(innerAggAt > joinAt,
      "per-customer aggregate should be planned below the outer join")
  }

  test("q16: part cut and excluded suppliers broadcast; anti join, partial distinct") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p.take(3000))
    val n = "BroadcastHashJoin".r.findAllIn(p).length
    assert(n === 2, s"part + excluded-supplier dims should broadcast, got $n")
    assert(!p.contains("SortMergeJoin"), "the fact side must not shuffle for dims")
  }

  test("q22: threshold broadcast once; dormancy is an anti join on pruned orders") {
    val p = plan("q22_dormant_customers")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"),
      "recency cut should push to the orders scan\n" + p.take(3000))
    // customer scanned twice by design (threshold + main) but orders once
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 4, s"customer×2 + orders + nation = 4 scans, got $scans\n${p.take(2000)}")
  }

  test("q14: one month-filtered fact pass feeds both conditional sums") {
    val p = plan("q14_promo_revenue")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 2, s"lineitem + part only, got $scans\n${p.take(2000)}")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "month window should push to the lineitem scan\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q19: each side of the disjunction prunes its own scan") {
    val p = plan("q19_disjunctive_revenue")
    val liScan = p.linesIterator.find(_.contains("lineitem.parquet"))
      .getOrElse(fail(s"no lineitem scan line in plan:\n${p.take(2000)}"))
    val partScan = p.linesIterator.find(_.contains("part.parquet"))
      .getOrElse(fail(s"no part scan line in plan:\n${p.take(2000)}"))
    // Catalyst splits the OR-of-ANDs per side: the quantity-band
    // disjunction reaches the fact reader, the brand/size disjunction
    // the dimension reader — neither side waits for the join to filter
    assert(liScan.contains("l_quantity") && liScan.contains("Or("), liScan)
    assert(partScan.contains("p_brand") && partScan.contains("Or("), partScan)
  }

  test("q21: both correlations are semi/anti joins — no distinct explosion") {
    val p = plan("q21_waiting_suppliers")
    assert(p.contains("LeftSemi"), s"EXISTS must be a semi join\n${p.take(3000)}")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must be an anti join\n${p.take(3000)}")
    // the correlated-subquery anti-patterns: a distinct supplier-set
    // materialization or a per-order count aggregate before the filter
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the status filter reaches the orders scan
    val ordScan = p.linesIterator.find(_.contains("orders.parquet"))
      .getOrElse(fail(s"no orders scan line in plan:\n${p.take(2000)}"))
    assert(ordScan.contains("o_orderstatus"),
      s"status filter not pushed to orders scan: $ordScan")
  }

  test("q10: quarter filter pushes to orders; top-20 is TakeOrdered") {
    val p = plan("q10_returned_items")
    val ordScan = p.linesIterator.find(_.contains("orders.parquet"))
      .getOrElse(fail(s"no orders scan line in plan:\n${p.take(2000)}"))
    assert(ordScan.contains("o_orderdate"),
      s"quarter window not pushed to orders scan: $ordScan")
    val liScan = p.linesIterator.find(_.contains("lineitem.parquet"))
      .getOrElse(fail(s"no lineitem scan line in plan:\n${p.take(2000)}"))
    assert(liScan.contains("l_returnflag"),
      s"returnflag cut not pushed to lineitem scan: $liScan")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not be a global sort\n${p.take(3000)}")
  }

  test("q7: nation pair prunes both dimension broadcasts before the fact") {
    val p = plan("q7_nation_volume")
    // supplier and customer each broadcast after their nation pre-filter;
    // the only exchange-heavy join is lineitem ⋈ orders
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"supp+cust must broadcast, got $bhj\n${p.take(3000)}")
    val liScan = p.linesIterator.find(_.contains("lineitem.parquet"))
      .getOrElse(fail(s"no lineitem scan line in plan:\n${p.take(2000)}"))
    assert(liScan.contains("l_shipdate"),
      s"ship window not pushed to the fact scan: $liScan")
  }

  test("hll rolling: the sketch path reads stored registers, not events") {
    val p = graft.events.EventsQueries.queries("events_hll_rolling")(spark, sf)
      .queryExecution.executedPlan.toString
    // the register table is checkpointed; the ONLY events scan left in
    // the plan is the exact-count verification side — the merge+estimate
    // path must derive entirely from the ≤ #days×64 stored rows
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1,
      s"sketch path must not rescan events: $scans scans\n${p.take(2000)}")
  }

  test("q15 scans the fact table once — revenue view checkpointed") {
    val p = plan("q15_top_supplier")
    // post-checkpoint, both the max and the equality cut read the
    // materialized view: the only parquet scan left is the supplier dim
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"supplier scan only, got $scans\n${p.take(2000)}")
  }

  test("substring spans: linear pipeline — no pair join anywhere") {
    val p = graft.dedup.DedupQueries.queries("dedup_substring_spans")(spark, sf)
      .queryExecution.executedPlan.toString
    // coverage is semi-join + explode + count-distinct: any nested-loop
    // or cartesian stage would mean an accidental pairwise formulation
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // gram keys are hashed before every exchange: no shuffle carries the
    // 8-word gram text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("(g#") && !l.contains("(g,")),
      "an exchange partitions on the raw gram string")
  }

  test("edit distance: LSH-bounded pairs, banded kernel, no pair explosion") {
    val p = graft.dedup.DedupQueries.queries("dedup_edit_distance")(spark, sf)
      .queryExecution.executedPlan.toString
    // candidates come from posting lists, never a quadratic pair join
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the 3-arg (banded, early-exit) kernel — a plain levenshtein would
    // pay the full DP table per pair
    assert(p.contains("levenshtein"), p.take(3000))
  }

  test("top eigvec: 32 iterations add ZERO corpus scans to the plan") {
    val p = graft.sim.SimilarityQueries.queries("embed_top_eigvec")(spark, sf)
      .queryExecution.executedPlan.toString
    // the corpus was reduced to the 2080 covariance cells at construction
    // (checkpointed); every one of the PowerIters multiplies reads those
    // cells — iteration count and corpus cost are fully decoupled
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"iteration chain must not rescan embeddings: $scans\n${p.take(2000)}")
  }

  test("cusum: corpus reduced once; windows run over the checkpointed days") {
    val p = graft.events.TrendQueries.queries("events_cusum_shift")(spark, sf)
      .queryExecution.executedPlan.toString
    // the day-sized reduction is checkpointed: the moment aggregate and
    // the window chain both read it, so no events scan survives here
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0, s"post-checkpoint scans: $scans\n${p.take(2000)}")
  }

  test("trend fit: one events scan feeds all five moments") {
    val p = graft.events.TrendQueries.queries("events_trend_forecast")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one-pass OLS requires 1 scan, got $scans\n${p.take(2000)}")
    // the moments reduce map-side before the per-type shuffle
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "moment aggregation should be partial before the exchange\n" + p.take(3000))
  }

  test("markov: one events scan, pair counts combine map-side") {
    val p = graft.events.JourneyQueries
      .queries("events_markov_transitions")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one corpus pass, got $scans scans\n${p.take(2000)}")
    assert(p.contains("partial_count"),
      "pair counting must combine before the types² shuffle\n" + p.take(3000))
    // the scan reads only the sequence columns, not value/props
    val rs = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema line:\n${p.take(2000)}"))
    assert(!rs.contains("value") && !rs.contains("props"),
      s"sequence analysis must not read the payload columns: $rs")
  }

  test("acf: both join sides read the checkpointed day series, no rescan") {
    val p = graft.events.TrendQueries.queries("events_acf_daily")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"post-checkpoint plan must not rescan events, got $scans\n${p.take(2000)}")
    // the lag pairing is a hash equi-join on day+k (the only other join
    // is the 1-row stats broadcast, which Spark plans as a nested loop —
    // harmless at one row)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "lag pairing must be an equi-join\n" + p.take(3000))
  }

  test("zipf: both legs read the checkpointed vocab counts, no rescan") {
    val p = graft.text.DistributionQueries.queries("text_zipf_head")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"rank + total must share one tokenize pass, got $scans\n${p.take(2000)}")
  }

  test("gini: one documents scan, token counts combine map-side") {
    val p = graft.text.DistributionQueries.queries("text_token_gini")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one corpus pass, got $scans\n${p.take(2000)}")
    assert(p.contains("partial_count"),
      "token counting must combine before the vocab shuffle\n" + p.take(3000))
  }

  test("bootstrap: resamples build on the checkpointed day series only") {
    val p = graft.events.TrendQueries.queries("events_bootstrap_ci")(spark, sf)
      .queryExecution.executedPlan.toString
    // the B×n draw table must derive from the reduced series — a parquet
    // scan here would mean the bootstrap re-reads the corpus per replica
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"resampling must be corpus-decoupled, got $scans scans\n${p.take(2000)}")
  }

  test("hhi: one events scan; both aggregations combine map-side") {
    val p = graft.events.JourneyQueries
      .queries("events_type_concentration")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one corpus pass, got $scans\n${p.take(2000)}")
    assert(p.contains("partial_count"),
      "the (type, user) reduction must combine before its shuffle\n" +
        p.take(3000))
  }

  test("assortativity: both degree joins read the checkpointed edges") {
    val p = graft.dedup.DedupComponents
      .queries("graph_assortativity")(spark, sf)
      .queryExecution.executedPlan.toString
    // edges checkpoint feeds und, deg, and both endpoint joins — the
    // jaccard pair chain must not run once per consumer
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"post-checkpoint plan must not rerun the pair chain, got $scans\n" +
        p.take(2000))
  }

  test("mips: rank recheck broadcasts the k-row dim; no corpus-wide window") {
    val p = graft.sim.SimilarityQueries.queries("sim_mips_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrdered"),
      "top-k by inner product must be TakeOrdered, not a global sort\n" +
        p.take(3000))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "count-above must join against the broadcast candidates\n" + p.take(3000))
    // the only Window left sorts the k candidate rows, downstream of the
    // TakeOrdered — assert it is not partitionless over the scored corpus
    // by checking the corpus side feeds an aggregate, not a sort-window
    assert(p.contains("partial_count"),
      "rank-above must be a count aggregate, not a rank window\n" + p.take(3000))
  }

  test("quality sweep: window + total read the checkpointed histogram, not the corpus") {
    val p = graft.text.SweepQueries.queries("corpus_quality_sweep")(spark, sf)
      .queryExecution.executedPlan.toString
    // the ≤21-row histogram is checkpointed; neither the cumulative
    // window nor the grand-total broadcast may re-scan documents
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"sweep must fold the corpus once (checkpoint), got $scans scans\n" +
        p.take(2000))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      "grand total must broadcast, not shuffle\n" + p.take(2000))
  }

  test("threshold sweep: one pair-chain run feeds the whole histogram") {
    val p = graft.dedup.DedupQueries.queries("dedup_threshold_sweep")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"per-threshold counts must come from ONE scored-pair pass " +
        s"(checkpointed), got $scans scans\n" + p.take(2000))
  }

  test("ttl expiry: one orders scan; the horizon is a broadcast, not a rescan") {
    val p = graft.keyspace.KeyspaceQueries.queries("kv_ttl_expiry")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 2,
      s"log derivation may run twice (key agg + 1-row horizon) but never " +
        s"more, got $scans\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      "the 1-row horizon must broadcast\n" + p.take(2000))
  }

  test("charclass simpson: a single scan, single projection, no shuffle joins") {
    val p = graft.text.TextQueries.queries("text_charclass_simpson")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"one corpus scan expected, got $scans\n${p.take(2000)}")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-doc projection must not shuffle\n" + p.take(2000))
    // (codegen span is only visible in the post-execution adaptive plan;
    // the one-scan + no-hash-shuffle asserts above pin the shape)
  }

  test("shard plan: one corpus scan; the deal is a rank, not a shuffle join") {
    val p = graft.text.SweepQueries.queries("corpus_shard_plan")(spark, sf)
      .queryExecution.executedPlan.toString
    // the histogram is checkpointed, so only the planned-rank subtree
    // remains in the final plan — and it must not re-scan the corpus
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"rollup must read the checkpointed histogram, got $scans scans\n" +
        p.take(2000))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      "the imbalance totals must broadcast\n" + p.take(2000))
  }

  test("weighted ring: placement is a projection — no join reaches the keyspace") {
    val p = graft.cluster.RingRouter
      .queries("route_ring_weighted")(spark, sf)
      .queryExecution.executedPlan.toString
    // the ring lives in the codegen'd binary search (literal position
    // table), so the fact side sees only scan → project → aggregate;
    // the capacity join touches the 4-row rollup, never the keyspace
    assert(p.contains("sorted_successor"),
      "placement must resolve via the codegen'd successor search\n" +
        p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "no keyspace-sized join may appear\n" + p.take(2000))
  }

  test("q2: dims broadcast; min-per-part and winners join share one keying") {
    val p = graft.relational.PartSuppQueries
      .queries("q2_min_cost_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "supplier/nation/region chain must broadcast\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "no unkeyed join anywhere in the chain\n" + p.take(3000))
    // bonus: Spark injects a runtime bloom filter from the min-cost
    // aggregate into the regional scan side — keep it visible
    assert(p.contains("might_contain") || p.contains("bloom"),
      "runtime filter from the winners join should prune the probe side\n" +
        p.take(3000))
  }

  test("q20: ship window pushes to the lineitem scan; fold precedes the join") {
    val p = graft.relational.PartSuppQueries
      .queries("q20_promising_suppliers")(spark, sf)
      .queryExecution.executedPlan.toString
    val liScan = p.linesIterator.find(_.contains("lineitem.parquet"))
      .getOrElse(fail(s"no lineitem scan line in plan:\n${p.take(2000)}"))
    assert(liScan.contains("l_shipdate"),
      s"1997 window not pushed to the lineitem scan: $liScan")
    assert(p.contains("partial_sum"),
      "shipped quantity must combine map-side before the shuffle\n" +
        p.take(3000))
  }

  test("window dedup: one corpus scan, lag + ledger in two exchanges") {
    val df = graft.events.LifecycleQueries
      .queries("events_window_dedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      s"one-pass shape requires 1 scan\n${p.take(2000)}")
    // lag shuffles on (user, type); the per-type ledger re-keys once;
    // the final tiny sort may add one more — never a scan-sized extra
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 3, s"expected <= 3 exchanges, got $n\n${p.take(3000)}")
  }

  test("kaplan-meier: corpus reduced once; factor array broadcasts") {
    val df = graft.events.LifecycleQueries
      .queries("events_kaplan_meier")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // byDay is checkpointed: the plan above the checkpoint reads the
    // day-sized RDD, never the events parquet (that would double the
    // corpus cost at 100 TB)
    assert(!p.contains("FileScan parquet"),
      s"plan must hang off the checkpointed day table\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the 1-row factor array must broadcast\n${p.take(2000)}")
  }

  test("pmi bigrams: unigram sides broadcast onto the candidate cut") {
    val df = graft.text.CollocationQueries
      .queries("text_pmi_bigrams")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both unigram joins must broadcast\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join on the vocabulary-sized sides\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort\n${p.take(2000)}")
  }

  test("bloom gate: 4-row filter table broadcasts onto the probe feed") {
    val df = graft.keyspace.BloomGate
      .queries("kv_bloom_negative")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"per-shard blooms must broadcast\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the scorecard aggregate must combine map-side\n${p.take(3000)}")
  }

  test("basket rules: item/census sides broadcast; top-k is TakeOrdered") {
    val p = graft.relational.BasketQueries
      .queries("basket_pair_rules")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort\n${p.take(2000)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"unigram censuses must broadcast\n${p.take(3000)}")
  }

  test("theil-sen: corpus reduced before the day-pair quadratic step") {
    val df = graft.events.TrendQueries
      .queries("events_theilsen_trend")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the pair join runs over the checkpointed day table, not the scan
    assert(!p.contains("FileScan parquet"),
      s"pairs must join the checkpointed daily reduction\n${p.take(2000)}")
  }

  test("holt-winters: the fold hangs off the checkpointed day table") {
    val df = graft.events.SeasonalQueries
      .queries("events_holt_winters")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("FileScan parquet"),
      s"no consumer may rescan the events parquet\n${p.take(2000)}")
  }

  test("span mask plan: one corpus scan feeds the whole ledger") {
    val df = graft.text.MaskingQueries
      .queries("corpus_span_mask_plan")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      s"one-pass shape requires 1 scan\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"pure window pipeline — no joins expected\n${p.take(2000)}")
  }

  test("lru curve: interval join is chunk-keyed, never a cross product") {
    // the distance join pre-checkpoint (the final plan hides it behind
    // the checkpointed RDDs)
    val (_, dists) = graft.events.WorkingSetQueries
      .accessesAndDistances(spark, sf)
    val p = dists.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val keyed = p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("chunk") &&
        !l.contains("NestedLoop"))
    assert(keyed,
      s"no chunk-keyed join found — interval join degenerated\n" +
        p.take(3000))
  }

  test("kneser-ney: one bigram pass; all model tables broadcast") {
    val df = graft.text.CollocationQueries
      .queries("text_lm_kneser_ney")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("FileScan parquet"),
      s"the probe must read the checkpointed bigram pass\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"type-sized model tables must broadcast\n${p.take(3000)}")
  }

  test("rack placement: one binary-search projection, no key-space join") {
    val df = graft.cluster.RingRouter
      .queries("route_rack_aware_load")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"placement must be a pure projection over the keyspace\n" +
        p.take(3000))
  }

  test("median ci: rank bounds broadcast onto the per-type ranking") {
    val df = graft.events.TrendQueries
      .queries("events_median_ci")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row rank-bound table must broadcast\n${p.take(3000)}")
    assert("FileScan parquet".r.findAllIn(p).length <= 2,
      s"counts + ranking may scan at most twice\n${p.take(2000)}")
  }

  test("no unpartitioned WindowExec over unbounded input anywhere on the board") {
    // A WindowExec with an empty partitionSpec moves EVERY input row to
    // one task — fine over a day histogram or k kept rows, a one-task
    // sort over 10⁹ rows at 100 TB. Sweep every query's physical plan:
    // an unpartitioned window is legal only when (a) its subtree
    // contains an explicit limit/top-k (machine-checkable bound), or
    // (b) the query is allowlisted below with the reason its window
    // input is bounded by construction. The round-10 rewrites
    // (events_rfm_segments, corpus_shard_plan) must need NEITHER.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
    val bounded: Map[String, String] = Map(
      "auto_assign_unassigned" -> "cluster metadata: shards×nodes rows",
      "broadcast_time_budget" -> "node-count rows (4 at any corpus scale)",
      "corpus_budget_waterfill" -> "source-dimension rows (plan-pinned: one corpus scan, dimension windows)",
      "corpus_global_ids" -> "IdBuckets-row histogram prefix-sum — the query IS the two-stage rank",
      "corpus_quality_sweep" -> "<= QBins-row checkpointed histogram (plan-pinned scans==0)",
      "corpus_stratified_quota" -> "strata-sized (lang x source) checkpointed quota table",
      "corpus_stratified_sample" -> "same strata-sized quota derivation; the draw window is stratum-partitioned",
      "corpus_token_pareto" -> "token-count histogram walk, bins not docs",
      "dedup_threshold_sweep" -> "<= 11-row threshold histogram (plan-pinned scans==0)",
      "events_conversion_lag" -> "lag-histogram bins, not conversions",
      "events_forecast_backtest" -> "day-sized series (<= #days)",
      "events_holt_linear" -> "day-sized series fold",
      "events_holt_winters" -> "day-sized series fold (plan-pinned off the day checkpoint)",
      "events_kaplan_meier" -> "day-sized risk table (plan-pinned off the day checkpoint)",
      "events_ks_values" -> "two day-sized CDF walks",
      "events_late_arrivals" -> "micro-batch-count watermark series",
      "events_new_users_curve" -> "day-sized first-seen histogram",
      "events_pareto_share" -> "count-value histogram walk (documented: never ranks users)",
      "events_weekday_permtest" -> "weekday slots x fixed replicas, day-sized",
      "redistribute_on_failure" -> "cluster metadata: shard assignment rows",
      "route_failover_load" -> "node-count load rollup",
      "route_hinted_handoff" -> "replica-set-sized handoff ledger",
      "route_quorum_availability" -> "quorum scenarios over node-count rows",
      "route_ring_keys" -> "<= 64-vnode ring walk",
      "route_ring_weighted" -> "<= 64-vnode weighted ring walk")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val naked = fn(spark, sf).queryExecution.sparkPlan.collect {
            case w: WindowExec if w.partitionSpec.isEmpty =>
              val limited = w.collectFirst {
                case _: GlobalLimitExec => ()
                case _: TakeOrderedAndProjectExec => ()
                case _: CollectLimitExec => ()
              }.isDefined
              (w, limited)
          }.filter(!_._2)
          if (naked.nonEmpty && !bounded.contains(name)) Some(name) else None
        } catch {
          case e: Throwable =>
            Some(s"$name (failed to plan: ${String.valueOf(e.getMessage).take(100)})")
        }
    }
    assert(offenders.isEmpty,
      s"unpartitioned un-limited WindowExec outside the bounded allowlist:\n" +
        offenders.mkString("\n"))
    for (q <- Seq("events_rfm_segments", "corpus_shard_plan"))
      assert(!bounded.contains(q),
        s"$q was rewritten two-stage and must not re-enter the allowlist")
  }

  test("dsv2 scan: source pushdown visible as a single BatchScan") {
    val df = graft.sources.KvGenQueries
      .queries("kv_dsv2_shard_scan")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), s"DSv2 scan expected\n${p.take(2000)}")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"shard summary must combine map-side\n${p.take(2000)}")
  }
}
