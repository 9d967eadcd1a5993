package graft.keyspace

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Conservation laws for the TTL sweep and the batch-2 analytics. */
class TtlSpec extends SparkSpec {

  test("ttl expiry: classes partition the compacted key population") {
    val rows = KeyspaceQueries.queries("kv_ttl_expiry")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 4)
    val writes = KvLog.log(spark, sf)
      .filter(col("op").isin("put", "delete"))
    val nKeys = writes.select(countDistinct("key")).head().getLong(0)
    val classed = rows.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum
    assert(classed === nKeys, "live+expired+tombstoned must cover every key")
    // tombstoned across shards = keys whose LAST write is a delete
    val nTomb = writes.groupBy("key")
      .agg(max_by(col("op"), col("seq")).as("o"))
      .filter(col("o") === "delete").count()
    assert(rows.map(_.getLong(3)).sum === nTomb)
    // the half-range window must leave both live and expired non-empty
    // on any log whose seq range spans more than one write
    assert(rows.map(_.getLong(1)).sum > 0, "no live keys — window degenerate")
    assert(rows.map(_.getLong(2)).sum > 0, "no expired keys — window degenerate")
  }

  test("repair plan: exactly the diverged leaves, costed from live state") {
    val plan = KeyspaceQueries.queries("kv_merkle_repair_plan")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(plan.nonEmpty, "snapshots differ — the plan cannot be empty")
    // leaf count ties out against the diff query's level-0 row
    val lvl0 = KeyspaceQueries.queries("kv_merkle_diff")(spark, sf)
      .collect().find(_.getLong(0) == 0L).get
    assert(plan.size.toLong === lvl0.getLong(2),
      "plan must name exactly the level-0 diverged leaves")
    // every planned leaf's cost equals the live state's direct rollup
    val state = KvLog.state(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val direct = state.groupBy { case (k, _, sh) =>
      (sh, (graft.hash.Fnv1a32.hashString(k) >> 16) %
        KeyspaceQueries.MerkleLeaves)
    }.view.mapValues(g => (g.size.toLong,
      g.map { case (k, v, _) => k.length.toLong + v.length }.sum)).toMap
    plan.foreach { case (leaf, (nk, nb)) =>
      assert(direct(leaf) === ((nk, nb)),
        s"leaf $leaf: plan cost differs from the direct state rollup")
    }
  }

  test("compaction gc: live never exceeds log; ratios exact; totals conserve") {
    val rows = KeyspaceQueries.queries("kv_compaction_gc")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 4)
    val lg = KvLog.log(spark, sf)
    val putBytes = lg.filter(col("op") === "put")
      .agg(sum(length(col("value")))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum === putBytes, "log bytes must conserve")
    val liveKeys = KvLog.compact(lg).count()
    assert(rows.map(_.getLong(3)).sum === liveKeys, "live keys must conserve")
    rows.foreach { r =>
      val (lb, vb, db) = (r.getLong(2), r.getLong(4), r.getLong(5))
      assert(vb <= lb && db === lb - vb, s"shard ${r.getLong(0)}: byte algebra")
      assert(r.getDouble(6) === db.toDouble / lb.toDouble)
      assert(r.getDouble(6) > 0.0,
        "fixture has overwrites + tombstones — reclaim cannot be zero")
    }
  }

  test("dau stickiness: bounds and full-week agreement with direct counts") {
    val rows = graft.events.CohortQueries
      .queries("events_dau_stickiness")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val act = graft.events.EventsQueries.events(spark, sf)
      .withColumn("day", expr(s"ts div ${graft.events.EventsQueries.DayUs}"))
      .select("day", "user_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDay = act.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    rows.foreach { case (d, dau, wau, span, stick) =>
      assert(dau === byDay(d).size.toLong, s"day $d: DAU differs")
      val window = (d - 6 to d).flatMap(byDay.get)
      assert(wau === window.flatten.toSet.size.toLong, s"day $d: WAU differs")
      assert(span === window.size.toLong, s"day $d: span differs")
      assert(dau <= wau && stick === dau.toDouble / wau.toDouble)
      assert(stick > 0.0 && stick <= 1.0)
    }
  }

  test("ngram novelty: every shingle occurrence owned exactly once overall") {
    val rows = graft.text.SweepQueries
      .queries("corpus_ngram_novelty")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Σ n_novel over sources = number of DISTINCT shingles in the corpus
    // (each distinct shingle is novel in exactly one doc)
    val distinctShingles = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.functions.WordNgrams
        .wordNgrams(split(col("text"), " "), 3)).as("sh"))
      .select(countDistinct("sh")).head().getLong(0)
    assert(rows.map(_.getLong(3)).sum === distinctShingles)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "novel cannot exceed shingles")
      assert(r.getDouble(4) === r.getLong(3).toDouble / r.getLong(2).toDouble)
    }
  }

  test("clustering coeff: degree-weighted totals match the triangle query") {
    val byDeg = graft.graph.GraphXAnalytics
      .queries("graph_clustering_coeff")(spark, sf).collect()
    assert(byDeg.nonEmpty)
    val triTotal = graft.graph.GraphXAnalytics
      .queries("graph_triangle_count")(spark, sf)
      .agg(sum("n_triangles")).head().getLong(0)
    assert(byDeg.map(_.getLong(2)).sum === triTotal,
      "per-degree triangle sums must conserve the per-vertex total")
    byDeg.foreach { r =>
      val (d, n) = (r.getLong(0), r.getLong(1))
      assert(d >= 1 && n >= 1)
      if (d >= 2) {
        val c = r.getDouble(3)
        assert(c >= 0.0 && c <= 1.0, s"coeff $c outside [0,1] at degree $d")
      } else assert(r.isNullAt(3), "degree-1 coefficient must be NULL")
    }
  }
}
