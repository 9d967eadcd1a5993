package graft.events

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Conservation laws for the journey family (Markov transitions + RFM
  * segmentation) — invariants that hold on ANY events corpus. */
class JourneySpec extends SparkSpec {

  test("markov: pair mass = events - users; rows are proper distributions") {
    val rows = JourneyQueries.queries("events_markov_transitions")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val ev = EventsQueries.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select(countDistinct("user_id")).head().getLong(0)
    // every user with n events contributes exactly n-1 consecutive pairs
    assert(rows.map(_._3).sum === nEvents - nUsers,
      "transition pairs must partition the per-user consecutive pairs")
    rows.foreach { case (a, b, n, p) =>
      assert(n >= 1 && p > 0.0 && p <= 1.0, s"($a->$b) p=$p out of range")
    }
    // each prev row is a probability distribution, and p is the EXACT
    // division of the pair count by the row total (bit-check)
    rows.groupBy(_._1).foreach { case (prev, g) =>
      val total = g.map(_._3).sum
      g.foreach { case (_, _, n, p) =>
        assert(p === n.toDouble / total.toDouble,
          s"$prev: p is not the exact count ratio")
      }
      val mass = g.map(_._4).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"$prev: row mass $mass != 1")
    }
  }

  test("rfm: cells cover all users; ntile buckets balanced within 1") {
    val cells = JourneyQueries.queries("events_rfm_segments")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(cells.nonEmpty)
    val ev = EventsQueries.events(spark, sf)
    val nUsers = ev.select(countDistinct("user_id")).head().getLong(0)
    assert(cells.map(_._4).sum === nUsers, "cells must partition the users")
    cells.foreach { case (r, f, m, n, _) =>
      assert(r >= 1 && r <= 4 && f >= 1 && f <= 4 && m >= 1 && m <= 4 &&
        n >= 1, s"cell ($r,$f,$m) out of range")
    }
    // marginal of each dimension is an ntile(4): sizes differ by at most 1
    for ((dim, pick) <- Seq[(String, ((Long, Long, Long, Long, Double)) => Long)](
      ("r", _._1), ("f", _._2), ("m", _._3))) {
      val sizes = cells.groupBy(pick).map { case (_, g) => g.map(_._4).sum }
      assert(sizes.size === 4, s"$dim quartiles missing a bucket")
      assert(sizes.max - sizes.min <= 1, s"$dim quartiles unbalanced: $sizes")
    }
    // monetary mass is conserved across the segmentation (cell doubles
    // are individually rounded, so the check is tolerant, not bit-exact)
    val globalMonetary = ev
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .head().getDouble(0)
    val cellSum = cells.map(_._5).sum
    assert(math.abs(cellSum - globalMonetary) <
      1e-9 * math.max(1.0, math.abs(globalMonetary)),
      s"monetary mass not conserved: $cellSum vs $globalMonetary")
  }

  test("pareto: bit-equal to sorting users and summing the top k") {
    val rows = JourneyQueries.queries("events_pareto_share")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(1L, 5L, 10L, 25L, 50L))
    val counts = EventsQueries.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .collect().map(_.getLong(1)).sortBy(-_)
    val total = counts.sum
    for ((pct, k, top, share) <- rows) {
      val expectK = math.max(1L, counts.length.toLong * pct / 100L)
      assert(k === expectK, s"$pct%: k differs")
      val expectTop = counts.take(k.toInt).sum
      assert(top === expectTop,
        s"$pct%: histogram walk differs from the direct top-k sum")
      assert(share === top.toDouble / total.toDouble)
    }
    // the curve is monotone and dominates uniformity
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._3 <= b._3 && a._4 <= b._4
      case _           => true
    })
    rows.foreach { case (pct, k, _, share) =>
      assert(share >= k.toDouble / counts.length.toDouble - 1e-12,
        s"$pct%: top-k users cannot hold less than their headcount share")
    }
  }

  test("type concentration: bit-equal to the direct HHI; bounds hold") {
    val rows = JourneyQueries
      .queries("events_type_concentration")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val perTU = EventsQueries.events(spark, sf)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(rows.map(_._1).toSet === perTU.keySet)
    rows.foreach { case (tpe, nUsers, total, hhi, eff) =>
      val ns = perTU(tpe)
      assert(nUsers === ns.size.toLong && total === ns.sum)
      val expect = ns.map(n => n * n).sum.toDouble /
        (total * total).toDouble
      assert(hhi === expect, s"$tpe: HHI differs from the direct sum")
      assert(eff === 1.0 / expect)
      // 1/n (perfect spread) <= HHI <= 1 (one whale); effective <= actual
      assert(hhi >= 1.0 / nUsers - 1e-15 && hhi <= 1.0)
      assert(eff <= nUsers + 1e-9)
    }
  }

  test("session funnel: stages are monotone and bounded by the session count") {
    val r = JourneyQueries.queries("events_session_funnel")(spark, sf).head()
    val (nS, nV, nC, nP) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nS > 0 && nV > 0, "fixture has views — funnel head can't be empty")
    assert(nV <= nS && nC <= nV && nP <= nC, s"monotone violated: $nS $nV $nC $nP")
    // session count must agree with the sessionize query's output
    val nSessions = EventsQueries.queries("events_sessionize")(spark, sf).count()
    assert(nS === nSessions, "funnel and sessionize disagree on sessions")
    assert(r.getDouble(4) === nC.toDouble / nV.toDouble)
    if (nC > 0) assert(r.getDouble(5) === nP.toDouble / nC.toDouble)
    else assert(r.isNullAt(5))
  }

  test("conversion lag: conserves converting user-days; cum ends at 1") {
    val rows = JourneyQueries.queries("events_conversion_lag")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // direct count of converting (user, day) pairs: view then purchase
    val ev = EventsQueries.events(spark, sf)
      .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      .select("user_id", "day", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val conv = ev.groupBy(e => (e._1, e._2)).count { case (_, es) =>
      es.filter(_._3 == "view").map(_._4).minOption.exists(v =>
        es.exists(e => e._3 == "purchase" && e._4 >= v))
    }
    assert(rows.map(_._2).sum === conv.toLong,
      "histogram must conserve the converting user-day count")
    val prefix = rows.map(_._2).scanLeft(0L)(_ + _).drop(1)
    assert(rows.map(_._3).toSeq === prefix.toSeq, "cum != prefix sum")
    assert(rows.last._4 === 1.0, "cumulative share must end at exactly 1")
    assert(rows.forall(_._1 >= 0), "lag cannot be negative")
  }

  test("native session_window reproduces the lag-chain sessions on the fixture") {
    // boundary semantics differ only at ts - prev == gap exactly; the
    // fixture has no such event (µs grid vs 30-minute gap), so the two
    // must agree row-for-row on (user, start, n, duration)
    val native = JourneyQueries.queries("events_session_native")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getLong(3)))
    val lagged = EventsQueries.queries("events_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(2), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(native.toSeq === lagged.toSeq,
      "session_window and the gaps-and-islands chain must agree")
  }
}
