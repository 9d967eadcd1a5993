package graft.events

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.{Event, EventStream}

class EventsSpec extends SparkSpec {

  test("tumbling windows partition all events; totals are exact decimals") {
    val agg = EventsQueries.queries("events_tumbling_agg")(spark, sf).collect()
    assert(agg.map(_.getLong(2)).sum === EventsQueries.events(spark, sf).count())
    assert(agg.forall(r => r.getLong(0) % EventsQueries.WindowUs === 0))
  }

  test("sliding windows: every event lands in exactly window/slide windows") {
    val agg = EventsQueries.queries("events_sliding_agg")(spark, sf).collect()
    val nEvents = EventsQueries.events(spark, sf).count()
    assert(agg.map(_.getLong(1)).sum === EventsQueries.SlideCopies * nEvents)
    assert(agg.forall(r => r.getLong(0) % EventsQueries.SlideUs === 0))
    // adjacent windows overlap: starts are slide apart, spans are 4 slides
    val starts = agg.map(_.getLong(0)).sorted
    assert(starts.sliding(2).forall {
      case Array(a, b) => b - a >= EventsQueries.SlideUs; case _ => true
    })
  }

  test("sessions: positive durations, gap law holds within a user") {
    val sessions = EventsQueries.queries("events_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(sessions.nonEmpty)
    assert(sessions.forall(_._5 >= 0)) // duration
    // consecutive sessions of one user start > gap apart
    sessions.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val aEnd = a._4 + a._5
          assert(b._4 - aEnd > EventsQueries.SessionGapUs,
            s"sessions $a and $b are closer than the gap")
        case _ =>
      }
    }
  }

  test("join-cardinality estimates land in bound; mixing improves accuracy") {
    def ratio(name: String): Double = {
      val r = EventsQueries.queries(name)(spark, sf).collect().head
      val exact = r.getAs[Long]("exact_join_rows").toDouble
      assert(exact > 0)
      assert(r.getAs[Double]("est_jaccard") > 0.0 &&
        r.getAs[Double]("est_jaccard") <= 1.0)
      r.getAs[Double]("est_join_rows") / exact
    }
    val raw = ratio("events_join_card_est")
    val mixed = ratio("events_join_card_est_mixed")
    // planner-grade: within 2.5x either way (fnv on short numeric keys
    // costs real accuracy — documented at the query)
    assert(raw > 1 / 2.5 && raw < 2.5, s"raw ratio $raw")
    assert(mixed > 1 / 2.5 && mixed < 2.5, s"mixed ratio $mixed")
    // and the mix32 remedy must actually help on the fixture
    assert(math.abs(math.log(mixed)) <= math.abs(math.log(raw)),
      s"mixing made it worse: raw $raw, mixed $mixed")
  }

  test("selectivity estimate: error bounded by the straddling bin, monotone") {
    val rows = EventsQueries.queries(
      "events_selectivity_est")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // histogram guarantee: everything outside the straddling bin is
    // counted exactly, so the error cannot exceed that bin's population
    val hist = EventsQueries.events(spark, sf)
      .withColumn("bin", least(lit(EventsQueries.QBins - 1),
        floor(col("value") / EventsQueries.QBinW).cast("long")))
      .groupBy("event_type", "bin").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (t, cut, est, exact) =>
      val straddle = hist.getOrElse(
        (t, (cut / EventsQueries.QBinW).toLong), 0L)
      assert(math.abs(est - exact) <= straddle.toDouble + 1e-9,
        s"$t cut $cut: est $est exact $exact straddle-bin $straddle")
    }
    // monotone in the cutoff, per type
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byCut = rs.sortBy(_._2)
      byCut.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 <= b._3 + 1e-9 && a._4 <= b._4)
        case _ =>
      }
    }
  }

  test("HLL registers merge associatively: per-day max-merge equals direct") {
    // the law events_hll_rolling's whole design rests on: the union of
    // per-day sketches (per-register max) IS the sketch of the union
    val ev = EventsQueries.events(spark, sf)
      .withColumn("day", expr(s"ts div ${EventsQueries.DayUs}"))
      .withColumn("all", lit(1))
    val direct = EventsQueries.hllRegisters(ev, Seq("all"))
      .select("bucket", "mr").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val merged = EventsQueries.hllRegisters(ev, Seq("day"))
      .groupBy("bucket").agg(max("mr").as("mr"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged === direct)
  }

  test("HLL sketch distinct counts land within the configured error bound") {
    // m=64 registers → 1.04/√64 ≈ 13% standard error; the small-range
    // regime (this fixture) takes the linear-counting branch. ~2σ bound.
    val rows = EventsQueries.queries("events_approx_users")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, ap, ex) =>
      assert(math.abs(ap - ex) / ex < 0.30, s"$t: approx $ap vs exact $ex")
    }
  }

  test("retention matches a driver-side recompute of the daily active sets") {
    val daily = EventsQueries.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(1) / EventsQueries.DayUs, r.getLong(0)))
      .distinct.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val got = EventsQueries.queries("events_retention")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet === daily.keySet)
    got.foreach { case (day, nUsers, nRetained, rate) =>
      val active = daily(day)
      val retained = daily.get(day + 1).fold(0)(n => (active & n).size)
      assert(nUsers === active.size.toLong)
      assert(nRetained === retained.toLong)
      assert(rate === retained.toDouble / active.size)
    }
  }

  test("funnel matches a driver-side sequential replay and is monotone") {
    val byUserDay = EventsQueries.events(spark, sf)
      .select("user_id", "ts", "event_type").collect()
      .map(r => ((r.getLong(0), r.getLong(1) / EventsQueries.DayUs),
        (r.getLong(1), r.getString(2))))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sortBy(_._1) }
    // sequential replay: first view, first click >= that, first purchase >= that
    val stages = byUserDay.toSeq.flatMap { case ((_, day), evs) =>
      val v = evs.collectFirst { case (ts, "view") => ts }
      val c = v.flatMap(vt =>
        evs.collectFirst { case (ts, "click") if ts >= vt => ts })
      val p = c.flatMap(ct =>
        evs.collectFirst { case (ts, "purchase") if ts >= ct => ts })
      v.map(_ => (day, 1, c.size, p.size))
    }
    val expected = stages.groupBy(_._1).map { case (d, xs) =>
      d -> ((xs.map(_._2).sum.toLong, xs.map(_._3).sum.toLong,
        xs.map(_._4).sum.toLong))
    }
    val got = EventsQueries.queries("events_funnel")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    got.values.foreach { case (v, c, p) => assert(v >= c && c >= p) }
    assert(got.values.map(_._3).sum > 0, "no purchases reach stage 3 — fixture degenerate")
  }

  test("streaming tumbling agg matches batch counts once watermark closes windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val all = EventsQueries.events(spark, sf).orderBy("ts").collect()
      .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val sentinelTs = all.map(_.tsUs).max + 2L * 3600 * 1000000
    val sentinel = Event(-1L, sentinelTs, 0L, "sentinel", 0.0)

    val input = MemoryStream[Event]
    val q = EventStream.tumblingCounts(input.toDS())
      .writeStream.format("memory").queryName("ev_out")
      .outputMode("append").start()
    val batches = all.grouped(math.max(1, all.length / 3)).toSeq
    for (b <- batches) { input.addData(b); q.processAllAvailable() }
    input.addData(Seq(sentinel)) // advances watermark past every real window
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ev_out")
      .filter(col("event_type") =!= "sentinel")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val expected = EventsQueries.queries("events_tumbling_agg")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expected)
  }

  test("streaming sliding agg matches batch windows bit-exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val all = EventsQueries.events(spark, sf).orderBy("ts").collect()
      .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    // sentinel far enough out that its own 4 windows never close (no
    // later event advances the watermark past them), while every real
    // window's end falls behind the watermark and emits
    val sentinelTs = all.map(_.tsUs).max + 2L * 3600 * 1000000
    val sentinel = Event(-1L, sentinelTs, 0L, "sentinel", 0.0)

    val input = MemoryStream[Event]
    val q = EventStream.slidingTotals(input.toDS())
      .writeStream.format("memory").queryName("ev_slide_out")
      .outputMode("append").start()
    val batches = all.grouped(math.max(1, all.length / 3)).toSeq
    for (b <- batches) { input.addData(b); q.processAllAvailable() }
    input.addData(Seq(sentinel))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ev_slide_out").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expected = EventsQueries.queries("events_sliding_agg")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expected)
  }

  test("grouping sets = cube minus the bucket-only grouping, values equal") {
    // the law that pins WHAT the sets computation skipped: CUBE's four
    // groupings minus (value_bucket) alone is exactly the three requested
    // sets, and on the shared groupings every aggregate value matches
    // keying on the nullable (type, bucket) pair is only sound while the
    // data itself has no NULL event_type (aggregated-NULL vs data-NULL
    // would collide in the maps — the ambiguity the query's gid exists
    // to prevent); assert that precondition rather than inherit it
    assert(EventsQueries.events(spark, sf)
      .filter(col("event_type").isNull).count() === 0L,
      "fixture grew NULL event_type — key this law on gid instead")
    val gs = EventsQueries.queries("events_grouping_sets")(spark, sf)
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        (r.getLong(3), r.getDouble(4))).toMap
    val cube = EventsQueries.queries("events_cube")(spark, sf)
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val bucketOnly = cube.keySet.filter { case (t, b) => t.isEmpty && b.nonEmpty }
    assert(gs.keySet === cube.keySet -- bucketOnly)
    assert(bucketOnly.nonEmpty, "cube must actually contain the skipped sets")
    for ((k, v) <- gs) assert(cube(k) === v, s"aggregate mismatch at $k")
  }

  test("daily anomaly flags are exactly the |z| >= threshold days") {
    val flagged = EventsQueries.queries("events_anomaly_day")(spark, sf)
      .collect()
    assert(flagged.nonEmpty, "fixture boundary days must flag")
    flagged.foreach(r =>
      assert(math.abs(r.getDouble(3)) >= EventsQueries.ZThreshold))
    // recompute the per-type stats driver-side and cross-check each z
    val daily = EventsQueries.events(spark, sf)
      .selectExpr("event_type", s"ts div ${EventsQueries.DayUs} AS day")
      .groupBy("event_type", "day").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = daily.groupBy(_._1)
    flagged.foreach { r =>
      val (t, day, n, z) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(byType(t).exists(x => x._2 == day && x._3 == n))
      val ns = byType(t).map(_._3)
      val (nd, s, sq) = (ns.length, ns.sum, ns.map(x => x * x).sum)
      val ref = (n - s.toDouble / nd) /
        math.sqrt((sq.toDouble - s.toDouble * s / nd) / nd)
      assert(math.abs(ref - z) < 1e-9, s"z mismatch for ($t, $day)")
    }
  }

  test("quantile sketch picks the bin holding the target order statistic") {
    val est = EventsQueries.queries("events_quantile_sketch")(spark, sf)
      .collect()
      .map(r => ((r.getString(0), r.getDouble(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val byType = EventsQueries.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(est.keySet.map(_._1) === byType.keySet)
    est.foreach { case ((t, q), (n, v)) =>
      val vs = byType(t)
      assert(n === vs.length)
      // the ceil(q*n)-th order statistic must share the crossing bin, so
      // the estimate sits within one bin width of it (the interpolated
      // exact percentile can be bins away in a sparse tail — that gap is
      // the sketch's honest resolution limit, not an error)
      val vk = vs(math.ceil(q * n).toInt - 1)
      assert(math.abs(v - vk) <= EventsQueries.QBinW,
        s"($t, $q): sketch $v vs order stat $vk")
    }
    // per-type monotonicity across the probe points
    est.keys.map(_._1).toSeq.distinct.foreach { t =>
      assert(est((t, 0.5))._2 <= est((t, 0.9))._2 &&
        est((t, 0.9))._2 <= est((t, 0.99))._2)
    }
  }

  test("late arrivals: only re-sequenced events can be late, none without") {
    val rows = EventsQueries.queries("events_late_arrivals")(spark, sf)
      .collect()
    val ev = EventsQueries.events(spark, sf)
    assert(rows.map(_.getLong(1)).sum === ev.count(),
      "every event is accounted for")
    val nLate = rows.map(_.getLong(2)).sum
    val delayed = ev.filter(col("event_id") % 37 === 0 &&
      col("event_id") % 7 =!= 0).count()
    assert(nLate > 0, "the re-sequenced replay must produce late events")
    assert(nLate <= delayed,
      "only re-sequenced events can fall below the watermark")
    rows.foreach { r =>
      if (r.getLong(2) > 0) assert(!r.isNullAt(3) && r.getLong(3) > 0)
      else assert(r.isNullAt(3))
    }
    // the fixture arrives in event-time order: with no re-sequencing the
    // same watermark never drops anything (the dual that proves lateness
    // comes from the injected disorder, not the batch boundaries)
    val batch = expr(s"event_id div ${EventsQueries.ArrivalBatch}")
    val bm = ev.withColumn("batch", batch)
      .groupBy("batch").agg(max("ts").as("mx"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("batch")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val inOrderLate = ev.withColumn("batch", batch)
      .join(bm.withColumn("wm",
        max("mx").over(w) - lit(EventsQueries.LateDelayUs))
        .select("batch", "wm"), "batch")
      .filter(col("ts") < col("wm")).count()
    assert(inOrderLate === 0)
  }

  test("streaming watermark drops exactly the batch query's late events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val all = EventsQueries.events(spark, sf).collect()
      .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    // the same re-sequenced replay as events_late_arrivals, chunked into
    // the same micro-batches (by arrival_seq div ArrivalBatch, so chunk
    // boundaries are identical to the batch query's batch column)
    def seqOf(e: Event): Long =
      e.eventId + (if (e.eventId % 37 == 0) (e.eventId % 7) * 100L else 0L)
    val chunks = all.groupBy(e => seqOf(e) / EventsQueries.ArrivalBatch)
      .toSeq.sortBy(_._1).map(_._2)

    val input = MemoryStream[Event]
    val q = EventStream.lateDedup(input.toDS())
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    for (c <- chunks) { input.addData(c); q.processAllAvailable() }
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    q.stop()

    val nLate = EventsQueries.queries("events_late_arrivals")(spark, sf)
      .collect().map(_.getLong(2)).sum
    assert(dropped === nLate,
      s"engine dropped $dropped, batch accounting says $nLate")
    // surviving rows are everything else (no true duplicates exist)
    assert(spark.table("late_out").count() === all.length - dropped)
  }

  test("gap histogram: power-of-two edges, totals tie to sessionization") {
    val h = EventsQueries.queries("events_gap_histogram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val ev = EventsQueries.events(spark, sf)
    val nUsers = ev.select("user_id").distinct().count()
    assert(h.map(_._2).sum === ev.count() - nUsers,
      "one gap per event except each user's first")
    // bucket b ≥ 1 holds gaps in [2^(b-1), 2^b); bucket 0 is exactly the
    // zero gaps (same truncated microsecond) — integer-exact edges
    h.foreach { case (b, _, mn, mx, _) =>
      if (b == 0) assert(mn === 0 && mx === 0)
      else assert(mn >= (1L << (b - 1)) && mx < (1L << b),
        s"bucket $b: $mn..$mx")
    }
    // gaps above the session threshold are exactly the non-first sessions
    val sessions = EventsQueries.queries("events_sessionize")(spark, sf)
      .count()
    assert(h.map(_._5).sum === sessions - nUsers,
      "each over-gap opens exactly one new session")
  }

  test("decayed counts: driver rerun of the shared age fold is bit-equal") {
    val rows = EventsQueries.queries("events_decayed_counts")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val ev = EventsQueries.events(spark, sf)
      .selectExpr("event_type", s"ts div ${EventsQueries.DayUs} AS day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val dayMax = ev.map(_._2).max
    // the operator's ONE fold: per-age counts, ascending age, cnt/2^age
    val ref = ev.groupBy(_._1).map { case (t, es) =>
      val counts = es.map { case (_, d) => d }
        .groupBy(identity).map { case (d, o) => d -> o.length.toLong }
      t -> (graft.streaming.DecayStream.weightOf(counts, dayMax),
        counts.values.sum)
    }
    rows.foreach { case (t, n, w, newest, oldest) =>
      assert(newest >= 0 && oldest >= newest &&
        oldest <= EventsQueries.MaxDecayAge)
      assert(n === ref(t)._2, s"in-horizon count drift for $t")
      assert(w === ref(t)._1, s"decayed weight drift for $t")
      assert(w <= n.toDouble && w > 0.0)
    }
  }
}
