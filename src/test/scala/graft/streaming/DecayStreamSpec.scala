package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.events.EventsQueries

/** The decay state is per-day integer counts and the weight is one
  * shared ascending-age fold, so the streaming snapshot must finish
  * BIT-EQUAL to the batch `events_decayed_counts` over the same feed —
  * for any chunking — whenever the key is active on the corpus' newest
  * day (true for every type in the fixture). A synthetic quiet-type
  * feed pins the documented per-key-anchor contract for the other case.
  */
class DecayStreamSpec extends SparkSpec {

  private lazy val rows: Array[Event] = EventsQueries.events(spark, sf)
    .orderBy("ts", "event_id").collect()
    .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3), r.getDouble(4)))

  private lazy val batch: Map[String, (Long, Double)] =
    EventsQueries.queries("events_decayed_counts")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  private def runStream(name: String, chunks: Seq[Seq[Event]])
      : Map[String, (Long, Long, Double)] = {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = DecayStream.decayedPerType(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    for (chunk <- chunks) { input.addData(chunk); q.processAllAvailable() }
    q.stop()
    // final snapshot per type = the latest anchor (counts can SHRINK
    // across emissions when the horizon prunes old mass, so anchor day,
    // not count, identifies the last row)
    spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (t, rs) =>
        val last = rs.maxBy(r => (r._2, r._3))
        t -> (last._2, last._3, last._4)
      }
  }

  test("streaming decay counter finishes bit-equal to the batch query") {
    val got = runStream("decay_out",
      rows.grouped(math.max(1, rows.length / 4)).map(_.toSeq).toSeq)
    assert(got.keySet === batch.keySet)
    val globalMax = rows.map(_.tsUs / EventsQueries.DayUs).max
    got.foreach { case (t, (day, n, w)) =>
      val (bn, bw) = batch(t)
      assert(day === globalMax,
        s"fixture contract: every type active on the newest day ($t)")
      assert(n === bn, s"count drift for $t")
      assert(w === bw, s"weight drift for $t: $w vs $bw")
    }
  }

  test("final state is chunking-invariant, including single-batch") {
    val whole = runStream("decay_whole", Seq(rows.toSeq))
    val seven = runStream("decay_seven",
      rows.grouped(math.max(1, rows.length / 7)).map(_.toSeq).toSeq)
    assert(whole === seven)
  }

  test("a type quiet before the corpus ends anchors to ITS newest day") {
    val du = EventsQueries.DayUs
    // 'quiet' stops at day 3; 'busy' runs to day 70 — beyond the horizon
    // relative to quiet's anchor but not its own
    val feed = Seq(
      Event(1, 1 * du + 5, 1, "quiet", 0.0),
      Event(2, 3 * du + 5, 1, "quiet", 0.0),
      Event(3, 3 * du + 9, 2, "quiet", 0.0),
      Event(4, 1 * du + 5, 3, "busy", 0.0),
      Event(5, 70 * du + 5, 3, "busy", 0.0))
    val got = runStream("decay_quiet", feed.grouped(2).map(_.toSeq).toSeq)
    // quiet: anchor day 3, ages (2, 0, 0) -> 2/2^0 + 1/2^2
    assert(got("quiet") === ((3L, 3L, 2.0 + 0.25)))
    // busy: anchor 70; the day-1 event is 69 days old — outside the
    // horizon, dropped from weight, count, AND state
    assert(got("busy") === ((70L, 1L, 1.0)))
  }
}
