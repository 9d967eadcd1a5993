package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.events.EventsQueries

/** Range (interval-containment) join: attach to every point row the
  * interval rows of the same key that contain it.
  *
  * Spark planners turn the naive formulation
  * (`p.key = i.key AND p.t BETWEEN i.lo AND i.hi`) into an equi-join on the
  * key followed by a per-key filter — fine until one key holds many
  * intervals, when the per-key cross product explodes. The scalable shape
  * bucketizes time: intervals are exploded to every fixed-width chunk they
  * overlap, points map to their single chunk, and the join runs equi on
  * (key, chunk) before the exact containment filter. Replication factor is
  * interval_length/chunk + 1, and no key ever cross-products beyond a
  * chunk. The chunk width is the knob: narrower = more replication, wider
  * = fatter post-filter.
  */
object RangeJoin {

  def pointInInterval(points: DataFrame, intervals: DataFrame,
      key: Seq[String], pointTime: String, lo: String, hi: String,
      chunk: Long): DataFrame = {
    val p = points.withColumn("_chunk", expr(s"$pointTime div $chunk"))
    val i = intervals.withColumn("_chunk",
      explode(sequence(expr(s"$lo div $chunk"), expr(s"$hi div $chunk"))))
    p.join(i, key :+ "_chunk")
      .filter(col(pointTime) >= col(lo) && col(pointTime) <= col(hi))
      .drop("_chunk")
  }
}

/** Range-join query: every event joined back to the session interval that
  * contains it — closing the loop with `events_sessionize` (each event
  * belongs to exactly one session, so per-session match counts must
  * reproduce the sessionizer's n_events). */
object RangeJoinQueries extends graft.QueryModule {

  val ChunkUs: Long = 10L * 60 * 1000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "range_join_sessions" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir).select("user_id", "ts", "event_id")
      val sessions = EventsQueries.queries("events_sessionize")(s, dir)
        .select(col("user_id"), col("session_idx"), col("start_us"),
          (col("start_us") + col("duration_us")).as("end_us"))
      RangeJoin.pointInInterval(ev, sessions, Seq("user_id"), "ts",
          "start_us", "end_us", ChunkUs)
        .groupBy("user_id", "session_idx")
        .agg(count("*").as("n_matched"))
        .orderBy("user_id", "session_idx")
    }),
  )

  val oracle: Map[String, String] = Map(
    // naive theta join is the oracle: exact containment per key
    "range_join_sessions" -> (
      s"""WITH ev AS (
         |  SELECT event_id, epoch_us(ts) AS ts, user_id FROM events
         |),
         |lagged AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev
         |),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > ${EventsQueries.SessionGapUs}
         |                 THEN 1 ELSE 0 END AS new_session
         |  FROM lagged
         |),
         |numbered AS (
         |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM flagged
         |),
         |sessions AS (
         |  SELECT user_id, session_idx, min(ts) AS start_us, max(ts) AS end_us
         |  FROM numbered GROUP BY user_id, session_idx
         |)
         |SELECT e.user_id, s.session_idx, count(*) AS n_matched
         |FROM ev e JOIN sessions s
         |  ON e.user_id = s.user_id AND e.ts >= s.start_us AND e.ts <= s.end_us
         |GROUP BY e.user_id, s.session_idx
         |ORDER BY e.user_id, s.session_idx""".stripMargin),
  )
}
