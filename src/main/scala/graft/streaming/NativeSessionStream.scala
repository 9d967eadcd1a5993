package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.events.EventsQueries

/** Gap sessions under Structured Streaming via the BUILT-IN
  * `session_window` aggregate — the compose-existing-ops twin of
  * [[SessionStream]]'s `flatMapGroupsWithState` implementation, and the
  * streaming face of the batch `events_session_native` query (the same
  * `groupBy(user, session_window(...))` expression runs in both modes —
  * that symmetry is the whole point of declaring sessions as an
  * aggregate instead of hand-rolling state).
  *
  * Mechanics: the state store keeps one open window per (user, session);
  * windows whose events sit within the 30-minute gap are MERGED by the
  * aggregate itself; a session is emitted in append mode once the
  * watermark passes `last event + gap`, after which its state is
  * dropped. State size therefore tracks the recently-active session set
  * — the same bound as SessionStream's marker state, with merge logic
  * owned by the engine instead of user code.
  *
  * Where the custom-state twin is still needed: per-session logic that
  * is not an aggregate (emitting on transition, carrying non-commutative
  * state, custom timeout policy). For plain per-session aggregates this
  * operator is strictly less code and benefits from whole-stage codegen
  * of the aggregate side.
  */
object NativeSessionStream {

  /** (user_id, n_events, start_us, duration_us) per closed session —
    * the same shape as the batch `events_session_native` output. */
  def sessions(events: Dataset[Event]): DataFrame = {
    val gapSec = EventsQueries.SessionGapUs / 1000000L
    events
      .withColumn("event_time", timestamp_micros(col("tsUs")))
      .withWatermark("event_time", "0 seconds")
      .groupBy(col("userId").as("user_id"),
        session_window(col("event_time"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsUs")).as("start_us"),
        (max(col("tsUs")) - min(col("tsUs"))).as("duration_us"))
      .select("user_id", "n_events", "start_us", "duration_us")
  }

  /** Batch twin over the fixture — used by the parity spec. */
  def batch(s: SparkSession, dir: String): DataFrame =
    graft.events.JourneyQueries.queries("events_session_native")(s, dir)
}
