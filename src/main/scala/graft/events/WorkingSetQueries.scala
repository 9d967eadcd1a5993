package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Working-set analysis of the event stream's keyed state: if the
  * streaming sessionizer kept an LRU cache of per-user state, what hit
  * rate would capacity C buy? The answer is the classic stack-distance
  * computation (Mattson et al. '70): an access hits an LRU cache of
  * capacity C iff fewer than C distinct OTHER users were touched since
  * this user's previous event. The resulting curve is how you size
  * `spark.sql.streaming` state-store memory (or any router-side
  * point-get cache) from a trace instead of folklore.
  *
  * Distance is computed relationally, never sequentially:
  *   - a dense global seq comes from the bucket-offset rank pattern
  *     (corpus_global_ids): per-bucket windows + a prefix-summed
  *     histogram — no single-partition global window;
  *   - "distinct others since my last access" = rows b strictly inside
  *     (prev, seq) whose OWN next access falls beyond seq — each such
  *     user contributes exactly its LAST access, so a plain count IS
  *     the distinct count;
  *   - the interval join runs through the suite's range-chunk trick
  *     (seq div ChunkLen equi-join), so the candidate fan-out is
  *     Σ interval/chunk — linear in total stack distance, never n².
  *
  * All counts are exact BIGINTs; hit rates are single divisions.
  */
object WorkingSetQueries extends graft.QueryModule {

  /** Cache capacities on the reported curve (distinct users resident). */
  val Capacities: Seq[Int] = Seq(16, 64, 256, 1024)

  /** Seq-space chunk width for the interval equi-join. */
  val ChunkLen = 256L

  /** Rank buckets for the dense global seq. */
  val SeqBuckets = 32

  /** The access table with (seq, prev, nxt) and the raw distance join —
    * exposed pre-checkpoint so PlanAuditSpec can pin the chunk-keyed
    * interval-join shape (the checkpoints hide it from the final plan). */
  private[graft] def accessesAndDistances(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
      val ev = EventsQueries.events(s, dir)
        .select(col("ts"), col("event_id"), col("user_id"))
      // dense global seq without a global window
      val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"))
      val bucketed = ev.crossJoin(broadcast(bounds))
        .select(col("ts"), col("event_id"), col("user_id"),
          expr(s"(ts - t0) * $SeqBuckets div (t1 - t0 + 1)").as("bucket"))
      val hist = bucketed.groupBy("bucket").agg(count(lit(1)).as("n"))
      val wOff = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = hist
        .withColumn("off", coalesce(sum("n").over(wOff), lit(0L)))
        .select("bucket", "off")
      val wInB = Window.partitionBy("bucket").orderBy("ts", "event_id")
      val seqd = bucketed.join(broadcast(offsets), "bucket")
        .withColumn("seq",
          col("off") + row_number().over(wInB).cast("long"))
        .select("seq", "user_id")
      val wUser = Window.partitionBy("user_id").orderBy("seq")
      val acc = seqd
        .withColumn("prev", lag("seq", 1).over(wUser))
        .withColumn("nxt", lead("seq", 1).over(wUser))
        .transform(graft.Materialize(_)) // both join sides + the census read this
      // targets: re-accesses, exploded to their interval's seq-chunks
      val targets = acc.filter(col("prev").isNotNull)
        .select(col("user_id").as("t_user"), col("prev"),
          col("seq").as("s"),
          explode(expr(
            s"sequence(prev div $ChunkLen, seq div $ChunkLen)"))
            .as("chunk"))
      // candidates: every access, bucketed by chunk, carrying its next
      val cands = acc
        .select(col("seq").as("b_seq"), col("nxt"),
          expr(s"seq div $ChunkLen").as("chunk"))
      val dists = targets.join(cands, "chunk")
        .filter(col("b_seq") > col("prev") && col("b_seq") < col("s") &&
          (col("nxt").isNull || col("nxt") > col("s")))
        .groupBy("t_user", "s")
        .agg(count(lit(1)).as("d"))
      (acc, dists)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_state_lru_curve" -> ((s, dir) => {
      val (acc, dists) = accessesAndDistances(s, dir)
      val withD = acc.filter(col("prev").isNotNull)
        .join(dists,
          acc("user_id") === dists("t_user") && acc("seq") === dists("s"),
          "left")
        .select(coalesce(col("d"), lit(0L)).as("d"))
      val census = acc.agg(count(lit(1)).as("n_accesses"),
        sum(when(col("prev").isNull, 1L).otherwise(0L))
          .as("n_compulsory"))
      withD
        .select(explode(typedLit(Capacities)).as("capacity"), col("d"))
        .groupBy("capacity")
        .agg(sum(when(col("d") < col("capacity"), 1L).otherwise(0L))
          .as("n_hits"))
        .crossJoin(broadcast(census))
        .select(col("capacity").cast("long").as("capacity"),
          col("n_accesses"), col("n_compulsory"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_accesses"))
            .as("hit_rate"))
        .orderBy("capacity")
    }))

  val oracle: Map[String, String] = Map(
    // the contract in direct form: row_number over (ts, event_id) as
    // seq, then the last-access-inside-the-interval count per re-access
    "events_state_lru_curve" -> (s"WITH ${EventsQueries.eventsSql},\n" +
      s"""a AS (
         |  SELECT user_id,
         |         row_number() OVER (ORDER BY ts, event_id) AS seq
         |  FROM ev
         |),
         |w AS (
         |  SELECT user_id, seq,
         |         lag(seq) OVER (PARTITION BY user_id ORDER BY seq)
         |           AS prev,
         |         lead(seq) OVER (PARTITION BY user_id ORDER BY seq)
         |           AS nxt
         |  FROM a
         |),
         |dists AS (
         |  SELECT t.user_id, t.seq,
         |         (SELECT count(*) FROM w b
         |          WHERE b.seq > t.prev AND b.seq < t.seq
         |            AND (b.nxt IS NULL OR b.nxt > t.seq)) AS d
         |  FROM w t WHERE t.prev IS NOT NULL
         |),
         |census AS (
         |  SELECT count(*) AS n_accesses,
         |         CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_compulsory
         |  FROM w
         |)
         |SELECT CAST(c.c AS BIGINT) AS capacity,
         |       census.n_accesses, census.n_compulsory,
         |       CAST((SELECT sum(CASE WHEN d < c.c THEN 1 ELSE 0 END)
         |             FROM dists) AS BIGINT) AS n_hits,
         |       CAST((SELECT sum(CASE WHEN d < c.c THEN 1 ELSE 0 END)
         |             FROM dists) AS DOUBLE) / census.n_accesses
         |         AS hit_rate
         |FROM (SELECT unnest([${Capacities.mkString(", ")}]) AS c) c,
         |     census
         |ORDER BY capacity""".stripMargin))
}
