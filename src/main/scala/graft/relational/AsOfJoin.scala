package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, attach the most recent right row with
  * the same key and `rightTime <= leftTime` (inclusive).
  *
  * Spark has no native as-of join; the classic range-join formulation
  * (`l.key = r.key AND r.ts <= l.ts` + window) explodes into a
  * per-key cross product before pruning. This implementation composes
  * built-ins into the scalable shape instead: union both sides tagged,
  * ONE shuffle on the key, sort by (time, side) with the right side
  * ordered first at equal timestamps (inclusive semantics), and carry the
  * latest right payload forward with `last(..., ignoreNulls)`. Cost is
  * O(n log n) per key partition — the same shape as a sort-merge join —
  * regardless of how many right rows precede each left row.
  */
object AsOfJoin {

  /** @param right must be unique per (key, rightTime); dedupe first if not.
    * @param payload right columns to attach (null when nothing precedes). */
  def asofJoin(left: DataFrame, right: DataFrame, key: Seq[String],
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val tagged = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .select((leftCols.map(col) :+ col("_t") :+ col("_side")) ++
        payload.map(c => lit(null).cast(right.schema(c).dataType).as(s"_p_$c")): _*)
      .unionByName(
        right
          .withColumn("_t", col(rightTime))
          .withColumn("_side", lit(0))
          .select((leftCols.map { c =>
            // key columns carry through from the right side (they define
            // the partition); all other left columns are null padding
            if (key.contains(c)) col(c)
            else lit(null).cast(left.schema(c).dataType).as(c)
          } :+ col("_t") :+ col("_side")) ++
            payload.map(c => col(c).as(s"_p_$c")): _*),
        allowMissingColumns = false)

    val w = Window.partitionBy(key.head, key.tail: _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)

    val carried = payload.foldLeft(tagged) { (df, c) =>
      df.withColumn(s"asof_$c", last(col(s"_p_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("_side") === 1)
      .select(leftCols.map(col) ++ payload.map(c => col(s"asof_$c")): _*)
  }
}

/** As-of query over the events fixture: each event joined to the user's
  * most recent signup event at or before it. */
object AsOfQueries extends graft.QueryModule {
  import graft.events.EventsQueries.events

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof_last_signup" -> ((s, dir) => {
      val ev = events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"))
        .groupBy("user_id", "signup_ts").agg(count("*").as("_dup")).drop("_dup")
      AsOfJoin.asofJoin(
        ev.select("event_id", "user_id", "ts"),
        signups.withColumnRenamed("signup_ts", "s_ts"),
        key = Seq("user_id"), leftTime = "ts", rightTime = "s_ts",
        payload = Seq("s_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_s_ts").as("last_signup_ts"))
        .orderBy("event_id")
    }),
  )

  val oracle: Map[String, String] = Map(
    // DuckDB's native ASOF JOIN: largest s_ts with s_ts <= ts per user
    "asof_last_signup" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts, user_id, event_type FROM events
        |),
        |signups AS (
        |  SELECT DISTINCT user_id, ts AS s_ts FROM ev WHERE event_type = 'signup'
        |)
        |SELECT e.event_id, e.user_id, e.ts, s.s_ts AS last_signup_ts
        |FROM ev e ASOF LEFT JOIN signups s
        |  ON e.user_id = s.user_id AND e.ts >= s.s_ts
        |ORDER BY e.event_id""".stripMargin,
  )
}
