package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators — the data-plane fix the `events_key_skew`
  * audit only measures. At 100 TB a hot key (one `user_id` carrying a
  * large share of the rows) is the #1 aggregation/join incident: every
  * row of the hot key hashes to ONE reduce partition, so one task runs
  * for hours while the rest of the cluster idles. Both operators here
  * spread the hot key across [[Salts]] sub-partitions deterministically
  * and are checked bit-equal against the UNSALTED DuckDB oracle — the
  * mitigation must never change the answer.
  *
  * The fixture's user_id distribution is near-uniform (max ≈ 1.5× the
  * median count), so these queries don't *need* the salt at test scale;
  * what the oracle pins is the invariant that makes the salt safe to
  * deploy on a genuinely skewed 100 TB key space, and SkewSpec's plan
  * audit pins that the hot key really fans out across all salts.
  *
  * The salt is `fnv1a32(event_id) % Salts` — a per-ROW spreader (same
  * user_id, different salts), not a per-key hash (which would re-create
  * the hot partition). It is deterministic, so unlike `rand()`-salting
  * the queries stay replayable and speculative-execution-safe: a task
  * retry reproduces identical partitions. Lineage matters at scale —
  * a lost shuffle block recomputes bit-identically.
  */
object SkewQueries extends graft.QueryModule {

  /** Sub-partitions per key. At 100 TB size this to ceil(hot-key rows /
    * target-partition rows); 8 suffices to turn a 1-task straggler into
    * 8-way parallelism without inflating the dimension replication. */
  val Salts = 8

  private def salted(df: DataFrame): DataFrame =
    df.withColumn("salt", pmod(graft.hash.Fnv1a32
      .fnv1a32(col("event_id").cast("string")), lit(Salts.toLong)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // two-phase salted aggregation: phase 1 aggregates (user_id, salt) —
    // the hot key's rows split across Salts reducers — phase 2 combines
    // the ≤ Salts partial rows per key. Equivalent to what map-side
    // partial aggregation already does WHEN the upstream happens to
    // spread the key across mappers; the explicit salt guarantees it
    // regardless of upstream layout (e.g. a hot key clustered in one
    // input file, where partial agg collapses nothing). Phase-2 input is
    // #keys × Salts rows — dimension-sized, never fact-sized. The
    // DECIMAL accumulator makes both phases' sums exact, so the final
    // double equals the unsalted oracle's bit-for-bit (decimal addition
    // is associative; double addition would not survive the regrouping).
    "events_skew_salted_agg" -> ((s, dir) =>
      salted(EventsQueries.events(s, dir))
        .groupBy("user_id", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(18,2)")).as("pv"))
        .groupBy("user_id")
        .agg(sum(col("pn")).as("n_events"),
          sum(col("pv")).cast("double").as("total_value"))
        .orderBy("user_id")),

    // salted shuffle join: fact side gets the per-row salt, the
    // dimension side is replicated ×Salts (one copy per salt value), and
    // the join key becomes (key, salt) — the hot key's rows now meet
    // their dimension row in Salts different reduce partitions. The
    // shuffle_hash hint forces the shuffle-join shape the salt exists
    // for (Spark would broadcast a dimension this small, which is the
    // right plan when it FITS — salting is for the regime where it
    // doesn't). Replication cost is #dim-rows × Salts, dimension-sized;
    // the alternative — AQE skew-join — only splits SORT-MERGE
    // partitions and needs the skew to show at runtime, while the salt
    // is layout-independent. Aggregated per nation so the oracle pins
    // the full join product exactly.
    "events_skew_salted_join" -> ((s, dir) => {
      val fact = salted(EventsQueries.events(s, dir))
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
        .withColumn("salt", explode(sequence(lit(0L), lit(Salts - 1L))))
      fact.join(dim.hint("shuffle_hash"),
          fact("user_id") === dim("c_custkey") &&
            fact("salt") === dim("salt"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("c_nationkey")
    }))

  val oracle: Map[String, String] = Map(
    // the UNSALTED statements: the mitigation must be answer-invariant
    "events_skew_salted_agg" -> (s"WITH ${EventsQueries.eventsSql}\n" +
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_value
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin),

    "events_skew_salted_join" -> (s"WITH ${EventsQueries.eventsSql}\n" +
      """SELECT c_nationkey, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_value
        |FROM ev JOIN customer ON user_id = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin))
}
