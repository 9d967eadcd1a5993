package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory for every main (Bench, Verify, Plans,
  * Profile, FixedDeltaBench, ScaleUp) and the test suites, plus the
  * per-query helpers the mains share — so a Profile or Plans run
  * describes exactly the engine configuration Bench times.
  *
  * Only what differs from Spark's defaults is set: `local[cpus]` with
  * one shuffle partition per core, UTC, no UI. AQE, partition
  * coalescing and the ObjectHashAggregate sort fallback (128) are
  * Spark's defaults already.
  */
object Session {

  /** A main's session: `cpus` comes from `SPARK_GRAFT_CPUS`, default 4. */
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The reap between queries unpersists locally-checkpointed RDDs, and
    // every unpersist logs a WARN ("locally checkpointed … cannot be
    // recomputed after unpersisting") — hundreds of lines that flood a
    // last-2000-chars stdout capture and can push Bench's one-line JSON
    // out of it. The released frames are never re-read
    // (each run rebuilds its query from scratch — pinned by
    // LocalCheckpointReleaseSpec), so the warning carries no information.
    // Likewise `WindowExec: No Partition Defined` fires on windows that a
    // limit or an aggregate bounds; the real guard is PlanAuditSpec's
    // "no unpartitioned WindowExec over unbounded input" test.
    for (logger <- Seq("org.apache.spark.rdd",
        "org.apache.spark.sql.execution.window"))
      Configurator.setLevel(logger, Level.ERROR)
    spark
  }

  /** Materialize every output column. `count()` lets Catalyst prune all
    * projections, so projection-heavy queries would time scan+count
    * instead of the actual work; the `noop` sink consumes every row. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The per-query reap, run once a query's result has been consumed
    * (step 2 of the [[Materialize]] lifecycle contract): drop the
    * Materialize registry and every persistent RDD — so every barrier
    * the query made, in any mode (`local`-mode checkpoint blocks
    * included), goes — and one query's intermediates don't squeeze the
    * next query's memory. blocking=true so the removal finishes before
    * the next query starts. */
  def reap(spark: SparkSession): Unit = {
    Materialize.reapAll(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Untimed warm-up: initialize the parquet reader, codegen and shuffle
    * machinery, and read EVERY fixture table end-to-end so no measured
    * query absorbs the first cold read of a table's pages. events.parquet
    * goes through EventsQueries.events — the unit-normalizing reader
    * every query uses. Failures (a missing table) are ignored. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    for (t <- tables)
      try consume(spark.read.parquet(s"$sfDir/$t.parquet"))
      catch { case _: Throwable => () }
    try {
      consume(graft.events.EventsQueries.events(spark, sfDir))
      consume(spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count())
      consume(SparkEntry.entry(spark))
    } catch { case _: Throwable => () }
  }
}
