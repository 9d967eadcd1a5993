package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.keyspace.PartitionedLayout.{Schema => KvSchema}

/** Source/sink breadth for the keyspace and fixture tables: the engine's
  * canonical storage is parquet (columnar, predicate/projection pushdown,
  * partition pruning), but ingestion pipelines arrive as CSV and JSON
  * lines, and some warehouses hand over ORC. All four round-trip the
  * keyspace schema losslessly — with explicit schemas on read: schema
  * inference costs a full extra pass at 100 TB and silently widens types
  * (a numeric-looking key column becomes a number).
  *
  * Format notes for the keyspace at scale:
  *   - parquet/orc: columnar, splittable, pushdown — the state layout;
  *   - json lines: splittable, schema-explicit, no pushdown — ingestion
  *     only, convert on arrival;
  *   - csv: needs quoting for free-form values (keys contain spaces,
  *     colons, unicode; values are opaque) — enabled below, and the
  *     round-trip spec pins that quoting survives. Empty-string values
  *     are LEGAL keyspace values (store.go:84), but Spark's CSV reader
  *     defaults `nullValue` to "" and would silently turn them into
  *     nulls — the read re-points nullValue at a sentinel that cannot
  *     occur in the data.
  */
object Sources {

  def writeKv(state: DataFrame, base: String): Unit = {
    state.write.mode("overwrite").parquet(s"$base/parquet")
    state.write.mode("overwrite").orc(s"$base/orc")
    state.write.mode("overwrite").json(s"$base/json")
    state.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .csv(s"$base/csv")
  }

  def readKv(spark: SparkSession, base: String, format: String): DataFrame =
    format match {
      case "parquet" => spark.read.schema(KvSchema).parquet(s"$base/parquet")
      case "orc" => spark.read.schema(KvSchema).orc(s"$base/orc")
      case "json" => spark.read.schema(KvSchema).json(s"$base/json")
      case "csv" => spark.read.schema(KvSchema)
        .option("header", "true")
        .option("nullValue", "\u0001") // sentinel: "" must stay an empty string, not null
        .csv(s"$base/csv")
      case other => throw new IllegalArgumentException(s"format: $other")
    }
}
