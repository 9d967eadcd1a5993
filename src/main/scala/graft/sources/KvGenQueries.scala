package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.Ora

/** The DSv2 connector on the query surface: scan the generated
  * keyspace through [[KvGenSource]] with a shard predicate the SOURCE
  * consumes (one of four partitions planned — the spec counts them)
  * and summarize the shard. The generator is a pure function of the
  * row id, so DuckDB reproduces the identical table from `range(n)`
  * and the connector's read path is oracle-gated like every operator.
  */
object KvGenQueries extends graft.QueryModule {

  /** Fixed generator size — the connector is sf-independent by design
    * (its input is the id space, not the fixture directory). */
  val GenRows = 20000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv_dsv2_shard_scan" -> ((s, _) =>
      s.read.format("graft.sources.KvGenSource")
        .option("rows", GenRows.toString).load()
        .filter(col("shard_id") === 2L)
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_keys"),
          min("key").as("min_key"), max("key").as("max_key"),
          countDistinct("value").as("n_values"))))

  val oracle: Map[String, String] = Map(
    "kv_dsv2_shard_scan" ->
      s"""WITH g AS (
         |  SELECT 'gen:' || i AS key, 'v:' || (i % 97) AS value,
         |         ${Ora.fnv("'gen:' || i")} % 4 AS shard_id
         |  FROM (SELECT unnest(range($GenRows)) AS i)
         |)
         |SELECT shard_id, count(*) AS n_keys, min(key) AS min_key,
         |       max(key) AS max_key, count(DISTINCT value) AS n_values
         |FROM g WHERE shard_id = 2 GROUP BY 1""".stripMargin)
}
