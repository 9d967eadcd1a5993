package graft.relational

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucketed tables: pre-shuffling data ONCE at write time so every later
  * join/aggregation on the bucket key is exchange-free — at 100 TB this is
  * the difference between shuffling the fact table per query and never
  * shuffling it at all.
  */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables runs without a shuffle exchange") {
    // the catalog is in-memory but the warehouse dirs persist across JVMs
    for (t <- Seq("li_bucketed", "ord_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(t))))
    }
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")

    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")

    // disable auto-broadcast so the join is sort-merge — the regime where
    // bucketing matters (at 100 TB neither side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(2500)}")
      assert(plan.contains("SortMergeJoin"), plan.take(1500))

      // and it is still correct
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }

    spark.sql("DROP TABLE li_bucketed")
    spark.sql("DROP TABLE ord_bucketed")
  }
}
