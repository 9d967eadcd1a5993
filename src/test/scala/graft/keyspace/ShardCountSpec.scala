package graft.keyspace

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.hash.Fnv1a32

/** The shard count is a layout parameter: the same keyspace laid out with
  * 16 shards still routes, prunes, and balances — only the modulus
  * changes. (The reference hard-codes 4; re-sharding there would be a
  * rewrite, here it is a re-partitioned write.)
  */
class ShardCountSpec extends SparkSpec {

  test("16-shard layout: uniform spread, pruned point reads") {
    val dir = Files.createTempDirectory("graft_shards16").toString
    try {
      val n = 16
      val state = KvLog.compact(KvLog.log(spark, sf))
        .select(col("key"), col("value"),
          Fnv1a32.shardId(col("key"), n).as("shard_id"))
      PartitionedLayout.write(state, dir)

      // all 16 shards populated, roughly uniformly
      val counts = spark.read.parquet(dir).groupBy("shard_id").count()
        .collect().map(r => r.getLong(1))
      assert(counts.length === n)
      val (mn, mx) = (counts.min, counts.max)
      assert(mx < 2 * mn, s"skewed shards: min=$mn max=$mx")

      // point read prunes to one of sixteen directories
      val q = PartitionedLayout.pointGet(spark, dir, "order:42", n)
      val rows = q.collect()
      assert(rows.length === 1)
      // partition columns come back BIGINT (the layout schema declares them)
      assert(rows.head.getAs[Number]("shard_id").longValue ===
        Fnv1a32.hashString("order:42") % n)
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      assert(scanned === 1, s"expected 1 of $n files scanned, got $scanned")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("shard chi2: bit-equal to the direct recompute; FNV stays uniform") {
    import org.apache.spark.sql.functions.col
    val rows = KeyspaceQueries.queries("kv_shard_chi2")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L), "one row per shard")
    val counts = KvLog.state(spark, sf).groupBy("shard_id")
      .agg(org.apache.spark.sql.functions.count(col("key")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nn = counts.values.sum
    rows.foreach { case (sid, nKeys, expected, part) =>
      assert(nKeys === counts(sid))
      assert(expected === nn.toDouble / 4.0)
      val sub = 4L * nKeys - nn
      assert(part === sub.toDouble * sub.toDouble / (4L * nn).toDouble,
        s"shard $sid: chi2 part differs")
    }
    // FNV placement should look uniform: χ²(df=3) at p=0.001 is 16.27 —
    // a hash this far out would mean real hot-spotting at scale
    val chi2 = rows.map(_._4).sum
    assert(chi2 < 16.27, s"shard placement skewed: chi2=$chi2")
  }
}
