package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.keyspace.{KvLog, PartitionedLayout}

/** End-to-end storage loop: stream writes → durable op log → compacted
  * state → shard-partitioned layout → pruned point read.
  */
class KvStorageSpec extends SparkSpec {

  test("streamed op log compacts to the batch state; point read round-trips") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_kv_storage").toString
    try {
      val ops = KvLog.log(spark, sf).collect().map { r =>
        KvOp(r.getLong(0), r.getString(1), r.getString(2),
          Option(r.getString(3)))
      }
      val input = MemoryStream[KvOp]
      val q = KvStorage.applyStream(input.toDS(), s"$base/log", s"$base/ckpt")
      for (b <- ops.grouped(math.max(1, ops.length / 4)))
        { input.addData(b.toSeq); q.processAllAvailable() }
      q.stop()

      val state = KvStorage.currentState(spark, s"$base/log")
      val expected = KvLog.state(spark, sf).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val got = state.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === expected)

      // lay out for point reads, then GET through the pruned path
      PartitionedLayout.write(state.coalesce(1), s"$base/layout")
      val hit = PartitionedLayout.pointGet(spark, s"$base/layout", "order:42")
        .collect()
      assert(hit.length === 1)
      assert(hit.head.getString(1) === expected("order:42"))
      // deleted key: the 404 path
      assert(PartitionedLayout.pointGet(spark, s"$base/layout", "order:101")
        .isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("a replayed batch (exact duplicate rows) compacts to the single-copy state") {
    val base = Files.createTempDirectory("graft_kv_replay").toString
    try {
      // the log as applyStream writes it: KvOp's columns, seq a BIGINT
      val batch = KvLog.log(spark, sf)
        .select(col("seq").cast("long"), col("op"), col("key"), col("value"))
      // the at-least-once failure: the same batch lands in the log twice
      batch.write.parquet(s"$base/once")
      batch.write.parquet(s"$base/twice")
      batch.write.mode("append").parquet(s"$base/twice")
      assert(spark.read.parquet(s"$base/twice").count() ===
        2 * spark.read.parquet(s"$base/once").count())

      def state(dir: String) = KvStorage.currentState(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val once = state(s"$base/once")
      assert(once.nonEmpty)
      assert(state(s"$base/twice") === once)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }
}
