package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.hash.Fnv1a32.shardId
import graft.keyspace.KvLog

/** The full storage-engine loop, closed: a stream of PUT/DELETE ops lands
  * append-only in a parquet op log, current state is the LWW compaction
  * of that log, and the compacted state can be laid out shard-partitioned
  * for pruned point reads ([[graft.keyspace.PartitionedLayout]]).
  *
  * The append (`foreachBatch`) is AT-LEAST-once: a batch retried after a
  * write that committed but missed its checkpoint re-appends the same
  * rows. State is still exactly-once, with no dedup pass, because LWW
  * compaction is idempotent over `seq`: a replayed op is an identical
  * row, and `max_by(_, seq)` over identical rows picks the same value, so
  * a key's winner is the same with one copy of an op or several.
  *
  * This is the reference's whole data plane — HTTP PUT → in-memory map →
  * HTTP GET (`cmd/node/main.go`) — restated durably: the op log is the
  * write path (sequential, no read-modify-write), compaction is deferred
  * and batchable (run it on a schedule, exactly like a log-structured
  * store), and reads prune by `shard_id` the way the coordinator routes
  * to one node. Unlike the reference ("memory-only, lost on restart"),
  * every layer here survives restarts.
  */
object KvStorage {

  /** The op log's columns, taken from [[KvOp]]: the log is read with
    * them, and a log that does not exist yet is an empty frame of them. */
  private val LogSchema: StructType = Encoders.product[KvOp].schema

  /** Append each micro-batch of ops to the log directory. */
  def applyStream(ops: Dataset[KvOp], logDir: String,
      checkpointDir: String): StreamingQuery =
    ops.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[KvOp], _: Long) =>
        batch.write.mode("append").parquet(logDir)
      }
      .start()

  /** Current keyspace state from the accumulated log. An empty or
    * not-yet-created log reads as an empty keyspace (a fresh deployment
    * queries before its first batch lands); replayed-batch duplicate
    * rows need no pass of their own (see the at-least-once note). */
  def currentState(spark: SparkSession, logDir: String): DataFrame = {
    // resolve the filesystem FROM the log path: FileSystem.get(conf)
    // returns the default FS, which throws Wrong-FS for an s3a/hdfs
    // logDir when the default is local (and vice versa)
    val logPath = new org.apache.hadoop.fs.Path(logDir)
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log =
      if (fs.exists(logPath)) spark.read.schema(LogSchema).parquet(logDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], LogSchema)
    KvLog.compact(log)
      .select(col("key"), col("value"), shardId(col("key")).as("shard_id"))
  }
}
