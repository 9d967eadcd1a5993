package graft.keyspace

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.hash.Fnv1a32

/** The point-GET read path of the hash layout: the sorted, paged writer
  * bounds a GET to one page range of one file, and the readers' kept
  * relation never serves a layout older than the last [[PartitionedLayout.write]].
  */
class PointGetReadPathSpec extends SparkSpec {

  /** Keys `k000000`.. of `n` numbers in scrambled order (input already in
    * key order would pass an unsorted writer), enough that every shard
    * spans several pages; values carry `tag` so two layouts answer
    * differently. 7919 is prime to every `n` used, so `i` is a permutation. */
  private def keyspace(n: Int, tag: String): DataFrame = {
    val i = col("id") * 7919 % n
    spark.range(n).select(format_string("k%06d", i).as("key"),
      concat(lit(s"$tag:"), i.cast("string")).as("value"))
      .withColumn("shard_id", Fnv1a32.shardId(col("key")))
  }

  private def withDir(name: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(name).toString
    try body(dir)
    finally {
      PartitionedLayout.forget(dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** A GET's answer, rows its scan read and files it opened. */
  private def get(s: SparkSession, dir: String, key: String)
      : (Seq[(String, String)], Long, Long) = {
    val q = PartitionedLayout.pointGet(s, dir, key)
    val rows = q.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val leaves = q.queryExecution.executedPlan.collectLeaves()
    def metric(k: String) = leaves.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
    (rows, metric("numOutputRows"), metric("numFiles"))
  }

  test("a GET reads one file and at most one page of rows, hit or in-range miss") {
    withDir("graft_get_pages") { dir =>
      val n = 40000
      PartitionedLayout.write(keyspace(n, "a"), dir)
      val smallest = spark.read.parquet(dir).groupBy("shard_id").count()
        .collect().map(_.getLong(1)).min
      assert(smallest > 4L * PartitionedLayout.PageRows,
        s"every shard must span several pages for the bound to bite: $smallest rows")
      for (i <- 0 until n by 1999) {
        val key = f"k$i%06d"
        val (hit, hitRows, hitFiles) = get(spark, dir, key)
        assert(hit === Seq(key -> s"a:$i"))
        assert(hitRows <= PartitionedLayout.PageRows, s"GET $key read $hitRows rows")
        assert(hitFiles === 1L)
        val (miss, missRows, missFiles) = get(spark, dir, key + "x")
        assert(miss.isEmpty)
        assert(missRows <= PartitionedLayout.PageRows, s"GET ${key}x read $missRows rows")
        assert(missFiles === 1L)
      }
    }
  }

  test("read-your-writes through the kept relation") {
    withDir("graft_get_ryw") { dir =>
      PartitionedLayout.write(keyspace(3000, "a"), dir)
      assert(get(spark, dir, "k000042")._1 === Seq("k000042" -> "a:42"))
      assert(get(spark, dir, "k000007")._1 === Seq("k000007" -> "a:7"))
      val keptA = PartitionedLayout.relation(spark, dir)
      assert(PartitionedLayout.relation(spark, dir) eq keptA, "the relation is kept")

      // layout B: k000042 updated, k000007 deleted, written to the same path
      val b = keyspace(3000, "a").filter(col("key") =!= "k000007")
        .withColumn("value", when(col("key") === "k000042", lit("b:42"))
          .otherwise(col("value")))
      PartitionedLayout.write(b, dir)
      assert(PartitionedLayout.relation(spark, dir) ne keptA, "write drops the kept relation")
      assert(get(spark, dir, "k000042")._1 === Seq("k000042" -> "b:42"))
      assert(get(spark, dir, "k000007")._1.isEmpty)
      assert(get(spark, dir, "k000043")._1 === Seq("k000043" -> "a:43"))
    }
  }

  test("a second session keeps its own relation and sees the other's writes") {
    withDir("graft_get_sessions") { dir =>
      PartitionedLayout.write(keyspace(3000, "a"), dir)
      val other = spark.newSession()
      assert(get(spark, dir, "k000042")._1 === Seq("k000042" -> "a:42"))
      assert(get(other, dir, "k000042")._1 === Seq("k000042" -> "a:42"))
      val mine = PartitionedLayout.relation(spark, dir)
      val theirs = PartitionedLayout.relation(other, dir)
      assert(theirs ne mine)
      assert(theirs.sparkSession eq other)

      // a write from one session drops every session's kept relation
      PartitionedLayout.write(keyspace(3000, "b"), dir)
      assert(get(other, dir, "k000042")._1 === Seq("k000042" -> "b:42"))
      assert(get(spark, dir, "k000042")._1 === Seq("k000042" -> "b:42"))
    }
  }
}
