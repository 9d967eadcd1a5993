package graft.keyspace

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Z-ordered layout keeps its Z order on disk: every cell file, read
  * back in file order, holds non-decreasing Z-values, so the page and
  * row-group stats of a cell stay tight for a box scan. */
class ZOrderWriteSpec extends SparkSpec {

  test("each Z-cell file read back in file order has non-decreasing zv") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    try {
      // a scrambled 64×64 grid (4,096 points): input already in Z order
      // would pass an unsorted writer
      val n = 4096
      val i = col("id") * 2731 % n
      val xy = spark.range(n).select((i % 64).as("x"), (i / 64).as("y"), i.as("p"))
      PartitionedLayout.writeZOrdered(xy, dir, col("x"), col("y"),
        bits = 6, cellShift = 8)
      val files = spark.read.parquet(dir).inputFiles.toSeq
      assert(files.size >= 8, s"the grid should spread over >= 8 cells: ${files.size}")
      files.foreach { f =>
        val zv = spark.read.parquet(f).select("zv").collect().map(_.getLong(0)).toSeq
        assert(zv.nonEmpty, s"$f is empty")
        val sorted = zv == zv.sorted
        assert(sorted, s"$f is not Z-sorted: ${zv.take(20).mkString(",")}")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
