package graft.sim

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IndexCache

/** The index-as-table contract: the served query equals the
  * retrain-per-query path bit-for-bit, touches NO corpus-sized input at
  * query time (zero training stages, zero embedding scans in the plan),
  * and file-prunes the codes table to the probed cells. */
class IvfPqIndexSpec extends SparkSpec {

  private def del(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(del)
    f.delete()
  }

  private def rebuiltFresh(): String = {
    val path = IvfPqIndex.indexPath(spark, sf)
    del(new File(path))
    path
  }

  /** Drop the base generation and its compacted sibling, so the next
    * compaction has a delta to fold; returns the base path. */
  private def freshBase(): String = {
    val basePath = IvfPqIndex.indexPath(spark, sf) + "_base"
    del(new File(basePath + "_compacted"))
    del(new File(basePath))
    basePath
  }

  private def codeRows(path: String) =
    spark.read.parquet(s"$path/codes")
      .select("vec_id", "sub", "cluster", "cell")
      .orderBy("vec_id", "sub").collect().map(_.toSeq).toSeq

  test("served results are bit-identical to the retrain-per-query path") {
    rebuiltFresh()
    val served = IvfPqIndex.serve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val retrain = SimilarityQueries.queries("sim_ivfpq_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == retrain) // ==, not ≈: the doubles must match exactly
    assert(served.size == 5)
  }

  test("query-time plan: no embedding scan, no training, pruned codes scan") {
    val path = IvfPqIndex.buildIfMissing(spark, sf)
    val df = IvfPqIndex.serve(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // zero corpus reads at query time: the ONLY file scans in the served
    // plan are the three index tables (the query-vector point lookup is
    // materialized at plan construction, before this plan exists)
    assert(!plan.contains("embeddings.parquet"),
      "serve plan must not scan the corpus:\n" + plan.take(2000))
    // the codes scan carries the probed cells as literal PARTITION
    // filters — static file pruning, the whole point of the layout
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      plan.take(2000))
    // pruning is real at execution: the codes scan's numFiles metric
    // counts only the probed cells' files (inputFiles would lie here —
    // it lists the catalog's full file set, pruning unapplied)
    df.collect()
    // descend through AQE wrappers — a bare collect stops at the
    // AdaptiveSparkPlanExec boundary and sees no scans
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(scans.nonEmpty, "codes FileSourceScan not found in plan")
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    def countParquet(f: File): Int =
      if (f.isDirectory) f.listFiles().map(countParquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val allFiles = countParquet(new File(s"$path/codes"))
    val cellDirs = new File(s"$path/codes").listFiles()
      .filter(_.getName.startsWith("cell="))
    val expectedMax = cellDirs.sortBy(countParquet)
      .takeRight(SimilarityQueries.NProbe).map(countParquet).sum
    assert(filesRead < allFiles, s"read $filesRead of $allFiles files")
    assert(filesRead <= expectedMax,
      s"read $filesRead files > $expectedMax (the ${SimilarityQueries.NProbe} largest cells)")
  }

  test("compaction folds the delta in: same results, single pruned scan") {
    // start from a fresh BASE index and no compacted generation, so the
    // compaction actually has a delta to fold
    val basePath = freshBase()
    val before = IvfPqIndex.serveWithDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val after = IvfPqIndex.serveCompacted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "compaction must not change results")
    // the compacted table carries the delta rows
    val cut = IvfPqIndex.baseCutoff(spark, sf)
    val compacted = spark.read.parquet(s"$basePath" + "_compacted/codes")
    assert(compacted.filter(col("vec_id") > cut).count() > 0)
    // idempotent: a second compaction call does not duplicate the delta
    val n = compacted.count()
    IvfPqIndex.compactDelta(spark, sf)
    assert(spark.read.parquet(s"$basePath" + "_compacted/codes").count() == n)
    // serving is back to ONE file source (no union with a compute leg):
    // every leaf scan in the plan is an index table
    val plan = IvfPqIndex.serveCompacted(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan.take(2000))
    assert(plan.contains("PartitionFilters"), plan.take(2000))
  }

  test("compaction recovers from the marker-lost crash state without " +
      "duplicating the delta") {
    // regression for ADVICE r7: a crash after the compacted codes landed
    // but before the marker was stamped must not make a re-run re-merge
    // the delta. Simulate exactly that state — compacted data, no
    // marker — and require the re-run to converge, not duplicate.
    val path = IvfPqIndex.compactDelta(spark, sf)
    val n = spark.read.parquet(s"$path/codes").count()
    val marker = new File(path, IndexCache.Marker)
    assert(marker.exists(), "compacted generation must carry its marker")
    assert(marker.delete())
    IvfPqIndex.compactDelta(spark, sf)
    assert(spark.read.parquet(s"$path/codes").count() == n,
      "re-compacting a marker-lost generation must not duplicate rows")
    assert(marker.exists())
  }

  test("compaction never rewrites the base: its codes stay delta-free " +
      "and the delta serve is unchanged") {
    val basePath = freshBase()
    val delta = SimilarityQueries.queries("sim_ivfpq_delta_served")
    val before = delta(spark, sf).collect().map(_.toSeq).toSeq
    val baseBefore = codeRows(basePath)
    val cut = IvfPqIndex.baseCutoff(spark, sf)
    IvfPqIndex.compactDelta(spark, sf)
    assert(spark.read.parquet(s"$basePath/codes")
      .filter(col("vec_id") > cut).count() == 0,
      "compaction wrote delta rows into the base generation")
    assert(codeRows(basePath) == baseBefore,
      "compaction changed the base codes")
    assert(delta(spark, sf).collect().map(_.toSeq).toSeq == before,
      "the delta serve moved after compaction")
  }

  test("the index builds once and is reused, not retrained per query") {
    val path = IvfPqIndex.buildIfMissing(spark, sf)
    val marker = new File(s"$path/codes/_SUCCESS")
    val t0 = marker.lastModified()
    IvfPqIndex.serve(spark, sf).collect()
    IvfPqIndex.serve(spark, sf).collect()
    assert(marker.lastModified() == t0, "serve must not rebuild the index")
  }
}
