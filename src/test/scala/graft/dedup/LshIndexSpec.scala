package graft.dedup

import java.io.File

import graft.SparkSpec

/** The persisted dedup index's contract: the served probe equals the
  * retrain-per-query incremental path bit-for-bit, the standing corpus
  * is never re-shingled at probe time, and the index builds once. */
class LshIndexSpec extends SparkSpec {

  private def rebuiltFresh(): String = {
    val path = LshIndex.indexPath(spark, sf)
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete()
    }
    del(new File(path))
    path
  }

  test("served probe equals the incremental path bit-for-bit") {
    rebuiltFresh()
    val served = LshIndex.probe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val incremental = DedupQueries.queries("dedup_lsh_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served == incremental)
    assert(served.nonEmpty)
  }

  test("probe plan scans the corpus once: index side comes from files") {
    LshIndex.buildIfMissing(spark, sf)
    val df = LshIndex.probe(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the new batch needs one documents read (it is materialized at
    // construction by the localCheckpoint, so the plan shows none);
    // the standing index must come from the persisted tables only
    val docScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(docScans == 0,
      s"probe plan re-reads documents $docScans times:\n" + plan.take(2000))
    // resolve the scan locations structurally — the display string
    // truncates long index paths (spark.sql.maxMetadataStringLength),
    // so a substring check on the plan text would miss them
    def roots(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          roots(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          roots(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
        case other => other.children.flatMap(roots)
      }
    val rs = roots(df.queryExecution.executedPlan)
    assert(rs.exists(_.contains("/postings")) &&
      rs.exists(_.contains("/shingles")), rs.mkString("\n"))
  }

  test("a build killed after postings/ and before shingles/ is rebuilt " +
      "by the next probe, which returns the same rows") {
    def rows = LshIndex.probe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val path = LshIndex.buildIfMissing(spark, sf)
    val before = rows
    // the state such a kill leaves: postings/ complete, shingles/
    // missing, and no completion marker at the generation's root
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete()
    }
    del(new File(s"$path/shingles"))
    new File(path, graft.sources.IndexCache.Marker).delete()
    assert(new File(s"$path/postings/_SUCCESS").exists())
    assert(rows == before)
    assert(new File(s"$path/shingles/_SUCCESS").exists(),
      "the probe must rebuild the missing table")
  }

  test("the index builds once and is reused") {
    val path = LshIndex.buildIfMissing(spark, sf)
    val marker = new File(s"$path/postings/_SUCCESS")
    val t0 = marker.lastModified()
    LshIndex.probe(spark, sf).collect()
    LshIndex.probe(spark, sf).collect()
    assert(marker.lastModified() == t0)
  }
}
