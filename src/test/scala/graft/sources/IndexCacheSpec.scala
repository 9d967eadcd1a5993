package graft.sources

import graft.SparkSpec

/** The persisted-index cache-key contract (ADVICE round 6): the key
  * must change when the corpus changes (staleness) and must separate
  * raw paths that sanitize identically (collision). */
class IndexCacheSpec extends SparkSpec {

  private val base = "target/tmp/idxcache"

  private def write(dir: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("sanitized twins (/a/b vs /a_b) get distinct index paths") {
    write(s"$base/a/b", 10)
    write(s"$base/a_b", 10)
    val p1 = IndexCache.path(spark, s"$base/a/b", "ivfpq", "embeddings", "vec_id")
    val p2 = IndexCache.path(spark, s"$base/a_b", "ivfpq", "embeddings", "vec_id")
    assert(p1 != p2, "raw-path FNV must separate sanitized twins")
  }

  test("the corpus fingerprint (rows + max id) is part of the key") {
    write(s"$base/c10", 10)
    write(s"$base/c12", 12)
    val p10 = IndexCache.path(spark, s"$base/c10", "ivfpq", "embeddings", "vec_id")
    val p12 = IndexCache.path(spark, s"$base/c12", "ivfpq", "embeddings", "vec_id")
    // a regenerated corpus with different rows/ids lands on a fresh
    // directory, so a stale index can never be served for it
    assert(p10.contains("_10_9_"), s"rows+max missing from $p10")
    assert(p12.contains("_12_11_"), s"rows+max missing from $p12")
  }

  test("the fingerprint is memoized: one corpus read per process") {
    write(s"$base/m", 5)
    val f1 = IndexCache.fingerprint(spark, s"$base/m", "embeddings", "vec_id")
    val f2 = IndexCache.fingerprint(spark, s"$base/m", "embeddings", "vec_id")
    assert(f1 eq f2, "second call must come from the in-process cache")
  }

  test("an in-process fixture rewrite invalidates the memo, even when " +
      "rows and ids are unchanged") {
    // regression for ADVICE r7: the memo was keyed (table, dir) for the
    // process lifetime, so a regenerated fixture kept serving the old
    // fingerprint; and rows+maxId alone missed content-only edits. The
    // filesystem signature (part-file names/lengths/mtimes) changes on
    // ANY rewrite — Spark part filenames embed a fresh UUID — so both
    // holes close together.
    import spark.implicits._
    val dir = s"$base/rw"
    write(dir, 7)
    val f1 = IndexCache.fingerprint(spark, dir, "embeddings", "vec_id")
    // same rows, same ids, different content
    (0 until 7).map(i => (i.toLong, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val f2 = IndexCache.fingerprint(spark, dir, "embeddings", "vec_id")
    assert(f1 != f2, "rewritten fixture must land on a fresh fingerprint")
  }

  test("generation writes once, stamps its marker only after a write " +
      "that returns, and writes again once the marker is gone") {
    import java.io.File
    val path = s"$base/gen"
    org.apache.commons.io.FileUtils.deleteDirectory(new File(path))
    val marker = new File(path, IndexCache.Marker)
    var writes = 0
    def write(p: String): Unit = {
      assert(!marker.exists(), "the marker must not precede the tables")
      writes += 1
      assert(new File(p, "t").mkdirs() || new File(p, "t").isDirectory)
    }
    // a write that throws (a killed build) leaves no marker
    intercept[IllegalStateException] {
      IndexCache.generation(path)(_ => throw new IllegalStateException("killed"))
    }
    assert(!marker.exists())
    assert(IndexCache.generation(path)(write) == path)
    assert(writes == 1 && marker.exists())
    IndexCache.generation(path)(write)
    assert(writes == 1, "a stamped generation must not be written again")
    assert(marker.delete())
    IndexCache.generation(path)(write)
    assert(writes == 2 && marker.exists())
  }

  /** Back-date a directory past the prune quiet window. */
  private def age(f: java.io.File): Unit =
    assert(f.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))

  test("superseded QUIET index generations are pruned; other corpora " +
      "are not") {
    import java.io.File
    val dir = s"$base/pr"
    val other = s"$base/pr_other"
    write(dir, 4)
    write(other, 4)
    val pOther = IndexCache.path(spark, other, "prfam", "embeddings", "vec_id")
    val p1 = IndexCache.path(spark, dir, "prfam", "embeddings", "vec_id")
    new File(p1).mkdirs()
    new File(p1 + "_base").mkdirs()
    new File(pOther).mkdirs()
    // a generation is only swept once it has been QUIET (ADVICE r8:
    // don't delete under a process that is still writing it)
    age(new File(p1)); age(new File(p1 + "_base")); age(new File(pOther))
    // regenerate the corpus -> new fingerprint -> old generation (and
    // its _base sibling) must be swept on the next path() call
    write(dir, 6)
    val p2 = IndexCache.path(spark, dir, "prfam", "embeddings", "vec_id")
    assert(p2 != p1)
    assert(!new File(p1).exists(), "superseded generation must be pruned")
    assert(!new File(p1 + "_base").exists(), "_base variant must be pruned")
    assert(new File(pOther).exists(),
      "a different corpus sharing the name prefix must survive the prune")
  }

  test("a superseded generation with RECENT writes survives the sweep — " +
      "another process may still be building it (ADVICE r8)") {
    import java.io.File
    val dir = s"$base/prrec"
    write(dir, 4)
    val p1 = IndexCache.path(spark, dir, "prfam2", "embeddings", "vec_id")
    new File(p1).mkdirs() // fresh mtime = a concurrent writer
    write(dir, 6)
    val p2 = IndexCache.path(spark, dir, "prfam2", "embeddings", "vec_id")
    assert(p2 != p1)
    assert(new File(p1).exists(),
      "a recently-written sibling must not be deleted out from under a " +
        "concurrent builder")
  }

  test("the sweep runs once per (process, generation name), not on " +
      "every path() call (ADVICE r8: cost + race surface)") {
    import java.io.File
    val dir = s"$base/pronce"
    write(dir, 4)
    val p1 = IndexCache.path(spark, dir, "prfam3", "embeddings", "vec_id")
    write(dir, 6)
    val p2 = IndexCache.path(spark, dir, "prfam3", "embeddings", "vec_id")
    assert(p2 != p1)
    // recreate the superseded dir AFTER p2's sweep already ran: further
    // path() calls for the same generation must not sweep again
    new File(p1).mkdirs()
    age(new File(p1))
    IndexCache.path(spark, dir, "prfam3", "embeddings", "vec_id")
    assert(new File(p1).exists(),
      "repeat path() calls for an already-swept generation must be " +
        "sweep-free")
  }
}
