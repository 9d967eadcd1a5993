package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The lifecycle of every persisted index generation under
  * `target/graft_index`: its cache key ([[path]]) and its completion gate
  * ([[generation]]). Six families persist through it — the BM25 index
  * ([[graft.retrieval.SparseIndex]]), the passage index
  * ([[graft.retrieval.PassageIndex]]), the kNN graph
  * ([[graft.sim.KnnGraphIndex]]), the IVF-PQ index
  * ([[graft.sim.IvfPqIndex]]), the MinHash-LSH dedup index
  * ([[graft.dedup.LshIndex]]) and the BPE tokenizer
  * ([[graft.text.BpeVocab]]) — each with its full, base (and
  * fixed-delta base) and compacted generations.
  *
  * THE GATE. A generation is a directory of tables plus one
  * [[Marker]] file at its root, stamped only after every table landed.
  * [[generation]] writes the tables when the marker is missing and
  * never otherwise, under a lock per generation path (two families, or
  * two generations of one family, build concurrently). So:
  *
  *   - a build killed part-way leaves no marker and the next call
  *     rebuilds the whole generation, never serving a partial one;
  *   - deleting the marker forces a rebuild; tables are written in
  *     overwrite mode, and a compaction selects its base rows by id
  *     range, so a rebuild after a lost marker does not duplicate rows;
  *   - a compacted generation is a sibling directory
  *     (`<base>_compacted`) written beside its base, never into it, so a
  *     base stays what its marker says it is.
  *
  * THE KEY. Three failure modes of a path-only key, all closed here:
  *
  *   1. STALENESS — the index is a deterministic function of the corpus,
  *      but a fixture regenerated in place keeps its path, so a key made
  *      only of the sanitized path would keep serving the old index while
  *      the DuckDB oracles (which always read the current files) move on.
  *      The key embeds (a) a cheap corpus fingerprint — row count + max
  *      id, one metadata-cheap aggregate — and (b) a FILESYSTEM signature
  *      of the parquet files themselves (name + length + mtime, pure
  *      java.io, no Spark job). The Spark aggregate is memoized KEYED ON
  *      the filesystem signature, so a fixture regenerated mid-process
  *      invalidates the memo (the signature changes) instead of serving
  *      stale values for the process lifetime, and a content-only edit
  *      that happens to preserve rows+maxId still lands on a fresh key
  *      because the rewritten parquet bytes change length/mtime
  *      (ADVICE r7).
  *   2. COLLISION — `replaceAll("[^A-Za-z0-9._-]", "_")` maps `/a/b` and
  *      `/a_b` to the same name. The key embeds an FNV-1a hash of the
  *      RAW path, so sanitized twins stay separate.
  *   3. GROWTH — every new fingerprint is a new directory, so superseded
  *      generations (and pre-fingerprint legacy dirs) would accumulate
  *      without bound across fixture regenerations. [[path]] prunes
  *      sibling directories of the same family+path whose fingerprint
  *      suffix differs from the current one (ADVICE r7).
  */
object IndexCache {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val pruneLock = new Object

  /** The completion marker at the root of every generation. */
  val Marker = "_ALL_TABLES"

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The one gate of every persisted generation: under `path`'s lock,
    * run `write(path)` and then stamp `path/`[[Marker]] unless the
    * marker is already there; return `path`. `write` writes every table
    * of the generation (in overwrite mode) and may open other
    * generations it reads from, such as a compaction's base. */
  def generation(path: String)(write: String => Unit): String =
    locks.computeIfAbsent(path, _ => new Object).synchronized {
      val marker = new File(path, Marker)
      if (!marker.exists()) {
        write(path)
        require(marker.createNewFile(), s"cannot stamp $marker")
      }
      path
    }

  private def fnv32(s: String): Long = {
    var h = 2166136261L
    s.getBytes("UTF-8").foreach { b =>
      h = ((h ^ (b & 0xffL)) * 16777619L) & 0xffffffffL
    }
    h
  }

  /** Filesystem signature of `dir/table.parquet`: every file's
    * name:length:mtime, hashed. Pure java.io — cheap enough to compute
    * on EVERY call, which is what lets it invalidate the memoized Spark
    * aggregate when the fixture is rewritten in-process. */
  private def fsSig(dir: String, table: String): String = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).flatMap(walk).toSeq
      else Seq(s"${f.getName}:${f.length}:${f.lastModified}")
    f"${fnv32(walk(new File(s"$dir/$table.parquet")).mkString("|"))}%08x"
  }

  /** `<fnv(dir)>_<rows>_<maxId>_<fsSig>` for `dir/table.parquet`. The
    * Spark aggregate is memoized per (table, dir, fsSig) — a regenerated
    * fixture changes fsSig and recomputes. */
  def fingerprint(s: SparkSession, dir: String, table: String,
      idCol: String): String = {
    val sig = fsSig(dir, table)
    cache.computeIfAbsent(s"$table|$dir|$sig", _ => {
      val r = s.read.parquet(s"$dir/$table.parquet")
        .agg(count(lit(1)), max(col(idCol))).head()
      f"${fnv32(dir)}%08x_${r.get(0)}_${r.get(1)}_$sig"
    })
  }

  private val prunedFor =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** How long a superseded sibling must have been quiet (no writes)
    * before the sweep deletes it. Protects a generation another JVM is
    * STILL WRITING (its files' mtimes are fresh) from a concurrent
    * prune; a pure reader does not bump mtimes, so cross-process readers
    * of a superseded generation remain best-effort — acceptable because
    * supersession only happens when the fixture itself was rewritten
    * in place, which invalidates any reader's results anyway (ADVICE r8). */
  private val PruneQuietMs = 10 * 60 * 1000L

  /** Index directory for one artifact family: sanitized path for human
    * legibility, fingerprint for correctness. Prunes superseded
    * generations of the same (family, path) — any sibling whose name
    * shares the family+sanitized-path prefix but not the current
    * fingerprint (including `_base` variants and pre-fingerprint legacy
    * names) is deleted, so disk usage stays one generation deep. The
    * sweep runs ONCE per (process, name) — path() is called on every
    * serve, and nothing can be newly superseded unless the fingerprint
    * changed — and skips directories written to within [[PruneQuietMs]]
    * (ADVICE r8: don't race a generation another process is building). */
  def path(s: SparkSession, dir: String, family: String, table: String,
      idCol: String): String = {
    val stem = s"${family}_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").stripPrefix("_")
    val name = stem + "_" + fingerprint(s, dir, table, idCol)
    if (prunedFor.putIfAbsent(name, true) == null) pruneLock.synchronized {
      val root = new File("target/graft_index")
      def newestMtime(f: File): Long =
        if (f.isDirectory)
          (f.lastModified +: Option(f.listFiles()).getOrElse(Array.empty)
            .map(newestMtime).toSeq).max
        else f.lastModified
      def del(f: File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(del)
        f.delete()
      }
      // stem + dir-hash identifies this (family, corpus path) uniquely —
      // the 8-hex fnv(dir) keeps a sanitized-path prefix collision
      // between two different corpora from cross-deleting; `n == stem`
      // sweeps pre-fingerprint legacy layouts
      val owned = f"${stem}_${fnv32(dir)}%08x_"
      val now = System.currentTimeMillis()
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory)
        .filter { f =>
          val n = f.getName
          (n.startsWith(owned) || n == stem) && !n.startsWith(name)
        }
        .filter(f => now - newestMtime(f) > PruneQuietMs)
        .foreach(del)
    }
    s"target/graft_index/$name"
  }
}
