package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import DedupQueries.{bandSignatures, shingled, JaccardThreshold, MaxPosting}

/** The persisted build/serve split for the MinHash-LSH dedup index —
  * the dedup twin of [[graft.sim.IvfPqIndex]], closing the same gap:
  * `dedup_lsh_incremental` recomputes the standing index's signatures
  * and posting lists on every call, which is an algorithm exhibit, not
  * an architecture. This object persists the index once and probes
  * against the files:
  *
  *   - `postings/` — one row per (band, sig) bucket with its member
  *     ids, the [[DedupQueries.MaxPosting]] cap applied AT BUILD TIME
  *     (an over-full bucket is stop-shingle noise; storing it would
  *     make every future probe pay for it), parquet PARTITIONED BY
  *     band with rows sorted by sig — a probe key prunes to one band
  *     directory and tight sig row-group ranges;
  *   - `shingles/` — the indexed documents' shingle sets, the feature
  *     column the verify stage needs (a real index stores features
  *     alongside postings precisely so verification never re-derives
  *     them from the corpus).
  *
  * Serving reads the NEW batch once (its shingles → signatures →
  * bands), joins the persisted postings, and Jaccard-verifies against
  * the persisted shingles — the standing corpus is never re-shingled.
  * Results are bit-identical to `dedup_lsh_incremental` (the persisted
  * tables are a deterministic function of the corpus), so the served
  * query shares its DuckDB oracle.
  */
object LshIndex {

  /** Fingerprinted cache key — see [[graft.sources.IndexCache]]: a
    * regenerated fixture rebuilds instead of serving stale postings. */
  def indexPath(s: SparkSession, dir: String): String =
    graft.sources.IndexCache.path(s, dir, "lsh", "documents", "doc_id")

  /** The standing-index side of the split (the convention the
    * incremental query fixes: every 10th doc plays the new batch). */
  private def isNew = col("doc_id") % 10 === 0

  def buildIfMissing(s: SparkSession, dir: String): String =
    buildIfMissingAt(s, dir, isNew, "")

  /** Build with a caller-chosen new/standing split under `tag` — the
    * fixed-delta measurement ([[graft.FixedDeltaBench]]) passes "the
    * last D ids" so its index cannot collide with the convention one.
    * Both tables land before the generation's marker. */
  private[graft] def buildIfMissingAt(s: SparkSession, dir: String,
      isNewCol: org.apache.spark.sql.Column, tag: String): String =
    graft.sources.IndexCache.generation(indexPath(s, dir) + tag) { path =>
      val shIdx = shingled(s, dir).filter(!isNewCol)
        .transform(graft.Materialize(_))
      val postings = bandSignatures(shIdx)
        .groupBy("band", "sig")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) <= MaxPosting)
      postings.repartition(col("band")).sortWithinPartitions("sig")
        .write.mode("overwrite").partitionBy("band").parquet(s"$path/postings")
      shIdx.select("doc_id", "shingles")
        .write.mode("overwrite").parquet(s"$path/shingles")
    }

  /** Probe the new batch against the PERSISTED index: candidates from
    * the stored posting lists, Jaccard verification against the stored
    * shingles — zero re-shingling of the standing corpus, bit-identical
    * to `dedup_lsh_incremental`. */
  def probe(s: SparkSession, dir: String): DataFrame =
    probeWith(s, dir, isNew, buildIfMissing(s, dir))

  /** Probe with a caller-chosen new/standing split against a
    * caller-chosen index path (the fixed-delta measurement builds its
    * index under a tag so it cannot collide with the convention one). */
  private[graft] def probeWith(s: SparkSession, dir: String,
      isNewCol: org.apache.spark.sql.Column, path: String): DataFrame = {
    val postings = s.read.parquet(s"$path/postings")
    val idxShingles = s.read.parquet(s"$path/shingles")
    val shNew = shingled(s, dir).filter(isNewCol).transform(graft.Materialize(_))
    val cand = bandSignatures(shNew)
      .join(postings, Seq("band", "sig"))
      .select(col("doc_id").as("new_doc"), explode(col("ids")).as("idx_doc"))
      .distinct()
    cand
      .join(shNew.select(col("doc_id").as("new_doc"),
        col("shingles").as("sa")), "new_doc")
      .join(idxShingles.select(col("doc_id").as("idx_doc"),
        col("shingles").as("sb")), "idx_doc")
      .select(col("new_doc"), col("idx_doc"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("new_doc", "idx_doc")
  }
}
