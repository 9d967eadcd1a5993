package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Adversarial-skew answer to the MaxPosting cap/recall question (round-9
  * verdict #3): the benign-corpus audit measured band recall 1.0, but said
  * nothing about a boilerplate-heavy corpus where hot shingles and
  * Zipf-sized near-dup families push band buckets past the posting cap.
  * This spec synthesizes exactly that corpus and re-runs the audit chain
  * on it at a fixture-scaled cap (what decides whether a bucket is
  * dropped is the cap/corpus RATIO; the production cap of 1000 would need
  * a ~40k-doc fixture to bind, this uses cap 24 on ~950 docs).
  *
  * Fixture: 30 near-dup families with Zipf sizes (240, 120, 80, … 8),
  * every document sharing a 30-token boilerplate header (hot shingles,
  * DF = corpus size), each family sharing a 120-token body, each member
  * perturbing one body token — so same-family true Jaccard ≈ 0.9 and
  * cross-family ≈ 0.15, with the cap binding on (a) the boilerplate
  * postings, (b) the big families' body postings, and (c) the big
  * families' band buckets.
  */
class LshSkewSpec extends SparkSpec {

  private val Families = 30
  private val BoilerTokens = (0 until 30).map(i => s"bp$i")

  private def familySize(f: Int): Int = math.max(3, 240 / f)

  /** The skewed corpus as (doc_id, text). */
  private def skewedDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = for {
      f <- 1 to Families
      m <- 0 until familySize(f)
    } yield {
      val body = (0 until 120).map(i => s"f${f}t$i").toArray
      body((m * 7) % 120) = s"u${f}m$m" // one perturbed token per member
      val docId = f * 1000L + m
      (docId, (BoilerTokens ++ body).mkString(" "))
    }
    rows.toDF("doc_id", "text")
  }

  private def shingle(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      graft.functions.WordNgrams.wordNgrams(split(col("text"), " "), 3)
        .as("shingles"))

  test("skewed-corpus recall audit: measurement under cap pressure") {
    val sh = shingle(skewedDocs(spark)).localCheckpoint()
    val nDocs = sh.count()
    // non-vacuity: the cap MUST bind on this fixture, on both chains
    val cap = 24
    val overCapPostings = sh
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .groupBy("s").count().filter(col("count") > cap).count()
    val overCapBuckets = DedupQueries.bandSignatures(sh)
      .groupBy("band", "sig").count().filter(col("count") > cap).count()
    println(s"SKEW nDocs=$nDocs overCapPostings=$overCapPostings " +
      s"overCapBuckets=$overCapBuckets")
    assert(overCapPostings > 0, "fixture must have cap-dropped postings")
    assert(overCapBuckets > 0, "fixture must have cap-dropped band buckets")

    val r = DedupQueries.recallAuditFrom(sh, cap).first()
    println(s"SKEW cap=$cap audit: n_exact=${r.getLong(0)} " +
      s"n_cand=${r.getLong(1)} n_ver=${r.getLong(2)} " +
      s"n_common=${r.getLong(3)} n_lsh_only=${r.getLong(4)} " +
      s"n_exact_only=${r.getLong(5)} recall=${r.getDouble(6)} " +
      s"precision=${r.getDouble(7)}")
    // THE MEASUREMENT (recorded in BASELINE.md round 10): against the
    // capped exact contract — the operative one; both engines and every
    // oracle apply the cap — band recall on this adversarial fixture is
    // 1.0 (measured: n_exact=1865, n_common=1865, with 1092 postings and
    // 67 buckets over cap). The verdict's acceptance bar is ≥ 0.95.
    assert(r.getDouble(6) >= 0.95,
      s"skew recall ${r.getDouble(6)} under cap pressure")
    assert(r.getLong(5) === 0L, "no exact pair escaped the banding")
    // the asymmetry the audit exists to expose: the banding FINDS true
    // near-dup pairs the exact chain's posting cap dropped (perturbation
    // splits family band sigs into sub-cap buckets, while whole-family
    // body postings blow the cap) — n_lsh_only is large, not zero
    assert(r.getLong(4) > 0L,
      "banding should surface pairs the exact chain's cap dropped")

    // uncapped baseline (cap > corpus: nothing dropped anywhere): the
    // residual miss is the 8×2 banding GEOMETRY's probabilistic
    // s-curve, not the cap (measured: 45726/45844 = 0.9974)
    val ru = DedupQueries.recallAuditFrom(sh, nDocs.toInt + 1).first()
    println(s"SKEW uncapped audit: n_exact=${ru.getLong(0)} " +
      s"n_cand=${ru.getLong(1)} n_ver=${ru.getLong(2)} " +
      s"recall=${ru.getDouble(6)} precision=${ru.getDouble(7)}")
    assert(ru.getDouble(6) >= 0.99,
      s"uncapped geometry recall ${ru.getDouble(6)}")
  }

  test("served LSH index on the skewed corpus equals the retrain-per-call " +
      "twin and every emitted pair is a true near-dup") {
    // the fixture as a real documents.parquet so the persisted-index
    // entries run unmodified (IndexCache fingerprints the table)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lsh_skew").toString
    // the index generation is keyed by this one-off corpus, so no later
    // run reuses it: delete it with the corpus (its path fingerprints
    // the corpus, so it is resolved while the corpus exists)
    var index: Option[String] = None
    try {
      skewedDocs(spark)
        .withColumn("lang", lit("en")).withColumn("source", lit("skew"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(2)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      index = Some(LshIndex.indexPath(spark, dir))
      val served = DedupQueries.queries("dedup_lsh_served")(spark, dir)
        .collect().map(_.toString).toSeq.sorted
      val retrain = DedupQueries.queries("dedup_lsh_incremental")(spark, dir)
        .collect().map(_.toString).toSeq.sorted
      assert(served.nonEmpty, "skewed corpus must yield near-dup probes")
      assert(served === retrain,
        "served index must equal the retrain-per-call twin on skew")
    } finally {
      index.foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
