package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.hash.Fnv1a32.fnv1a32
import graft.oracle.Ora

/** Deduplication family for a training-data pipeline over `documents`:
  *
  *   - exact:         content-hash groupBy (one shuffle, map-side combine)
  *   - n-gram Jaccard: inverted-index join on word-3-gram shingles — never
  *                     builds the N² cross product; candidate pairs are
  *                     generated only for docs sharing a shingle
  *   - MinHash + LSH:  16 minhashes, 8 bands × 2 rows; candidates share a
  *                     band signature, then exact-Jaccard verification.
  *                     THE 100 TB path: cost scales with Σ band-bucket
  *                     sizes, not with corpus²
  *   - SimHash:        32-bit frequency-weighted signature; near-dup pairs
  *                     via pigeonhole banding (hamming ≤ 3 ⇒ one of 4
  *                     8-bit chunks equal), again avoiding the cross join
  *
  * Everything is deterministic and mirrored bit-for-bit in the DuckDB
  * oracles (hash kernel = fnv1a32 on both sides).
  */
object DedupQueries extends graft.QueryModule {

  val JaccardThreshold = 0.5

  /** Containment cut for the asymmetric dedup: a pair reports when
    * either direction's |Sa∩Sb|/|S·| reaches this. */
  val ContainmentThreshold = 0.5
  val NumMinhash = 16
  val NumBands = 8 // 2 rows per band
  val HammingMax = 3
  val MinhashPrime = 4294967311L // smallest prime > 2^32
  /** Span length for exact substring-span dedup: a token counts as
    * duplicated when it sits inside a word-8-gram that another document
    * also contains. */
  val SpanGram = 8

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** (doc_id, shingles) — distinct word 3-grams via the native
    * [[graft.functions.WordNgrams]] expression (one compiled loop per row;
    * the equivalent transform/concat_ws/array_distinct HOF pipeline costs
    * an interpreted lambda per shingle and dominated the whole query). */
  private[graft] def shingled(s: SparkSession, dir: String): DataFrame =
    graft.Par.spread(docs(s, dir), col("doc_id")).select(col("doc_id"),
      graft.functions.WordNgrams.wordNgrams(split(col("text"), " "), 3)
        .as("shingles"))

  /** Posting lists / band buckets longer than this are dropped before pair
    * generation — a shingle or signature shared by thousands of documents
    * carries no dedup signal but would emit k²/2 pairs. Standard
    * "stop-shingle" capping, and part of the operator CONTRACT: every
    * DuckDB oracle applies the same cap, so Spark and oracle agree at any
    * corpus, not just ones where no bucket reaches the cap. */
  val MaxPosting = 1000

  /** 2^20 fixed-point grid for the s-curve's per-bin mean Jaccard (same
    * exact-integer-sum trick as the k-means centroid means). */
  val ScurveFp = 1048576.0

  /** Edit-distance verify layer: each LSH candidate pair is compared on a
    * fixed-length character prefix with a THRESHOLDED Levenshtein. The
    * prefix cap bounds per-pair cost by a constant regardless of document
    * length, and the threshold lets the banded O(k·n) algorithm bail out
    * instead of filling the full O(n²) DP table — so the whole layer costs
    * (Σ bucket²) × O(EditMaxDist × EditPrefix), never corpus² and never
    * doc-length². */
  val EditPrefix = 256
  val EditMaxDist = 96

  /** Exact-Jaccard pairs ≥ threshold via shingle posting lists.
    *
    * One shuffle (groupBy shingle) builds posting lists; candidate pairs
    * are generated map-side from each list — no self-join, so the shingle
    * derivation runs once, not twice, and the only other shuffle is the
    * (doc_a, doc_b) count. This is the inverted-index shape that survives
    * 100 TB: cost is Σ posting² (bounded by [[MaxPosting]]), never corpus².
    */
  // the shingle pipeline feeds BOTH the posting-list and the doc-size
  // subtrees of the pair derivation — two corpus scans. Measured: a
  // barrier here is a net LOSS (ngram pairs 1.7 s → 2.3 s at
  // sf0.1) — materializing the exploded shingle arrays costs more than
  // re-running the scan + codegen'd WordNgrams kernel, and at 100 TB
  // parking corpus-sized arrays in executor storage is the worse trade
  // too. Callers that genuinely fan the shingle frame out to MANY
  // consumers (curation ledger: 4+) checkpoint it themselves and use
  // jaccardPairsFrom.
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsFrom(shingled(s, dir))

  /** Same pipeline over an already-shingled (possibly checkpointed)
    * frame, so a caller can share one shingle pass across consumers. */
  private[graft] def jaccardPairsFrom(sh: DataFrame,
      cap: Int = MaxPosting): DataFrame =
    jaccardScoredFrom(sh, cap).filter(col("jaccard") >= JaccardThreshold)

  /** Candidate pairs with raw overlap evidence: (doc_a, doc_b, shared,
    * n_a, n_b) for every pair sharing ≥1 shingle under the posting-cap
    * contract — the ONE pair chain both the symmetric (Jaccard) and
    * asymmetric (containment) similarities derive from. */
  private[graft] def pairOverlapFrom(sh: DataFrame,
      cap: Int = MaxPosting): DataFrame = {
    // ONE corpus pass (round 12, guide §2.3/§2.4): each posting entry
    // carries its doc's shingle count, so n_a/n_b ride the pair explode
    // and the chain needs neither a second evaluation of the shingle
    // derivation (the old `sizes` subtree re-ran the WordNgrams scan —
    // the single heaviest stage of every consumer) nor the two
    // pair-sized join shuffles that attached the counts afterwards.
    // Cost: +one int per posting entry in the groupBy(sh) exchange,
    // against a whole corpus scan and two joins — the right trade at
    // any scale. Emitted rows are bit-identical (exact integer counts;
    // n_a is functionally dependent on doc_a, so adding it to the pair
    // group-by keys changes no groups).
    val posting = sh
      .select(col("doc_id"), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("sh"))
      .groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ids"))
      .filter(size(col("ids")).between(2, cap))
    posting
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("n_a"), col("n_b"))
  }

  /** The pre-threshold pair stage: every candidate pair (docs sharing ≥1
    * shingle, posting-cap contract applied) with its exact Jaccard. The
    * dedups consume it thresholded ([[jaccardPairsFrom]]); the LSH
    * s-curve calibration consumes the full score range. */
  private[graft] def jaccardScoredFrom(sh: DataFrame,
      cap: Int = MaxPosting): DataFrame =
    pairOverlapFrom(sh, cap)
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")))
          .as("jaccard"))

  /** (doc_id, band, sig) band-signature rows over an already-shingled
    * frame — the LSH index's key space, shared by the batch dedups and
    * the streaming index probe ([[graft.streaming.DedupIndexStream]]). */
  private[graft] def bandSignatures(sh: DataFrame): DataFrame = {
    val mh = minhashSigs(sh)
    val bands = (0 until NumBands).map { b =>
      concat_ws(",", col(s"h${2 * b}"), col(s"h${2 * b + 1}"))
    }
    mh.select(col("doc_id"),
      posexplode(array(bands: _*)).as(Seq("band", "sig")))
  }

  /** Candidate pairs from the band buckets: groupBy(band, sig) posting
    * lists (capped by the [[MaxPosting]] contract), pairs generated
    * map-side from each list, deduped across bands. Shared by the
    * Jaccard-verified LSH dedup and the edit-distance verify layer, so
    * the two verification semantics are guaranteed to see the SAME
    * candidate set. */
  private[graft] def bandCandidates(sh: DataFrame,
      cap: Int = MaxPosting): DataFrame =
    bandSignatures(sh)
      .groupBy("band", "sig").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, cap))
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()

  /** New-batch (doc_id % 10 = 0) candidates against the index-side
    * posting lists — the probe stage of `dedup_lsh_incremental`, split
    * out so the streaming twin's spec can assert set-equality against
    * the exact batch derivation. */
  private[graft] def incrementalCandidates(banded: DataFrame,
      isNew: Column = col("doc_id") % 10 === 0): DataFrame = {
    val idxPosting = banded.filter(!isNew)
      .groupBy("band", "sig").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= MaxPosting)
    banded.filter(isNew)
      .join(idxPosting, Seq("band", "sig"))
      .select(col("doc_id").as("new_doc"),
        explode(col("ids")).as("idx_doc"))
      .distinct()
  }

  /** The full incremental LSH probe (candidates against the standing
    * index + exact-Jaccard verify) with the new/standing split as a
    * PARAMETER: the query entry passes the fixture convention
    * (doc_id % 10 = 0, a fixed FRACTION of the corpus); the fixed-delta
    * scale measurement ([[graft.FixedDeltaBench]]) passes "the last D
    * doc ids" — the production shape, where the delta tracks the
    * ARRIVAL RATE, not the corpus size. */
  private[graft] def lshIncrementalWith(s: SparkSession, dir: String,
      isNew: Column): DataFrame = {
    val sh = shingled(s, dir).transform(graft.Materialize(_))
    val cand = incrementalCandidates(bandSignatures(sh), isNew)
    cand
      .join(sh.as("sa"), col("new_doc") === col("sa.doc_id"))
      .join(sh.as("sb"), col("idx_doc") === col("sb.doc_id"))
      .select(col("new_doc"), col("idx_doc"),
        (size(array_intersect(col("sa.shingles"), col("sb.shingles")))
          .cast("double") /
          size(array_union(col("sa.shingles"), col("sb.shingles"))))
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("new_doc", "idx_doc")
  }

  /** (doc_id, h0..h15) minhash signatures over an already-shingled frame.
    * Takes the frame as input (rather than re-deriving it) so the caller can
    * checkpoint/persist the shingle pipeline once and reuse it for both
    * signature generation and candidate verification. */
  private def minhashSigs(sh: DataFrame): DataFrame = {
    val withHashes =
      sh.withColumn("hashes", transform(col("shingles"), x => fnv1a32(x)))
    val sigCols = (0 until NumMinhash).map { i =>
      array_min(transform(col("hashes"), x =>
        (x * lit(2L * i + 1) + lit(17L * i + 7)) % lit(MinhashPrime)))
        .as(s"h$i")
    }
    withHashes.select(col("doc_id") +: sigCols: _*)
  }

  /** (doc_id, simhash) 32-bit term-frequency-weighted signatures.
    *
    * One hash aggregate with 32 ±1 accumulators (one per bit) — no
    * bit-explode before the shuffle, so shuffle input is one row per
    * (map partition, doc) after partial aggregation instead of the
    * 32×token-count inflation of the explode(0..31) formulation. */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), fnv1a32(col("w")).as("h"))
    val contribs = (0 until 32).map { b =>
      sum(when(expr(s"(shiftright(h, $b) & 1)") === 1, 1L).otherwise(-1L))
        .as(s"c$b")
    }
    tok.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map { b =>
          when(col(s"c$b") >= 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** (doc_id, simhash64) — the 64-bit signature the 32-bit variant's own
    * scale note calls for: at real corpus size the 8-bit chunk space of a
    * 32-bit simhash saturates (buckets grow linearly with corpus ⇒ pairs
    * quadratically); 64 bits with 16-bit chunks gives 256× the bucket
    * space with the identical posting-list plan.
    *
    * Bits 0–31 come from `fnv1a32(w)`, bits 32–63 from `fnv1a32(w # )` —
    * NOT independent: appending '#' applies one more xor-multiply step,
    * so h2 is a fixed bijection of h1's final state and a token-level h1
    * collision (p ≈ 2⁻³²) is automatically a full 64-bit collision. A
    * bijection of a uniform hash is still uniform, which is all the
    * chunk de-saturation needs; per-token collision resistance stays
    * 32-bit. Both halves are reproduced bit-for-bit by the DuckDB oracle
    * (a native 64-bit FNV fold would need unsigned 64-bit arithmetic
    * DuckDB's BIGINT can't express).
    * Bit 63 is materialized as `Long.MinValue` on both engines, since
    * neither Spark's `1L << 63` semantics nor DuckDB (which raises on
    * `1::BIGINT << 63`) can build it by shifting. */
  private[graft] def simhash64Sigs(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), fnv1a32(col("w")).as("h1"),
        fnv1a32(concat(col("w"), lit("#"))).as("h2"))
    val contribs = (0 until 64).map { b =>
      val (src, bit) = if (b < 32) ("h1", b) else ("h2", b - 32)
      sum(when(expr(s"(shiftright($src, $bit) & 1)") === 1, 1L).otherwise(-1L))
        .as(s"c$b")
    }
    tok.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map { b =>
          when(col(s"c$b") >= 0,
            lit(if (b == 63) Long.MinValue else 1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash64"))
  }

  val TopNgrams = 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // corpus-wide repeated-shingle audit (boilerplate / memorization-risk
    // scan): the TopNgrams most document-frequent word-3-grams. One
    // shuffle (groupBy shingle, map-side combine over the per-doc
    // DISTINCT shingles) and a TakeOrderedAndProject top-k — never a
    // global sort. The same inverted index the near-dup path builds,
    // read for its heaviest keys.
    "corpus_top_ngrams" -> ((s, dir) =>
      shingled(s, dir)
        .select(explode(col("shingles")).as("sh"))
        .groupBy("sh").agg(count("*").as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("sh"))
        .limit(TopNgrams)),

    // exact dedup: content-hash groupBy; summary proves the operator on a
    // corpus with no exact dups (planted dups are near-dups, caught below).
    // ONE corpus scan: groupBy(h).count() then a single agg over the group
    // counts derives all three numbers — the countDistinct + crossJoin
    // formulation scanned (and md5'd) the corpus twice for a 1-row summary.
    "dedup_exact" -> ((s, dir) =>
      docs(s, dir).select(md5(col("text").cast("binary")).as("h"))
        .groupBy("h").agg(count("*").as("cnt"))
        .agg(sum(col("cnt")).as("n_docs"),
          count("*").as("n_distinct"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"))),

    // n-gram Jaccard near-dup pairs (exact, inverted-index join)
    "dedup_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir).orderBy("doc_a", "doc_b")),

    // the cap's ledger: per posting-list length, how many candidate
    // pairs that bucket would emit (k·(k−1)/2 each) and whether the
    // MaxPosting guardrail drops it — plus, in the shares, what fraction
    // of the UNCAPPED quadratic cost the cap removes. At fixture scale
    // the cap rarely fires; this query is the observability for the
    // 100 TB corpus where a stop-shingle bucket of 10⁶ docs would
    // otherwise emit 5·10¹¹ pairs. One shingle pass + a ≤#lengths
    // histogram; all pair counts are exact BIGINTs.
    "dedup_cap_ledger" -> ((s, dir) => {
      val hist = shingled(s, dir)
        .select(explode(col("shingles")).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("k"))
        .filter(col("k") >= 2)
        .groupBy("k").agg(count(lit(1)).as("n_postings"))
        .withColumn("pairs", col("n_postings") * expr("k * (k - 1) div 2"))
        .withColumn("capped", col("k") > MaxPosting)
        .transform(graft.Materialize(_)) // feeds the rows and the total broadcast
      hist.crossJoin(broadcast(hist.agg(
          sum("pairs").as("pairs_uncapped"),
          sum(when(!col("capped"), col("pairs")).otherwise(0L))
            .as("pairs_kept"))))
        .select(col("k"), col("n_postings"), col("pairs"), col("capped"),
          (col("pairs").cast("double") / col("pairs_uncapped"))
            .as("cost_share"),
          (col("pairs_kept").cast("double") / col("pairs_uncapped"))
            .as("kept_share"))
        .orderBy("k")
    }),

    // dedup-threshold sweep: the candidate-pair Jaccard distribution as
    // a 0.1-wide histogram with suffix-cumulative pair counts — "how
    // many pairs would threshold t confirm?" for every t in one pass.
    // This is the tuning read that turns JaccardThreshold from folklore
    // into a measured choice, the dedup analog of
    // corpus_quality_sweep. Costs exactly one run of the capped
    // posting-list pair chain (no per-threshold re-scan, no explode);
    // the histogram is ≤11 rows, so the un-partitioned window is free.
    // floor(jaccard·10) is exact on both engines because jaccard itself
    // is one double division of exact integers, sequenced identically.
    "dedup_threshold_sweep" -> ((s, dir) => {
      val hist = jaccardScoredFrom(shingled(s, dir))
        .select(floor(col("jaccard") * 10).cast("long").as("jbin"))
        .groupBy("jbin").agg(count(lit(1)).as("n_pairs"))
        // ≤11 rows feed both the window and the total
        .transform(graft.Materialize(_))
      val w = Window.orderBy(col("jbin").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      hist
        .withColumn("cum_pairs", sum("n_pairs").over(w))
        .crossJoin(broadcast(hist.agg(sum("n_pairs").as("tot"))))
        .select(col("jbin"), col("n_pairs"), col("cum_pairs"),
          (col("cum_pairs").cast("double") / col("tot")).as("pair_share"))
        .orderBy("jbin")
    }),

    // Asymmetric containment dedup: C(a→b) = |Sa∩Sb| / |Sa|. A short doc
    // quoted wholesale inside a long one scores high containment but LOW
    // Jaccard (the union is dominated by the long doc), so the symmetric
    // threshold never fires — this is the wrapper/boilerplate detector
    // the Jaccard pass structurally cannot be. Same posting-list pair
    // chain (cost stays Σ bucket², capped — nothing new is quadratic);
    // each containment is one double division of two exact integers.
    "dedup_containment" -> ((s, dir) => {
      val p = pairOverlapFrom(shingled(s, dir))
        .withColumn("containment_a",
          col("shared").cast("double") / col("n_a"))
        .withColumn("containment_b",
          col("shared").cast("double") / col("n_b"))
      p.filter(greatest(col("containment_a"), col("containment_b")) >=
          ContainmentThreshold)
        .select(col("doc_a"), col("doc_b"), col("shared"),
          col("n_a").cast("long").as("n_a"),
          col("n_b").cast("long").as("n_b"),
          col("containment_a"), col("containment_b"))
        .orderBy("doc_a", "doc_b")
    }),

    // exact substring-span dedup at fixed n (the hashed-n-gram
    // approximation of suffix-array substring dedup, torua-class corpora
    // use n = 50; the fixture's 54-token docs use n = 8): per document,
    // the fraction of tokens covered by some word-8-gram that ANOTHER
    // document also contains. Span-level, not doc-level — catches the
    // quoted paragraph inside an otherwise-unique page that no whole-doc
    // near-dup ever flags. Two corpus-linear passes over the positional
    // gram stream (native WordNgramsAll kernel: output index = span
    // start): (1) groupBy gram-hash → the shared-gram key set (distinct
    // doc count ≥ 2); (2) semi-join grams back on the hash, explode each
    // surviving span into its n covered positions, count distinct
    // positions per doc. Every join/agg keys on the 32-bit fnv gram hash
    // (cross-engine parity contract; 64-bit xxhash at real corpus scale)
    // — never on the gram text, so the shuffle carries 8-byte keys, not
    // 8-word strings. No stage is ever pairwise: hot boilerplate grams
    // cost occurrences × n coverage rows, linear, and AQE skew-splits the
    // gram-hash join — no posting cap needed (caps exist to bound pair
    // GENERATION; coverage has no quadratic stage to bound).
    "dedup_substring_spans" -> ((s, dir) => {
      val grams = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
          posexplode(graft.functions.WordNgrams.wordNgramsAll(
            col("t"), SpanGram)).as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos"), fnv1a32(col("g")).as("gh"))
      val shared = grams.select("gh", "doc_id").distinct()
        .groupBy("gh").agg(count("*").as("nd"))
        .filter(col("nd") > 1)
        .select("gh")
      val dup = grams.join(shared, "gh")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + lit(SpanGram - 1)))
            .as("p"))
        .groupBy("doc_id").agg(countDistinct(col("p")).as("dup_tokens"))
      docs(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tok")).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // MinHash banding: candidates share one of 8 band signatures, then
    // exact verification — output identical shape to dedup_ngram_jaccard.
    //
    // Plan shape (the 100 TB path): the shingle pipeline is checkpointed
    // ONCE and reused by both the signature derivation and the two
    // verification probes, and candidate pairs come from band-bucket
    // posting lists (groupBy(band, sig) → pairs map-side from each list)
    // instead of a self-join of the exploded bands — so the whole
    // shingle→minhash derivation runs exactly once, and the LSH stage
    // costs Σ bucket², never corpus².
    "dedup_minhash_lsh" -> ((s, dir) => {
      val sh = shingled(s, dir).transform(graft.Materialize(_))
      // same posting-list shape as jaccardPairs; the MaxPosting bucket
      // cap is mirrored in the DuckDB oracle (contract, not approximation)
      val cand = bandCandidates(sh)
      cand
        .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sa.shingles"), col("sb.shingles")))
            .cast("double") /
            size(array_union(col("sa.shingles"), col("sb.shingles"))))
            .as("jaccard"))
        .filter(col("jaccard") >= JaccardThreshold)
        .orderBy("doc_a", "doc_b")
    }),

    // The LSH cap/recall trade-off, MEASURED (the open question behind
    // the MaxPosting advisory): one row comparing the banded-minhash
    // candidate path against the exact posting-join pair set on the same
    // corpus. band_recall = what fraction of the exact near-dup pairs
    // the 8×2 banding surfaces (its false-negative rate is 1 − this);
    // band_precision = what fraction of banded candidates survive the
    // exact-Jaccard verify (the wasted-verify cost of band collisions).
    // n_lsh_only counts pairs the banding finds that the exact chain's
    // posting cap dropped — the two candidate generators' caps are
    // independent, so the diff is two-sided and both legs are reported.
    // Scale shape: both pair sets are Σ bucket²-capped (never corpus²),
    // the shingle pass is shared once, and the output is a single row of
    // exact BIGINT counts + two DOUBLE ratios — the audit costs the same
    // as running the two dedup paths it compares.
    "dedup_lsh_recall_audit" -> ((s, dir) =>
      recallAuditFrom(shingled(s, dir).transform(graft.Materialize(_)),
        MaxPosting)),

    // Edit-distance near-dup: the CHARACTER-level complement of the
    // token-level Jaccard verify. Same band-bucket candidate set (shared
    // bandCandidates — bounded Σ bucket², never corpus²); each pair is
    // then scored with Spark's 3-arg levenshtein, which runs the BANDED
    // O(k·n) algorithm and returns -1 past the threshold — so a pair of
    // wildly different docs costs O(EditMaxDist · EditPrefix), not a full
    // DP table. Catches reorder-free edits (typo injection, detokenization
    // drift) that shingle Jaccard underweights, and its cost model is the
    // reason production near-dup stacks run edit distance only INSIDE an
    // LSH bucket.
    "dedup_edit_distance" -> ((s, dir) => {
      val pref = docs(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, EditPrefix).as("p"))
      bandCandidates(shingled(s, dir))
        .join(pref.as("pa"), col("doc_a") === col("pa.doc_id"))
        .join(pref.as("pb"), col("doc_b") === col("pb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa.p"), col("pb.p"), EditMaxDist)
            .cast("long").as("edit_dist"),
          length(col("pa.p")).as("len_a"), length(col("pb.p")).as("len_b"))
        .filter(col("edit_dist") >= 0) // -1 ⇒ banded algorithm bailed out
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          (lit(1.0) - col("edit_dist").cast("double") /
            greatest(col("len_a"), col("len_b"))).as("edit_sim"))
        .orderBy("doc_a", "doc_b")
    }),

    // LSH calibration s-curve — the measurement the band geometry (b=8
    // bands × r=2 rows) is tuned against. For every candidate pair (docs
    // sharing ≥1 shingle; pairs at Jaccard 0 can only band-collide by
    // hash accident, so the shared-shingle support IS the s-curve's
    // domain), bin the exact Jaccard into tenths and measure the fraction
    // whose minhash signatures agree on at least one band — alongside the
    // theoretical collision probability 1-(1-s²)^b at the bin midpoint.
    // A measured column far from theory means broken hashing or too-few
    // minhashes; production re-runs this on a corpus sample whenever
    // (b, r) change. Cost: the jaccardScored posting-list stage (bounded
    // by the MaxPosting contract) + two signature joins — never corpus².
    // The 8-band OR is one row-local expression; the product chain in
    // `theory_rate` is written in fixed left-assoc order on both engines
    // so the doubles match bit-for-bit.
    "dedup_lsh_scurve" -> ((s, dir) => {
      val sh = shingled(s, dir).transform(graft.Materialize(_))
      val mh = minhashSigs(sh)
      val bandEq = (0 until NumBands).map { b =>
        (col(s"sa.h${2 * b}") === col(s"sb.h${2 * b}")) &&
          (col(s"sa.h${2 * b + 1}") === col(s"sb.h${2 * b + 1}"))
      }.reduce(_ || _)
      val binned = jaccardScoredFrom(sh)
        .join(mh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(mh.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(
          least(floor(col("jaccard") * lit(10.0)), lit(9L)).as("bin"),
          col("jaccard"),
          when(bandEq, 1L).otherwise(0L).as("collide"))
      // per-bin mean Jaccard on the 2^-20 fixed-point grid (exact integer
      // sum → partition- and engine-invariant): theory evaluated at the
      // bin's ACTUAL mean is the honest comparison when mass inside a
      // bin is skewed (the background bin concentrates near 0.02, far
      // from its 0.05 midpoint)
      val agg = binned.groupBy("bin")
        .agg(count("*").as("n_pairs"), sum(col("collide")).as("n_collide"),
          sum(floor(col("jaccard") * lit(ScurveFp) + lit(0.5))).as("jfp"))
        .withColumn("measured_rate",
          col("n_collide").cast("double") / col("n_pairs"))
        .withColumn("s_mid", (col("bin").cast("double") + lit(0.5)) / lit(10.0))
        .withColumn("s_mean", col("jfp") / (col("n_pairs") * lit(ScurveFp)))
      def sCurve(sCol: Column): Column = {
        val miss = lit(1.0) - sCol * sCol
        lit(1.0) - Seq.fill(NumBands)(miss).reduce(_ * _)
      }
      agg.withColumn("theory_rate", sCurve(col("s_mid")))
        .withColumn("theory_mean", sCurve(col("s_mean")))
        .drop("jfp")
        .orderBy("bin")
    }),

    // incremental LSH dedup — the shape a production pipeline actually
    // runs day over day: the standing corpus's band signatures are a
    // persisted index (derived in-line here; at 100 TB that side is
    // written once and amortizes across every ingest batch), and ONLY
    // the new batch (doc_id % 10 = 0 stands in for today's ingest)
    // shingles, signs, and probes it. Candidates come from joining the
    // new docs' band signatures against index-side posting lists
    // (bucket-capped like every LSH path — a degenerate index bucket
    // cannot blow up the probe), then exact-Jaccard verification.
    // Intra-batch duplicates are the regular batch dedup's contract;
    // this query is strictly new-vs-index.
    // the PERSISTED-index probe (LshIndex): posting lists and indexed
    // shingles served from parquet, only the new batch re-derived —
    // bit-identical to dedup_lsh_incremental, which retrains per call
    "dedup_lsh_served" -> ((s, dir) => LshIndex.probe(s, dir)),

    "dedup_lsh_incremental" -> ((s, dir) =>
      lshIncrementalWith(s, dir, col("doc_id") % 10 === 0)),

    // MinHash fidelity measurement: for the verified near-dup pairs, the
    // signature-agreement estimate (matching components / NumMinhash)
    // against true Jaccard — the "measure, don't guess" companion to the
    // banding dedup, same role sim_ann_recall plays for ANN. At 100 TB
    // the estimator is what banding thresholds are tuned against, so its
    // fidelity on verified pairs is the number that justifies the band
    // geometry. One checkpointed shingle pass feeds both the pair
    // derivation and the signatures.
    "dedup_minhash_estimate" -> ((s, dir) => {
      val sh = shingled(s, dir).transform(graft.Materialize(_))
      val mh = minhashSigs(sh).transform(graft.Materialize(_))
      val pairs = jaccardPairsFrom(sh)
      val matches = (0 until NumMinhash).map { i =>
        when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0)
      }.reduce(_ + _)
      pairs
        .join(mh.as("a"), col("doc_a") === col("a.doc_id"))
        .join(mh.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          (matches.cast("double") / lit(NumMinhash.toDouble))
            .as("est_jaccard"))
        .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash signatures: 32-bit, term-frequency weighted
    "dedup_simhash" -> ((s, dir) =>
      simhashSigs(s, dir).orderBy("doc_id")),

    // SimHash near-dup pairs via pigeonhole banding on 8-bit chunks.
    //
    // The signature aggregation is checkpointed once (the self-join
    // formulation recomputed it twice), and candidates come from
    // bucket posting lists like the other banding dedups. NOTE on scale:
    // an 8-bit chunk space saturates (buckets grow linearly with corpus ⇒
    // pairs quadratically); at real 100 TB scale use a 64-bit simhash
    // with 16-bit chunks — same plan shape, 256× the bucket space.
    "dedup_simhash_pairs" -> ((s, dir) => {
      // one consumer, kept: measured faster materialized (Profile)
      val sig = simhashSigs(s, dir).transform(graft.Materialize(_))
      val chunks = sig.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("c"))
        .withColumn("chunk",
          expr("shiftright(simhash, CAST(8 * c AS INT)) & 255"))
      val cand = chunks
        .groupBy("c", "chunk")
        .agg(collect_list(struct(col("doc_id"), col("simhash")))
          .as("members"))
        .filter(size(col("members")).between(2, MaxPosting))
        .select(explode(col("members")).as("a"), col("members"))
        .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sig_a"),
          explode(col("members")).as("b"))
        .filter(col("doc_a") < col("b.doc_id"))
        .select(col("doc_a"), col("sig_a"),
          col("b.doc_id").as("doc_b"), col("b.simhash").as("sig_b"))
        .distinct()
      cand.withColumn("hamming",
          expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
        .filter(col("hamming") <= HammingMax)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // 64-bit SimHash near-dup pairs with 16-bit pigeonhole chunks — the
    // declared 100 TB variant of dedup_simhash_pairs: same checkpointed
    // signature, same bucket posting-list plan, 65536 buckets per chunk
    // position instead of 256. Arithmetic shift + mask extracts chunks
    // identically on both engines (the sign-extended high bits are masked
    // off), so the negative top-bit signature is safe.
    "dedup_simhash64_pairs" -> ((s, dir) => {
      // one consumer, kept: measured faster materialized (Profile)
      val sig = simhash64Sigs(s, dir).transform(graft.Materialize(_))
      val chunks = sig.select(col("doc_id"), col("simhash64"),
        explode(sequence(lit(0), lit(3))).as("c"))
        .withColumn("chunk",
          expr("shiftright(simhash64, CAST(16 * c AS INT)) & 65535"))
      val cand = chunks
        .groupBy("c", "chunk")
        .agg(collect_list(struct(col("doc_id"), col("simhash64")))
          .as("members"))
        .filter(size(col("members")).between(2, MaxPosting))
        .select(explode(col("members")).as("a"), col("members"))
        .select(col("a.doc_id").as("doc_a"), col("a.simhash64").as("sig_a"),
          explode(col("members")).as("b"))
        .filter(col("doc_a") < col("b.doc_id"))
        .select(col("doc_a"), col("sig_a"),
          col("b.doc_id").as("doc_b"), col("b.simhash64").as("sig_b"))
        .distinct()
      cand.withColumn("hamming",
          expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
        .filter(col("hamming") <= HammingMax)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),
  )


  /** The recall-audit body over an already-shingled frame, cap
    * parametrized so LshSkewSpec can exercise cap pressure on a
    * fixture-scaled corpus (the production entry always passes
    * [[MaxPosting]]; what the measurement varies is the cap/corpus
    * RATIO, the quantity that decides whether a bucket is dropped). */
  private[graft] def recallAuditFrom(sh: DataFrame, cap: Int): DataFrame = {
      val exact = jaccardPairsFrom(sh, cap)
        .select("doc_a", "doc_b").transform(graft.Materialize(_))
      val cand = bandCandidates(sh, cap).transform(graft.Materialize(_))
      val verified = cand
        .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sa.shingles"), col("sb.shingles")))
            .cast("double") /
            size(array_union(col("sa.shingles"), col("sb.shingles"))))
            .as("jaccard"))
        .filter(col("jaccard") >= JaccardThreshold)
        .select("doc_a", "doc_b").transform(graft.Materialize(_))
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val nCand = cand.agg(count(lit(1)).as("n_lsh_cand"))
      val nVer = verified.agg(count(lit(1)).as("n_lsh_verified"))
      val nCommon = verified.join(exact, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_common"))
      nExact.crossJoin(nCand).crossJoin(nVer).crossJoin(nCommon)
        .select(col("n_exact"), col("n_lsh_cand"), col("n_lsh_verified"),
          col("n_common"),
          (col("n_lsh_verified") - col("n_common")).as("n_lsh_only"),
          (col("n_exact") - col("n_common")).as("n_exact_only"),
          when(col("n_exact") === 0L, lit(null).cast("double"))
            .otherwise(col("n_common").cast("double") / col("n_exact"))
            .as("band_recall"),
          when(col("n_lsh_cand") === 0L, lit(null).cast("double"))
            .otherwise(col("n_lsh_verified").cast("double") /
              col("n_lsh_cand"))
            .as("band_precision"))
  }

  // ---- oracles -----------------------------------------------------------

  private[graft] val shingledSql: String =
    """toksed AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |shingled AS (
      |  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
      |    list_distinct(list_transform(range(len(toks) - 2), i ->
      |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
      |    ELSE [] END AS shingles
      |  FROM toksed
      |)""".stripMargin

  /** The pair chain after `shingled` — split out so oracles that already
    * carry the shingle CTEs (e.g. via [[minhashSql]]) can append it
    * without duplicating the `shingled` definition. */
  private[graft] val jaccardChainSql: String =
    s"""ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
       |ok_sh AS (
       |  SELECT sh FROM ex GROUP BY sh
       |  HAVING count(*) BETWEEN 2 AND $MaxPosting
       |),
       |exok AS MATERIALIZED (
       |  SELECT e.doc_id, e.sh FROM ex e JOIN ok_sh USING (sh)
       |),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM exok a JOIN exok b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shingled),
       |jac AS (
       |  SELECT doc_a, doc_b,
       |         CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) AS jaccard
       |  FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |)""".stripMargin

  private[graft] val jaccardPairsSql: String =
    s"""$shingledSql,
       |$jaccardChainSql""".stripMargin

  private val minhashSql: String = {
    val sigCols = (0 until NumMinhash).map { i =>
      s"list_min(list_transform(hashes, x -> (x * ${2L * i + 1} + ${17L * i + 7}) % $MinhashPrime)) AS h$i"
    }.mkString(",\n         ")
    s"""$shingledSql,
       |hashed AS (
       |  SELECT doc_id, shingles,
       |         list_transform(shingles, sh -> ${Ora.fnv("sh")}) AS hashes
       |  FROM shingled
       |),
       |sigs AS (
       |  SELECT doc_id, shingles,
       |         $sigCols
       |  FROM hashed
       |)""".stripMargin
  }

  /** Band-bucket candidate CTEs (band0..7 → bands → ok_buckets → cand) —
    * SQL mirror of [[bandCandidates]]; appended after [[minhashSql]] by
    * every oracle that verifies pairs from the LSH candidate set. */
  private val lshCandSql: String =
    (0 until NumBands).map { b =>
      s"""band$b AS (SELECT doc_id,
         |  $b AS band, CAST(h${2 * b} AS VARCHAR) || ',' || CAST(h${2 * b + 1} AS VARCHAR) AS sig
         |  FROM sigs)""".stripMargin
    }.mkString(",\n") + ",\n" +
    s"""bands AS (${(0 until NumBands).map(b => s"SELECT * FROM band$b").mkString(" UNION ALL ")}),
       |ok_buckets AS (
       |  SELECT band, sig FROM bands GROUP BY band, sig
       |  HAVING count(*) BETWEEN 2 AND $MaxPosting
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  JOIN ok_buckets o ON a.band = o.band AND a.sig = o.sig
       |)""".stripMargin

  private val simhashSql: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |),
      |tokh AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(2166136261::BIGINT,
      |           list_transform(string_split(w, ''), c -> unicode(c)::BIGINT)),
      |           (h, b) -> ((xor(h, b)) * 16777619) % 4294967296) AS h,
      |         unnest(range(32)) AS b
      |  FROM tok
      |),
      |contribs AS (
      |  SELECT doc_id, b,
      |         CAST(sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS contrib
      |  FROM tokh GROUP BY doc_id, b
      |),
      |simhashed AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN contrib >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM contribs GROUP BY doc_id
      |)""".stripMargin

  private val simhash64Sql: String =
    s"""tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |),
      |tokh64 AS (
      |  SELECT doc_id,
      |         ${Ora.fnv("w")} AS h1,
      |         ${Ora.fnv("(w || '#')")} AS h2,
      |         unnest(range(64)) AS b
      |  FROM tok
      |),
      |contribs64 AS (
      |  SELECT doc_id, b,
      |         CAST(sum(CASE WHEN (CASE WHEN b < 32 THEN (h1 >> b)
      |                               ELSE (h2 >> (b - 32)) END) & 1 = 1
      |                  THEN 1 ELSE -1 END) AS BIGINT) AS contrib
      |  FROM tokh64 GROUP BY doc_id, b
      |),
      |simhashed64 AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN contrib >= 0 THEN
      |           CASE WHEN b = 63 THEN (-9223372036854775807 - 1)
      |                ELSE (1::BIGINT << b) END
      |           ELSE 0 END) AS BIGINT) AS simhash64
      |  FROM contribs64 GROUP BY doc_id
      |)""".stripMargin

  /** The incremental-probe statement, shared verbatim by
    * `dedup_lsh_incremental` (retrain-per-query) and `dedup_lsh_served`
    * (persisted-index probe, [[LshIndex]]) — the two paths are
    * bit-identical by construction. lazy: interpolates vals declared
    * below (the object-level interpolation trap in ORACLE.md). */
  private lazy val lshIncrementalSql: String =
    s"WITH $minhashSql,\n" +
      (0 until NumBands).map { b =>
        s"""band$b AS (SELECT doc_id,
           |  $b AS band, CAST(h${2 * b} AS VARCHAR) || ',' || CAST(h${2 * b + 1} AS VARCHAR) AS sig
           |  FROM sigs)""".stripMargin
      }.mkString(",\n") + ",\n" +
      s"""bands AS (${(0 until NumBands).map(b => s"SELECT * FROM band$b").mkString(" UNION ALL ")}),
         |idx_ok AS (
         |  SELECT band, sig FROM bands WHERE doc_id % 10 <> 0
         |  GROUP BY band, sig HAVING count(*) <= $MaxPosting
         |),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS idx_doc
         |  FROM bands n
         |  JOIN bands i ON n.band = i.band AND n.sig = i.sig
         |  JOIN idx_ok o ON i.band = o.band AND i.sig = o.sig
         |  WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
         |)
         |SELECT new_doc, idx_doc,
         |       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |         / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
         |FROM cand
         |JOIN sigs sa ON new_doc = sa.doc_id
         |JOIN sigs sb ON idx_doc = sb.doc_id
         |WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |         / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= $JaccardThreshold
         |ORDER BY new_doc, idx_doc""".stripMargin

  val oracle: Map[String, String] = Map(
    "corpus_top_ngrams" -> (s"WITH $shingledSql\n" +
      s"""SELECT sh, count(*) AS doc_freq
         |FROM (SELECT doc_id, unnest(shingles) AS sh FROM shingled)
         |GROUP BY sh ORDER BY doc_freq DESC, sh LIMIT $TopNgrams""".stripMargin),

    "dedup_exact" ->
      """SELECT
        |  (SELECT count(*) FROM documents) AS n_docs,
        |  (SELECT count(DISTINCT md5(text)) FROM documents) AS n_distinct,
        |  (SELECT count(*) FROM (
        |     SELECT md5(text) AS h FROM documents GROUP BY 1 HAVING count(*) > 1))
        |    AS n_dup_groups""".stripMargin,

    "dedup_ngram_jaccard" -> (s"WITH $jaccardPairsSql\n" +
      s"SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= $JaccardThreshold " +
      "ORDER BY doc_a, doc_b"),

    "dedup_cap_ledger" -> (s"WITH $shingledSql,\n" +
      s"""post AS (
         |  SELECT sh, count(*) AS k FROM (
         |    SELECT doc_id, unnest(shingles) AS sh FROM shingled
         |  ) GROUP BY sh HAVING count(*) >= 2
         |),
         |hist AS (
         |  SELECT k, count(*) AS n_postings,
         |         CAST(count(*) * (k * (k - 1) // 2) AS BIGINT) AS pairs,
         |         k > $MaxPosting AS capped
         |  FROM post GROUP BY k
         |),
         |tot AS (
         |  SELECT CAST(sum(pairs) AS BIGINT) AS pairs_uncapped,
         |         CAST(sum(CASE WHEN NOT capped THEN pairs ELSE 0 END)
         |           AS BIGINT) AS pairs_kept
         |  FROM hist
         |)
         |SELECT k, n_postings, pairs, capped,
         |       CAST(pairs AS DOUBLE) / pairs_uncapped AS cost_share,
         |       CAST(pairs_kept AS DOUBLE) / pairs_uncapped AS kept_share
         |FROM hist, tot ORDER BY k""".stripMargin),

    "dedup_threshold_sweep" -> (s"WITH $jaccardPairsSql,\n" +
      """hist AS (
        |  SELECT CAST(floor(jaccard * 10) AS BIGINT) AS jbin,
        |         count(*) AS n_pairs
        |  FROM jac GROUP BY 1
        |),
        |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tot FROM hist),
        |cum AS (
        |  SELECT jbin, n_pairs,
        |         CAST(sum(n_pairs) OVER w AS BIGINT) AS cum_pairs
        |  FROM hist
        |  WINDOW w AS (ORDER BY jbin DESC ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT jbin, n_pairs, cum_pairs,
        |       CAST(cum_pairs AS DOUBLE) / tot AS pair_share
        |FROM cum, tot ORDER BY jbin""".stripMargin),

    "dedup_containment" -> (s"WITH $jaccardPairsSql,\n" +
      s"""cont AS (
         |  SELECT doc_a, doc_b, shared,
         |         CAST(sa.n_sh AS BIGINT) AS n_a,
         |         CAST(sb.n_sh AS BIGINT) AS n_b,
         |         CAST(shared AS DOUBLE) / sa.n_sh AS containment_a,
         |         CAST(shared AS DOUBLE) / sb.n_sh AS containment_b
         |  FROM pairs
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |)
         |SELECT * FROM cont
         |WHERE greatest(containment_a, containment_b) >= $ContainmentThreshold
         |ORDER BY doc_a, doc_b""".stripMargin),

    // mirror of dedup_substring_spans: positional grams via LATERAL
    // range, same fnv1a32 gram-hash key, same two-pass coverage shape
    "dedup_substring_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |),
         |grams AS (
         |  SELECT doc_id, i.i AS pos,
         |         ${Ora.fnv(s"array_to_string(t[i.i+1 : i.i+$SpanGram], ' ')")} AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(len(t) - $SpanGram + 1)) AS i) i
         |),
         |shared AS (
         |  SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) > 1
         |),
         |dup AS (
         |  SELECT doc_id, count(DISTINCT p.p) AS dup_tokens
         |  FROM grams g JOIN shared s USING (gh),
         |       LATERAL (SELECT unnest(range(g.pos, g.pos + $SpanGram)) AS p) p
         |  GROUP BY doc_id
         |)
         |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tok,
         |       CAST(coalesce(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |       coalesce(d.dup_tokens, 0)::DOUBLE / len(t.t) AS dup_frac
         |FROM toks t LEFT JOIN dup d USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    "dedup_minhash_lsh" -> (s"WITH $minhashSql,\n$lshCandSql\n" +
      s"""SELECT doc_a, doc_b,
         |       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |         / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
         |FROM cand
         |JOIN sigs sa ON doc_a = sa.doc_id
         |JOIN sigs sb ON doc_b = sb.doc_id
         |WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |         / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin),

    // composes the LSH candidate chain (minhashSql carries shingled) and
    // the exact pair chain (jaccardChainSql appends WITHOUT redefining
    // shingled) so both candidate generators score the same shingle sets
    "dedup_lsh_recall_audit" ->
      (s"WITH $minhashSql,\n$lshCandSql,\n$jaccardChainSql,\n" +
        s"""exact AS (
           |  SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardThreshold
           |),
           |ver AS (
           |  SELECT c.doc_a, c.doc_b FROM cand c
           |  JOIN sigs sa ON c.doc_a = sa.doc_id
           |  JOIN sigs sb ON c.doc_b = sb.doc_id
           |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           |    / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
           |    >= $JaccardThreshold
           |),
           |counts AS (
           |  SELECT
           |    (SELECT count(*) FROM exact) AS n_exact,
           |    (SELECT count(*) FROM cand) AS n_lsh_cand,
           |    (SELECT count(*) FROM ver) AS n_lsh_verified,
           |    (SELECT count(*) FROM ver v JOIN exact e
           |       ON v.doc_a = e.doc_a AND v.doc_b = e.doc_b) AS n_common
           |)
           |SELECT n_exact, n_lsh_cand, n_lsh_verified, n_common,
           |       n_lsh_verified - n_common AS n_lsh_only,
           |       n_exact - n_common AS n_exact_only,
           |       CASE WHEN n_exact = 0 THEN NULL
           |            ELSE CAST(n_common AS DOUBLE) / n_exact END
           |         AS band_recall,
           |       CASE WHEN n_lsh_cand = 0 THEN NULL
           |            ELSE CAST(n_lsh_verified AS DOUBLE) / n_lsh_cand END
           |         AS band_precision
           |FROM counts""".stripMargin),

    // same candidate CTEs as minhash_lsh; DuckDB has no thresholded
    // levenshtein, so the oracle computes the full distance and filters —
    // identical result set to Spark's banded bail-out + filter(>= 0)
    "dedup_edit_distance" -> (s"WITH $minhashSql,\n$lshCandSql,\n" +
      s"""pref AS (SELECT doc_id, substr(text, 1, $EditPrefix) AS p FROM documents)
         |SELECT doc_a, doc_b,
         |       levenshtein(pa.p, pb.p) AS edit_dist,
         |       1.0 - levenshtein(pa.p, pb.p)::DOUBLE / greatest(len(pa.p), len(pb.p)) AS edit_sim
         |FROM cand
         |JOIN pref pa ON doc_a = pa.doc_id
         |JOIN pref pb ON doc_b = pb.doc_id
         |WHERE levenshtein(pa.p, pb.p) <= $EditMaxDist
         |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_lsh_scurve" -> {
      val bandOr = (0 until NumBands).map { b =>
        s"(sa.h${2 * b} = sb.h${2 * b} AND sa.h${2 * b + 1} = sb.h${2 * b + 1})"
      }.mkString(" OR ")
      def missProd(v: String) =
        Seq.fill(NumBands)(s"(1.0 - $v * $v)").mkString(" * ")
      s"""WITH $minhashSql,
         |$jaccardChainSql,
         |binned AS (
         |  SELECT CAST(least(floor(j.jaccard * 10.0), 9.0) AS BIGINT) AS bin,
         |         j.jaccard,
         |         CASE WHEN $bandOr THEN 1 ELSE 0 END AS collide
         |  FROM jac j
         |  JOIN sigs sa ON j.doc_a = sa.doc_id
         |  JOIN sigs sb ON j.doc_b = sb.doc_id
         |),
         |agg AS (
         |  SELECT bin, count(*) AS n_pairs,
         |         CAST(sum(collide) AS BIGINT) AS n_collide,
         |         sum(floor(jaccard * $ScurveFp + 0.5)) AS jfp
         |  FROM binned GROUP BY bin
         |),
         |curve AS (
         |  SELECT bin, n_pairs, n_collide,
         |         n_collide::DOUBLE / n_pairs AS measured_rate,
         |         (bin::DOUBLE + 0.5) / 10.0 AS s_mid,
         |         jfp / (n_pairs * $ScurveFp) AS s_mean
         |  FROM agg
         |)
         |SELECT bin, n_pairs, n_collide, measured_rate, s_mid,
         |       1.0 - ${missProd("s_mid")} AS theory_rate,
         |       s_mean, 1.0 - ${missProd("s_mean")} AS theory_mean
         |FROM curve ORDER BY bin""".stripMargin
    },

    "dedup_lsh_incremental" -> lshIncrementalSql,

    "dedup_minhash_estimate" -> {
      val matchSum = (0 until NumMinhash).map { i =>
        s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END"
      }.mkString(" + ")
      s"""WITH $minhashSql,
         |$jaccardChainSql,
         |est AS (
         |  SELECT j.doc_a, j.doc_b, j.jaccard,
         |         CAST($matchSum AS DOUBLE) / ${NumMinhash.toDouble}
         |           AS est_jaccard
         |  FROM jac j
         |  JOIN sigs sa ON j.doc_a = sa.doc_id
         |  JOIN sigs sb ON j.doc_b = sb.doc_id
         |  WHERE j.jaccard >= $JaccardThreshold
         |)
         |SELECT doc_a, doc_b, jaccard, est_jaccard,
         |       abs(est_jaccard - jaccard) AS abs_err
         |FROM est ORDER BY doc_a, doc_b""".stripMargin
    },

    "dedup_simhash" -> (s"WITH $simhashSql\n" +
      "SELECT doc_id, simhash FROM simhashed ORDER BY doc_id"),

    "dedup_simhash_pairs" -> (s"WITH $simhashSql,\n" +
      s"""chunks AS (
        |  SELECT doc_id, simhash, c, (simhash >> (8 * CAST(c AS INT))) & 255 AS chunk
        |  FROM simhashed, (SELECT unnest(range(4)) AS c)
        |),
        |ok_chunks AS (
        |  SELECT c, chunk FROM chunks GROUP BY c, chunk
        |  HAVING count(*) BETWEEN 2 AND $MaxPosting
        |),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
        |         b.doc_id AS doc_b, b.simhash AS sig_b
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        |  JOIN ok_chunks o ON a.c = o.c AND a.chunk = o.chunk
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sig_a, sig_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_simhash64_pairs" -> (s"WITH $simhash64Sql,\n" +
      s"""chunks AS (
        |  SELECT doc_id, simhash64, c,
        |         (simhash64 >> (16 * CAST(c AS INT))) & 65535 AS chunk
        |  FROM simhashed64, (SELECT unnest(range(4)) AS c)
        |),
        |ok_chunks AS (
        |  SELECT c, chunk FROM chunks GROUP BY c, chunk
        |  HAVING count(*) BETWEEN 2 AND $MaxPosting
        |),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, a.simhash64 AS sig_a,
        |         b.doc_id AS doc_b, b.simhash64 AS sig_b
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        |  JOIN ok_chunks o ON a.c = o.c AND a.chunk = o.chunk
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sig_a, sig_b)) <= $HammingMax
        |ORDER BY doc_a, doc_b""".stripMargin),

    // the served probe is bit-identical to the retrain-per-query
    // incremental path (the persisted index is a deterministic function
    // of the corpus), so it shares the statement — the IvfPqIndex
    // precedent applied to dedup
    "dedup_lsh_served" -> lshIncrementalSql,
  )
}
