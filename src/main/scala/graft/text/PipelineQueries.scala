package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{DedupComponents, DedupQueries}
import graft.hash.Fnv1a32.fnv1a32
import graft.oracle.Ora

/** End-to-end corpus curation — the composed pipeline a training-data user
  * actually runs, built entirely from this engine's operators:
  *
  *   quality score → language vote → near-dup components → keep/drop
  *   verdict, plus deterministic hash sampling for training-mix draws.
  *
  * The cascade is ordered (low_quality before wrong_lang before near_dup),
  * so every document gets exactly one verdict and the counts are a
  * partition of the corpus.
  */
object PipelineQueries extends graft.QueryModule {

  val QualityThreshold = 0.55
  val SampleRate = 10 // percent
  val MixCap = 20 // max docs per language in the balanced mix
  val MixSalts = 8 // stage-1 fan-out of the two-stage per-language top-k
  val BenchDocs = 5L // doc_id < 5 stands in for the held-out eval set
  val ContaminationFrac = 0.5 // overlap fraction that flags a doc
  val SeqLen = 256L // tokens per packed training sequence
  val PackShards = 8L // independent packing streams
  val BloomM = 4096 // bloom filter bits
  val BloomK = 3 // bloom probes per item
  val TempFp = 1048576.0 // 2^20 fixed-point grid for the temperature mix
  val MixDraws = 1000L // sampling budget the temperature weights apportion
  val SampleK = 50 // weighted priority-sample size
  val QuotaBudget = 100L // stratified sampling budget (docs)
  val IdBuckets = 8L // range buckets for global id assignment
  val DsirBuckets = 1024L // hashed-unigram feature space for DSIR weights
  val DsirFp = 1048576.0 // 2^20 fixed-point grid for the mean ratio

  /** Largest-remainder quota allocation over (lang, source) strata —
    * one definition serving the quota report AND the materialized draw.
    * The stratum dimension is #langs×#sources rows, so the
    * unpartitioned remainder-rank window is dimension-sized; the corpus
    * is touched once, by the counting aggregate. */
  private def stratifiedQuotas(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val strata = s.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang", "source").agg(count("*").as("n_avail"))
    // one corpus aggregate, checkpointed: the total, the remainder
    // ranks, and the floor-quota sum all read this tiny dimension
    val base = strata
      .crossJoin(strata.agg(sum(col("n_avail")).as("total")))
      .select(col("lang"), col("source"), col("n_avail"),
        expr(s"$QuotaBudget * n_avail div total").as("q0"),
        expr(s"$QuotaBudget * n_avail % total").as("rem"))
      .transform(graft.Materialize(_))
    val wRem = Window.orderBy(col("rem").desc, col("lang"), col("source"))
    base
      .withColumn("rr", row_number().over(wRem).cast("long"))
      .crossJoin(base.agg(sum(col("q0")).as("q0_sum")))
      .select(col("lang"), col("source"), col("n_avail"),
        (col("q0") + when(col("rr") <= lit(QuotaBudget) - col("q0_sum"),
          1L).otherwise(0L)).as("quota"))
  }

  /** Per-document packing offsets — ONE shard-window derivation serving
    * both the per-shard stats view (`corpus_pack_stats`) and the
    * per-document layout table (`corpus_pack_assign`), so the layout
    * can never drift from the stats that describe it. Docs are
    * hash-assigned to [[PackShards]] independent packing streams; the
    * running-sum window is per shard, so the unit of sequential work is
    * a shard, not the corpus. */
  private def packOffsets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("shard", pmod(
        fnv1a32(concat(lit("pack:"), col("doc_id").cast("string"))),
        lit(PackShards)))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("end_off", sum(col("n_tok")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tok"))
  }

  /** THE train/val/test assignment — one definition, every consumer:
    * `corpus_split_assign`, the leakage audit, the held-out LM
    * (`text_lm_holdout`), and their oracles all derive membership from
    * this exact expression; a second copy that drifted would silently
    * re-introduce the leakage the audits exist to catch. */
  private[graft] def splitOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val b = pmod(fnv1a32(concat(lit("split:"), c.cast("string"))), lit(10L))
    when(b === 0L, "test").when(b === 1L, "val").otherwise("train")
  }

  /** Dup-cluster members ranked by quality: (component, doc_id, quality,
    * is_kept) with is_kept on the per-component quality argmax (min-id
    * tiebreak) — shared by the canonical-keep verdict and the gain
    * measurement. */
  private def canonicalRanked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = DedupComponents.components(
      DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .select("doc_a", "doc_b"))
      .select("doc_id", "component")
    val q = TextQueries.tokenize(
        s.read.parquet(s"$dir/documents.parquet"))
      .select(col("doc_id"), TextQueries.qualityCol.as("quality"))
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id").asc)
    comp.join(q, "doc_id")
      .withColumn("is_kept", row_number().over(w) === 1)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Quality-ranked canonical selection: within each near-dup cluster
    // keep the HIGHEST-quality member (tie: lowest doc_id), not the
    // arbitrary min-id canonical the components algorithm emits — the
    // difference between "dedup" and "dedup that keeps the best copy",
    // which is what a training-corpus pipeline actually wants (the dup
    // cluster often mixes a clean original with truncated or boiler-
    // plated mirrors). Scale shape: the cluster membership table is
    // dup-members-sized (≪ corpus); the quality join hash-partitions on
    // doc_id, and the argmax window runs per-component over cluster-
    // sized frames (bounded by the posting-list cap upstream). The
    // quality double is bit-equal cross-engine (established by
    // text_quality_score), so the DESC comparison can never disagree.
    "corpus_canonical_keep" -> ((s, dir) =>
      canonicalRanked(s, dir)
        .select("component", "doc_id", "quality", "is_kept")
        .orderBy("component", "doc_id")),

    // What did quality-ranked keeping actually buy? Per cluster the
    // kept-by-quality doc's score vs the min-id canonical's score the
    // plain components verdict would have kept — `gain` is a subtraction
    // of two already-bit-equal doubles, and `improved` marks clusters
    // where ranking changed the outcome. The roll-up a curator reads to
    // decide whether the ranking pass pays for itself.
    "corpus_dedup_gain" -> ((s, dir) => {
      val ranked = canonicalRanked(s, dir).transform(graft.Materialize(_))
      val best = ranked.filter(col("is_kept"))
        .select(col("component"), col("doc_id").as("kept_doc"),
          col("quality").as("kept_quality"))
      // the components label IS the cluster's min doc_id, so the min-id
      // keeper's quality is the row where doc_id = component
      val minid = ranked.filter(col("doc_id") === col("component"))
        .select(col("component"), col("quality").as("minid_quality"))
      best.join(minid, "component")
        .withColumn("gain", col("kept_quality") - col("minid_quality"))
        .withColumn("improved", col("gain") > 0.0)
        .orderBy("component")
    }),

    // the full cleaning cascade, summarized as verdict counts
    "corpus_clean_pipeline" -> ((s, dir) => {
      val docs = TextQueries.tokenize(
          s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"),
          TextQueries.qualityCol.as("quality"),
          TextQueries.langPredCol.as("lang_pred"))
      val dupDrops = DedupComponents.components(
        DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
          .select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("component"))
        .select(col("doc_id"), lit(true).as("is_dup"))
      docs.join(dupDrops, Seq("doc_id"), "left")
        .select(
          when(col("quality") < QualityThreshold, "low_quality")
            .when(col("lang_pred") =!= "en", "wrong_lang")
            .when(coalesce(col("is_dup"), lit(false)), "near_dup")
            .otherwise("kept").as("verdict"))
        .groupBy("verdict").agg(count("*").as("n"))
        .orderBy("verdict")
    }),

    // sequence-packing planner: the pretokenization step that packs
    // documents into fixed SeqLen-token training sequences. Docs are
    // hash-assigned to PackShards independent packing streams and laid
    // end-to-end in deterministic doc order inside each — exactly how
    // distributed packing runs (each executor packs its shard; shard
    // count scales with the cluster, so the per-shard running-sum window
    // is the unit of sequential work by construction, not a bottleneck).
    // Emits per shard: docs, tokens, sequences produced, docs straddling
    // a sequence boundary (split across sequences), and the fill
    // fraction — all integer-exact, one division for the fraction.
    "corpus_pack_stats" -> ((s, dir) => {
      packOffsets(s, dir).groupBy("shard")
        .agg(count("*").as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(when(expr(s"start_off div $SeqLen") =!=
            expr(s"(end_off - 1) div $SeqLen"), 1L).otherwise(0L))
            .as("n_straddlers"),
          expr(s"(max(end_off) + ${SeqLen - 1}) div $SeqLen").as("n_seqs"))
        .withColumn("fill_frac",
          col("n_tokens").cast("double") / (col("n_seqs") * lit(SeqLen)))
        .orderBy("shard")
    }),

    // ...and the ASSIGNMENT that plan describes: one row per document
    // with its shard, token offsets, and the training sequences it lands
    // in — the layout table the tokenizer worker actually consumes (seq
    // id × in-sequence offset locate every document's tokens without
    // touching the text again). [[packOffsets]] is the single shard
    // window both views derive from, so they cannot desynchronize;
    // sequence ids are per-shard (dense by construction) — globalize as
    // (shard, seq) or shard-major arithmetic, zero coordination either
    // way.
    "corpus_pack_assign" -> ((s, dir) =>
      packOffsets(s, dir)
        .select(col("doc_id"), col("shard"), col("n_tok"),
          col("start_off"),
          expr(s"start_off div $SeqLen").as("first_seq"),
          expr(s"(end_off - 1) div $SeqLen").as("last_seq"),
          expr(s"start_off % $SeqLen").as("seq_off"))
        .orderBy("doc_id")),

    // benchmark decontamination: the overlap check a training pipeline
    // runs before trusting its corpus — every corpus doc is scored by how
    // many of its word-3-gram shingles appear in the held-out benchmark
    // set (docs 0..4 stand in for an eval suite). The benchmark shingle
    // set is DISTINCT'd and broadcast — eval suites are tiny against a
    // 100 TB corpus, so the probe never shuffles the corpus side; the
    // per-doc overlap count is one hash aggregate. Only docs with ≥ 1
    // overlapping shingle are emitted; `contaminated` flags overlap
    // above [[ContaminationFrac]] of the doc's own shingles.
    "corpus_contamination" -> ((s, dir) => {
      val sh = DedupQueries.shingled(s, dir)
      val bench = sh.filter(col("doc_id") < BenchDocs)
        .select(explode(col("shingles")).as("sh")).distinct()
      val corpus = sh.filter(col("doc_id") >= BenchDocs)
      val hits = corpus
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .join(broadcast(bench), "sh")
        .groupBy("doc_id").agg(count("*").as("n_overlap"))
      corpus.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
        .join(hits, Seq("doc_id"))
        .withColumn("overlap_frac",
          col("n_overlap").cast("double") / col("n_sh"))
        .withColumn("contaminated", col("overlap_frac") >= ContaminationFrac)
        .orderBy("doc_id")
    }),

    // DSIR-style data selection weights (Xie et al.: importance
    // resampling toward a target domain over HASHED features). Features
    // are fnv-hashed unigram buckets (DsirBuckets of them — at real scale
    // the hash bucketing, not the vocabulary, bounds the model); the
    // target distribution is the held-out benchmark set (doc_id <
    // BenchDocs, same stand-in corpus_contamination probes), the proposal
    // is the rest of the corpus. Per corpus doc the score is the
    // occurrence-weighted MEAN of the Laplace-smoothed target/proposal
    // frequency ratio on the 2^-20 fixed-point grid — the same
    // probability-not-log policy as text_lm_likelihood, because ln() has
    // no cross-engine bit contract while each ratio here is one division
    // of exact integers. Plan: two bucket-count aggregates (vocab-sized),
    // a broadcast ratio table joined to the token stream, one groupBy
    // doc — the corpus is scanned once, nothing is ever pairwise.
    "corpus_dsir_weights" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"),
          (fnv1a32(col("w")) % DsirBuckets).as("f"))
        .transform(graft.Materialize(_))
      val isBench = col("doc_id") < BenchDocs
      val tgt = toks.filter(isBench).groupBy("f").agg(count("*").as("tc"))
      val prop = toks.filter(!isBench).groupBy("f").agg(count("*").as("cc"))
      val totals = toks
        .agg(sum(when(isBench, 1L).otherwise(0L)).as("tgt_total"),
          sum(when(!isBench, 1L).otherwise(0L)).as("prop_total"))
      val ratios = prop.join(tgt, Seq("f"), "left")
        .crossJoin(broadcast(totals))
        .select(col("f"),
          (((coalesce(col("tc"), lit(0L)) + lit(1L)) *
            (col("prop_total") + lit(DsirBuckets))).cast("double") /
            ((col("cc") + lit(1L)) * (col("tgt_total") + lit(DsirBuckets))))
            .as("ratio"))
      toks.filter(!isBench)
        .join(broadcast(ratios), "f")
        .groupBy("doc_id")
        .agg(count("*").as("n_tok"),
          sum(floor(col("ratio") * lit(DsirFp) + lit(0.5))).as("rfp"))
        .select(col("doc_id"), col("n_tok"),
          (col("rfp") / (col("n_tok") * lit(DsirFp))).as("dsir_score"))
        .orderBy("doc_id")
    }),

    // balanced training mix: cap each language at MixCap documents,
    // chosen by deterministic hash rank (no RNG state — the same docs are
    // picked on any engine, any partitioning, any rerun). kept_id_sum is
    // a selection checksum: the oracle agreeing on it means both engines
    // picked the IDENTICAL documents, not merely the same count.
    //
    // TWO-STAGE top-k: a single window per language would sort the whole
    // majority language in one partition (parallelism = #langs — a real
    // ceiling when one language is half a 100 TB corpus). Stage 1 ranks
    // within (lang, salt) — MixSalts× the parallelism — and keeps each
    // salt's top MixCap; any doc in the language's true top MixCap is in
    // its own salt's top MixCap, so the prune is lossless. Stage 2 ranks
    // the ≤ MixCap·MixSalts survivors per language — a window over a
    // dimension-sized frame. The totals come from a plain aggregate, not
    // the window. The DuckDB oracle uses the naive single window: same
    // semantics, so agreement also proves the two-stage form lossless.
    "corpus_balanced_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hashed = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"))
        .withColumn("__h",
          fnv1a32(concat(lit("mix:"), col("doc_id").cast("string"))))
      val w1 = Window.partitionBy("lang", "__salt")
        .orderBy(col("__h"), col("doc_id"))
      val w2 = Window.partitionBy("lang").orderBy(col("__h"), col("doc_id"))
      val kept = hashed
        .withColumn("__salt", pmod(col("doc_id"), lit(MixSalts.toLong)))
        .withColumn("rk1", row_number().over(w1))
        .filter(col("rk1") <= MixCap)
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= MixCap)
      hashed.groupBy("lang").agg(count("*").as("n_total"))
        .join(kept.groupBy("lang")
          .agg(count("*").as("n_kept"), sum(col("doc_id")).as("kept_id_sum")),
          Seq("lang"))
        .orderBy("lang")
    }),

    // temperature-resampled language mix (the multilingual balancing
    // exponent of mBERT/XLM, at α = 1/2): sampling weight ∝ n_docs^α.
    // α = 1/2 is deliberate — sqrt is an IEEE correctly-rounded op on
    // both engines where pow(x, 0.7) is a libm call with no cross-engine
    // bit contract. The sqrt is quantized to the 2^-20 grid before the
    // denominator sum, so the normalizer is an exact integer and every
    // weight is one correctly-rounded division. One groupBy over the
    // corpus; everything after is #langs-sized.
    "corpus_temperature_mix" -> ((s, dir) => {
      val counts = s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang").agg(count("*").as("n_docs"))
        .withColumn("qs",
          floor(sqrt(col("n_docs").cast("double")) * lit(TempFp) + lit(0.5))
            .cast("long"))
        // #langs-sized, two consumers (probe side + the normalizer's
        // broadcast build side) — without this the corpus groupBy runs twice
        .transform(graft.Materialize(_))
      counts.crossJoin(broadcast(counts.agg(sum("qs").as("qs_total"))))
        .select(col("lang"), col("n_docs"),
          (col("qs").cast("double") / col("qs_total")).as("weight"),
          floor(lit(MixDraws.toDouble) * col("qs").cast("double") /
            col("qs_total")).cast("long").as("n_draws"))
        .orderBy("lang")
    }),

    // pad-to-64 batching audit: docs bucketed by token length rounded up
    // to the tensor-alignment multiple, with the padding waste each
    // bucket pays — the measurement behind length-bucketed batching
    // (sorting by length before batching exists to shrink exactly this
    // number). All integer arithmetic plus one final division; one
    // corpus pass, #buckets-sized output.
    // Token-mass whale curve: what share of the corpus' tokens do the
    // longest p% of documents hold? The packing/budget planner's first
    // question (a heavy head means a few giant docs dominate epoch cost
    // and deserve chunk-splitting). Reuses the histogram-walk Pareto
    // core — count-value histogram + pro-rata boundary slice, never a
    // corpus-wide ranking — over per-doc token counts.
    "corpus_token_pareto" -> ((s, dir) =>
      graft.events.JourneyQueries.paretoFromCounts(s,
        s.read.parquet(s"$dir/documents.parquet")
          .select(size(split(col("text"), " ")).cast("long").as("c")))
        .select(col("pct"), col("k_users").as("k_docs"),
          col("events_top").as("tokens_top"), col("share"))),

    "corpus_length_buckets" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("bucket_top", expr("((n_tok + 63) div 64) * 64"))
        .groupBy("bucket_top")
        .agg(count("*").as("n_docs"), sum("n_tok").as("n_tokens"))
        .withColumn("n_pad",
          col("n_docs") * col("bucket_top") - col("n_tokens"))
        .withColumn("pad_frac", col("n_pad").cast("double") /
          (col("n_docs") * col("bucket_top")))
        .orderBy("bucket_top")),

    // the doc-level curation ledger: every document with its keep/drop
    // verdict and the FULL list of failing checks (the cascade query
    // reports one verdict per doc; operations wants every reason —
    // "would this doc survive if we fixed its PII?" reads off this
    // table). Composes quality, language, near-dup components,
    // benchmark membership + contamination, and PII flags; every leg is
    // doc-keyed, so after the first derivation the ledger is a chain of
    // co-partitioned joins against vertex-sized side tables. concat_ws
    // skips the NULL (passing) checks on both engines, so the reason
    // string is deterministic and '' means keep.
    "corpus_curation_ledger" -> ((s, dir) => {
      val docs = TextQueries.tokenize(
          s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"),
          TextQueries.qualityCol.as("quality"),
          TextQueries.langPredCol.as("lang_pred"),
          (regexp_count(col("text"),
            lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")) > 0 ||
            regexp_count(col("text"), lit("[0-9]{6,}")) > 0).as("has_pii"))
      // ONE checkpointed shingle pass feeds both the near-dup pair
      // pipeline and the contamination probe (composing the standalone
      // queries instead would shingle the corpus twice — a full extra
      // scan+tokenize at 100 TB); the plan pin asserts it
      val sh = DedupQueries.shingled(s, dir).transform(graft.Materialize(_))
      val dup = DedupComponents.components(
          DedupQueries.jaccardPairsFrom(sh).select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("component"))
        .select(col("doc_id"), lit(true).as("is_dup"))
      val bench = sh.filter(col("doc_id") < BenchDocs)
        .select(explode(col("shingles")).as("sh")).distinct()
      val contam = sh.filter(col("doc_id") >= BenchDocs)
        .select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"),
          explode(col("shingles")).as("sh"))
        .join(broadcast(bench), "sh")
        .groupBy("doc_id", "n_sh").agg(count("*").as("n_overlap"))
        .select(col("doc_id"),
          (col("n_overlap").cast("double") / col("n_sh") >=
            ContaminationFrac).as("contaminated"))
      val reasons = concat_ws(",",
        when(col("doc_id") < BenchDocs, "benchmark"),
        when(col("quality") < QualityThreshold, "low_quality"),
        when(col("lang_pred") =!= "en", "wrong_lang"),
        when(coalesce(col("is_dup"), lit(false)), "near_dup"),
        when(coalesce(col("contaminated"), lit(false)), "contaminated"),
        when(col("has_pii"), "has_pii"))
      docs.join(dup, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), reasons.as("reasons"))
        .withColumn("keep", col("reasons") === "")
        .orderBy("doc_id")
    }),

    // bloom-filter pre-join probe: the semi-join primitive at 100 TB —
    // the eval set's shingles collapse to a 512-byte filter (vs
    // broadcasting the whole distinct shingle set as corpus_contamination
    // does), the corpus probes it before any join, and only
    // bloom-positive shingles would proceed to exact verification. Per
    // doc: total shingle occurrences, bloom-positive occurrences, and
    // exactly-matching occurrences — the n_bloom ≥ n_exact gap IS the
    // false-positive rate, and because the filter hashes through the
    // engine's fnv1a32, DuckDB reproduces every false positive
    // bit-for-bit (same contract as the KMV/CMS sketches).
    "corpus_bloom_probe" -> ((s, dir) => {
      import graft.sketch.BloomBits
      val sh = DedupQueries.shingled(s, dir)
      val bench = sh.filter(col("doc_id") < BenchDocs)
        .select(explode(col("shingles")).as("sh")).distinct()
      val bloom = bench.agg(
        BloomBits.bloomBits(col("sh"), BloomM, BloomK).as("bf"))
      val probes = sh.filter(col("doc_id") >= BenchDocs)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .crossJoin(broadcast(bloom))
        .join(broadcast(bench.withColumn("exact", lit(true))),
          Seq("sh"), "left")
        .select(col("doc_id"),
          BloomBits.mightContain(col("bf"), col("sh"), BloomM, BloomK)
            .as("inb"),
          coalesce(col("exact"), lit(false)).as("exact"))
      probes.groupBy("doc_id")
        .agg(count("*").as("n_sh"),
          sum(when(col("inb"), 1L).otherwise(0L)).as("n_bloom"),
          sum(when(col("exact"), 1L).otherwise(0L)).as("n_exact"))
        .filter(col("n_bloom") > 0)
        .orderBy("doc_id")
    }),

    // dedup savings ledger: what near-dup removal buys, attributed per
    // ingest source — the accounting a curation run reports against its
    // storage/compute bill. Composes the components keep/drop verdict
    // with per-doc token counts; the drop set is component-members-only
    // (vertex-sized, tiny against the corpus), so the attribution join is
    // a corpus scan against a broadcast-sized drop list, then one
    // per-source aggregate. Token counts stay exact integers end to end.
    "corpus_dedup_savings" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tok"))
      val drops = DedupComponents.components(
          DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
            .select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("component"))
        .select(col("doc_id"), lit(true).as("dropped"))
      d.join(drops, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count("*").as("n_docs"), sum("n_tok").as("tokens_total"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("dropped"), col("n_tok")).otherwise(0L))
            .as("tokens_dropped"))
        .orderBy("source")
    }),

    // quality quartiles per language (ntile): the score-distribution
    // report a curation run reads before picking thresholds — quartile
    // bounds and sizes per language. The quality double is bit-equal
    // across engines (proven by text_quality_score), and the ntile
    // ordering key (quality, doc_id) is total, so bucket assignment is
    // deterministic. One window per language partition — a reporting op
    // over per-language frames; the aggregate output is dimension-sized.
    "corpus_quality_quartiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextQueries.tokenize(
          s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("lang"),
          TextQueries.qualityCol.as("quality"))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality"), col("doc_id"))
      // cast: Spark's ntile is INT, DuckDB's BIGINT — align declared types
      scored.withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy("lang", "quartile")
        .agg(count("*").as("n"), min("quality").as("q_min"),
          max("quality").as("q_max"))
        .orderBy("lang", "quartile")
    }),

    // deterministic hash sampling, stratified by source language: the
    // distributed sampling method (no RNG state, reproducible, pushes to
    // any engine)
    "corpus_hash_sample" -> ((s, dir) => {
      val sampled = pmod(
        fnv1a32(concat(lit("sample:"), col("doc_id").cast("string"))),
        lit(100L)) < SampleRate
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang")
        .agg(count("*").as("n"),
          sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"))
        .orderBy("lang")
    }),

    // deterministic train/val/test split: fnv-hash bucketing — split
    // membership depends only on doc_id, so re-runs, backfills, and
    // every executor agree with zero coordination, and a doc can never
    // migrate between splits as the corpus grows (the property random()
    // splits lack). 10% test / 10% val / 80% train; the per-language
    // occupancy this emits is the stratification audit.
    "corpus_split_assign" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("split", splitOf(col("doc_id")))
        .groupBy("lang", "split")
        .agg(count("*").as("n_docs"))
        .orderBy("lang", "split")
    }),

    // weighted priority sampling (Duffield/Lund/Thorup): every doc gets
    // priority w/u — weight = token count, u = a deterministic
    // hash-uniform in (0,1] — and the k highest priorities are the
    // sample, inclusion probability ∝ weight. The distributed-scale
    // sampling primitive: no RNG state, reproducible across re-runs and
    // engines, and top-k by priority is TakeOrdered (per-partition heaps
    // + driver merge), never a global sort. Float discipline: priority =
    // (w·2^32) / (h+1) is ONE exact-operand division — bit-equal on both
    // engines; (priority, doc_id) makes the cut total and deterministic.
    "corpus_priority_sample" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          fnv1a32(concat(lit("prio:"), col("doc_id").cast("string")))
            .as("h"))
        .select(col("doc_id"), col("source"), col("n_tok"),
          ((col("n_tok") * lit(4294967296L)).cast("double") /
            (col("h") + lit(1L)).cast("double")).as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(SampleK)
    }),

    // stratified sampling quotas by largest-remainder allocation: a
    // fixed doc budget split across (lang, source) strata proportionally
    // to availability, fractional seats going to the largest remainders
    // — the exact-integer apportionment a training-mix draw needs (naive
    // rounding over- or under-shoots the budget; this sums to it by
    // construction). The stratum dimension is #langs×#sources rows, so
    // the unpartitioned remainder-rank window is dimension-sized — the
    // corpus is touched once, by the counting aggregate.
    "corpus_stratified_quota" -> ((s, dir) =>
      stratifiedQuotas(s, dir).orderBy("lang", "source")),

    // ...and the DRAW those quotas allocate: within each stratum the
    // quota docs with the smallest deterministic hash rank are kept —
    // reproducible, coordination-free, and exactly quota-many per
    // stratum by construction. One window per stratum (dimension-keyed
    // partitions, never global); the quota table broadcasts. Emits the
    // selected docs with their in-stratum rank — the materialized
    // training-mix draw corpus_stratified_quota only plans.
    "corpus_stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang", "source")
        .orderBy(col("h"), col("doc_id"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"),
          fnv1a32(concat(lit("draw:"), col("doc_id").cast("string")))
            .as("h"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(stratifiedQuotas(s, dir)
          .select("lang", "source", "quota")), Seq("lang", "source"))
        .filter(col("rk") <= col("quota"))
        .select("lang", "source", "rk", "doc_id")
        .orderBy("lang", "source", "rk")
    }),

    // contiguous global ids for the kept corpus WITHOUT a global window:
    // the single-partition row_number() every naive implementation ships
    // is the classic driver-melting anti-pattern at scale. The scale
    // shape is three narrow passes: range-bucket by id, one tiny
    // per-bucket histogram, prefix-sum the (IdBuckets-row) histogram
    // into bucket offsets, then offset + intra-bucket rank — each
    // bucket's window is 1/IdBuckets of the data and buckets scale with
    // the cluster. The oracle states the CONTRACT in one line:
    // row_number over doc_id order.
    "corpus_global_ids" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val bucketed = d
        .crossJoin(d.agg(max(col("doc_id")).as("max_id")))
        .select(col("doc_id"),
          expr(s"doc_id * $IdBuckets div (max_id + 1)").as("bucket"))
      val hist = bucketed.groupBy("bucket").agg(count("*").as("n"))
      val wOff = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = hist
        .withColumn("offset", coalesce(sum(col("n")).over(wOff), lit(0L)))
        .select("bucket", "offset")
      val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      bucketed.join(broadcast(offsets), "bucket")
        .select(col("doc_id"),
          (col("offset") + row_number().over(wIn).cast("long") - lit(1L))
            .as("gid"))
        .orderBy("doc_id")
    }),

    // cross-source duplication matrix: verified near-dup pairs rolled up
    // by unordered source pair — which sources mirror each other, the
    // signal behind per-source dedup priorities and crawl-overlap
    // budgeting. Canonicalizing with least/greatest keeps (a,b) and
    // (b,a) in one cell; min/max jaccard are order-free (an avg of
    // doubles would leak shuffle order into the last bits). The pair
    // input is the LSH output at scale, so the matrix costs one narrow
    // map + a #sources²-bounded aggregate.
    "corpus_source_overlap" -> ((s, dir) => {
      val src = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
      DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b")), Seq("doc_b"))
        .select(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"),
          col("jaccard"))
        .groupBy("src_lo", "src_hi")
        .agg(count("*").as("n_pairs"), min("jaccard").as("min_jaccard"),
          max("jaccard").as("max_jaccard"))
        .orderBy("src_lo", "src_hi")
    }),

    // split-leakage audit: verified near-dup pairs that straddle a split
    // boundary — exactly the eval contamination that inflates benchmark
    // numbers (a test doc whose near-duplicate sits in train). Composes
    // the exact-Jaccard pair table with the hash split; at 100 TB the
    // pair input is the LSH output, already sub-linear, so the audit
    // costs one narrow map over pairs.
    "corpus_split_leakage" -> ((s, dir) => {
      DedupQueries.queries("dedup_ngram_jaccard")(s, dir)
        .withColumn("split_a", splitOf(col("doc_a")))
        .withColumn("split_b", splitOf(col("doc_b")))
        .filter(col("split_a") =!= col("split_b"))
        .orderBy("doc_a", "doc_b")
    }),
  )

  /** Oracle mirror of [[packOffsets]] — one CTE chain (`poffs`), two
    * consumers (the shard stats view and the assignment table). The
    * window sum is cast back to BIGINT (DuckDB widens sum(BIGINT) to
    * HUGEINT) so every derived column matches Spark's long. */
  private val packOffsCteSql: String =
    s"""pd AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         ${Ora.fnv("'pack:' || doc_id")} % $PackShards AS shard
       |  FROM documents
       |),
       |pends AS (
       |  SELECT doc_id, shard, n_tok,
       |         CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS end_off
       |  FROM pd
       |),
       |poffs AS (SELECT *, end_off - n_tok AS start_off FROM pends)""".stripMargin

  /** Oracle mirror of [[stratifiedQuotas]] — one CTE chain, two
    * consumers (the quota report and the materialized draw). */
  private val quotasCteSql: String =
    s"""s AS (
       |  SELECT lang, source, count(*) AS n_avail
       |  FROM documents GROUP BY 1, 2
       |),
       |base AS (
       |  SELECT lang, source, n_avail,
       |         ($QuotaBudget * n_avail) // total AS q0,
       |         ($QuotaBudget * n_avail) % total AS rem
       |  FROM s, (SELECT sum(n_avail) AS total FROM s)
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source)
       |    AS rr
       |  FROM base
       |),
       |quotas AS (
       |  SELECT lang, source, n_avail,
       |    CAST(q0 + CASE WHEN rr <= $QuotaBudget -
       |      (SELECT sum(q0) FROM base) THEN 1 ELSE 0 END AS BIGINT)
       |      AS quota
       |  FROM ranked
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "corpus_canonical_keep" -> (
      s"""WITH RECURSIVE
         |${DedupComponents.componentsCteSql},
         |q AS (
         |  SELECT doc_id, ${TextQueries.qualitySqlExpr} AS quality
         |  FROM documents
         |),
         |j AS (
         |  SELECT c.doc_id, c.component, q.quality
         |  FROM components c JOIN q USING (doc_id)
         |),
         |ranked AS (
         |  SELECT component, doc_id, quality,
         |         row_number() OVER (PARTITION BY component
         |                            ORDER BY quality DESC, doc_id) AS pick
         |  FROM j
         |)
         |SELECT component, doc_id, quality, pick = 1 AS is_kept
         |FROM ranked ORDER BY component, doc_id""".stripMargin),

    "corpus_dedup_gain" -> (
      s"""WITH RECURSIVE
         |${DedupComponents.componentsCteSql},
         |q AS (
         |  SELECT doc_id, ${TextQueries.qualitySqlExpr} AS quality
         |  FROM documents
         |),
         |j AS (
         |  SELECT c.doc_id, c.component, q.quality
         |  FROM components c JOIN q USING (doc_id)
         |),
         |ranked AS (
         |  SELECT component, doc_id, quality,
         |         row_number() OVER (PARTITION BY component
         |                            ORDER BY quality DESC, doc_id) AS pick
         |  FROM j
         |),
         |best AS (
         |  SELECT component, doc_id AS kept_doc, quality AS kept_quality
         |  FROM ranked WHERE pick = 1
         |),
         |minid AS (
         |  SELECT component, quality AS minid_quality
         |  FROM j WHERE doc_id = component
         |)
         |SELECT component, kept_doc, kept_quality, minid_quality,
         |       kept_quality - minid_quality AS gain,
         |       kept_quality - minid_quality > 0 AS improved
         |FROM best JOIN minid USING (component)
         |ORDER BY component""".stripMargin),

    "corpus_clean_pipeline" -> (
      s"""WITH RECURSIVE
         |${DedupComponents.componentsCteSql},
         |scored AS (
         |  SELECT doc_id,
         |    ${TextQueries.qualitySqlExpr} AS quality,
         |    ${TextQueries.predSql} AS lang_pred
         |  FROM documents
         |),
         |dup_drops AS (
         |  SELECT doc_id FROM components WHERE doc_id <> component
         |)
         |SELECT verdict, count(*) AS n FROM (
         |  SELECT CASE
         |    WHEN quality < $QualityThreshold THEN 'low_quality'
         |    WHEN lang_pred <> 'en' THEN 'wrong_lang'
         |    WHEN doc_id IN (SELECT doc_id FROM dup_drops) THEN 'near_dup'
         |    ELSE 'kept' END AS verdict
         |  FROM scored)
         |GROUP BY verdict ORDER BY verdict""".stripMargin),

    "corpus_pack_stats" -> (
      s"""WITH $packOffsCteSql
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN start_off // $SeqLen <> (end_off - 1) // $SeqLen
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
         |  CAST((max(end_off) + ${SeqLen - 1}) // $SeqLen AS BIGINT) AS n_seqs,
         |  CAST(sum(n_tok) AS DOUBLE)
         |    / (((max(end_off) + ${SeqLen - 1}) // $SeqLen) * $SeqLen) AS fill_frac
         |FROM poffs GROUP BY shard ORDER BY shard""".stripMargin),

    "corpus_dsir_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${Ora.fnv("w")} % $DsirBuckets AS f FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |),
         |tgt AS (
         |  SELECT f, count(*) AS tc FROM toks
         |  WHERE doc_id < $BenchDocs GROUP BY f
         |),
         |prop AS (
         |  SELECT f, count(*) AS cc FROM toks
         |  WHERE doc_id >= $BenchDocs GROUP BY f
         |),
         |tot AS (
         |  SELECT CAST(sum(CASE WHEN doc_id < $BenchDocs THEN 1 ELSE 0 END)
         |           AS BIGINT) AS tgt_total,
         |         CAST(sum(CASE WHEN doc_id >= $BenchDocs THEN 1 ELSE 0 END)
         |           AS BIGINT) AS prop_total
         |  FROM toks
         |),
         |ratios AS (
         |  SELECT p.f,
         |         ((coalesce(t.tc, 0) + 1) * (prop_total + $DsirBuckets))::DOUBLE
         |           / ((p.cc + 1) * (tgt_total + $DsirBuckets)) AS ratio
         |  FROM prop p LEFT JOIN tgt t USING (f), tot
         |)
         |SELECT k.doc_id, count(*) AS n_tok,
         |       sum(floor(r.ratio * $DsirFp + 0.5)) / (count(*) * $DsirFp)
         |         AS dsir_score
         |FROM toks k JOIN ratios r USING (f)
         |WHERE k.doc_id >= $BenchDocs
         |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,

    "corpus_contamination" -> (
      s"""WITH ${DedupQueries.shingledSql},
         |bench AS (
         |  SELECT DISTINCT unnest(shingles) AS sh FROM shingled
         |  WHERE doc_id < $BenchDocs
         |),
         |corpus AS (
         |  SELECT doc_id, shingles FROM shingled WHERE doc_id >= $BenchDocs
         |),
         |hits AS (
         |  SELECT c.doc_id, count(*) AS n_overlap
         |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM corpus) c
         |  JOIN bench USING (sh)
         |  GROUP BY c.doc_id
         |)
         |SELECT c.doc_id, CAST(len(c.shingles) AS BIGINT) AS n_sh,
         |       h.n_overlap,
         |       CAST(h.n_overlap AS DOUBLE) / len(c.shingles) AS overlap_frac,
         |       CAST(h.n_overlap AS DOUBLE) / len(c.shingles)
         |         >= $ContaminationFrac AS contaminated
         |FROM corpus c JOIN hits h USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin),

    "corpus_balanced_mix" -> (
      s"""WITH ranked AS (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY ${Ora.fnv("'mix:' || doc_id")}, doc_id) AS rk
         |  FROM documents
         |)
         |SELECT lang, count(*) AS n_total,
         |  CAST(sum(CASE WHEN rk <= $MixCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN rk <= $MixCap THEN doc_id END) AS BIGINT) AS kept_id_sum
         |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin),

    "corpus_temperature_mix" -> (
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(floor(sqrt(count(*)::DOUBLE) * $TempFp + 0.5)
         |           AS BIGINT) AS qs
         |  FROM documents GROUP BY lang
         |),
         |tot AS (SELECT CAST(sum(qs) AS BIGINT) AS qs_total FROM counts)
         |SELECT lang, n_docs,
         |       qs::DOUBLE / qs_total AS weight,
         |       CAST(floor(${MixDraws.toDouble} * qs::DOUBLE / qs_total)
         |         AS BIGINT) AS n_draws
         |FROM counts, tot ORDER BY lang""".stripMargin),

    "corpus_token_pareto" ->
      """WITH per_doc AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS c
        |  FROM documents
        |),
        |hist AS (
        |  SELECT c, count(*) AS n_users,
        |         CAST(c * count(*) AS BIGINT) AS events
        |  FROM per_doc GROUP BY c
        |),
        |tot AS (
        |  SELECT CAST(sum(n_users) AS BIGINT) AS total_users,
        |         CAST(sum(events) AS BIGINT) AS total_events
        |  FROM hist
        |),
        |cum AS (
        |  SELECT c, n_users, events,
        |         CAST(sum(n_users) OVER w AS BIGINT) AS cum_users,
        |         CAST(sum(events) OVER w AS BIGINT) AS cum_events
        |  FROM hist
        |  WINDOW w AS (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
        |),
        |pcts AS (SELECT unnest([1, 5, 10, 25, 50])::BIGINT AS pct),
        |cand AS (
        |  SELECT pct,
        |         greatest(1, (total_users * pct) // 100) AS k_docs,
        |         cum_events - events +
        |           (greatest(1, (total_users * pct) // 100) -
        |            (cum_users - n_users)) * c AS tokens_top,
        |         total_events
        |  FROM cum, tot, pcts
        |  WHERE cum_users - n_users < greatest(1, (total_users * pct) // 100)
        |    AND greatest(1, (total_users * pct) // 100) <= cum_users
        |)
        |SELECT pct, k_docs, tokens_top,
        |       CAST(tokens_top AS DOUBLE) / CAST(total_events AS DOUBLE)
        |         AS share
        |FROM cand ORDER BY pct""".stripMargin,

    "corpus_length_buckets" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |),
        |b AS (
        |  SELECT ((n_tok + 63) // 64) * 64 AS bucket_top,
        |         count(*) AS n_docs,
        |         CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1
        |)
        |SELECT bucket_top, n_docs, n_tokens,
        |       n_docs * bucket_top - n_tokens AS n_pad,
        |       CAST(n_docs * bucket_top - n_tokens AS DOUBLE)
        |         / (n_docs * bucket_top) AS pad_frac
        |FROM b ORDER BY bucket_top""".stripMargin,

    "corpus_curation_ledger" -> (
      s"""WITH RECURSIVE
         |${DedupComponents.componentsCteSql},
         |bench AS (
         |  SELECT DISTINCT unnest(shingles) AS sh FROM shingled
         |  WHERE doc_id < $BenchDocs
         |),
         |hits AS (
         |  SELECT c.doc_id, count(*) AS n_overlap
         |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM shingled
         |        WHERE doc_id >= $BenchDocs) c
         |  JOIN bench USING (sh) GROUP BY c.doc_id
         |),
         |contam AS (
         |  SELECT s2.doc_id,
         |         CAST(h.n_overlap AS DOUBLE) / len(s2.shingles)
         |           >= $ContaminationFrac AS contaminated
         |  FROM shingled s2 JOIN hits h USING (doc_id)
         |),
         |scored AS (
         |  SELECT doc_id,
         |         ${TextQueries.qualitySqlExpr} AS quality,
         |         ${TextQueries.predSql} AS lang_pred,
         |         len(regexp_extract_all(text,
         |           '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) > 0
         |           OR len(regexp_extract_all(text, '[0-9]{6,}')) > 0
         |           AS has_pii
         |  FROM documents
         |),
         |dup_drops AS (SELECT doc_id FROM components WHERE doc_id <> component),
         |led AS (
         |  SELECT s.doc_id,
         |         concat_ws(',',
         |           CASE WHEN s.doc_id < $BenchDocs THEN 'benchmark' END,
         |           CASE WHEN s.quality < $QualityThreshold THEN 'low_quality' END,
         |           CASE WHEN s.lang_pred <> 'en' THEN 'wrong_lang' END,
         |           CASE WHEN d.doc_id IS NOT NULL THEN 'near_dup' END,
         |           CASE WHEN coalesce(c.contaminated, false) THEN 'contaminated' END,
         |           CASE WHEN s.has_pii THEN 'has_pii' END) AS reasons
         |  FROM scored s
         |  LEFT JOIN dup_drops d USING (doc_id)
         |  LEFT JOIN contam c USING (doc_id)
         |)
         |SELECT doc_id, reasons, reasons = '' AS keep
         |FROM led ORDER BY doc_id""".stripMargin),

    // the filter's set-bit positions as a distinct set; a probe is
    // bloom-positive when all K of its bits are present — reproducing
    // every false positive the Spark-side bit array fires
    "corpus_bloom_probe" -> (
      s"""WITH ${DedupQueries.shingledSql},
         |bench AS (
         |  SELECT DISTINCT unnest(shingles) AS sh FROM shingled
         |  WHERE doc_id < $BenchDocs
         |),
         |bits AS (
         |  SELECT DISTINCT xor(h, h // 65536) % $BloomM AS bit FROM (
         |    SELECT ${Ora.fnv("sh || ':' || ii.i")} AS h
         |    FROM bench CROSS JOIN (SELECT unnest(range($BloomK)) AS i) ii)
         |),
         |cor AS (
         |  SELECT doc_id, unnest(shingles) AS sh FROM shingled
         |  WHERE doc_id >= $BenchDocs
         |),
         |pb AS (
         |  SELECT doc_id, sh, xor(h, h // 65536) % $BloomM AS bit FROM (
         |    SELECT c.doc_id, c.sh,
         |           ${Ora.fnv("c.sh || ':' || ii.i")} AS h
         |    FROM cor c CROSS JOIN (SELECT unnest(range($BloomK)) AS i) ii)
         |),
         |probes AS (
         |  SELECT doc_id, sh,
         |         sum(CASE WHEN bit IN (SELECT bit FROM bits)
         |             THEN 1 ELSE 0 END) = $BloomK AS inb
         |  FROM pb GROUP BY doc_id, sh
         |)
         |SELECT p.doc_id, count(*) AS n_sh,
         |  CAST(sum(CASE WHEN p.inb THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
         |  CAST(sum(CASE WHEN p.sh IN (SELECT sh FROM bench)
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |FROM probes p GROUP BY p.doc_id
         |HAVING sum(CASE WHEN p.inb THEN 1 ELSE 0 END) > 0
         |ORDER BY p.doc_id""".stripMargin),

    "corpus_dedup_savings" -> (
      s"""WITH RECURSIVE
         |${DedupComponents.componentsCteSql},
         |d AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
         |  FROM documents
         |),
         |drops AS (SELECT doc_id FROM components WHERE doc_id <> component)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(d.n_tok) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN d.n_tok ELSE 0 END)
         |    AS BIGINT) AS tokens_dropped
         |FROM d LEFT JOIN drops dr USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    "corpus_quality_quartiles" -> (
      s"""WITH scored AS (
         |  SELECT doc_id, lang, ${TextQueries.qualitySqlExpr} AS quality
         |  FROM documents
         |),
         |tiled AS (
         |  SELECT lang, quality,
         |         ntile(4) OVER (PARTITION BY lang
         |           ORDER BY quality, doc_id) AS quartile
         |  FROM scored
         |)
         |SELECT lang, quartile, count(*) AS n,
         |       min(quality) AS q_min, max(quality) AS q_max
         |FROM tiled GROUP BY lang, quartile
         |ORDER BY lang, quartile""".stripMargin),

    "corpus_hash_sample" -> (
      s"""SELECT lang, count(*) AS n,
         |  CAST(sum(CASE WHEN ${Ora.fnv("'sample:' || doc_id")} % 100 < $SampleRate
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    "corpus_split_assign" -> (
      s"""SELECT lang,
         |  CASE WHEN ${Ora.fnv("'split:' || doc_id")} % 10 = 0 THEN 'test'
         |       WHEN ${Ora.fnv("'split:' || doc_id")} % 10 = 1 THEN 'val'
         |       ELSE 'train' END AS split,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "corpus_pack_assign" -> (
      s"""WITH $packOffsCteSql
         |SELECT doc_id, shard, n_tok, start_off,
         |  start_off // $SeqLen AS first_seq,
         |  (end_off - 1) // $SeqLen AS last_seq,
         |  start_off % $SeqLen AS seq_off
         |FROM poffs ORDER BY doc_id""".stripMargin),

    "corpus_priority_sample" -> (
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |         ${Ora.fnv("'prio:' || doc_id")} AS h
         |  FROM documents
         |)
         |SELECT doc_id, source, n_tok,
         |  CAST(n_tok * 4294967296 AS DOUBLE) / CAST(h + 1 AS DOUBLE)
         |    AS priority
         |FROM d ORDER BY priority DESC, doc_id LIMIT $SampleK""".stripMargin),

    "corpus_stratified_quota" -> (
      s"""WITH $quotasCteSql
         |SELECT lang, source, n_avail, quota
         |FROM quotas ORDER BY lang, source""".stripMargin),

    "corpus_stratified_sample" -> (
      s"""WITH $quotasCteSql,
         |drawn AS (
         |  SELECT doc_id, lang, source,
         |         row_number() OVER (PARTITION BY lang, source
         |           ORDER BY ${Ora.fnv("'draw:' || doc_id")}, doc_id) AS rk
         |  FROM documents
         |)
         |SELECT d.lang, d.source, CAST(d.rk AS BIGINT) AS rk, d.doc_id
         |FROM drawn d JOIN quotas q USING (lang, source)
         |WHERE d.rk <= q.quota
         |ORDER BY d.lang, d.source, d.rk""".stripMargin),

    // the contract in one line: dense ids in doc_id order — the Spark
    // side must reproduce it without the single-partition window
    "corpus_global_ids" -> (
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS gid
        |FROM documents ORDER BY doc_id""".stripMargin),

    "corpus_source_overlap" -> (
      s"""WITH ${DedupQueries.jaccardPairsSql},
         |verified AS (
         |  SELECT doc_a, doc_b, jaccard FROM jac
         |  WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |)
         |SELECT least(a.source, b.source) AS src_lo,
         |       greatest(a.source, b.source) AS src_hi,
         |       count(*) AS n_pairs,
         |       min(j.jaccard) AS min_jaccard, max(j.jaccard) AS max_jaccard
         |FROM verified j
         |JOIN documents a ON j.doc_a = a.doc_id
         |JOIN documents b ON j.doc_b = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "corpus_split_leakage" -> (
      s"""WITH ${DedupQueries.jaccardPairsSql},
         |labeled AS (
         |  SELECT doc_a, doc_b, jaccard,
         |    CASE WHEN ${Ora.fnv("'split:' || doc_a")} % 10 = 0 THEN 'test'
         |         WHEN ${Ora.fnv("'split:' || doc_a")} % 10 = 1 THEN 'val'
         |         ELSE 'train' END AS split_a,
         |    CASE WHEN ${Ora.fnv("'split:' || doc_b")} % 10 = 0 THEN 'test'
         |         WHEN ${Ora.fnv("'split:' || doc_b")} % 10 = 1 THEN 'val'
         |         ELSE 'train' END AS split_b
         |  FROM jac WHERE jaccard >= ${DedupQueries.JaccardThreshold}
         |)
         |SELECT doc_a, doc_b, jaccard, split_a, split_b
         |FROM labeled WHERE split_a <> split_b
         |ORDER BY doc_a, doc_b""".stripMargin),
  )
}
