package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.hash.Fnv1a32.fnv1a32
import graft.oracle.Ora

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting (whitespace + regex "BPE-ish"),
  * quality scoring, stopword-based language ID, and content
  * fingerprinting.
  *
  * All are embarrassingly parallel scalar pipelines — narrow
  * transformations over the document scan, no shuffle at any scale; the
  * only wide stage is the final ORDER BY pinned for the oracle compare
  * (droppable in production).
  */
object TextQueries extends graft.QueryModule {

  /** PII patterns, shared by the flags audit and the redaction transform;
    * kept to the regex subset Java and RE2/DuckDB interpret identically. */
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val LongNumPat = "[0-9]{6,}"

  /** Context-window chunking geometry: 32-token spans every 24 tokens
    * (25% overlap) — see `text_chunk_spans`. Production would use e.g.
    * 1024/768; the fixture's documents top out near 100 tokens, so the
    * smaller geometry is what makes multi-chunk docs, overlap, and the
    * clipped last window all real in the oracle-checked output. */
  val ChunkTokens = 32L
  val ChunkStride = 24L

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val tokens: Column = split(col("text"), "\\s+")

  /** documents + a materialized token-array column. Keeping tokenization
    * in its own projection matters: inlined, the regex split re-runs once
    * per consumer (4× in the language vote — the dominant cost of the
    * text family at scale); as a separate non-cheap alias it is evaluated
    * once per row (CollapseProject keeps it). */
  private def toksed(s: SparkSession, dir: String): DataFrame =
    tokenize(docs(s, dir))

  private val toks: Column = col("__toks")

  // native hash-set probe per token; the filter/isin HOF form pays an
  // interpreted lambda per token and runs 4× per doc in the language vote
  private def hits(words: Seq[String]): Column =
    graft.functions.WordSetHits.wordSetHits(toks, words)

  private val En = Seq("the", "a", "of", "and", "to", "in")
  private val De = Seq("der", "die", "das", "und", "ist", "nicht")
  private val Fr = Seq("le", "la", "les", "et", "est", "une")
  private val Es = Seq("el", "los", "las", "y", "es", "una")

  /** The 4-way stopword vote (ties resolve en > de > fr > es, no hits ⇒
    * unknown) — shared by language-id, the distribution rollup, and the
    * confusion matrix so the measured vote IS the serving vote. */
  private def langVote: Column = {
    val (en, de, fr, es) = (hits(En), hits(De), hits(Fr), hits(Es))
    when(greatest(en, de, fr, es) === 0, "unknown")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Vocabulary size for the OOV-coverage probe — sized to the synthetic
    * corpus's 31-word global vocabulary so coverage is non-degenerate;
    * production uses the tokenizer's real vocab table here. */
  val VocabSize = 16
  /** Merge candidates reported by the BPE pair-count step. */
  val BpeTopPairs = 20

  /** Conjunctive-search query terms: one rare term ('dup' — planted in
    * ~5% of docs) plus two common ones, so the posting-list intersection
    * does real pruning work. */
  val SearchTerms: Seq[String] = Seq("dup", "vector", "key")

  /** Merge iterations run by the BPE trainer (production runs 30-50k;
    * the DATAFLOW per iteration is what must be right, and it is
    * identical at any count). */
  val BpeTrainIters = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // vocabulary coverage / OOV rate per language: induce the top-K
    // corpus vocabulary (TakeOrdered, never a global sort; (freq, word)
    // tie-break is total so the cut is deterministic on both engines),
    // broadcast it, and measure per-language out-of-vocabulary token
    // share — the tokenizer-fit audit a multilingual curation run needs
    // (vocab induced on the corpus mix under-covers minority languages).
    // Two linear passes over the token stream; the probe join is a
    // broadcast left join against the K-row vocab dimension.
    "text_vocab_coverage" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count("*").as("freq"))
        .orderBy(col("freq").desc, col("w")).limit(VocabSize)
        .select(col("w"), lit(1L).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("lang")
        .agg(count("*").as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_tokens"))
        .orderBy("lang")
    }),

    // BPE tokenizer training, the hot inner step: corpus-wide adjacent
    // symbol-pair counts (first merge iteration, symbols = characters,
    // no end-of-word marker). THE scale property of BPE counting is that
    // it never touches the corpus per iteration: one linear pass folds
    // the corpus to the (distinct word, frequency) table, and pair
    // counting runs over the vocabulary weighted by frequency — at
    // 100 TB the vocab table is megabytes where the corpus is terabytes,
    // so every subsequent merge iteration is vocab-sized work. Top-20
    // cut by (count, pair) is total, so the ranking is deterministic.
    "text_bpe_pair_stats" -> ((s, dir) => {
      val wf = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count("*").as("freq"))
      wf.select(col("freq"),
          explode(when(length(col("w")) >= 2,
            expr("transform(sequence(0, length(w) - 2), " +
              "i -> substring(w, CAST(i + 1 AS INT), 2))"))
            .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .limit(BpeTopPairs)
    }),

    // apply the winning BPE merge and measure what it buys: the top
    // (count, pair) candidate from the pair-count step is merged
    // everywhere (non-overlapping left-to-right `replace` — identical
    // semantics on both engines) and the corpus-wide symbol count
    // before/after gives the compression this one merge earns. Like the
    // pair counting, the merge application runs over the (distinct word,
    // frequency) table — vocab-sized work; chars removed per word is
    // even by construction, so merges = removed / 2 is integer-exact.
    "text_bpe_apply" -> ((s, dir) => {
      val wf = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count("*").as("freq"))
        // vocab-sized; feeds the pair scan and the merge application
        .transform(graft.Materialize(_))
      val top = wf.select(col("freq"),
          explode(when(length(col("w")) >= 2,
            expr("transform(sequence(0, length(w) - 2), " +
              "i -> substring(w, CAST(i + 1 AS INT), 2))"))
            .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select("pair")
      wf.crossJoin(broadcast(top))
        .select(col("pair"), col("freq"),
          length(col("w")).cast("long").as("len"),
          ((length(col("w")) -
            length(expr("replace(w, pair, '')"))) / 2).cast("long")
            .as("merges"))
        .groupBy("pair")
        .agg(sum(col("freq") * col("len")).as("tokens_before"),
          sum(col("freq") * col("merges")).as("n_merges"))
        .select(col("pair"), col("tokens_before"), col("n_merges"),
          (col("tokens_before") - col("n_merges")).as("tokens_after"),
          ((col("tokens_before") - col("n_merges")).cast("double") /
            col("tokens_before")).as("compression"))
    }),

    // the BPE TRAINING LOOP, [[BpeTrainIters]] greedy merges end-to-end —
    // pair_stats/apply showed one step; this runs the iteration the
    // tokenizer trainer actually loops. Words live in a bracketed symbol
    // representation ('data' → '<d><a><t><a>'): the bracket string of a
    // candidate pair IS its replace pattern, replacement = the pattern
    // with the inner '><' removed, and because every symbol carries its
    // own brackets, left-to-right `replace` is exactly the non-overlapping
    // merge semantics with no false sub-symbol matches and no shared-
    // boundary misses ('<a><a><a><a>' merges to '<aa><aa>', never
    // '<aa><a><a>'). Each iteration is VOCAB-sized work (one pair count +
    // one broadcast of the 1-row winner + one replace over the distinct-
    // word table) — the corpus is touched once, at the word-frequency
    // fold; 50k merges later it still has never been re-scanned. Winner
    // pick is total: (weighted count desc, pair asc). Output: one row per
    // iteration with the merge, its count, and the corpus-wide symbol
    // total after — the trainer's learning curve.
    // the PERSISTED tokenizer applied (BpeVocab): training ran once at
    // build time; serving is the merge chain as literal replaces — one
    // codegen projection, one corpus scan, per-doc token statistics
    "text_bpe_tokenize_served" -> ((s, dir) => BpeVocab.tokenizeServed(s, dir)),

    "text_bpe_train" -> ((s, dir) => {
      val vocab = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count("*").as("freq"))
        .select(expr(
            "concat_ws('', transform(split(w, ''), c -> concat('<', c, '>')))")
          .as("r"), col("freq"))
      // one row per round: the round's winner (`top`, made in the step)
      // and the symbol total of the vocab it produced
      var top: DataFrame = null
      val iterRows = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      graft.Materialize.iterate(vocab, BpeTrainIters) { vocab =>
        top = vocab
          .select(col("freq"),
            expr("split(substring(r, 2, length(r) - 2), '><')").as("syms"))
          .select(col("freq"), explode(when(size(col("syms")) >= 2,
              expr("transform(sequence(0, size(syms) - 2), i -> concat(" +
                "'<', element_at(syms, CAST(i + 1 AS INT)), '><', " +
                "element_at(syms, CAST(i + 2 AS INT)), '>'))"))
              .otherwise(array().cast("array<string>"))).as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("pair")).limit(1)
          .transform(graft.Materialize(_))
        vocab.crossJoin(broadcast(top))
          .select(expr("replace(r, pair, replace(pair, '><', ''))").as("r"),
            col("freq"))
      } { (_, vocab) =>
        val symTotal = vocab.agg(
          sum(col("freq") *
            (length(col("r")) - length(expr("replace(r, '<', '')"))))
            .as("total_symbols"))
        iterRows += top.crossJoin(symTotal)
          .select(lit(iterRows.size + 1L).as("iter"),
            col("pair").as("merge_pair"), col("n").as("n_occurrences"),
            col("total_symbols"))
        false
      }
      iterRows.reduce(_ unionByName _).orderBy("iter")
    }),

    // token counting: whitespace tokens + a regex word/number tokenizer
    // conjunctive keyword search over the inverted index — the retrieval
    // primitive (corpus QA, targeted curation pulls: "every doc that
    // mentions all of X, Y, Z"). The posting table (term, doc_id),
    // distinct'd per doc, is filtered to the query terms BEFORE any
    // grouping — at 100 TB the index is stored partitioned by term, so
    // this filter is partition pruning and the engine reads three posting
    // lists, not the corpus; the groupBy(doc).count = |terms| is the
    // classic posting-list intersection, map-side combined. Terms chosen
    // with one rare term ('dup', ~5% df) so the intersection is selective
    // — the plan's cost is the SMALLEST posting list's size, which is the
    // point of intersecting indexes instead of scanning text.
    "text_search_terms" -> ((s, dir) => {
      val terms = SearchTerms
      val posting = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(terms: _*))
        .distinct()
      val hits = posting.groupBy("doc_id").agg(count("*").as("n_terms"))
        .filter(col("n_terms") === terms.size)
      docs(s, dir).join(hits, "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    "text_token_counts" -> ((s, dir) =>
      toksed(s, dir).select(
        col("doc_id"),
        size(toks).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+")).cast("long")
          .as("n_re_tokens"))
        .orderBy("doc_id")),

    // context-window chunking — the training/RAG prep step that cuts each
    // document into fixed-size token windows with overlap: ChunkStride
    // starts, ChunkTokens-long spans (see the constants), last window
    // clipped to the document (a short doc is exactly one chunk). Pure
    // integer span arithmetic over
    // the whitespace token count — one narrow pass + a row-local explode,
    // no shuffle, exact on both engines; the spans index into the SAME
    // tokenization text_token_counts reports, so downstream slicing is
    // consistent by construction.
    "text_chunk_spans" -> ((s, dir) => {
      val n = size(toks).cast("long")
      toksed(s, dir)
        .select(col("doc_id"), n.as("n_tokens"))
        // starts needed to cover the doc: 1 + ceil(max(n-chunk,0)/stride),
        // in exact integer arithmetic (`div`, never double `/`)
        .withColumn("n_chunks", expr(
          s"1 + (greatest(n_tokens - $ChunkTokens, 0L) + ${ChunkStride - 1}) " +
            s"div $ChunkStride"))
        .withColumn("chunk_id",
          explode(sequence(lit(0L), col("n_chunks") - 1L)))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * ChunkStride).as("start_tok"),
          least(col("chunk_id") * ChunkStride + ChunkTokens,
            col("n_tokens")).as("end_tok"))
        .withColumn("chunk_len", col("end_tok") - col("start_tok"))
        .orderBy("doc_id", "chunk_id")
    }),

    // quality scoring: length/stopword-density composite, same IEEE double
    // op order as the oracle so the bits match
    "text_quality_score" -> ((s, dir) => {
      val nTok = size(toks).cast("long")
      val nAlpha = length(regexp_replace(col("text"), " ", "")).cast("long")
      val stopRatio = hits(En).cast("double") / nTok.cast("double")
      val lenScore = least(lit(1.0), nTok.cast("double") / lit(100.0))
      toksed(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.as("n_tokens"),
        (nAlpha.cast("double") / nTok.cast("double")).as("avg_token_len"),
        stopRatio.as("stopword_ratio"),
        (lit(0.6) * lenScore + lit(0.4) * (lit(1.0) - stopRatio))
          .as("quality"))
        .orderBy("doc_id")
    }),

    // character-class diversity: per-doc Simpson index over the four
    // coarse classes (alpha / digit / whitespace / other). A near-zero
    // score means one class dominates — digit dumps, whitespace
    // padding, punctuation soup — the cheap structural-garbage signal
    // that needs no tokenizer. Deliberately Simpson (1 − Σp²), NOT
    // Shannon: entropy's ln() rounds differently across engines (same
    // reason text_tfidf_keywords avoids it), while Simpson is integer
    // counts + one exact rational — it hash-matches DuckDB bit-for-bit.
    // Class counts come from the codegen'd one-pass
    // [[graft.functions.CharClassCounts]] byte loop — the regex form
    // (length-after-strip ×3) ran a regex engine pass per class, four
    // string traversals per doc against one. End-to-end at sf0.1 the
    // query drops 0.35 s → 0.28 s (scan + output sort dominate at that
    // scale; the per-byte kernel saving is what compounds at 100 TB).
    // The oracle keeps the regex formulation, and CharClassCountsSpec
    // proves the two derivations bit-equal over the whole corpus.
    "text_charclass_simpson" -> ((s, dir) => {
      val total = length(col("text")).cast("long")
      val cc = graft.functions.CharClassCounts.charClassCounts(col("text"))
      docs(s, dir)
        .select(col("doc_id"), total.as("n_chars"), cc.as("cc"))
        .select(
          col("doc_id"), col("n_chars"),
          col("cc").getItem(0).as("n_alpha"),
          col("cc").getItem(1).as("n_digit"),
          col("cc").getItem(2).as("n_space"))
        .withColumn("n_other",
          col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"))
        .withColumn("simpson",
          when(col("n_chars") > 0,
            lit(1.0) -
              (col("n_alpha") * col("n_alpha") +
               col("n_digit") * col("n_digit") +
               col("n_space") * col("n_space") +
               col("n_other") * col("n_other")).cast("double") /
                (col("n_chars") * col("n_chars")).cast("double"))
            .otherwise(lit(null).cast("double")))
        .orderBy("doc_id")
    }),

    // language ID: distinctive-stopword voting with a fixed tie-break
    // (en > de > fr > es), 'unknown' when nothing votes
    "text_language_id" -> ((s, dir) =>
      toksed(s, dir).select(col("doc_id"), langVote.as("lang_pred"))
        .orderBy("doc_id")),

    // corpus-level language distribution (same vote, aggregated)
    "text_language_dist" -> ((s, dir) => {
      toksed(s, dir).select(langVote.as("lang_pred"))
        .groupBy("lang_pred").agg(count("*").as("n"))
        .orderBy("lang_pred")
    }),

    // language-ID confusion matrix: the vote's verdict against the
    // fixture's true label — the "measure, don't guess" companion the
    // heuristic needs before its verdicts gate a curation cascade (the
    // same role sim_ann_recall plays for ANN and the fidelity query for
    // MinHash). One corpus pass, ≤ (#langs+1)² output rows.
    "text_lang_confusion" -> ((s, dir) =>
      toksed(s, dir)
        .select(col("lang"), langVote.as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count("*").as("n"))
        .orderBy("lang", "lang_pred")),

    // PII pattern flags — the scrub/filter stage of a training-data
    // pipeline: email and long-digit-run counts per doc (patterns kept to
    // the regex subset Java and RE2/DuckDB interpret identically)
    "text_pii_flags" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailPat)).cast("long")
          .as("n_emails"),
        regexp_count(col("text"), lit(LongNumPat)).cast("long")
          .as("n_long_numbers"))
        .withColumn("has_pii",
          col("n_emails") > 0 || col("n_long_numbers") > 0)
        .orderBy("doc_id")),

    // PII redaction — the transform the flags query only audits: emails
    // then long digit runs replaced with typed markers, in that order
    // (an email's digits must not survive as a half-redacted number).
    // Same two narrow regex passes on both engines (DuckDB needs the 'g'
    // flag for replace-all; Spark's regexp_replace is global already),
    // so the redacted text hash-matches bit-for-bit. Per-row, no
    // shuffle — the 100 TB cost is exactly one corpus map pass.
    "text_pii_redact" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        col("text"),
        regexp_replace(
          regexp_replace(col("text"), lit(EmailPat), lit("<EMAIL>")),
          lit(LongNumPat), lit("<NUMBER>")).as("redacted"))
        .select(col("doc_id"), col("redacted"),
          (col("redacted") =!= col("text")).as("changed"))
        .orderBy("doc_id")),

    // document fingerprinting: content hash via the engine's native
    // fnv1a32 expression (codegen'd; no UDF in the hot path)
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), fnv1a32(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Repetition filters (the Gopher-class quality signals): per doc, the
    // distinct-token ratio, the most-frequent-token dominance, and the
    // duplicate word-2-gram fraction. A repetitive (spammy/boilerplate)
    // doc scores low distinct_ratio and high top_token_frac /
    // dup_2gram_frac. One shuffle on (doc_id, token) with map-side
    // combine for the frequency stats; the 2-gram leg is a narrow
    // per-row pass through the native WordNgrams kernel. All scores are
    // single correctly-rounded divisions of exact integers — bit-equal
    // across engines.
    "text_repetition_stats" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
      val counts = d.select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "w").agg(count("*").as("c"))
      val tokstats = counts.groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), count("*").as("n_distinct"),
          max("c").as("top_c"))
      val gram = d.select(col("doc_id"), size(col("toks")).as("n_tok"),
        size(graft.functions.WordNgrams.wordNgrams(col("toks"), 2))
          .as("n_dg"))
      tokstats.join(gram, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_distinct").cast("double") / col("n_tokens"))
            .as("distinct_ratio"),
          (col("top_c").cast("double") / col("n_tokens"))
            .as("top_token_frac"),
          (lit(1.0) - col("n_dg").cast("double") / (col("n_tok") - 1))
            .as("dup_2gram_frac"))
        .orderBy("doc_id")
    }),

    // corpus-LM transition likelihood: a perplexity-proxy fluency score
    // without the non-portable transcendental. A word-bigram model is fit
    // on the corpus itself (c12 = bigram count, c1 = context count) and
    // every document is scored by its mean and minimum transition
    // probability p(w2|w1) = c12/c1 — shuffled-word or glitch docs score
    // low, natural text high; min_p pinpoints the most surprising
    // transition. ln() rounds differently across engines (same reason
    // tf-idf avoids it), so probabilities live in exact 2^-20 fixed point:
    // p_q = (c12 * 2^20) div c1 is integer arithmetic, per-doc sums of
    // p_q are exact integers, and the only doubles are single divisions
    // by exactly-representable values — bit-equal on both engines. Scale
    // shape: the model is vocabulary²-bounded (916 rows here) and
    // broadcast; the corpus side is one explode + one per-doc aggregate.
    "text_lm_likelihood" -> ((s, dir) => {
      val occ = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), " +
            "i -> concat(element_at(toks, i+1), ' ', element_at(toks, i+2)))"))
          .as("bg"))
        // tiny derivation feeding model AND probe scans
        .transform(graft.Materialize(_))
      val m12 = occ.groupBy("bg").agg(count("*").as("c12"))
      val m1 = occ.select(substring_index(col("bg"), " ", 1).as("w1"))
        .groupBy("w1").agg(count("*").as("c1"))
      val model = m12
        .join(m1, substring_index(m12("bg"), " ", 1) === m1("w1"))
        .select(col("bg"), expr("c12 * 1048576 div c1").as("p_q"))
      occ.join(broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(count("*").as("n_bigrams"),
          sum(col("p_q")).as("sum_pq"), min(col("p_q")).as("min_pq"))
        .withColumn("mean_p", col("sum_pq").cast("double") /
          (col("n_bigrams") * lit(1048576L)).cast("double"))
        .orderBy("doc_id")
    }),

    // held-out LM scoring: the leakage-aware composition of the split
    // and the LM — the bigram model is fit on the TRAIN split only and
    // scores the VAL split, with Laplace smoothing (c12+1 / c1+V) so
    // unseen transitions get 1/V mass instead of a crash; n_unseen per
    // doc is the domain-shift signal. Same exact-arithmetic discipline
    // as text_lm_likelihood: fixed-point integer probabilities, integer
    // sums, single exact divisions. One shingle pass feeds all four
    // consumers (model, contexts, vocab, probe) off one checkpoint —
    // the curation-ledger precedent for 4+-consumer derivations.
    "text_lm_holdout" -> ((s, dir) => {
      val occ = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"),
          PipelineQueries.splitOf(col("doc_id")).as("split"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("split"), explode(expr(
          "transform(sequence(0, size(toks)-2), " +
            "i -> concat(element_at(toks, i+1), ' ', element_at(toks, i+2)))"))
          .as("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .transform(graft.Materialize(_))
      val train = occ.filter(col("split") === "train")
      val m12 = train.groupBy("bg").agg(count("*").as("c12"))
      val m1 = train.groupBy("w1").agg(count("*").as("c1"))
        // vocabulary-sized; feeds the probe AND |V|
        .transform(graft.Materialize(_))
      // |V| is m1's row count by construction — never a third
      // corpus-sized distinct pass
      val vocab = m1.agg(count(lit(1)).as("v"))
      occ.filter(col("split") === "val")
        .join(broadcast(m12), Seq("bg"), "left")
        .join(broadcast(m1), Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          expr("(coalesce(c12, bigint(0)) + 1) * 1048576 div " +
            "(coalesce(c1, bigint(0)) + v)").as("p_q"),
          when(col("c12").isNull, 1L).otherwise(0L).as("oov"))
        .groupBy("doc_id")
        .agg(count("*").as("n_bigrams"), sum(col("p_q")).as("sum_pq"),
          sum(col("oov")).as("n_unseen"))
        .withColumn("mean_p", col("sum_pq").cast("double") /
          (col("n_bigrams") * lit(1048576L)).cast("double"))
        .orderBy("doc_id")
    }),

    // TF-IDF keyword extraction: top-3 terms per document. Two hash
    // aggregates build the term-frequency and document-frequency tables
    // (both with map-side combine), one shuffle join on term attaches
    // df, and the per-doc top-k is a row_number window keyed by doc_id —
    // parallelism = #docs, the right 100 TB shape. The idf factor is the
    // RATIONAL N/df (exact integer values through the product, then one
    // correctly-rounded division ⇒ bit-identical across engines) rather
    // than ln(N/df), whose transcendental rounding is not portable; the
    // rational variant is the engine's defined scoring, mirrored exactly
    // in the oracle, with (score desc, term) as the deterministic order.
    "text_tfidf_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val terms = docs(s, dir)
        .select(col("doc_id"), explode(tokens).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy("doc_id", "term").agg(count("*").as("tf"))
      val df = tf.groupBy("term").agg(count("*").as("df"))
      val n = docs(s, dir).count()
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast("double") * lit(n.toDouble) /
            col("df").cast("double")).as("score"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("doc_id", "rank")
    }),

    // winnowing fingerprints (MOSS-style): hash every char 8-gram, keep
    // the minimum of each 4-hash window, dedupe — near-identical docs
    // share most fingerprints even under small edits, unlike the
    // whole-text hash. Full-corpus coverage through the native
    // [[graft.functions.WinnowFingerprints]] kernel (one compiled loop
    // per row; the transform/slice lambda pipeline went super-linear at
    // the 10× scale rehearsal).
    "text_winnow_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        // a doc needs ≥ 11 chars for one 4-window of 8-grams; below that
        // Spark's sequence() would run DESCENDING (DuckDB's range is
        // empty), so the guard also pins cross-engine parity on short docs
        .filter(length(col("text")) >= 11)
        .withColumn("fps",
          graft.functions.WinnowFingerprints.winnow(col("text"), 8, 4))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          array_min(col("fps")).as("min_fp"),
          array_max(col("fps")).as("max_fp"))
        .orderBy("doc_id")),
  )

  /** Attach the materialized token column (for consumers of [[qualityCol]]
    * / [[langPredCol]], which read it). */
  private[graft] def tokenize(df: DataFrame): DataFrame =
    df.withColumn("__toks", tokens)

  /** Column form of the quality composite (shared with PipelineQueries;
    * input must be [[tokenize]]d). */
  private[graft] def qualityCol: Column = {
    val nTok = size(toks).cast("long")
    val stopRatio = hits(En).cast("double") / nTok.cast("double")
    val lenScore = least(lit(1.0), nTok.cast("double") / lit(100.0))
    lit(0.6) * lenScore + lit(0.4) * (lit(1.0) - stopRatio)
  }

  /** Column form of the language vote (shared with PipelineQueries;
    * input must be [[tokenize]]d). */
  private[graft] def langPredCol: Column = {
    val (en, de, fr, es) = (hits(En), hits(De), hits(Fr), hits(Es))
    when(greatest(en, de, fr, es) === 0, "unknown")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  private def hitsSql(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split_regex(text, '\\s+'), " +
      s"w -> list_contains([$lst], w)))"
  }

  /** SQL form of the quality composite (mirror of [[qualityCol]]). */
  private[graft] val qualitySqlExpr: String =
    """0.6 * least(1.0, CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) / 100.0)
      |  + 0.4 * (1.0 - CAST(len(list_filter(string_split_regex(text, '\s+'),
      |         w -> list_contains(['the','a','of','and','to','in'], w))) AS DOUBLE)
      |    / len(string_split_regex(text, '\s+')))""".stripMargin

  private[graft] val predSql: String = {
    val (en, de, fr, es) = (hitsSql(En), hitsSql(De), hitsSql(Fr), hitsSql(Es))
    s"""CASE WHEN greatest($en, $de, $fr, $es) = 0 THEN 'unknown'
       |     WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |     WHEN $de >= $fr AND $de >= $es THEN 'de'
       |     WHEN $fr >= $es THEN 'fr'
       |     ELSE 'es' END""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "text_charclass_simpson" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         CAST(length(text)
        |           - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
        |           AS BIGINT) AS n_alpha,
        |         CAST(length(text)
        |           - length(regexp_replace(text, '[0-9]', '', 'g'))
        |           AS BIGINT) AS n_digit,
        |         CAST(length(text)
        |           - length(regexp_replace(text, '\s', '', 'g'))
        |           AS BIGINT) AS n_space
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
        |       n_chars - n_alpha - n_digit - n_space AS n_other,
        |       CASE WHEN n_chars > 0 THEN
        |         1.0 - CAST(n_alpha * n_alpha + n_digit * n_digit
        |                    + n_space * n_space
        |                    + (n_chars - n_alpha - n_digit - n_space)
        |                      * (n_chars - n_alpha - n_digit - n_space)
        |                    AS DOUBLE)
        |               / CAST(n_chars * n_chars AS DOUBLE)
        |       ELSE NULL END AS simpson
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
         |),
         |vocab AS (
         |  SELECT w FROM (SELECT w, count(*) AS freq FROM tok GROUP BY w)
         |  ORDER BY freq DESC, w LIMIT $VocabSize
         |)
         |SELECT lang, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)
         |    AS BIGINT) AS n_oov,
         |  CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)
         |    AS DOUBLE) / count(*) AS oov_rate
         |FROM tok GROUP BY lang ORDER BY lang""".stripMargin,

    "text_bpe_pair_stats" ->
      s"""WITH wf AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |)
         |SELECT p.p AS pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
         |FROM wf, LATERAL (SELECT unnest(list_transform(range(length(w) - 1),
         |       i -> w[i+1:i+2])) AS p) p
         |GROUP BY p.p
         |ORDER BY n_occurrences DESC, pair LIMIT $BpeTopPairs""".stripMargin,

    "text_bpe_apply" ->
      s"""WITH wf AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |),
         |top AS (
         |  SELECT p.p AS pair
         |  FROM wf, LATERAL (SELECT unnest(list_transform(range(length(w) - 1),
         |         i -> w[i+1:i+2])) AS p) p
         |  GROUP BY p.p
         |  ORDER BY CAST(sum(freq) AS BIGINT) DESC, p.p LIMIT 1
         |),
         |m AS (
         |  SELECT t.pair, freq, CAST(length(w) AS BIGINT) AS len,
         |         CAST((length(w) - length(replace(w, t.pair, ''))) // 2
         |           AS BIGINT) AS merges
         |  FROM wf, top t
         |)
         |SELECT pair,
         |       CAST(sum(freq * len) AS BIGINT) AS tokens_before,
         |       CAST(sum(freq * merges) AS BIGINT) AS n_merges,
         |       CAST(sum(freq * len) - sum(freq * merges) AS BIGINT)
         |         AS tokens_after,
         |       CAST(sum(freq * len) - sum(freq * merges) AS DOUBLE)
         |         / sum(freq * len) AS compression
         |FROM m GROUP BY pair""".stripMargin,

    "text_bpe_train" -> {
      // unrolled mirror of the training loop: t{i} = the iteration-i
      // winner, v{i} = the vocab after applying it, s{i} = the report row
      def pairTop(v: String) =
        s"""SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
           |  SELECT freq, unnest(list_transform(range(len(syms) - 1),
           |    i -> '<' || syms[i+1] || '><' || syms[i+2] || '>')) AS pair
           |  FROM (SELECT freq, string_split(r[2:-2], '><') AS syms FROM $v)
           |) GROUP BY pair ORDER BY n DESC, pair LIMIT 1""".stripMargin
      val iters = (1 to BpeTrainIters).map { i =>
        s"""t$i AS (${pairTop(s"v${i - 1}")}),
           |v$i AS (
           |  SELECT replace(v.r, t.pair, replace(t.pair, '><', '')) AS r,
           |         v.freq
           |  FROM v${i - 1} v, t$i t
           |),
           |s$i AS (
           |  SELECT CAST($i AS BIGINT) AS iter, t.pair AS merge_pair,
           |         t.n AS n_occurrences,
           |         (SELECT CAST(sum(freq * (length(r) -
           |            length(replace(r, '<', '')))) AS BIGINT) FROM v$i)
           |           AS total_symbols
           |  FROM t$i t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH wf AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |),
         |v0 AS (
         |  SELECT array_to_string(list_transform(string_split(w, ''),
         |           c -> '<' || c || '>'), '') AS r, freq
         |  FROM wf
         |),
         |$iters
         |${(1 to BpeTrainIters).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")}
         |ORDER BY iter""".stripMargin
    },

    "text_bpe_tokenize_served" -> {
      // the training chain recomputed in SQL (the persisted merge list
      // is a deterministic function of the corpus), then applied per
      // distinct WORD and aggregated per doc
      def pairTop(v: String) =
        s"""SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
           |  SELECT freq, unnest(list_transform(range(len(syms) - 1),
           |    i -> '<' || syms[i+1] || '><' || syms[i+2] || '>')) AS pair
           |  FROM (SELECT freq, string_split(r[2:-2], '><') AS syms FROM $v)
           |) GROUP BY pair ORDER BY n DESC, pair LIMIT 1""".stripMargin
      val trainIters = (1 to BpeTrainIters).map { i =>
        s"""t$i AS (${pairTop(s"v${i - 1}")}),
           |v$i AS (
           |  SELECT replace(v.r, t.pair, replace(t.pair, '><', '')) AS r,
           |         v.freq
           |  FROM v${i - 1} v, t$i t
           |)""".stripMargin
      }.mkString(",\n")
      val applyIters = (1 to BpeTrainIters).map { i =>
        s"""w$i AS (
           |  SELECT w, replace(x.r, t.pair, replace(t.pair, '><', '')) AS r
           |  FROM w${i - 1} x, t$i t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents
         |),
         |wf AS (SELECT w, count(*) AS freq FROM d GROUP BY w),
         |v0 AS (
         |  SELECT array_to_string(list_transform(string_split(w, ''),
         |           c -> '<' || c || '>'), '') AS r, freq
         |  FROM wf
         |),
         |$trainIters,
         |w0 AS (
         |  SELECT w, array_to_string(list_transform(string_split(w, ''),
         |           c -> '<' || c || '>'), '') AS r
         |  FROM wf
         |),
         |$applyIters,
         |tok AS (
         |  SELECT w, length(w) AS syms_before,
         |         length(r) - length(replace(r, '<', '')) AS toks
         |  FROM w$BpeTrainIters
         |),
         |dw AS (SELECT doc_id, w, count(*) AS c FROM d GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         |       CAST(sum(c * syms_before) AS BIGINT) AS n_syms_before,
         |       CAST(sum(c * toks) AS BIGINT) AS n_tokens,
         |       CAST(sum(c * toks) AS DOUBLE)
         |         / CAST(sum(c * syms_before) AS DOUBLE) AS compression
         |FROM dw JOIN tok USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "text_search_terms" -> {
      // same token-level semantics via the unnested posting table, so the
      // oracle exercises the identical intersection (a LIKE would match
      // substrings, not tokens)
      val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH posting AS (
         |  SELECT DISTINCT doc_id, w AS term FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE w IN ($termList)
         |),
         |hits AS (
         |  SELECT doc_id FROM posting GROUP BY doc_id
         |  HAVING count(*) = ${SearchTerms.size}
         |)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN hits USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "text_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality_score" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split_regex(text, '\s+')) AS avg_token_len,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |         w -> list_contains(['the','a','of','and','to','in'], w))) AS DOUBLE)
        |    / len(string_split_regex(text, '\s+')) AS stopword_ratio,
        |  0.6 * least(1.0, CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) / 100.0)
        |  + 0.4 * (1.0 - CAST(len(list_filter(string_split_regex(text, '\s+'),
        |         w -> list_contains(['the','a','of','and','to','in'], w))) AS DOUBLE)
        |    / len(string_split_regex(text, '\s+'))) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_language_id" ->
      s"SELECT doc_id, $predSql AS lang_pred FROM documents ORDER BY doc_id",

    "text_language_dist" ->
      s"""SELECT lang_pred, count(*) AS n FROM (
         |  SELECT $predSql AS lang_pred FROM documents)
         |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "text_lang_confusion" ->
      s"""SELECT lang, $predSql AS lang_pred, count(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_pii_flags" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_long_numbers,
        |  len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) > 0
        |    OR len(regexp_extract_all(text, '[0-9]{6,}')) > 0 AS has_pii
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_chunk_spans" ->
      s"""WITH RECURSIVE counted AS (
         |  SELECT doc_id,
         |         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
         |           AS n_tokens
         |  FROM documents
         |),
         |planned AS (
         |  SELECT doc_id, n_tokens,
         |         1 + (greatest(n_tokens - $ChunkTokens, 0) + ${ChunkStride - 1})
         |             // $ChunkStride AS n_chunks
         |  FROM counted
         |),
         |series(i) AS (
         |  SELECT CAST(0 AS BIGINT)
         |  UNION ALL
         |  SELECT i + 1 FROM series
         |  WHERE i + 1 < (SELECT max(n_chunks) FROM planned)
         |)
         |SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
         |       CAST(g.i * $ChunkStride AS BIGINT) AS start_tok,
         |       CAST(least(g.i * $ChunkStride + $ChunkTokens,
         |                  n_tokens) AS BIGINT) AS end_tok,
         |       CAST(least(g.i * $ChunkStride + $ChunkTokens, n_tokens)
         |            - g.i * $ChunkStride AS BIGINT) AS chunk_len
         |FROM planned
         |JOIN series g ON g.i < n_chunks
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "text_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
        |                   '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUMBER>', 'g') AS redacted,
        |  regexp_replace(
        |    regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
        |                   '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUMBER>', 'g') <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"SELECT doc_id, ${Ora.fnv("text")} AS fp FROM documents ORDER BY doc_id",

    "text_repetition_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |),
        |counts AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM tok)
        |  GROUP BY doc_id, w
        |),
        |tokstats AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
        |  FROM counts GROUP BY doc_id
        |),
        |gram AS (
        |  SELECT doc_id, len(toks) AS n_tok,
        |         len(list_distinct(list_transform(range(len(toks) - 1), i ->
        |           toks[i+1] || ' ' || toks[i+2]))) AS n_dg
        |  FROM tok WHERE len(toks) >= 2
        |)
        |SELECT t.doc_id, t.n_tokens,
        |       CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS distinct_ratio,
        |       CAST(t.top_c AS DOUBLE) / t.n_tokens AS top_token_frac,
        |       1.0 - CAST(g.n_dg AS DOUBLE) / (g.n_tok - 1) AS dup_2gram_frac
        |FROM tokstats t JOIN gram g USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "text_lm_likelihood" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |),
        |occ AS (
        |  SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS bg
        |  FROM t, unnest(range(len(toks)-1)) AS u(i)
        |),
        |m12 AS (SELECT bg, count(*) AS c12 FROM occ GROUP BY bg),
        |m1 AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1
        |  FROM occ GROUP BY 1
        |),
        |model AS (
        |  SELECT bg, (c12 * 1048576) // c1 AS p_q
        |  FROM m12 JOIN m1 ON string_split(m12.bg, ' ')[1] = m1.w1
        |)
        |SELECT occ.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(p_q) AS BIGINT) AS sum_pq,
        |  CAST(min(p_q) AS BIGINT) AS min_pq,
        |  CAST(sum(p_q) AS DOUBLE) / CAST(count(*) * 1048576 AS DOUBLE) AS mean_p
        |FROM occ JOIN model USING (bg)
        |GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin,

    "text_lm_holdout" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CASE WHEN ${Ora.fnv("'split:' || doc_id")} % 10 = 0 THEN 'test'
        |              WHEN ${Ora.fnv("'split:' || doc_id")} % 10 = 1 THEN 'val'
        |              ELSE 'train' END AS split
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2
        |),
        |occ AS (
        |  SELECT doc_id, split, toks[i+1] || ' ' || toks[i+2] AS bg,
        |         toks[i+1] AS w1
        |  FROM d, unnest(range(len(toks)-1)) AS u(i)
        |),
        |m12 AS (SELECT bg, count(*) AS c12 FROM occ WHERE split = 'train'
        |        GROUP BY bg),
        |m1 AS (SELECT w1, count(*) AS c1 FROM occ WHERE split = 'train'
        |       GROUP BY w1),
        |vocab AS (SELECT count(DISTINCT w1) AS v FROM occ
        |          WHERE split = 'train'),
        |scored AS (
        |  SELECT o.doc_id,
        |         ((coalesce(m12.c12, 0) + 1) * 1048576)
        |           // (coalesce(m1.c1, 0) + (SELECT v FROM vocab)) AS p_q,
        |         CASE WHEN m12.c12 IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM occ o LEFT JOIN m12 USING (bg) LEFT JOIN m1 ON o.w1 = m1.w1
        |  WHERE o.split = 'val'
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(p_q) AS BIGINT) AS sum_pq,
        |  CAST(sum(oov) AS BIGINT) AS n_unseen,
        |  CAST(sum(p_q) AS DOUBLE) / CAST(count(*) * 1048576 AS DOUBLE)
        |    AS mean_p
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_tfidf_keywords" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents
        |),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms
        |  WHERE term <> '' GROUP BY doc_id, term
        |),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |         CAST(tf AS DOUBLE) * (SELECT count(*) FROM documents)
        |           / CAST(df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (term)
        |)
        |SELECT doc_id, term, tf, df, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "text_winnow_fingerprint" -> (
      s"""WITH hashed AS (
         |  SELECT doc_id,
         |    list_transform(range(length(text) - 7), i ->
         |      ${Ora.fnv("substr(text, i + 1, 8)")}) AS kgram_hashes
         |  FROM documents WHERE length(text) >= 11
         |),
         |winnowed AS (
         |  SELECT doc_id, list_distinct(
         |    list_transform(range(len(kgram_hashes) - 3), j ->
         |      list_min(kgram_hashes[j + 1 : j + 4]))) AS fps
         |  FROM hashed
         |)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
         |       list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM winnowed ORDER BY doc_id""".stripMargin),
  )
}
