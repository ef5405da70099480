package graft

import graft.QueryShared._
import graft.operators.{Checks, Decontam, Dedup, Graphs, Joins, Layout, Sessionize, Similarity, Splits, Stats, TextAnalysis, TopN, Wrangling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** text analysis: tokenizers, quality, LM stats, DSIR, decontamination — query registry + DuckDB oracles.
  * Merged into the driver contract by [[ScaleQueries]]. */
private[graft] object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // language-ID heuristic scores + argmax over the 12 marker languages,
    // with the script-coverage fallback tier for script-exclusive ones
    "q_lang_id" -> ((s, dir) => {
      val cols = "doc_id" +:
        TextAnalysis.LangMarkers.map("score_" + _._1) :+ "lang_pred"
      TextAnalysis
        .langId(t(s, dir, "documents"), "text")
        .select(cols.head, cols.tail: _*)
        // barrier: shuffle-free per-row pipeline; without it the sort's
        // range-boundary sampling re-executes it from the scan
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // corpus-level token entropy: unigram H1, adjacent-bigram H2, and
    // the order-2 conditional entropy H2 - H1 — the redundancy
    // diagnostic per-doc signals can't see (templated corpora score low)
    "q_corpus_entropy" -> ((s, dir) =>
      TextAnalysis.corpusEntropy(t(s, dir, "documents"), "text")),

    // per-doc character entropy: the cheap gibberish/template-spam signal
    // (low entropy = repetitive padding, high = binary-in-text)
    "q_char_entropy" -> ((s, dir) => {
      TextAnalysis
        .charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // quality metrics
    "q_quality" -> ((s, dir) => {
      TextAnalysis
        .qualityScore(t(s, dir, "documents"), "text")
        .select(
          "doc_id", "n_chars_calc", "n_tokens", "mean_token_len",
          "punct_count", "stopword_ratio", "quality"
        )
        .orderBy("doc_id")
    }),

    // Gopher-rule quality flags (minTokens lowered to 20 so the synthetic
    // docs, mostly 20-60 tokens, exercise both sides of every rule)
    "q_gopher" -> ((s, dir) => {
      // barrier before the presentation sort (same rationale as
      // q_main_content: shuffle-free per-row rule battery, which the
      // sort's boundary sampling would otherwise evaluate twice)
      TextAnalysis
        .gopherQualityFlags(t(s, dir, "documents"), "text", minTokens = 20)
        .select(
          "doc_id", "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
          "alpha_ratio_ok", "stopword_ok", "gopher_keep"
        )
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // token counting (whitespace + BPE-ish regex)
    "q_token_counts" -> ((s, dir) => {
      TextAnalysis
        .tokenCounts(t(s, dir, "documents"), "text")
        .select("doc_id", "ws_tokens", "bpe_ish_tokens")
        .orderBy("doc_id")
    }),

    // document fingerprinting (md5 canonical + min-shingle)
    "q_fingerprint" -> ((s, dir) => {
      TextAnalysis
        .fingerprints(t(s, dir, "documents"), "text")
        .select("doc_id", "fp_md5", "fp_min_shingle")
        .orderBy("doc_id")
    }),

    // asymmetric 2-gram containment pairs (contained-in detection) over
    // the same bounded slice as q_jaccard_pairs
    "q_containment" -> ((s, dir) => {
      Dedup
        .containmentPairs(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", 2, 0.9
        )
        .orderBy("id_a", "id_b")
    }),

    // train/test decontamination report: held-out set = doc_id % 10 == 0,
    // contamination = sharing any word 3-gram with it
    "q_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontam
        .contaminationReport(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id",
          "text",
          n = 3
        )
        .select("doc_id", "n_shared_grams", "contaminated")
        // NO barrier here (unlike q_main_content): it measured par — the
        // gram aggregate below the broadcast join is a shuffle boundary the
        // sort sampling reuses — and the PlanSpec broadcast-gram-join guard
        // reads this query's static plan
        .orderBy("doc_id")
    }),

    // cross-split leakage audit: 80/10/10 hash split of documents, then
    // per held-out doc the share of its distinct 3-grams seen in train
    "q_split_leakage" -> ((s, dir) => {
      val split = Splits.hashSplit(
        t(s, dir, "documents"),
        "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      )
      Decontam
        .crossSplitLeakage(split, "doc_id", "text", "split", n = 3)
        .orderBy("doc_id")
    }),

    // tokenizer vocab coverage: OOV rate of every document against the
    // corpus' own top-12 doc-frequency terms (the 31-word synthetic vocab
    // makes the remaining 19 words OOV, so rates are non-trivial)
    "q_vocab_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextAnalysis
        .topTerms(docs, "doc_id", "text", k = 12)
        .select("term")
      TextAnalysis
        .vocabCoverage(docs, "doc_id", "text", vocab, "term")
        .orderBy("doc_id")
    }),

    // Gopher-style repetition metrics over word 2-grams
    "q_repetition" -> ((s, dir) => {
      TextAnalysis
        .repetitionStats(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .select(
          "doc_id", "total_ngrams", "top_ngram_count",
          "top_ngram_frac", "dup_ngram_frac"
        )
        .orderBy("doc_id")
    }),

    // PII-style regex redaction chain (emails, integer literals, a stopword
    // set), verified via match counts + md5 of the redacted text
    "q_redact_text" -> ((s, dir) => {
      TextAnalysis
        .redactPatterns(
          t(s, dir, "documents"),
          "text",
          Seq(
            "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "[EMAIL]",
            "\\b[0-9]+\\b" -> "[NUM]",
            "\\b(the|a|and)\\b" -> "[W]"
          ),
          "redacted"
        )
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit("\\b(the|a|and)\\b")).as("n_stop_matches"),
          md5(col("redacted")).as("redacted_md5")
        )
        .orderBy("doc_id")
    }),

    // corpus vocabulary: top-25 terms by document frequency
    "q_top_terms" -> ((s, dir) => {
      TextAnalysis
        .topTerms(t(s, dir, "documents"), "doc_id", "text", 25)
        .orderBy("rank")
    }),

    // stupid-backoff trigram scoring of the newer corpus slice against a
    // model trained on the older slice — unseen trigrams back off to
    // alpha * bigram, unseen bigrams to alpha^2 * add-one unigram
    "q_stupid_backoff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .stupidBackoffLogProb(
          docs.filter(col("doc_id") < 300),
          docs.filter(col("doc_id") >= 300),
          "doc_id",
          "text"
        )
        .orderBy("doc_id")
    }),

    // corpus trigram count table (KenLM-prep shape): count-cutoff prune at
    // 2, deterministic top-100 by collection frequency
    "q_ngram_counts" -> ((s, dir) => {
      TextAnalysis
        .ngramCounts(t(s, dir, "documents"), "text", n = 3, minCount = 2, topK = 100)
        .orderBy("rank")
    }),

    // per-document top-3 TF-IDF terms (smooth ln(N/df), rounded to 6dp)
    "q_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .tfIdfTopTerms(docs, "doc_id", "text", docs.count(), n = 3)
        .orderBy("doc_id", "rank")
    }),

    // unigram LM quality: mean token log-prob under the corpus model
    "q_unigram_logprob" -> ((s, dir) => {
      TextAnalysis
        .unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // overlapping token-window chunking (embedding / long-context prep)
    "q_chunk_text" -> ((s, dir) => {
      TextAnalysis
        .chunkText(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", chunkTokens = 20, overlapTokens = 5
        )
        .orderBy("doc_id", "chunk_id")
    }),

    // self-perplexity under the corpus's own MLE bigram model
    "q_bigram_logprob" -> ((s, dir) => {
      TextAnalysis
        .bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // CCNet-style per-language perplexity bucketing (Wenzek et al. 2020):
    // score fluency with the corpus bigram LM, then split each language
    // into head/middle/tail at its own tertiles (higher logprob = head)
    "q_ppl_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .bigramLogProb(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      Stats
        .quantileBuckets(
          scored, Seq("lang"), "avg_bigram_logprob",
          probs = Seq(1.0 / 3, 2.0 / 3),
          labels = Seq("tail", "middle", "head"),
          outCol = "ppl_bucket"
        )
        .select("doc_id", "lang", "avg_bigram_logprob", "ppl_bucket")
        .orderBy("doc_id")
    }),

    // DSIR importance weights: how target-like (zh-like) every corpus doc's
    // hashed unigram+bigram features are — the pretraining data-selection
    // scorer (Xie et al. 2023), decimal-quantized for engine parity
    "q_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .dsirLogWeights(
          docs, docs.filter(col("lang") === "zh"), "doc_id", "text",
          numBuckets = 8192, smoothing = 1.0
        )
        .orderBy("doc_id")
    }),

    // DSIR selection: importance-weighted sample of 40 docs without
    // replacement via the log-domain Efraimidis-Spirakis key
    "q_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .dsirResample(
          docs, docs.filter(col("lang") === "zh"), "doc_id", "text",
          k = 40, numBuckets = 8192, smoothing = 1.0
        )
        .orderBy("sample_key", "doc_id")
    }),

    // hashed Naive-Bayes quality-classifier model (wiki-vs-crawl shape):
    // src0-2 as the reference class vs the rest, 4096 hashed buckets
    "q_nb_train" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .trainTokenClassifier(
          docs.filter(col("source").isin("src0", "src1", "src2")),
          docs.filter(!col("source").isin("src0", "src1", "src2")),
          "text",
          numBuckets = 4096
        )
        .orderBy("bucket")
    }),

    // score the whole corpus with that model: mean bucket log-odds per doc
    "q_nb_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.trainTokenClassifier(
        docs.filter(col("source").isin("src0", "src1", "src2")),
        docs.filter(!col("source").isin("src0", "src1", "src2")),
        "text",
        numBuckets = 4096
      )
      TextAnalysis
        .classifierScore(docs, "doc_id", "text", model, numBuckets = 4096)
        .orderBy("doc_id")
    }),

    // per-source corpus health dashboard (counts, dup fraction, tokens)
    "q_corpus_report" -> ((s, dir) => {
      TextAnalysis
        .corpusReport(t(s, dir, "documents"), "text", "source")
        .orderBy("source")
    }),

    // Zipf rank-frequency fit over the top-500 vocabulary
    "q_zipf" -> ((s, dir) => {
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topN = 500)
    }),

    // Unicode script mix per document (multilingual routing signal)
    "q_script_profile" -> ((s, dir) => {
      TextAnalysis
        .scriptProfile(
          t(s, dir, "documents").filter(col("doc_id") < 300), "doc_id", "text"
        )
        .orderBy("doc_id")
    }),

    // PMI-ranked adjacent-word collocations (phrase-mining census)
    "q_collocations" -> ((s, dir) => {
      TextAnalysis
        .collocations(t(s, dir, "documents"), "text", minCount = 5)
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(100)
    }),

    // unigram-distribution divergence between the en and de corpus slices
    "q_vocab_divergence" -> ((s, dir) => {
      TextAnalysis
        .vocabDivergence(
          t(s, dir, "documents"), "text", "lang", "en", "de", smoothing = 0.5
        )
    }),

    // sparse TF-IDF cosine document pairs via inverted index
    "q_tfidf_pairs" -> ((s, dir) => {
      TextAnalysis
        .tfidfCosinePairs(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", docCount = 300, threshold = 0.8, maxDfFraction = 0.5
        )
        .orderBy("id_a", "id_b")
    }),

    // BM25 relevance of the whole corpus against a fixed query-term set:
    // 'dup' is rare (high idf), 'spark' ubiquitous (low idf), 'shuffle'
    // absent (exercises the no-match arm); score 0 for non-matching docs
    "q_bm25" -> ((s, dir) => {
      TextAnalysis
        .bm25Scores(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "shuffle", "dup"), k1 = 1.2, b = 0.75
        )
        .orderBy("doc_id")
    }),

    // BPE merge-rule training on the corpus word dictionary (8 rounds).
    // Full hash oracle: the round count is FIXED, so the training loop —
    // unlike iterative-until-convergence EM — unrolls into 8 chained
    // DuckDB CTEs (pair count -> argmax -> left-to-right merge), each
    // replaying the operator's round exactly (QueryShared
    // .duckBpeTrainCte). The merge sequence is additionally hand-verified
    // in ScaleSpec on the classic Sennrich example.
    "q_bpe" -> ((s, dir) => {
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", numMerges = 8)
    }),

    // train -> apply END-TO-END: encode the corpus under the merges just
    // trained on it. Previously only ScalaTest-gated; the oracle chains
    // the unrolled training CTEs into the min-rank encode replay.
    "q_bpe_train_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .bpeTokenCounts(
          docs,
          "doc_id",
          "text",
          TextAnalysis.bpeMerges(docs, "text", numMerges = 8)
        )
        .orderBy("doc_id")
    }),

    // byte-level BPE training (GPT-2-style base alphabet, 8 merges) over
    // accent-injected text: every word decomposes into 2-char hex UTF-8
    // byte symbols, so multi-byte code points (é = c3 a9) train through
    // the SAME merge loop — no unknown symbols possible, any script
    "q_bbpe" -> ((s, dir) => {
      TextAnalysis.bbpeMerges(
        t(s, dir, "documents").withColumn("btext", bbpeText),
        "btext", numMerges = 8
      )
    }),

    // byte-level encode under the FIXED hex-pair merge table (depth-3
    // cascade to "the</w>", the é byte pair, the caf cascade): per-doc
    // whitespace vs byte-BPE token counts — the unit LLM pipelines meter
    "q_bbpe_apply" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis
        .bbpeTokenCounts(
          t(s, dir, "documents").withColumn("btext", bbpeText),
          "doc_id",
          "btext",
          BbpeFixedMerges.toDF("merge_rank", "left", "right")
        )
        .orderBy("doc_id")
    }),

    // byte-level training with the GPT-2-style regex PRE-TOKENIZER in
    // front of merge learning: contractions / letter runs / number runs /
    // punct runs enter the dictionary instead of whitespace words, so no
    // merge ever crosses a category boundary
    "q_bbpe_pretok" -> ((s, dir) => {
      TextAnalysis.bbpeMergesPretok(
        t(s, dir, "documents").withColumn("btext", bbpeText),
        "btext", numMerges = 8
      )
    }),

    // pretok train→apply END-TO-END: per-doc pre-token vs byte-BPE piece
    // counts under the model trained on the same pre-tokenized corpus
    "q_bbpe_pretok_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("btext", bbpeText)
      TextAnalysis
        .bbpePretokTokenCounts(
          docs, "doc_id", "btext",
          TextAnalysis.bbpeMergesPretok(docs, "btext", numMerges = 8)
        )
        .orderBy("doc_id")
    }),

    // WordPiece merge-rule training (8 rounds) — the BERT vocabulary
    // learner completing the trainer triad (BPE, unigram-LM, WordPiece).
    // Full hash oracle: the likelihood-gain argmax runs on the
    // operator's exact 2^-16 integer grid, so the fixed-round loop
    // unrolls into chained DuckDB CTEs replaying every round bit-for-bit
    // (QueryShared.duckWpTrainCte); the score's N-normalization also
    // makes the whole merge sequence duplication-invariant (stress-
    // asserted in RandomizedSpec).
    "q_wordpiece" -> ((s, dir) => {
      TextAnalysis.wordpieceTrain(t(s, dir, "documents"), "text", numMerges = 8)
    }),

    // greedy longest-match WordPiece encode under the FIXED literal
    // vocabulary (QueryShared.WpFixedVocab — covering whole-word hits,
    // longest-match decisions, mid-word [UNK] collapse): per-doc
    // (ws_tokens, wp_tokens, unk_words) with a full recursive-CTE oracle.
    "q_wordpiece_apply" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis
        .wordpieceTokenCounts(
          t(s, dir, "documents"),
          "doc_id",
          "text",
          WpFixedVocab.toDF("piece")
        )
        .orderBy("doc_id")
    }),

    // train -> apply END-TO-END: encode the corpus under the vocabulary
    // (alphabet + merged pieces) just trained on it; the oracle chains
    // the unrolled training CTEs into the greedy encode replay.
    "q_wordpiece_train_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .wordpieceTokenCounts(
          docs,
          "doc_id",
          "text",
          TextAnalysis.wordpieceVocab(
            docs,
            "text",
            TextAnalysis.wordpieceTrain(docs, "text", numMerges = 8)
          )
        )
        .orderBy("doc_id")
    }),

    // true-BPE token counts under the FIXED literal merge table
    // (QueryShared.BpeFixedMerges): min-rank merge application over the
    // distinct-word dictionary IS SQL-expressible given the rules as
    // literals, so this carries a full recursive-CTE oracle. Training
    // is now fully oracled too (q_bpe), and the train->apply composition is
    // hand-verified in ScaleSpec on the classic Sennrich example.
    "q_bpe_apply" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis
        .bpeTokenCounts(
          t(s, dir, "documents"),
          "doc_id",
          "text",
          BpeFixedMerges.toDF("merge_rank", "left", "right")
        )
        .orderBy("doc_id")
    }),

    // SentencePiece-style unigram-LM tokenizer training (Kudo 2018):
    // 120-piece vocabulary learned by Viterbi hard-EM over the
    // distinct-word dictionary. FULLY oracled: the operator's dyadic
    // 2^-25 log-prob quantization makes every Viterbi path sum exact, so
    // seeding + EM + the (gated-unrolled) prune loop replay bit-for-bit
    // in DuckDB (QueryShared.duckUnigramTrainCte); segmentation semantics
    // additionally hand-verified in ScaleSpec.
    "q_unigram_lm" -> ((s, dir) => {
      TextAnalysis
        .unigramLM(t(s, dir, "documents"), "text", vocabSize = 120)
        .orderBy(col("piece_count").desc, col("piece"))
    }),

    // true unigram token counts per document under the trained model —
    // the q_bpe_apply shape with the Viterbi segmenter. Fully oracled
    // end-to-end (train -> rint6 model -> segment -> per-doc counts) via
    // QueryShared.duckUnigramTrainTokensCte.
    "q_unigram_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .unigramTokenCounts(
          docs, "doc_id", "text",
          TextAnalysis.unigramLM(docs, "text", vocabSize = 120)
        )
        .orderBy("doc_id")
    }),

    // Viterbi segmentation token counts under the FIXED literal vocab
    // (QueryShared.UnigramFixedVocab): a full recursive-CTE oracle incl.
    // the longer-piece tie-break on three planted exact-score ties —
    // pins the segmenter under hand-chosen dyadic logprobs independently
    // of the trained path (which is now also fully oracled).
    "q_unigram_apply" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis
        .unigramTokenCounts(
          t(s, dir, "documents"),
          "doc_id",
          "text",
          UnigramFixedVocab.toDF("piece", "logprob")
        )
        .orderBy("doc_id")
    }),

    // PII masking over injected emails/IPs/phones (the Dolma-style pass
    // every released corpus runs): mask tokens replace every match, in
    // pack order, as one codegen'd regexp_replace chain
    "q_pii_mask" -> ((s, dir) => {
      TextAnalysis
        .maskPii(
          t(s, dir, "documents")
            .withColumn("ptext", piiText)
            .select("doc_id", "ptext"),
          "ptext"
        )
        .select("doc_id", "masked")
        // barrier: shuffle-free per-row regex chain (see q_main_content)
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // per-doc PII occurrence audit: one count per kind + the total —
    // the report that decides whether a source needs masking at all
    "q_pii_report" -> ((s, dir) => {
      TextAnalysis
        .piiReport(
          t(s, dir, "documents").withColumn("ptext", piiText),
          "doc_id",
          "ptext"
        )
        .orderBy("doc_id")
    }),

    // HTML -> text extraction over the synthetic markup wrap: comments,
    // script/style bodies (incl. a decoy </p> inside a string literal),
    // every tag, the six entities named AND numeric, tab/newline
    // collapse; pure-markup rows extract to the empty string
    "q_html_text" -> ((s, dir) => {
      TextAnalysis
        .extractHtmlText(
          t(s, dir, "documents")
            .withColumn("html", syntheticHtml)
            .select("doc_id", "html"),
          "html",
          outCol = "extracted"
        )
        .select("doc_id", "extracted")
        // barrier: shuffle-free per-row extractor (see q_main_content)
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // the first two stages of every crawl pipeline COMPOSED: markup ->
    // extracted text -> quality score -> gate. Pure-markup rows (empty
    // text) and NULL rows must fall at the gate in both engines.
    // The narrow (id, n_tokens, quality) result is materialized BEFORE
    // the gate: filtering on a computed column substitutes the whole
    // extract+score pipeline into the pushed-down predicate (evaluating
    // it twice per row), and the presentation ORDER BY's range-boundary
    // sampling would run the per-row pipeline a third time — the barrier
    // makes extraction run exactly once (the crawlCurate gated-slice
    // persist).
    "q_html_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("html", syntheticHtml)
        .select("doc_id", "html")
      TextAnalysis
        .qualityScore(
          TextAnalysis.extractHtmlText(docs, "html", outCol = "text"),
          "text"
        )
        .select("doc_id", "n_tokens", "quality")
        .localCheckpoint(false)
        .filter(col("quality") >= 0.5)
        .orderBy("doc_id")
    }),

    // main-content extraction over the synthetic full page: nav/crumbs/
    // footer chrome and the link-farm block die by link density, the
    // too-short block by minChars, the script decoy in pre-clean; the
    // document text survives as the main block
    "q_main_content" -> ((s, dir) => {
      // barrier before the presentation sort: the extractor is a
      // shuffle-free per-row pipeline (~16 regexes per block), and the
      // range partitioner's boundary-sampling pass would otherwise
      // re-execute it from the scan (no shuffle boundary to reuse)
      TextAnalysis
        .extractMainContent(
          t(s, dir, "documents")
            .withColumn("page", syntheticPageHtml)
            .select("doc_id", "page"),
          "page"
        )
        .select("doc_id", "n_blocks", "kept_blocks", "main_text")
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // the crawl tier END-TO-END: full page -> main-content extraction ->
    // quality gate -> exact-verified near-dedup. Guards the new tier
    // against cross-operator column collisions the way q_pipeline_e2e
    // guards the text tier; NULL pages and all-chrome pages must fall at
    // the gate in both engines.
    "q_crawl_pipeline" -> ((s, dir) => {
      graft.operators.Pipelines
        .crawlCurate(
          t(s, dir, "documents")
            .withColumn("page", syntheticPageHtml)
            .select("doc_id", "page"),
          "doc_id", "page",
          minQuality = 0.5, dedupThreshold = 0.8
        )
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    }),

    // URL parsing: every component of the synthetic per-doc URL (scheme,
    // host, port, path, query string, registered domain incl. the co.uk
    // multi-part suffix) — pure per-row regexps, malformed rows -> NULLs
    "q_url_parse" -> ((s, dir) => {
      import graft.operators.Urls
      Urls
        .parseUrls(
          t(s, dir, "documents").withColumn("url", syntheticUrl),
          "url"
        )
        .select(
          "doc_id", "url_scheme", "url_host", "url_port",
          "url_path", "url_query_string", "url_domain"
        )
        // barrier: shuffle-free per-row regexps (see q_main_content)
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // SURT canonical URL keys over the synthetic URLs: reversed comma-
    // joined host labels, www-strip, non-default port kept, sorted query
    // — the CDXJ urlkey form crawl URLs join a capture index on
    "q_surt_key" -> ((s, dir) => {
      import graft.operators.Urls
      Urls
        .withSurtKey(
          t(s, dir, "documents")
            .withColumn("url", syntheticUrl)
            .select("doc_id", "url"),
          "url"
        )
        .select("doc_id", "urlkey")
        .orderBy("doc_id")
    }),

    // C4 line-level cleaning over a planted multi-line page: terminal-
    // punct / min-words / javascript line rules, then the page-level
    // >=3-sentence + no-'{' + no-lorem-ipsum keep flag
    "q_c4_lines" -> ((s, dir) => {
      TextAnalysis
        .c4LineFilter(
          t(s, dir, "documents")
            .withColumn("page", syntheticLinesPage)
            .select("doc_id", "page"),
          "page"
        )
        .select(
          col("doc_id"), col("n_lines"), col("kept_lines"),
          col("n_sentences"), col("c4_keep"),
          md5(col("clean_text")).as("clean_md5")
        )
        // barrier: shuffle-free per-row line rules (see q_main_content)
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // invisible/format-character strip over injected zero-widths, soft
    // hyphen, BOM, and a BEL control — count + cleaned-text digest
    "q_strip_invisibles" -> ((s, dir) => {
      TextAnalysis
        .stripInvisibles(
          t(s, dir, "documents")
            .withColumn("itext", syntheticInvisibleText)
            .select("doc_id", "itext"),
          "itext"
        )
        .select(
          col("doc_id"), col("n_invisibles"),
          md5(col("stripped")).as("stripped_md5")
        )
        // barrier: shuffle-free per-row strip (see q_main_content)
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    // mojibake repair: every 3rd document is deterministically
    // double-encoded — the %9==0 tier as UTF-8-read-as-GBK, the %9==3
    // tier as UTF-8-read-as-Shift_JIS (whole-document CJK misreads: per
    // family, computed through the real Java charsets in QueryShared),
    // the rest of the %3==0 docs as UTF-8-read-as-cp1252 (é→Ã©, ö→Ã¶,
    // '→â€™); the REAL byte-level repair must recover exactly the
    // original per family, and must leave the clean documents
    // untouched — the oracle knows only the expected OUTPUT, so an
    // identity (or over-eager, or wrong-family) repair hash-mismatches
    "q_fix_encoding" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn(
          "mtext",
          when(
            col("doc_id") % 9 === 0,
            concat(lit(CjkGbkMoji + " doc "), col("doc_id").cast("string"))
          ).when(
            col("doc_id") % 9 === 3,
            concat(lit(CjkSjisMoji + " doc "), col("doc_id").cast("string"))
          ).when(col("doc_id") % 3 === 0, syntheticMojibakeText)
            .otherwise(col("text"))
        )
      TextAnalysis
        .fixEncoding(docs, "mtext", outCol = "fixed")
        .select(
          col("doc_id"),
          md5(col("fixed")).as("fixed_md5"),
          (col("doc_id") % 3 === 0).as("was_mojibaked")
        )
        .orderBy("doc_id")
    }),

    // phrase blocklist: whole-shingle matches for 1/2/3-token phrases
    "q_block_phrases" -> ((s, dir) => {
      TextAnalysis
        .blockPhraseReport(t(s, dir, "documents"), "text", PhraseFixture)
        .select("doc_id", "n_blocked_spans", "has_blocked_phrase")
        .orderBy("doc_id")
    }),

    // C4-style blockword gate: whole-token matches against a fixed list,
    // count + flag per document
    "q_blockwords" -> ((s, dir) => {
      TextAnalysis
        .blockwordReport(t(s, dir, "documents"), "text", BlockwordFixture)
        .select("doc_id", "n_blockword_tokens", "has_blockword")
        .orderBy("doc_id")
    }),

    // per-registered-domain cap at 3 docs, chosen by the deterministic
    // md5 order — the anti-template-site guard before training
    "q_domain_cap" -> ((s, dir) => {
      import graft.operators.Urls
      Urls
        .domainCap(
          t(s, dir, "documents")
            .withColumn("url", syntheticUrl)
            .select("doc_id", "url"),
          "url", "doc_id", maxPerDomain = 3
        )
        .select("doc_id", "url_domain")
        .orderBy("doc_id")
    }),

    // URL curation COMPOSED with near-dedup: parse -> per-domain cap ->
    // MinHash dedup of the capped survivors. Guards the URL tier against
    // cross-operator column collisions the same way q_pipeline_e2e
    // guards the text tier; survivors carry their cap-group domain.
    "q_domain_dedup" -> ((s, dir) => {
      import graft.operators.Urls
      val docs = t(s, dir, "documents").withColumn("url", syntheticUrl)
      // gated-slice barrier (as in crawlCurate):
      // dedupNearMinHash scans its input twice by contract (signatures +
      // the final anti-join), so without the barrier the URL-parse +
      // per-domain cap window re-runs for every consumer
      val capped = Urls
        .domainCap(docs, "url", "doc_id", maxPerDomain = 5)
        .localCheckpoint(false)
      Dedup
        .dedupNearMinHash(
          capped, "doc_id", "text",
          threshold = 0.9, shingleK = 1, numHashes = 16, bands = 4
        )
        .select("doc_id", "url_domain")
        .orderBy("doc_id")
    }),

    // allow/block-list URL gate: allow five registered domains, ban the
    // blog.src2.org subtree inside one of them (block overrides allow);
    // unparseable URLs drop under an allowlist. Pure per-row codegen.
    "q_url_filter" -> ((s, dir) => {
      import graft.operators.Urls
      Urls
        .filterByDomains(
          t(s, dir, "documents")
            .withColumn("url", syntheticUrl)
            .select("doc_id", "url"),
          "url",
          block = UrlFilterBlock,
          allow = UrlFilterAllow
        )
        .orderBy("doc_id")
    }),

    // domain concentration report: docs + corpus share per registered
    // domain (broadcast total, map-side-combined aggregate)
    "q_domain_stats" -> ((s, dir) => {
      import graft.operators.Urls
      Urls
        .domainStats(
          t(s, dir, "documents").withColumn("url", syntheticUrl),
          "url"
        )
        .orderBy(col("n_docs").desc, col("domain"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE doc_id < 500
        |), s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)),
        |    i -> array_to_string(t[i:i+1], ' '))) AS st
        |  FROM toks
        |), inv AS (
        |  SELECT doc_id, unnest(st) AS sh FROM s
        |), shared AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |), sz AS (
        |  SELECT doc_id, len(st) AS n FROM s
        |)
        |SELECT ia AS id_a, ib AS id_b, CAST(c AS DOUBLE) / x.n AS containment
        |FROM shared JOIN sz x ON x.doc_id = ia
        |WHERE CAST(c AS DOUBLE) / x.n >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // word 3-grams via inclusive list slices: gram i = t[i:i+2], i in
    // [1, len-2] (range end is exclusive; empty when len < 3 — matching
    // Spark's shingles() on short docs)
    "q_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), ng AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(t) - 1),
        |           i -> array_to_string(t[i:i+2], ' '))) AS g
        |  FROM toks
        |), te AS (
        |  SELECT DISTINCT unnest(g) AS gram FROM ng WHERE doc_id % 10 = 0
        |), sh AS (
        |  SELECT x.doc_id, count(*) AS n FROM (
        |    SELECT doc_id, unnest(g) AS gram FROM ng WHERE doc_id % 10 <> 0
        |  ) x JOIN te USING (gram) GROUP BY 1
        |)
        |SELECT d.doc_id, COALESCE(sh.n, 0) AS n_shared_grams,
        |       COALESCE(sh.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN sh ON sh.doc_id = d.doc_id
        |WHERE d.doc_id % 10 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    // split assignment replicates q_hash_split's md5 buckets; 3-gram slices
    // replicate q_decontam's inclusive-range construction
    "q_split_leakage" ->
      """WITH sp AS (
        |  SELECT doc_id, text,
        |         CASE WHEN bk < 8000 THEN 'train'
        |              WHEN bk < 9000 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM (
        |    SELECT doc_id, text,
        |           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
        |    FROM documents
        |  )
        |), ng AS (
        |  SELECT doc_id, split,
        |         list_distinct(list_transform(range(1, len(t) - 1),
        |           i -> array_to_string(t[i:i+2], ' '))) AS g
        |  FROM (SELECT doc_id, split, string_split(lower(text), ' ') AS t FROM sp)
        |), tr AS (
        |  SELECT DISTINCT unnest(g) AS gram FROM ng WHERE split = 'train'
        |), ho AS (
        |  SELECT doc_id, split, unnest(g) AS gram FROM ng WHERE split <> 'train'
        |), tot AS (
        |  SELECT doc_id, split, count(*) AS n_grams FROM ho GROUP BY 1, 2
        |), lk AS (
        |  SELECT ho.doc_id, count(*) AS n_leaked FROM ho JOIN tr USING (gram) GROUP BY 1
        |)
        |SELECT t.doc_id, t.split, t.n_grams,
        |       COALESCE(lk.n_leaked, 0) AS n_leaked,
        |       round(CAST(COALESCE(lk.n_leaked, 0) AS DOUBLE) / t.n_grams, 6) AS leak_frac
        |FROM tot t LEFT JOIN lk ON lk.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // vocab = top-12 terms by (doc_freq, coll_freq, term) — the same
    // deterministic tie-break topTerms uses
    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
        |), stats AS (
        |  SELECT w, count(*) AS cf, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), vocab AS (
        |  SELECT w FROM stats ORDER BY df DESC, cf DESC, w LIMIT 12
        |), cov AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |         count(CASE WHEN v.w IS NULL THEN 1 END) AS n_oov
        |  FROM (SELECT doc_id, w FROM toks WHERE w <> '') t
        |  LEFT JOIN vocab v ON v.w = t.w
        |  GROUP BY 1
        |)
        |SELECT doc_id, n_tokens, n_oov,
        |       round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_frac
        |FROM cov ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), ng AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t)),
        |           i -> array_to_string(t[i:i+1], ' '))) AS gram
        |  FROM toks
        |), pg AS (
        |  SELECT doc_id, gram, count(*) AS c FROM ng GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS total_ngrams,
        |       CAST(max(c) AS BIGINT) AS top_ngram_count,
        |       ROUND(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_ngram_frac,
        |       ROUND(CAST(COALESCE(sum(c) FILTER (WHERE c > 1), 0) AS DOUBLE)
        |             / CAST(sum(c) AS DOUBLE), 6) AS dup_ngram_frac
        |FROM pg GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_redact_text" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|and)\b')) AS INT) AS n_stop_matches,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]+\b', '[NUM]', 'g'),
        |    '\b(the|a|and)\b', '[W]', 'g')) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""WITH $duckLangPred
         |SELECT doc_id, ${duckLangScoreNames.mkString(", ")}, lang_pred
         |FROM lp ORDER BY doc_id""".stripMargin,

    "q_quality" -> {
      val en = TextAnalysis.LangMarkers.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH m AS (
         |  SELECT doc_id,
         |         CAST(length(text) AS INT) AS n_chars_calc,
         |         CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
         |         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS punct_count,
         |         CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains([$en], t))) AS INT) AS stops
         |  FROM documents
         |)
         |SELECT doc_id, n_chars_calc, n_tokens,
         |       CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
         |       punct_count,
         |       CAST(stops AS DOUBLE) / n_tokens AS stopword_ratio,
         |       ${duckQualityExpr("n_tokens", "punct_count", "stops")} AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "q_corpus_entropy" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL
        |), tc AS (
        |  SELECT w, count(*) AS c FROM tok GROUP BY w
        |), tt AS (
        |  SELECT COALESCE(SUM(c), 0) AS n, COUNT(*) AS types FROM tc
        |), th AS (
        |  SELECT SUM(CAST(ROUND(
        |    -(CAST(c AS DOUBLE) / n) * (ln(CAST(c AS DOUBLE) / n) / ln(2.0)),
        |    9) AS DECIMAL(19,9))) AS h
        |  FROM tc, tt
        |), bg AS (
        |  SELECT l[CAST(i AS INT)] AS w1, l[CAST(i AS INT) + 1] AS w2
        |  FROM (SELECT string_split(lower(text), ' ') AS l
        |        FROM documents WHERE text IS NOT NULL),
        |       unnest(range(1, len(l))) AS t(i)
        |), bc AS (
        |  SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
        |), bt AS (
        |  SELECT COALESCE(SUM(c), 0) AS n, COUNT(*) AS types FROM bc
        |), bh AS (
        |  SELECT SUM(CAST(ROUND(
        |    -(CAST(c AS DOUBLE) / n) * (ln(CAST(c AS DOUBLE) / n) / ln(2.0)),
        |    9) AS DECIMAL(19,9))) AS h
        |  FROM bc, bt
        |)
        |SELECT CAST(tt.n AS BIGINT) AS n_tokens,
        |       CAST(tt.types AS BIGINT) AS n_types,
        |       CAST(ROUND(th.h, 6) AS DOUBLE) AS unigram_entropy,
        |       CAST(bt.n AS BIGINT) AS n_bigrams,
        |       CAST(bt.types AS BIGINT) AS n_bigram_types,
        |       CAST(ROUND(bh.h, 6) AS DOUBLE) AS bigram_entropy,
        |       CAST(ROUND(bh.h - th.h, 6) AS DOUBLE) AS cond_entropy
        |FROM tt, th, bt, bh""".stripMargin,

    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, length(text) + 1), i -> text[i])) AS c
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |), cc AS (
        |  SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c
        |), t AS (
        |  SELECT doc_id, SUM(k) AS n FROM cc GROUP BY doc_id
        |)
        |SELECT cc.doc_id, CAST(t.n AS INT) AS n_chars,
        |       CAST(ROUND(SUM(CAST(ROUND(
        |         -(CAST(k AS DOUBLE) / n) * (ln(CAST(k AS DOUBLE) / n) / ln(2.0)),
        |         9) AS DECIMAL(19,9))), 6) AS DOUBLE) AS char_entropy
        |FROM cc JOIN t USING (doc_id)
        |GROUP BY cc.doc_id, t.n ORDER BY doc_id""".stripMargin,

    "q_gopher" -> {
      val en = TextAnalysis.LangMarkers.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH m AS (
         |  SELECT doc_id, text, string_split(lower(text), ' ') AS toks,
         |         length(text) AS nc
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |    len(toks) AS n,
         |    CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) AS meanlen,
         |    CAST((nc - length(replace(text, '#', ''))) +
         |         (nc - length(replace(text, '...', ''))) / 3 AS DOUBLE)
         |      / len(toks) AS symratio,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
         |      / len(toks) AS alphafrac,
         |    len(list_filter([$en], w -> list_contains(toks, w))) AS stops
         |  FROM m
         |)
         |SELECT doc_id,
         |  n BETWEEN 20 AND 100000 AS word_count_ok,
         |  meanlen BETWEEN 3.0 AND 10.0 AS mean_word_len_ok,
         |  symratio <= 0.1 AS symbol_ratio_ok,
         |  alphafrac >= 0.8 AS alpha_ratio_ok,
         |  stops >= 2 AS stopword_ok,
         |  (n BETWEEN 20 AND 100000) AND (meanlen BETWEEN 3.0 AND 10.0)
         |    AND symratio <= 0.1 AND alphafrac >= 0.8 AND stops >= 2
         |    AS gopher_keep
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q_token_counts" ->
      """SELECT doc_id,
        |       CAST(len(string_split(lower(text), ' ')) AS INT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS canon
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, canon, string_split(canon, ' ') AS toks FROM c
        |)
        |SELECT doc_id, md5(canon) AS fp_md5,
        |       CASE WHEN len(toks) >= 3 THEN
        |         list_min(list_transform(range(0, len(toks) - 2), i ->
        |           md5(array_to_string(toks[i+1:i+3], ' '))))
        |       END AS fp_min_shingle
        |FROM tk ORDER BY doc_id""".stripMargin,

    "q_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
        |), st AS (
        |  SELECT term, count(*) AS coll_freq, count(DISTINCT doc_id) AS doc_freq
        |  FROM tok GROUP BY term
        |), r AS (
        |  SELECT term, coll_freq, doc_freq,
        |         CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, coll_freq DESC, term) AS INT) AS rank
        |  FROM st
        |)
        |SELECT term, coll_freq, doc_freq, rank FROM r
        |WHERE rank <= 25 ORDER BY rank""".stripMargin,

    "q_stupid_backoff" -> {
      val a1 = 0.4
      val a2 = a1 * a1
      val c1 = s"CAST($a1 AS DOUBLE)"
      val c2l = s"CAST($a2 AS DOUBLE)"
      s"""WITH mt AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t
         |  FROM documents WHERE text IS NOT NULL AND doc_id < 300
         |), st AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t
         |  FROM documents WHERE text IS NOT NULL AND doc_id >= 300
         |), m1 AS (
         |  SELECT w, count(*) AS c1
         |  FROM (SELECT unnest(t) AS w FROM mt) GROUP BY w
         |), tot AS (
         |  SELECT sum(c1) AS n, count(*) AS v FROM m1
         |), m2 AS (
         |  SELECT g, count(*) AS c2 FROM (
         |    SELECT unnest(list_transform(range(1, len(t)),
         |           i -> t[i] || chr(1) || t[i+1])) AS g FROM mt
         |  ) GROUP BY g
         |), m3 AS (
         |  SELECT g, count(*) AS c3 FROM (
         |    SELECT unnest(CASE WHEN len(t) >= 3
         |      THEN list_transform(range(1, len(t) - 1),
         |           i -> t[i] || chr(1) || t[i+1] || chr(1) || t[i+2])
         |      ELSE [] END) AS g FROM mt
         |  ) GROUP BY g
         |), occ AS (
         |  SELECT doc_id, o.pos, o.w, o.p1, o.p2,
         |         o.p2 || chr(1) || o.p1 || chr(1) || o.w AS g3,
         |         o.p1 || chr(1) || o.w AS g2,
         |         o.p2 || chr(1) || o.p1 AS ctx2
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
         |      i -> struct_pack(pos := i - 1, w := t[i],
         |                       p1 := CASE WHEN i >= 2 THEN t[i-1] END,
         |                       p2 := CASE WHEN i >= 3 THEN t[i-2] END))) AS o
         |    FROM st
         |  )
         |), sc AS (
         |  SELECT occ.doc_id,
         |    CASE WHEN m3.c3 IS NOT NULL THEN CAST(m3.c3 AS DOUBLE) / mc.c2
         |         WHEN m2.c2 IS NOT NULL THEN
         |           (CASE WHEN least(3, occ.pos + 1) = 3 THEN $c1
         |                 ELSE CAST(1.0 AS DOUBLE) END)
         |             * CAST(m2.c2 AS DOUBLE) / mp.c1
         |         ELSE
         |           (CASE WHEN least(3, occ.pos + 1) = 3 THEN $c2l
         |                 WHEN least(3, occ.pos + 1) = 2 THEN $c1
         |                 ELSE CAST(1.0 AS DOUBLE) END)
         |             * CAST(coalesce(m1.c1, 0) + 1 AS DOUBLE) / (tot.n + tot.v)
         |    END AS s
         |  FROM occ
         |  LEFT JOIN m3 ON m3.g = occ.g3
         |  LEFT JOIN m2 ON m2.g = occ.g2
         |  LEFT JOIN m2 mc ON mc.g = occ.ctx2
         |  LEFT JOIN m1 ON m1.w = occ.w
         |  LEFT JOIN m1 mp ON mp.w = occ.p1
         |  CROSS JOIN tot
         |)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
         |       ROUND(avg(ln(s)), 6) AS avg_logprob
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_ngram_counts" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(t) >= 3
        |         THEN list_transform(range(1, len(t) - 1),
        |              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         ELSE [] END) AS ngram
        |  FROM tk
        |), st AS (
        |  SELECT ngram, count(*) AS coll_freq,
        |         count(DISTINCT doc_id) AS doc_freq
        |  FROM g GROUP BY ngram
        |  HAVING count(*) >= 2
        |), r AS (
        |  SELECT ngram, coll_freq, doc_freq,
        |         CAST(ROW_NUMBER() OVER (ORDER BY coll_freq DESC, ngram) AS INT) AS rank
        |  FROM st
        |)
        |SELECT ngram, coll_freq, doc_freq, rank FROM r
        |WHERE rank <= 100 ORDER BY rank""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term
        |), s AS (
        |  SELECT doc_id, term, tf, df,
        |         ROUND(tf * ln((SELECT count(*) FROM documents) / df), 6) AS tfidf
        |  FROM tf JOIN dfq USING (term)
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM s
        |)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INT) AS rank
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL
        |), vocab AS (
        |  SELECT term, count(*) AS cnt FROM toks GROUP BY 1
        |), model AS (
        |  SELECT term,
        |         ln(CAST(cnt AS DOUBLE)) -
        |           ln(CAST((SELECT sum(cnt) FROM vocab) AS DOUBLE)) AS lp
        |  FROM vocab
        |)
        |SELECT t.doc_id, CAST(count(*) AS INT) AS n_tokens,
        |       ROUND(avg(m.lp), 6) AS avg_logprob
        |FROM toks t JOIN model m USING (term)
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "q_chunk_text" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL AND doc_id < 300
        |), st AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks) - 1, 0) + 1, 15)) AS start
        |  FROM d
        |)
        |SELECT doc_id, CAST(start / 15 AS INT) AS chunk_id,
        |       array_to_string(toks[start + 1 : start + 20], ' ') AS chunk_text,
        |       CAST(len(toks[start + 1 : start + 20]) AS INT) AS n_chunk_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "q_bigram_logprob" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(2, len(toks) + 1),
        |                               i -> toks[i-1] || chr(1) || toks[i])) AS big
        |  FROM d WHERE len(toks) >= 2
        |), bc AS (
        |  SELECT big, count(*) AS c FROM bg GROUP BY big
        |), cc AS (
        |  SELECT string_split(big, chr(1))[1] AS prev, sum(c) AS ctx
        |  FROM bc GROUP BY 1
        |)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
        |       ROUND(avg(ln(CAST(bc.c AS DOUBLE)) - ln(CAST(cc.ctx AS DOUBLE))), 6)
        |         AS avg_bigram_logprob
        |FROM bg JOIN bc USING (big)
        |JOIN cc ON string_split(big, chr(1))[1] = cc.prev
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ppl_buckets" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(2, len(toks) + 1),
        |                               i -> toks[i-1] || chr(1) || toks[i])) AS big
        |  FROM d WHERE len(toks) >= 2
        |), bc AS (
        |  SELECT big, count(*) AS c FROM bg GROUP BY big
        |), cc AS (
        |  SELECT string_split(big, chr(1))[1] AS prev, sum(c) AS ctx
        |  FROM bc GROUP BY 1
        |), sc AS (
        |  SELECT bg.doc_id,
        |         ROUND(avg(ln(CAST(bc.c AS DOUBLE)) - ln(CAST(cc.ctx AS DOUBLE))), 6)
        |           AS avg_bigram_logprob
        |  FROM bg JOIN bc USING (big)
        |  JOIN cc ON string_split(big, chr(1))[1] = cc.prev
        |  GROUP BY bg.doc_id
        |), sl AS (
        |  SELECT sc.doc_id, docs.lang, sc.avg_bigram_logprob
        |  FROM sc JOIN documents docs USING (doc_id)
        |), b AS (
        |  SELECT lang,
        |         ROUND(quantile_cont(avg_bigram_logprob, 1.0/3), 6) AS b1,
        |         ROUND(quantile_cont(avg_bigram_logprob, 2.0/3), 6) AS b2
        |  FROM sl GROUP BY lang
        |)
        |SELECT sl.doc_id, sl.lang, sl.avg_bigram_logprob,
        |       CASE WHEN sl.avg_bigram_logprob <= b.b1 THEN 'tail'
        |            WHEN sl.avg_bigram_logprob <= b.b2 THEN 'middle'
        |            ELSE 'head' END AS ppl_bucket
        |FROM sl JOIN b USING (lang)
        |ORDER BY doc_id""".stripMargin,

    "q_dsir" ->
      s"""WITH $duckDsirWeights
         |SELECT doc_id, log_weight FROM w ORDER BY doc_id""".stripMargin,

    "q_dsir_select" ->
      s"""WITH $duckDsirWeights
         |SELECT doc_id, log_weight,
         |       ROUND(LN(LN(1.0 / ((CAST(('0x' ||
         |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |           % 10000 + 0.5) / 10000.0))), 6) - log_weight AS sample_key
         |FROM w
         |ORDER BY sample_key, doc_id LIMIT 40""".stripMargin,

    "q_nb_train" ->
      s"""WITH $duckNbModel
         |SELECT bucket, weight FROM model ORDER BY bucket""".stripMargin,

    "q_nb_score" ->
      s"""WITH $duckNbModel, toks AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096 AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
         |        FROM documents WHERE text IS NOT NULL)
         |)
         |SELECT t.doc_id, CAST(count(*) AS INT) AS n_tokens,
         |       ROUND(CAST(sum(CAST(m.weight AS DECIMAL(27,6))) AS DOUBLE)
         |             / count(*), 6) AS nb_logodds
         |FROM toks t JOIN model m USING (bucket)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "q_corpus_report" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
        |  CAST(SUM(CASE WHEN text IS NOT NULL
        |                THEN len(string_split(lower(text), ' ')) ELSE 0 END) AS BIGINT)
        |    AS total_tokens,
        |  ROUND(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
        |        / (count(*) - SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)), 6)
        |    AS dup_fraction,
        |  ROUND(CAST(SUM(CASE WHEN text IS NOT NULL
        |                      THEN len(string_split(lower(text), ' ')) ELSE 0 END) AS DOUBLE)
        |        / (count(*) - SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)), 6)
        |    AS avg_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_script_profile" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    length(text) - length(regexp_replace(text,
        |      '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS lat,
        |    length(text) - length(regexp_replace(text,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS cjk,
        |    length(text) - length(regexp_replace(text,
        |      '[\x{0400}-\x{04FF}]', '', 'g')) AS cyr,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
        |    length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS spc
        |  FROM documents WHERE doc_id < 300
        |)
        |SELECT doc_id, CAST(COALESCE(n, 0) AS INT) AS n_chars,
        |  CASE WHEN n > 0 THEN round(CAST(lat AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS frac_latin,
        |  CASE WHEN n > 0 THEN round(CAST(cjk AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS frac_cjk,
        |  CASE WHEN n > 0 THEN round(CAST(cyr AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS frac_cyrillic,
        |  CASE WHEN n > 0 THEN round(CAST(dig AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS frac_digit,
        |  CASE WHEN n > 0 THEN round(CAST(spc AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS frac_space,
        |  CASE WHEN n > 0 THEN round(CAST(n - lat - cjk - cyr - dig - spc AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS frac_other
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_zipf" ->
      """WITH u AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT w, count(*) AS c FROM u GROUP BY w
        |  ORDER BY c DESC, w LIMIT 500
        |), r AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM c
        |), t AS (
        |  SELECT
        |    CAST(round(ln(CAST(rk AS DOUBLE)), 12) AS DECIMAL(28,12)) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)), 12) AS DECIMAL(28,12)) AS y,
        |    CAST(round(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE)), 12)
        |         AS DECIMAL(28,12)) AS xx,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE)), 12)
        |         AS DECIMAL(28,12)) AS yy,
        |    CAST(round(ln(CAST(rk AS DOUBLE)) * ln(CAST(c AS DOUBLE)), 12)
        |         AS DECIMAL(28,12)) AS xy
        |  FROM r
        |), s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |         CAST(SUM(xx) AS DOUBLE) AS sxx, CAST(SUM(yy) AS DOUBLE) AS syy,
        |         CAST(SUM(xy) AS DOUBLE) AS sxy
        |  FROM t
        |)
        |SELECT CAST(n AS BIGINT) AS n_ranks,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
        |         AS intercept,
        |       round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
        |             ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,

    "q_collocations" ->
      """WITH d AS (
        |  SELECT string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), u AS (
        |  SELECT unnest(toks) AS w FROM d
        |), uc AS (
        |  SELECT w, count(*) AS c FROM u GROUP BY w
        |), bg AS (
        |  SELECT unnest(CASE WHEN len(toks) >= 2
        |       THEN list_transform(range(2, len(toks) + 1),
        |                           i -> toks[i-1] || chr(1) || toks[i])
        |       ELSE CAST([] AS VARCHAR[]) END) AS g
        |  FROM d
        |), bc AS (
        |  SELECT string_split(g, chr(1))[1] AS w1,
        |         string_split(g, chr(1))[2] AS w2,
        |         count(*) AS np
        |  FROM bg GROUP BY 1, 2
        |), tot AS (
        |  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM u) AS nu,
        |         (SELECT CAST(COALESCE(SUM(np), 0) AS DOUBLE) FROM bc) AS nb
        |)
        |SELECT w1, w2, CAST(np AS BIGINT) AS n_pair,
        |       round(ln((CAST(np AS DOUBLE) / nb) /
        |                ((CAST(c1.c AS DOUBLE) / nu) *
        |                 (CAST(c2.c AS DOUBLE) / nu))), 6) AS pmi
        |FROM bc JOIN uc c1 ON bc.w1 = c1.w JOIN uc c2 ON bc.w2 = c2.w, tot
        |WHERE np >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,

    "q_vocab_divergence" ->
      """WITH c AS (
        |  SELECT t, SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS ca,
        |            SUM(CASE WHEN g = 'de' THEN 1 ELSE 0 END) AS cb
        |  FROM (SELECT lang AS g, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE lang IN ('en', 'de') AND text IS NOT NULL)
        |  GROUP BY t
        |), tot AS (
        |  SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb,
        |         CAST(COUNT(*) AS DOUBLE) AS v,
        |         SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS va,
        |         SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS vb,
        |         SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS vs
        |  FROM c
        |), pq AS (
        |  SELECT (CAST(ca AS DOUBLE) + 0.5) / (na + 0.5 * v) AS p,
        |         (CAST(cb AS DOUBLE) + 0.5) / (nb + 0.5 * v) AS q,
        |         va, vb, vs
        |  FROM c, tot
        |), terms AS (
        |  SELECT CAST(round(p * ln(p / q), 12) AS DECIMAL(28,12)) AS kab,
        |         CAST(round(q * ln(q / p), 12) AS DECIMAL(28,12)) AS kba,
        |         CAST(round(p * ln(p / ((p + q) / 2.0)) / 2 +
        |                    q * ln(q / ((p + q) / 2.0)) / 2, 12)
        |              AS DECIMAL(28,12)) AS jt,
        |         va, vb, vs
        |  FROM pq
        |)
        |SELECT CAST(va AS BIGINT) AS n_vocab_a, CAST(vb AS BIGINT) AS n_vocab_b,
        |       CAST(vs AS BIGINT) AS n_vocab_shared,
        |       CAST(round(SUM(kab), 6) AS DOUBLE) AS kl_ab,
        |       CAST(round(SUM(kba), 6) AS DOUBLE) AS kl_ba,
        |       CAST(round(SUM(jt), 6) AS DOUBLE) AS jsd
        |FROM terms GROUP BY 1, 2, 3""".stripMargin,

    "q_tfidf_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |  FROM documents WHERE text IS NOT NULL AND doc_id < 300
        |), tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2
        |), dfq AS (
        |  SELECT t, count(*) AS df FROM tf GROUP BY 1
        |), w AS (
        |  SELECT tf.doc_id, tf.t,
        |         CAST(FLOOR(CAST(tf AS DOUBLE) * ln(300.0 / df) * 100000) AS BIGINT) AS q
        |  FROM tf JOIN dfq USING (t) WHERE df <= 0.5 * 300
        |), nrm AS (
        |  SELECT doc_id, SUM(q*q) AS ss FROM w GROUP BY 1
        |), dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.q * b.q) AS dot
        |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT id_a, id_b,
        |         ROUND(CAST(dot AS DOUBLE) /
        |               (sqrt(CAST(x.ss AS DOUBLE)) * sqrt(CAST(y.ss AS DOUBLE))), 6) AS cosine
        |  FROM dots JOIN nrm x ON x.doc_id = id_a JOIN nrm y ON y.doc_id = id_b
        |)
        |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), d AS (
        |  SELECT doc_id, len(toks) AS dl FROM docs
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |  FROM d
        |), m AS (
        |  SELECT doc_id, term
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
        |  WHERE term IN ('spark', 'shuffle', 'dup')
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM m GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        |  FROM m GROUP BY 1
        |), per AS (
        |  SELECT tf.doc_id,
        |         CAST(ROUND(
        |           ln(1.0 + ((SELECT n FROM st) - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |           (CAST(tf.tf AS DOUBLE) * 2.2) /
        |           (CAST(tf.tf AS DOUBLE) +
        |            1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) /
        |                          (SELECT avgdl FROM st))),
        |           6) AS DECIMAL(18,6)) AS s
        |  FROM tf JOIN dfq USING (term) JOIN d USING (doc_id)
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS n_terms_matched,
        |         CAST(sum(s) AS DOUBLE) AS bm25
        |  FROM per GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(d.dl AS INT) AS dl,
        |       coalesce(a.n_terms_matched, 0) AS n_terms_matched,
        |       coalesce(a.bm25, 0.0) AS bm25
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_bpe" -> duckBpeTrainCte(8),
    "q_bpe_apply" -> duckBpeApplyCte,
    "q_bpe_train_apply" -> duckBpeTrainApplyCte(8),

    "q_bbpe" -> duckBbpeTrainCte(8),
    "q_bbpe_apply" -> duckBbpeApplyCte,
    "q_bbpe_pretok" -> duckBbpePretokTrainCte(8),
    "q_bbpe_pretok_apply" -> duckBbpePretokTrainApplyCte(8),

    "q_wordpiece" -> duckWpTrainCte(8),
    "q_wordpiece_apply" -> duckWpApplyCte,
    "q_wordpiece_train_apply" -> duckWpTrainApplyCte(8),

    "q_unigram_apply" -> duckUnigramApplyCte,
    "q_unigram_lm" -> duckUnigramTrainCte(),
    "q_unigram_tokens" -> duckUnigramTrainTokensCte(),

    "q_pii_mask" ->
      s"""WITH p AS (
         |  SELECT doc_id, $duckPiiText AS ptext FROM documents
         |)
         |SELECT doc_id, ${duckMaskPii("ptext")} AS masked
         |FROM p ORDER BY doc_id""".stripMargin,

    "q_pii_report" -> {
      val pats = TextAnalysis.PiiPatterns
      val counts = pats
        .map { case (k, p, _) =>
          s"CAST(${duckPiiCount("ptext", p)} AS INT) AS n_$k"
        }
        .mkString(",\n       ")
      val total = pats.map(p => s"n_${p._1}").mkString(" + ")
      s"""WITH p AS (
         |  SELECT doc_id, $duckPiiText AS ptext FROM documents
         |), c AS (
         |  SELECT doc_id,
         |       $counts
         |  FROM p
         |)
         |SELECT doc_id, ${pats.map(p => s"n_${p._1}").mkString(", ")},
         |       CAST($total AS INT) AS n_pii
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "q_html_text" ->
      s"""WITH h AS (
         |  SELECT doc_id, $duckSyntheticHtml AS html FROM documents
         |)
         |SELECT doc_id, ${duckHtmlExtract("html")} AS extracted
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_html_pipeline" -> {
      val en = TextAnalysis.LangMarkers.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH h AS (
         |  SELECT doc_id, $duckSyntheticHtml AS html FROM documents
         |), x AS (
         |  SELECT doc_id, ${duckHtmlExtract("html")} AS text FROM h
         |), q AS (
         |  SELECT doc_id, CAST(nt AS INT) AS n_tokens,
         |         ${duckQualityExpr("nt", "pc", "stops")} AS quality
         |  FROM (
         |    SELECT doc_id, text,
         |           len(string_split(lower(text), ' ')) AS nt,
         |           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS pc,
         |           len(list_filter(string_split(lower(text), ' '),
         |               w -> list_contains([$en], w))) AS stops
         |    FROM x
         |  )
         |)
         |SELECT doc_id, n_tokens, quality FROM q
         |WHERE quality >= 0.5 ORDER BY doc_id""".stripMargin
    },

    "q_crawl_pipeline" -> {
      val en = TextAnalysis.LangMarkers.head._2.map(w => s"'$w'").mkString(", ")
      // the dedup chain reads the EXTRACTED main_text (restricted to
      // gated ids), exactly the strings the Spark side dedups — so a
      // future change to the synthetic page or corpus text shows up as an
      // operator divergence, not a silently-invalidated oracle
      s"""WITH h AS (
         |  SELECT doc_id, $duckSyntheticPageHtml AS page FROM documents
         |), ${duckMainContentCte(25, 330000L)}, q AS (
         |  SELECT doc_id, CAST(nt AS INT) AS n_tokens,
         |         ${duckQualityExpr("nt", "pc", "stops")} AS quality
         |  FROM (
         |    SELECT doc_id,
         |           len(string_split(lower(main_text), ' ')) AS nt,
         |           length(main_text) -
         |             length(regexp_replace(main_text, '[.,!?;:]', '', 'g')) AS pc,
         |           len(list_filter(string_split(lower(main_text), ' '),
         |               w -> list_contains([$en], w))) AS stops
         |    FROM mc
         |  )
         |), gt AS (
         |  SELECT doc_id, n_tokens, quality FROM q WHERE quality >= 0.5
         |), ${duckMinHashCommonFrom(
              "(SELECT doc_id, main_text AS text FROM mc " +
                "WHERE doc_id IN (SELECT doc_id FROM gt)) " +
                "WHERE text IS NOT NULL")}, $duckMinHashVerify
         |SELECT doc_id, n_tokens, quality FROM gt
         |WHERE doc_id NOT IN (SELECT ib FROM vp)
         |ORDER BY doc_id""".stripMargin
    },

    "q_main_content" ->
      s"""WITH h AS (
         |  SELECT doc_id, $duckSyntheticPageHtml AS page FROM documents
         |), ${duckMainContentCte(25, 330000L)}
         |SELECT doc_id, n_blocks, kept_blocks, main_text FROM mc
         |ORDER BY doc_id""".stripMargin,

    "q_url_parse" ->
      s"""WITH u AS (
         |  SELECT doc_id, $duckSyntheticUrl AS url FROM documents
         |), p AS (
         |  SELECT doc_id,
         |         lower(NULLIF(regexp_extract(url,
         |           '${graft.operators.Urls.ComponentRes("scheme")}', 1), ''))
         |           AS url_scheme,
         |         ${duckUrlHost("url")} AS url_host,
         |         CAST(NULLIF(regexp_extract(url,
         |           '${graft.operators.Urls.ComponentRes("port")}', 1), '')
         |           AS INT) AS url_port,
         |         NULLIF(regexp_extract(url,
         |           '${graft.operators.Urls.ComponentRes("path")}', 1), '')
         |           AS url_path,
         |         NULLIF(regexp_extract(url,
         |           '${graft.operators.Urls.ComponentRes("query")}', 1), '')
         |           AS url_query_string
         |  FROM u
         |)
         |SELECT doc_id, url_scheme, url_host, url_port, url_path,
         |       url_query_string,
         |       ${duckRegisteredDomain("url_host")} AS url_domain
         |FROM p ORDER BY doc_id""".stripMargin,

    "q_surt_key" -> {
      import graft.operators.Urls
      s"""WITH u AS (
         |  SELECT doc_id, $duckSyntheticUrl AS url FROM documents
         |), p AS (
         |  SELECT doc_id,
         |    lower(NULLIF(regexp_extract(url,
         |      '${Urls.ComponentRes("scheme")}', 1), '')) AS sch,
         |    regexp_replace(lower(NULLIF(regexp_extract(url,
         |      '${Urls.ComponentRes("host")}', 1), '')), '^www\\.', '') AS h,
         |    CAST(NULLIF(regexp_extract(url,
         |      '${Urls.ComponentRes("port")}', 1), '') AS INT) AS prt,
         |    COALESCE(NULLIF(regexp_extract(url,
         |      '${Urls.ComponentRes("path")}', 1), ''), '/') AS pth,
         |    NULLIF(regexp_extract(url,
         |      '${Urls.ComponentRes("query")}', 1), '') AS q
         |  FROM u
         |)
         |SELECT doc_id,
         |  CASE WHEN h IS NOT NULL AND length(h) > 0 THEN
         |    (CASE WHEN regexp_matches(h, '${Urls.IpHostRe}') THEN h
         |          ELSE array_to_string(list_reverse(string_split(h, '.')), ',')
         |     END)
         |    || (CASE WHEN prt IS NOT NULL AND NOT
         |               ((sch = 'http' AND prt = 80) OR
         |                (sch = 'https' AND prt = 443))
         |             THEN ':' || CAST(prt AS VARCHAR) ELSE '' END)
         |    || ')' || pth
         |    || (CASE WHEN q IS NOT NULL
         |             THEN '?' ||
         |               array_to_string(list_sort(string_split(q, '&')), '&')
         |             ELSE '' END)
         |  END AS urlkey
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "q_c4_lines" ->
      s"""WITH pg AS (
         |  SELECT doc_id, $duckSyntheticLinesPage AS page FROM documents
         |), l AS (
         |  SELECT doc_id, page, string_split(page, chr(10)) AS lines FROM pg
         |), k AS (
         |  SELECT doc_id, page, lines,
         |    list_filter(lines, x ->
         |      regexp_matches(trim(x), '[.!?"'']$$') AND
         |      len(regexp_extract_all(trim(x), '\\S+')) >= 5 AND
         |      NOT contains(lower(trim(x)), 'javascript')) AS kept
         |  FROM l
         |), c AS (
         |  SELECT doc_id, page, lines, kept,
         |         array_to_string(kept, chr(10)) AS clean
         |  FROM k
         |)
         |SELECT doc_id,
         |  CAST(len(lines) AS INT) AS n_lines,
         |  CAST(len(kept) AS INT) AS kept_lines,
         |  CAST(len(regexp_extract_all(clean, '[.!?]')) AS INT) AS n_sentences,
         |  COALESCE(len(regexp_extract_all(clean, '[.!?]')) >= 3 AND
         |           NOT contains(page, '{') AND
         |           NOT contains(lower(page), 'lorem ipsum'), FALSE) AS c4_keep,
         |  md5(clean) AS clean_md5
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_strip_invisibles" -> {
      val cls = duckCharClass(TextAnalysis.InvisiblesClass)
      s"""WITH i AS (
         |  SELECT doc_id, $duckSyntheticInvisibleText AS itext FROM documents
         |)
         |SELECT doc_id,
         |  CAST(length(itext) -
         |       length(regexp_replace(itext, '[$cls]', '', 'g')) AS INT)
         |    AS n_invisibles,
         |  md5(regexp_replace(itext, '[$cls]', '', 'g')) AS stripped_md5
         |FROM i ORDER BY doc_id""".stripMargin
    },

    // the oracle states the EXPECTED repair output directly: mojibaked
    // docs must come back as the per-family original (GBK / Shift_JIS
    // tiers included), clean docs unchanged
    "q_fix_encoding" ->
      s"""SELECT doc_id,
         |  md5(CASE WHEN doc_id % 9 = 0
         |      THEN '$CjkGbkGood doc ' || CAST(doc_id AS VARCHAR)
         |      WHEN doc_id % 9 = 3
         |      THEN '$CjkSjisGood doc ' || CAST(doc_id AS VARCHAR)
         |      WHEN doc_id % 3 = 0
         |      THEN $duckSyntheticAccentedText
         |      ELSE text END) AS fixed_md5,
         |  doc_id % 3 = 0 AS was_mojibaked
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_block_phrases" -> {
      val byLen = PhraseFixture
        .map(_.toLowerCase.trim.split("\\s+").mkString(" "))
        .distinct
        .groupBy(_.split(" ").length)
      val terms = byLen.toSeq.sortBy(_._1).map { case (k, ps) =>
        val lst = ps.map(p => s"'$p'").mkString(", ")
        val grams =
          if (k == 1) "t"
          else
            s"list_transform(range(1, len(t) - ${k - 2}), " +
              s"i -> array_to_string(t[i:i+${k - 1}], ' '))"
        s"len(list_filter($grams, g -> list_contains([$lst], g)))"
      }
      val total = terms.mkString(" + ")
      s"""WITH tk AS (
         |  SELECT doc_id, text, string_split(lower(text), ' ') AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CASE WHEN text IS NULL THEN NULL
         |       ELSE CAST($total AS INT) END AS n_blocked_spans,
         |  COALESCE(text IS NOT NULL AND ($total) > 0, FALSE)
         |    AS has_blocked_phrase
         |FROM tk ORDER BY doc_id""".stripMargin
    },

    "q_blockwords" -> {
      val ws = BlockwordFixture.map(w => s"'$w'").mkString(", ")
      val hits =
        s"len(list_filter(string_split(lower(text), ' '), t -> list_contains([$ws], t)))"
      s"""SELECT doc_id,
         |  CASE WHEN text IS NULL THEN NULL
         |       ELSE CAST($hits AS INT) END AS n_blockword_tokens,
         |  COALESCE($hits > 0, FALSE) AS has_blockword
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_domain_cap" ->
      s"""WITH u AS (
         |  SELECT doc_id, $duckSyntheticUrl AS url FROM documents
         |), d AS (
         |  SELECT doc_id,
         |         ${duckRegisteredDomain(duckUrlHost("url"))} AS url_domain,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |              AS BIGINT) % 10000 AS bk
         |  FROM u
         |), r AS (
         |  SELECT doc_id, url_domain,
         |         ROW_NUMBER() OVER (PARTITION BY url_domain
         |                            ORDER BY bk, doc_id) AS rn
         |  FROM d
         |)
         |SELECT doc_id, url_domain FROM r WHERE rn <= 3
         |ORDER BY doc_id""".stripMargin,

    "q_domain_dedup" ->
      s"""WITH u AS (
         |  SELECT doc_id, $duckSyntheticUrl AS url FROM documents
         |), dmn AS (
         |  SELECT doc_id,
         |         ${duckRegisteredDomain(duckUrlHost("url"))} AS url_domain,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |              AS BIGINT) % 10000 AS bk
         |  FROM u
         |), cap AS (
         |  SELECT doc_id, url_domain FROM (
         |    SELECT doc_id, url_domain,
         |           ROW_NUMBER() OVER (PARTITION BY url_domain
         |                              ORDER BY bk, doc_id) AS rn
         |    FROM dmn
         |  ) WHERE rn <= 5
         |), ${duckMinHashCommonWhere(
              " AND doc_id IN (SELECT doc_id FROM cap)")}, losers AS (
         |  SELECT doc_id AS ib FROM ex WHERE doc_id > sig_min
         |  UNION
         |  SELECT ib FROM cl WHERE est >= 0.9
         |)
         |SELECT doc_id, url_domain FROM cap
         |WHERE doc_id NOT IN (SELECT ib FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "q_url_filter" -> {
      val h = duckUrlHost("url")
      s"""WITH u AS (
         |  SELECT doc_id, $duckSyntheticUrl AS url FROM documents
         |)
         |SELECT doc_id, url FROM u
         |WHERE ${duckHostMatches(h, UrlFilterAllow)}
         |  AND NOT ${duckHostMatches(h, UrlFilterBlock)}
         |ORDER BY doc_id""".stripMargin
    },

    "q_domain_stats" ->
      s"""WITH u AS (
         |  SELECT doc_id, $duckSyntheticUrl AS url FROM documents
         |), d AS (
         |  SELECT ${duckRegisteredDomain(duckUrlHost("url"))} AS domain
         |  FROM u
         |), g AS (
         |  SELECT domain, count(*) AS n_docs FROM d GROUP BY domain
         |)
         |SELECT domain, n_docs,
         |       ROUND(CAST(n_docs AS DOUBLE) /
         |             (SELECT SUM(n_docs) FROM g), 6) AS share
         |FROM g ORDER BY n_docs DESC, domain""".stripMargin
  )
}
