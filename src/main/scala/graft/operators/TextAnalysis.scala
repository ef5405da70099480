package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, fingerprinting (north-star extension; SURVEY.md §7
  * `graft.scale`). All per-row Column expressions — no shuffle, no UDFs.
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/stopword heuristic.
    * Deliberately small & explicit so the oracle SQL can embed them.
    * Twelve Latin-script languages; cross-language collisions (es/fr both
    * carry "de", nl shares "de" with de) are fine because the argmax
    * breaks ties by LIST ORDER, mirrored exactly in the oracle's CASE
    * chain. Script-exclusive languages (CJK, Cyrillic, Arabic, …) have no
    * useful whitespace-token markers and route through [[ScriptLangs]]. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des"),
    "it" -> Seq("il", "che", "di", "per", "con", "una"),
    "pt" -> Seq("o", "os", "uma", "não", "são", "com"),
    "nl" -> Seq("het", "een", "van", "niet", "zijn", "voor"),
    "pl" -> Seq("się", "na", "jest", "nie", "z", "do"),
    "sv" -> Seq("och", "att", "det", "som", "på", "för"),
    "tr" -> Seq("bir", "ve", "bu", "için", "da", "ile"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk"),
    "ro" -> Seq("și", "cu", "este", "pentru", "care", "din")
  )

  /** Script-exclusive fallback languages for [[langId]], in PRIORITY
    * order, each with the Unicode ranges (literal characters, so the same
    * class string drives Java regex and — rendered as `\x{…}` — RE2 in
    * the oracle) that are near-unique to the language's script. A
    * language fires when its script covers >= 20% of the characters
    * (integer ppm-style compare `5 * count >= n_chars` — exact in both
    * engines); kana before Han means Japanese text (kana-rich) routes to
    * `ja` while kana-free Han text routes to `zh`. Coverage, not
    * presence: one stray CJK char in Latin junk must not flag `ja`. */
  val ScriptLangs: Seq[(String, String)] = Seq(
    "ja" -> "\u3040-\u30FF", // hiragana + katakana
    "zh" -> "\u4E00-\u9FFF", // CJK unified ideographs
    "ko" -> "\uAC00-\uD7AF\u1100-\u11FF", // hangul syllables + jamo
    "ru" -> "\u0400-\u04FF", // cyrillic
    "ar" -> "\u0600-\u06FF", // arabic
    "hi" -> "\u0900-\u097F", // devanagari
    "el" -> "\u0370-\u03FF", // greek
    "he" -> "\u0590-\u05FF", // hebrew
    "th" -> "\u0E00-\u0E7F" // thai
  )

  /** Tokens equal to any of `words`, counted by the fused native
    * [[graft.plans.MarkerScoresExpr]] over the raw text (same counts as
    * the HOF-filter form — ScaleSpec parity). The HOF alternative
    * (`size(filter(toks, ...))`) plans as ArrayFilter, a CodegenFallback
    * that re-enters interpreted eval per ROW with an OR-chain per token —
    * measurably slower wherever the consumer is a per-row pipeline that a
    * presentation ORDER BY evaluates twice (range-boundary sampling). */
  private def markerCount(text: Column, words: Seq[String]): Column =
    element_at(
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.MarkerScoresExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(text),
          Seq(words)
        )
      ),
      1
    )

  /** Language-ID heuristic: count marker-stopword hits per language, pick
    * the argmax (first in LangMarkers order on ties); when NO marker hits
    * at all, fall back to the [[ScriptLangs]] script-coverage routing
    * (the [[scriptProfile]] signal composed into a decision), and
    * 'unknown' only when neither tier fires. Adds `lang_pred` plus
    * per-language score columns `score_<lang>` for the marker languages.
    * One per-row codegen'd expression tree — no shuffle, no UDF: marker
    * scores come from ONE tokenize pass (MarkerScoresExpr) and script
    * coverage from ONE code-point pass (ScriptRangeCountsExpr) instead of
    * 12 interpreted HOF filters + 9 regex re-scans — same counts
    * (ScaleSpec parity), ~2x the whole-query throughput at sf0.1. */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val markerScores = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.MarkerScoresExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
        LangMarkers.map(_._2)
      )
    )
    val scored = LangMarkers.zipWithIndex.foldLeft(df) {
      case (d, ((lang, _), i)) =>
        d.withColumn(s"score_$lang", element_at(markerScores, i + 1))
    }
    val scores = LangMarkers.map { case (lang, _) => col(s"score_$lang") }
    val best = scores.reduce((a, b) => greatest(a, b))
    val n = length(col(textCol))
    // ALL script-coverage counts from ONE code-point traversal
    // (ScriptRangeCountsExpr) instead of 9 regexp_replace re-scans of the
    // text — count semantics identical to
    // `n - length(regexp_replace(text, "[ranges]", ""))` per script
    // (asserted against the regex form in ScaleSpec), so the DuckDB
    // oracle's per-script regex classes remain the ground truth
    val scriptCounts = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.ScriptRangeCountsExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
        ScriptLangs.map(_._2)
      )
    )
    val scriptPred = ScriptLangs.zipWithIndex
      .foldRight(lit("unknown"): Column) { case (((lang, _), i), rest) =>
        when(n > 0 && element_at(scriptCounts, i + 1) * lit(5) >= n, lit(lang))
          .otherwise(rest)
      }
    val pred = LangMarkers
      .foldRight(scriptPred) { case ((lang, _), rest) =>
        when(col(s"score_$lang") === best && best > 0, lit(lang)).otherwise(rest)
      }
    scored.withColumn("lang_pred", pred)
  }

  /** Per-document character-level Shannon entropy (bits): low entropy
    * flags gibberish, padding runs, and template spam that length/stopword
    * heuristics miss; very high entropy flags binary-in-text. The classic
    * cheap companion signal to [[qualityScore]] — threshold downstream
    * with a plain filter. Documents with NULL/empty text are absent.
    *
    * Exactness: character counts are integers; the entropy sum runs over
    * the per-(doc, char) count table in DOUBLES but each term is
    * quantized to 9 decimals and summed in decimal — order-independent
    * and engine-reproducible; the final value is rounded to 6.
    *
    * Scale shape: explode characters → (doc, char) hash aggregate
    * (map-side combined, keys subdivide documents) → per-doc aggregate
    * joined with the doc-length count. No windows, no sorts.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per-row pre-aggregated char counts (graft.plans.CharCountsExpr) —
    // bit-identical totals to exploding every character through the
    // (id, char) aggregate (ScaleSpec parity incl. surrogate pairs), but
    // the explode ships one row per DISTINCT char per row (~40) instead
    // of one per occurrence (~2.4k); the aggregate below still merges
    // duplicate-id rows exactly as before
    val charCounts = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.CharCountsExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col(textCol))
      )
    )
    val counts = ScanUtils
      .withScanParallelism(df)
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), explode(charCounts).as("__e"))
      .select(col(idCol), col("__e.ch").as("__ch"), col("__e.c").as("__pc"))
      .groupBy(col(idCol), col("__ch"))
      .agg(sum("__pc").as("__c"))
    val totals = counts
      .groupBy(col(idCol))
      .agg(sum("__c").as("__t"))
    counts
      .join(totals, Seq(idCol))
      .select(
        col(idCol),
        col("__t"),
        // -p * log2(p), quantized per term BEFORE the sum
        round(
          -(col("__c").cast("double") / col("__t")) *
            (log(col("__c").cast("double") / col("__t")) / log(lit(2.0))),
          9
        ).cast("decimal(19,9)").as("__h")
      )
      // __t is functionally dependent on the id — grouping on both avoids
      // a first() pick and keeps the aggregate deterministic by shape
      .groupBy(col(idCol), col("__t"))
      // round the DECIMAL sum, THEN cast: rounding after the double cast
      // is engine-divergent on exact decimal halves (a 9-decimal sum hits
      // x.xxxxxx5 about 1/1000 rows; Spark's round works on the double's
      // shortest decimal string, DuckDB's on its exact binary value, and
      // they disagree on which side of the half such a double sits —
      // caught by the sf0.1 oracle gate, 3/5000 docs)
      .agg(round(sum("__h"), 6).cast("double").as("char_entropy"))
      .select(
        col(idCol),
        col("__t").cast("int").as("n_chars"),
        col("char_entropy")
      )
  }

  /** Corpus-level token entropy report — unigram entropy H1, adjacent
    * within-document bigram entropy H2, and the order-2 conditional
    * entropy `H(next | prev) = H2 - H1` (Shannon's entropy-rate estimate):
    * the REDUNDANCY diagnostic a per-document signal can't see. Heavily
    * templated or repetitive corpora have low conditional entropy even
    * when H1 looks healthy, because the next token is predictable from
    * the previous one. Returns ONE row: (n_tokens, n_types,
    * unigram_entropy, n_bigrams, n_bigram_types, bigram_entropy,
    * cond_entropy), entropies in bits; the corpus-level companion to the
    * per-document [[charEntropy]].
    *
    * Exactness: each `-p log2 p` term is quantized to 9 decimals and
    * summed in DECIMAL (the [[charEntropy]] policy — order-independent,
    * engine-portable); cond_entropy subtracts the two UNROUNDED decimal
    * sums before its own round-6. Empty and single-token documents
    * contribute no bigrams; a corpus with no bigrams reports NULL
    * bigram/conditional entropies. NOTE this is the plug-in estimate:
    * on tiny or extremely templated corpora it can go slightly NEGATIVE
    * (the empirical bigram distribution is more concentrated than its
    * unigram marginals imply) — read anything at or below 0 as maximal
    * redundancy.
    *
    * Scale shape: two map-side-combined hash aggregates (token counts,
    * zip_with-built bigram counts — never a per-element re-tokenization,
    * never a window) with one-row totals crossJoined broadcast. */
  def corpusEntropy(df: DataFrame, textCol: String): DataFrame = {
    val docs = ScanUtils
      .withScanParallelism(df)
      .filter(col(textCol).isNotNull)
    val toks = tokens(col(textCol))
    val uni = docs
      .select(explode(toks).as("__w"))
      .groupBy("__w")
      .agg(count(lit(1)).as("__c"))
    val bi = docs
      .select(
        explode(
          when(
            size(toks) >= 2,
            zip_with(
              slice(toks, lit(1), size(toks) - 1),
              slice(toks, lit(2), size(toks) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2"))
            )
          ).otherwise(array().cast("array<struct<w1:string,w2:string>>"))
        ).as("__p")
      )
      .groupBy(col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
      .agg(count(lit(1)).as("__c"))
    def entropyOf(counts: DataFrame): DataFrame = {
      val t = counts.agg(
        coalesce(sum("__c"), lit(0L)).as("__t"),
        count(lit(1)).as("__types")
      )
      // ungrouped one-row sum, so a corpus with NO counts still yields
      // its report row (with a NULL entropy) instead of vanishing
      val hs = counts
        .crossJoin(broadcast(t))
        .select(
          round(
            -(col("__c").cast("double") / col("__t")) *
              (log(col("__c").cast("double") / col("__t")) / log(lit(2.0))),
            9
          ).cast("decimal(19,9)").as("__h")
        )
        .agg(sum("__h").as("__hsum"))
      t.crossJoin(hs)
    }
    val h1 = entropyOf(uni).select(
      col("__t").as("n_tokens"),
      col("__types").as("n_types"),
      col("__hsum").as("__h1")
    )
    val h2 = entropyOf(bi).select(
      col("__t").as("n_bigrams"),
      col("__types").as("n_bigram_types"),
      col("__hsum").as("__h2")
    )
    h1.crossJoin(broadcast(h2))
      .select(
        col("n_tokens"),
        col("n_types"),
        // DECIMAL-first rounding — see charEntropy's half-boundary note
        round(col("__h1"), 6).cast("double").as("unigram_entropy"),
        col("n_bigrams"),
        col("n_bigram_types"),
        round(col("__h2"), 6).cast("double").as("bigram_entropy"),
        round(col("__h2") - col("__h1"), 6).cast("double").as("cond_entropy")
      )
  }

  /** Quality heuristics: length, token count, mean token length, punctuation
    * ratio, stopword ratio, and a composite `quality` in [0,1]. Integer
    * counts and deterministic double arithmetic only (oracle-exact). */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val nChars = length(text)
    val nTokens = size(toks)
    // translate, not regexp_replace: identical count (strip the same six
    // characters) without a per-row regex engine pass
    val punct = nChars - length(translate(text, ".,!?;:", ""))
    val stops = markerCount(text, LangMarkers.head._2)
    df.withColumn("n_chars_calc", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn(
        "mean_token_len",
        (nChars - (nTokens - lit(1))).cast("double") / nTokens
      )
      .withColumn("punct_count", punct)
      .withColumn("stopword_ratio", stops.cast("double") / nTokens)
      .withColumn(
        "quality",
        round(
          least(
            lit(1.0),
            (stops.cast("double") / nTokens) * 2.0 +
              when(nTokens >= 20 && nTokens <= 2000, 0.5).otherwise(0.2) +
              when(punct === 0, 0.1).otherwise(0.0)
          ),
          6
        )
      )
  }

  /** Gopher-style quality rule battery (Rae et al. 2021, Appendix A —
    * the widely reproduced heuristic filter set), simplified to
    * whitespace tokens so every rule is a per-row codegen'd expression
    * with an exact SQL oracle. Adds one boolean flag per rule plus
    * `gopher_keep` (AND of all flags); rows are FLAGGED, not dropped —
    * filter on `gopher_keep` to apply. NULL text yields NULL flags.
    *
    *  - `word_count_ok`:    minTokens <= token count <= maxTokens
    *  - `mean_word_len_ok`: mean token length in [minMeanWordLen,
    *                        maxMeanWordLen]
    *  - `symbol_ratio_ok`:  ('#' chars + '...' occurrences) / tokens
    *                        <= maxSymbolRatio
    *  - `alpha_ratio_ok`:   fraction of tokens containing a letter
    *                        >= minAlphaFrac
    *  - `stopword_ok`:      at least minStopwords distinct marker
    *                        stopwords present
    *
    * Defaults are the paper's thresholds. Pure per-row arithmetic — no
    * shuffle, no UDFs; at 100 TB this is a single codegen'd map over the
    * scan. */
  def gopherQualityFlags(
      df: DataFrame,
      textCol: String,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2
  ): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val n = size(toks)
    val nChars = length(text)
    // whitespace tokens: total token chars = chars minus the n-1 spaces
    val meanLen = (nChars - (n - lit(1))).cast("double") / n
    val hashes = nChars - length(replace(text, lit("#"), lit("")))
    val ellipses = (nChars - length(replace(text, lit("..."), lit("")))) / lit(3)
    val symRatio = (hashes + ellipses).cast("double") / n
    val alphaFrac =
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / n
    val stopsPresent = size(
      filter(
        typedlit(LangMarkers.head._2),
        w => array_contains(toks, w)
      )
    )
    df.withColumn("word_count_ok", n.between(minTokens, maxTokens))
      .withColumn(
        "mean_word_len_ok",
        meanLen.between(minMeanWordLen, maxMeanWordLen)
      )
      .withColumn("symbol_ratio_ok", symRatio <= maxSymbolRatio)
      .withColumn("alpha_ratio_ok", alphaFrac >= minAlphaFrac)
      .withColumn("stopword_ok", stopsPresent >= minStopwords)
      .withColumn(
        "gopher_keep",
        col("word_count_ok") && col("mean_word_len_ok") &&
          col("symbol_ratio_ok") && col("alpha_ratio_ok") &&
          col("stopword_ok")
      )
  }

  /** Blockword report — the C4-style "bad word list" gate (C4 drops any
    * page containing a word from a public profanity list; the same shape
    * filters medical/PII/spam vocabularies). Counts TOKEN matches against
    * the lowercased list (whole-token equality — `class` never matches
    * `classic`, the failure mode of substring blocklists) and adds
    * `n_blockword_tokens` (occurrence count) + `has_blockword`. NULL text
    * yields NULL count and false flag (no tokens — nothing to match).
    *
    * Per-row cost is one `InSet`-compiled membership probe per token
    * (list sizes in the thousands are a task-binary constant, never a
    * join); pure codegen, no shuffle — a free rider on the first corpus
    * scan, like every gate in this object. */
  def blockwordReport(
      df: DataFrame,
      textCol: String,
      words: Seq[String]
  ): DataFrame = {
    require(words.nonEmpty, "blockword list must not be empty")
    val lowered = words.map(_.toLowerCase).distinct
    val hits = size(filter(tokens(col(textCol)), t => t.isin(lowered: _*)))
    df.withColumn(
        "n_blockword_tokens",
        when(col(textCol).isNull, lit(null).cast("int")).otherwise(hits)
      )
      .withColumn("has_blockword", coalesce(hits > 0, lit(false)))
  }

  /** Drop every document containing a blockword ([[blockwordReport]]
    * semantics); NULL-text rows survive — they cannot match. */
  def filterBlockwords(
      df: DataFrame,
      textCol: String,
      words: Seq[String]
  ): DataFrame = {
    require(words.nonEmpty, "blockword list must not be empty")
    val lowered = words.map(_.toLowerCase).distinct
    // explicit NULL guard: under legacy sizeOfNull, size(NULL) is -1, and
    // a NULL-text row must survive regardless of that config
    df.filter(
      col(textCol).isNull ||
        size(filter(tokens(col(textCol)), t => t.isin(lowered: _*))) === 0
    )
  }

  /** C4-style line-level page cleaning (the T5 paper's recipe): keep only
    * lines that END IN TERMINAL PUNCTUATION (period/!/?/closing quote),
    * carry at least `minWordsPerLine` words, and do not mention
    * "javascript" (the cookie/JS-warning boilerplate tell); then flag the
    * page KEEP-able iff the cleaned text still has >= `minSentences`
    * terminal marks, the original contains no `{` (code tell), and no
    * "lorem ipsum" (template tell). Adds `outCol` (kept lines joined by
    * newline), `n_lines`, `kept_lines`, `n_sentences`, `c4_keep`. NULL
    * text -> NULL outputs, `c4_keep` false. Span-level dedup (the
    * recipe's other half) is [[spanDedup]]/[[chunkDedup]].
    *
    * One per-row codegen'd split→filter→join expression tree —
    * RE2-portable, no UDF, no shuffle: rides the first corpus scan. */
  def c4LineFilter(
      df: DataFrame,
      textCol: String,
      minWordsPerLine: Int = 5,
      minSentences: Int = 3,
      outCol: String = "clean_text"
  ): DataFrame = {
    require(minWordsPerLine >= 1, "minWordsPerLine must be >= 1")
    require(minSentences >= 0, "minSentences must be >= 0")
    val conflicts = Seq(outCol, "n_lines", "kept_lines", "n_sentences", "c4_keep")
      .filter(df.columns.contains)
    require(conflicts.isEmpty, s"output column(s) ${conflicts.mkString(", ")} already exist")
    val text = col(textCol)
    val lines = split(text, "\n")
    def lineOk(l: Column): Column = {
      val t = trim(l)
      t.rlike("[.!?\"']$") &&
        regexp_count(t, lit("\\S+")) >= minWordsPerLine &&
        !lower(t).contains("javascript")
    }
    val kept = filter(lines, lineOk(_))
    val clean = array_join(kept, "\n")
    def guardInt(c: Column): Column =
      when(text.isNull, lit(null).cast("int")).otherwise(c.cast("int"))
    df.withColumn(outCol, when(text.isNull, lit(null).cast("string")).otherwise(clean))
      .withColumn("n_lines", guardInt(size(lines)))
      .withColumn("kept_lines", guardInt(size(kept)))
      .withColumn("n_sentences", guardInt(regexp_count(clean, lit("[.!?]"))))
      .withColumn(
        "c4_keep",
        coalesce(
          regexp_count(clean, lit("[.!?]")) >= minSentences &&
            !text.contains("{") &&
            !lower(text).contains("lorem ipsum"),
          lit(false)
        )
      )
  }

  /** Character-class body (literal chars) of the invisible/format
    * characters [[stripInvisibles]] removes: zero-width space/joiner/
    * non-joiner, word joiner, BOM/ZWNBSP, soft hyphen, and the C0/DEL
    * controls except tab/newline/carriage-return (which are real
    * whitespace structure). Shared with the oracle via
    * `QueryShared.duckCharClass`. */
  val InvisiblesClass: String =
    "\u200B\u200C\u200D\u2060\uFEFF\u00AD" +
      "\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F"

  /** Strip invisible/format characters — the crawl-cleaning step that
    * catches zero-width-joined spam, soft-hyphenated words that break
    * tokenization, BOM residue, and raw control bytes decoded into text.
    * Adds `outCol` (cleaned text) and `n_invisibles` (characters
    * removed). NULL text stays NULL with NULL count. One per-row
    * codegen'd regexp_replace — no shuffle. */
  def stripInvisibles(
      df: DataFrame,
      textCol: String,
      outCol: String = "stripped"
  ): DataFrame = {
    require(df.columns.contains(textCol), s"column '$textCol' does not exist")
    require(
      !df.columns.contains(outCol) && !df.columns.contains("n_invisibles"),
      "output columns already exist"
    )
    val cleaned = regexp_replace(col(textCol), s"[$InvisiblesClass]", "")
    df.withColumn(outCol, cleaned)
      .withColumn(
        "n_invisibles",
        (length(col(textCol)) - length(cleaned)).cast("int")
      )
  }

  /** Mojibake repair (ftfy-lite) — undo UTF-8-read-as-windows-1252/latin-1
    * double encoding ("Ã©" → "é", "â€™" → "'"), the artifact that
    * survives even CORRECT decoding of pages whose bytes were mislabeled
    * upstream of the crawl. The standard cleaning stage between HTML
    * extraction and quality scoring: without it, mojibake'd pages get
    * scored, language-ID'd, and deduped on garbage characters.
    *
    * Semantics (graft.plans.EncodingUtils.fixEncoding): gate on a
    * lead-byte+continuation-byte mojibake PAIR (U+00C2-U+00F4 followed by
    * a char a UTF-8 continuation byte misreads to — genuine "café" never
    * forms the pair), then inverse-map the WHOLE string to its
    * windows-1252/latin-1 bytes and strictly re-decode as UTF-8;
    * any unmappable char or malformed byte aborts the repair and returns
    * the input unchanged. Runs to a fixed point (≤4 rounds), so
    * doubly-double-encoded text repairs fully and the operator is
    * idempotent. NULL stays NULL.
    *
    * Implementation tier: a native codegen'd Expression, not
    * mapPartitions — the repair is a pure per-row function with no model
    * or codec state to amortize, so the expression tier keeps it inside
    * whole-stage codegen with zero per-partition setup; built-ins can't
    * express it (Spark's decode/encode error on malformed bytes and
    * can't do the conditional byte-level inverse mapping). No shuffle. */
  def fixEncodingColumn(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.FixEncodingExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(text)
      )
    )

  /** [[fixEncodingColumn]] over a DataFrame: adds `outCol` with the
    * repaired text (unchanged when no mojibake is detected). */
  def fixEncoding(
      df: DataFrame,
      textCol: String,
      outCol: String = "fixed_text"
  ): DataFrame = {
    require(df.columns.contains(textCol), s"column '$textCol' does not exist")
    require(
      !df.columns.contains(outCol),
      s"output column '$outCol' already exists"
    )
    df.withColumn(outCol, fixEncodingColumn(col(textCol)))
  }

  /** Phrase blocklist — the multi-token upgrade over [[blockwordReport]]:
    * each phrase is normalized to its lowercase token sequence and
    * matched as a WHOLE k-shingle (token-boundary exact, never a
    * substring), counting occurrences with multiplicity. Adds
    * `n_blocked_spans` + `has_blocked_phrase`; NULL text yields NULL
    * count and false flag. Per-row cost is one shingle pass per DISTINCT
    * phrase length with an InSet probe per shingle — phrase lists in the
    * thousands stay task-binary constants. */
  def blockPhraseReport(
      df: DataFrame,
      textCol: String,
      phrases: Seq[String]
  ): DataFrame = {
    val total = blockedSpanCount(col(textCol), phrases)
    df.withColumn(
        "n_blocked_spans",
        when(col(textCol).isNull, lit(null).cast("int"))
          .otherwise(total.cast("int"))
      )
      .withColumn(
        "has_blocked_phrase",
        coalesce(col(textCol).isNotNull && total > 0, lit(false))
      )
  }

  /** Drop every document containing a blocked phrase
    * ([[blockPhraseReport]] semantics); NULL-text rows survive. */
  def filterBlockPhrases(
      df: DataFrame,
      textCol: String,
      phrases: Seq[String]
  ): DataFrame = {
    val total = blockedSpanCount(col(textCol), phrases)
    df.filter(col(textCol).isNull || total === 0)
  }

  /** One-pass native phrase-span count (graft.plans.BlockedSpansExpr) —
    * replaced the per-distinct-length `size(filter(shingles(text, k),
    * isin))` HOF chains, which interpreted-built every k-shingle string
    * of the document (ScaleSpec asserts count parity with that form;
    * q_block_phrases oracle unchanged). */
  private def blockedSpanCount(text: Column, phrases: Seq[String]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.BlockedSpansExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(text),
        phrases
      )
    )

  /** The composed-HOF form of [[blockedSpanCount]], kept as the parity
    * ground truth the native expression is asserted against (ScaleSpec). */
  private[graft] def blockedSpanCountHof(
      text: Column,
      phrases: Seq[String]
  ): Column = {
    require(phrases.nonEmpty, "phrase list must not be empty")
    val byLen: Map[Int, Seq[String]] = phrases
      .map(_.toLowerCase.trim.split("\\s+").mkString(" "))
      .filter(_.nonEmpty)
      .distinct
      .groupBy(_.split(" ").length)
    require(byLen.nonEmpty, "phrase list is empty after normalization")
    byLen.toSeq
      .sortBy(_._1)
      .map { case (k, ps) =>
        size(filter(shingles(text, k), g => g.isin(ps: _*)))
      }
      .reduce(_ + _)
  }

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    df.withColumn("ws_tokens", size(tokens(text)))
      .withColumn(
        "bpe_ish_tokens",
        regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
      )
  }

  /** Document fingerprints: md5 of canonical text plus a winnowing-style
    * min-shingle-hash (k=3). */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    // per-row-expensive (one md5 per shingle): spread a narrow-split scan
    // across cores; at real scale input splits exceed cores and this
    // no-ops (ScanUtils contract — consumers are per-row, order-free)
    ScanUtils
      .withScanParallelism(df)
      .withColumn("fp_md5", fingerprint(col(textCol)))
      .withColumn("fp_min_shingle", minShingleFingerprint(col(textCol), 3))

  /** Corpus term statistics — vocabulary building: top-k terms by document
    * frequency with collection frequency alongside.
    *
    * Scale shape: explode -> per-(doc, term) dedupe happens inside ONE hash
    * aggregate keyed by term (count(*) = collection freq, count(distinct
    * doc) = doc freq) with map-side partial aggregation absorbing the
    * explode; the global top-k is a WindowGroupLimit-bounded rank, not a
    * full sort. */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val exploded = df.select(
      col(idCol).as("__doc"),
      explode(tokens(col(textCol))).as("term")
    )
    val stats = exploded
      .groupBy("term")
      .agg(
        count(lit(1)).as("coll_freq"),
        countDistinct("__doc").as("doc_freq")
      )
    TopN.firstRow(
      stats,
      n = k,
      orderBy = Seq(col("doc_freq").desc, col("coll_freq").desc, col("term")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** Corpus n-gram frequency table — the raw material of n-gram LM
    * estimation (KenLM-style count files), collocation screens, and
    * contamination gram stores: one row per distinct word n-gram with its
    * collection frequency and document frequency, pruned at `minCount`
    * (Katz-style count cutoff — at corpus scale the singleton tail IS the
    * table, so the prune rides the aggregate, not a second pass).
    *
    * Scale shape: gram enumeration is the per-row codegen'd [[shingles]]
    * fold (no O(len²) lambda re-evaluation); ONE map-side-combined
    * aggregate keyed by the gram carries (count, partial doc count).
    * `topK = 0` keeps every surviving gram (the LM-prep shape, write the
    * result out); `topK > 0` ranks deterministically via TakeOrdered —
    * never a global sort. */
  def ngramCounts(
      df: DataFrame,
      textCol: String,
      n: Int,
      minCount: Long = 1L,
      topK: Int = 0
  ): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(minCount >= 1L, "minCount must be >= 1")
    // doc identity BEFORE the explode: in the same projection as a
    // generator, monotonically_increasing_id would number the generated
    // rows (doc_freq would equal coll_freq)
    val withDoc = ScanUtils
      .withScanParallelism(df)
      .select(monotonically_increasing_id().as("__doc"), col(textCol))
    val exploded = withDoc.select(
      col("__doc"),
      explode(shingles(col(textCol), n)).as("ngram")
    )
    val counts = exploded
      .groupBy("ngram")
      .agg(
        count(lit(1)).as("coll_freq"),
        countDistinct("__doc").as("doc_freq")
      )
      .filter(col("coll_freq") >= minCount)
    if (topK <= 0) counts
    else
      TopN.firstRow(
        counts,
        n = topK,
        orderBy = Seq(col("coll_freq").desc, col("ngram")),
        returnIndexColumn = true,
        indexColumnName = "rank"
      )
  }

  /** Tokenizer vocabulary coverage: per document, the whitespace-token
    * count, how many of those tokens are OUT of the supplied vocabulary,
    * and the OOV fraction — the standard pre-training diagnostic for "does
    * my tokenizer's vocab actually cover this corpus" (a high OOV rate on
    * a source means wasted bytes-per-token there; run it per source and
    * per language before committing a mixture).
    *
    * The vocabulary is one word per row — e.g. [[topTerms]]' `term` column
    * or a BPE vocab's full words. Matching is exact on the lowercased
    * whitespace token (the same normalization [[tokens]] applies
    * everywhere else in this object).
    *
    * Scale shape: a vocabulary is model-sized (10k-1M rows) by
    * construction, so it is deduplicated and BROADCAST; the corpus
    * streams once through explode → broadcast left join → per-doc count
    * aggregate with map-side partials. Nothing corpus-sized shuffles —
    * the shuffle carries only (id, partial counts). Documents with zero
    * tokens are absent from the result (nothing to cover).
    */
  def vocabCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      wordCol: String
  ): DataFrame = {
    val words = broadcast(
      vocab.select(lower(col(wordCol)).as("__w")).distinct()
        .withColumn("__in", lit(1))
    )
    df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .join(words, Seq("__w"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, lit(1))).as("n_oov")
      )
      .withColumn(
        "oov_frac",
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
      )
  }

  /** Gopher-style within-document repetition metrics over word `n`-grams:
    * for each document, the total n-gram occurrence count, the count of the
    * single most frequent n-gram (ties don't matter — only the max count is
    * used), the fraction of occurrences taken by that top n-gram, and the
    * fraction of occurrences belonging to any n-gram that repeats. High
    * values of either fraction are the classic boilerplate/spam signal
    * (Gopher used e.g. top-2-gram fraction > 0.2 as a drop rule — apply
    * thresholds downstream with a plain filter).
    *
    * Documents with fewer than `n` tokens have no n-grams and are absent
    * from the result (join the output back to the corpus if a row per doc
    * is needed).
    *
    * Scale shape: explode → two chained hash aggregates, (doc, gram) then
    * (doc) — both with map-side partial aggregation, shuffled on keys that
    * subdivide documents, so no single hot task even on giant docs.
    */
  def repetitionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2
  ): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    val perGram = ScanUtils
      .withScanParallelism(df)
      .select(col(idCol), explode(shingles(col(textCol), n)).as("__gram"))
      .groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__c"))
    perGram
      .groupBy(col(idCol))
      .agg(
        sum("__c").as("total_ngrams"),
        max("__c").as("top_ngram_count"),
        coalesce(sum(when(col("__c") > 1, col("__c"))), lit(0L))
          .as("__dup_occurrences")
      )
      .withColumn(
        "top_ngram_frac",
        round(col("top_ngram_count").cast("double") / col("total_ngrams"), 6)
      )
      .withColumn(
        "dup_ngram_frac",
        round(col("__dup_occurrences").cast("double") / col("total_ngrams"), 6)
      )
      .drop("__dup_occurrences")
  }

  /** Redact every match of each (regex, replacement) pair from `textCol`,
    * applied in order, into `outCol` — PII scrubbing / boilerplate removal
    * as one per-row codegen'd expression chain (Spark's `regexp_replace`
    * replaces ALL occurrences). Patterns should stick to the RE2-compatible
    * subset of Java regex (character classes, alternation, `\b`, counted
    * repetition) if results must be reproducible on other engines. */
  def redactPatterns(
      df: DataFrame,
      textCol: String,
      patterns: Seq[(String, String)],
      outCol: String = "redacted"
  ): DataFrame = {
    require(patterns.nonEmpty, "at least one (pattern, replacement) required")
    val redacted = patterns.foldLeft(col(textCol)) {
      case (c, (pat, rep)) => regexp_replace(c, pat, rep)
    }
    df.withColumn(outCol, redacted)
  }

  /** Curated PII pattern pack for [[maskPii]]/[[piiReport]] — the
    * Dolma/CCNet-style masking set every released corpus applies before
    * training: (kind, RE2-portable regex, digit-free mask token). Ordered
    * so earlier masks can't be re-matched by later patterns (emails
    * before phones, IPs before phones — a phone pattern must never eat
    * half an IP). Deliberately high-precision/US-centric on phones (the
    * published trade-off: loose phone regexes shred numeric text);
    * extend per call via the `patterns` parameter. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<<EMAIL>>"),
    ("ipv4", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<<IP>>"),
    // boundary on BOTH ends (after the optional paren): without the
    // leading \b the pattern would match mid-run inside longer digit
    // strings ("1555-123-4567" -> "1<<PHONE>>")
    ("phone", "\\(?\\b[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b", "<<PHONE>>")
  )

  /** Mask PII in `textCol` into `outCol`: every match of each pattern in
    * `patterns` (default [[PiiPatterns]]) replaced by its mask token, in
    * pack order — one chain of codegen'd `regexp_replace`, the
    * [[redactPatterns]] shape with a curated, oracle-shared pack. */
  def maskPii(
      df: DataFrame,
      textCol: String,
      outCol: String = "masked",
      patterns: Seq[(String, String, String)] = PiiPatterns
  ): DataFrame = {
    require(df.columns.contains(textCol), s"column '$textCol' does not exist")
    require(
      !df.columns.contains(outCol) || outCol == textCol,
      s"output column '$outCol' already exists — drop it or pick another"
    )
    require(patterns.nonEmpty, "at least one (kind, pattern, token) required")
    redactPatterns(df, textCol, patterns.map(p => (p._2, p._3)), outCol)
  }

  /** Per-document PII occurrence counts, one INT column per pattern kind
    * (`n_email`, `n_ipv4`, ...), plus `n_pii` total — the audit that
    * decides whether a source needs masking at all and verifies the
    * masked output counts zero. Counting runs on the SAME patterns as
    * [[maskPii]] in the same order semantics (counts are independent
    * per kind, so order only matters for masking). Pure per-row
    * `regexp_count` codegen; NULL text -> zero counts. */
  def piiReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      patterns: Seq[(String, String, String)] = PiiPatterns
  ): DataFrame = {
    require(df.columns.contains(idCol), s"column '$idCol' does not exist")
    require(df.columns.contains(textCol), s"column '$textCol' does not exist")
    require(patterns.nonEmpty, "at least one (kind, pattern, token) required")
    val kinds = patterns.map(_._1)
    require(kinds.distinct == kinds, "pattern kinds must be unique")
    val counts = patterns.map { case (kind, pat, _) =>
      coalesce(regexp_count(col(textCol), lit(pat)), lit(0))
        .cast("int")
        .as(s"n_$kind")
    }
    df.select(col(idCol) +: counts: _*)
      .withColumn(
        "n_pii",
        kinds.map(k => col(s"n_$k")).reduceLeft(_ + _)
      )
  }

  /** Structural strip stages: comments and script/style BODIES go
    * entirely (their content is code, not prose), then every remaining
    * tag. RE2-portable: inline (?is) flags, non-greedy repetition, no
    * backrefs/lookaround. */
  private[graft] val HtmlTagStages: Seq[(String, String)] = Seq(
    "(?is)<!--.*?-->" -> " ",
    "(?is)<script[^>]*>.*?</script>" -> " ",
    "(?is)<style[^>]*>.*?</style>" -> " ",
    "(?s)<[^>]*>" -> " "
  )

  /** Whitespace collapse (tag removal leaves plenty) — an explicit
    * class, NOT \s: Java's \s includes \x0B where RE2's does not, so \s
    * is the one place "identical pattern strings" would not mean
    * identical semantics across the two engines. */
  private[graft] val HtmlWsStage: (String, String) =
    "[ \\t\\n\\f\\r]+" -> " "

  /** The ordered (pattern, replacement) stages of [[extractHtmlText]],
    * exported for oracle construction (the DuckDB side folds the SAME
    * strings into its regexp_replace chain, so both engines strip
    * markup by one shared definition): tags, then the full
    * [[graft.plans.HtmlEntities]] table (HTML4's 252 names + `apos`,
    * named + decimal + hex forms, `&amp;` LAST so "&amp;lt;" yields the
    * literal text "&lt;" instead of double-decoding to "<"), then
    * whitespace collapse. The SPARK side does not fold the 253 entity
    * regexes — [[extractHtmlText]] runs the equivalent one-pass native
    * [[graft.plans.DecodeHtmlEntitiesExpr]] instead (equivalence argued
    * at [[graft.plans.HtmlEntities.Stages]], asserted in ScaleSpec). */
  private[graft] val HtmlStripStages: Seq[(String, String)] =
    HtmlTagStages ++ graft.plans.HtmlEntities.Stages :+ HtmlWsStage

  /** The full-table entity decode as a Column (one codegen'd pass). */
  def decodeHtmlEntities(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.DecodeHtmlEntitiesExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(c)
      )
    )

  /** Tag strip -> entity decode -> whitespace collapse over a single
    * column — the Spark-side equivalent of folding [[HtmlStripStages]]
    * (entity chain replaced by the native scanner). */
  private def htmlToText(c: Column): Column = {
    val tagless = HtmlTagStages.foldLeft(c) { case (x, (p, r)) =>
      regexp_replace(x, p, r)
    }
    regexp_replace(
      decodeHtmlEntities(tagless),
      HtmlWsStage._1,
      HtmlWsStage._2
    )
  }

  /** HTML -> text extraction: strip comments, script/style blocks (body
    * and all), every remaining tag, decode the full HTML4 entity table
    * (named, decimal, and hex numeric forms —
    * [[graft.plans.HtmlEntities]]), collapse whitespace, trim — the
    * first stage of every crawl-shaped pipeline, feeding the quality /
    * dedup / tokenizer operators which all assume extracted text.
    * Tag stripping is RE2-portable `regexp_replace` (the
    * [[redactPatterns]] shape) and entity decode is one native scan
    * ([[graft.plans.DecodeHtmlEntitiesExpr]]): one per-row codegen'd
    * expression tree, no shuffle, no UDF, no HTML parser dependency —
    * at corpus scale a real DOM parse is a per-row object storm, and
    * quality scoring downstream needs prose, not structure. Honest
    * limits of the regex approach: HTML5-only names (`&notin;`) and
    * numerics outside the table (`&#x1F4A9;`) are left verbatim,
    * unclosed `<script` swallows to the next `</script>`, and CDATA is
    * treated as text. NULL html -> NULL text; all-markup rows come back
    * as empty strings (filter downstream). */
  def extractHtmlText(
      df: DataFrame,
      htmlCol: String,
      outCol: String = "text"
  ): DataFrame = {
    require(df.columns.contains(htmlCol), s"column '$htmlCol' does not exist")
    require(
      !df.columns.contains(outCol) || outCol == htmlCol,
      s"output column '$outCol' already exists — drop it or pick another"
    )
    df.withColumn(outCol, trim(htmlToText(col(htmlCol))))
  }

  /** Block-level tag alternation for [[extractMainContent]]'s segmentation
    * — longest names first (RE2 alternation is leftmost-FIRST, so `p`
    * before `pre` would split `<pre>` as a `p` tag with attrs `re`).
    * Explicit whitespace class, not \\s (RE2/Java disagree on \\x0B). */
  private[graft] val BlockTagRe: String =
    "(?is)</?(figcaption|blockquote|fieldset|article|section|footer|header|" +
      "figure|thead|tbody|title|table|aside|main|form|body|html|head|nav|" +
      "pre|div|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|hr|br|p)" +
      "([ \\t\\n\\f\\r][^>]*)?/?>"

  /** Anchor inner-text pattern (group 1) for the link-density signal.
    * The tag name is boundary-anchored (`<a` followed by whitespace+attrs
    * or `>` directly) so non-anchor tags starting with 'a' that survive
    * block segmentation (`<abbr>`, `<address>`, `<audio>`, `<area>`) are
    * not matched — a bare `<a[^>]*>` would match them and the lazy group
    * would over-capture up to the next real `</a>`, inflating link
    * density and discarding prose blocks. RE2-portable (shared verbatim
    * with the DuckDB oracle via QueryShared). */
  private[graft] val AnchorRe: String =
    "(?is)<a(?:[ \\t\\n\\f\\r][^>]*)?>(.*?)</a>"

  /** Pre-clean stages run BEFORE block segmentation (comments and
    * script/style bodies are code, and may contain block-tag text). */
  private[graft] val HtmlPrecleanStages: Seq[(String, String)] =
    HtmlStripStages.take(3)

  /** Per-block clean stages (tag strip, entities, whitespace collapse). */
  private[graft] val HtmlInlineStages: Seq[(String, String)] =
    HtmlStripStages.drop(3)

  /** Main-content extraction — the boilerplate-aware upgrade over
    * [[extractHtmlText]], in the jusText/trafilatura family: segment the
    * page into BLOCKS at block-level tags, score each block by cleaned
    * text length and LINK DENSITY (chars inside `<a>` / total chars — the
    * signal that separates navigation chrome, menus, and footers from
    * prose), and keep only blocks with `length >= minChars` and
    * `linkDensity <= maxLinkDensity`. Adds `outCol` (kept blocks joined
    * by one space), `n_blocks` (non-empty blocks seen), and `kept_blocks`.
    * NULL html stays NULL; an all-chrome page yields an empty string with
    * `kept_blocks = 0`.
    *
    * The density compare is integer ppm (`anchor_len * 1e6 <= ppm *
    * text_len`) — exact and engine-portable. Everything is ONE per-row
    * codegen'd expression tree (pre-clean fold → split at [[BlockTagRe]]
    * sentinels → per-block clean/measure lambdas → filter/join): no
    * shuffle, no UDF, no DOM objects — at crawl scale this rides the
    * first corpus scan like [[extractHtmlText]], and its honest limits
    * are the same (regex, not a parser). */
  def extractMainContent(
      df: DataFrame,
      htmlCol: String,
      outCol: String = "main_text",
      minChars: Int = 25,
      maxLinkDensity: Double = 0.33
  ): DataFrame = {
    require(df.columns.contains(htmlCol), s"column '$htmlCol' does not exist")
    require(minChars >= 1, "minChars must be >= 1")
    require(
      maxLinkDensity >= 0.0 && maxLinkDensity <= 1.0,
      "maxLinkDensity must be in [0, 1]"
    )
    val conflicts =
      Seq(outCol, "n_blocks", "kept_blocks", "__mc_scored")
        .filter(df.columns.contains)
    require(
      conflicts.isEmpty,
      s"output column(s) ${conflicts.mkString(", ")} already exist"
    )
    val ldPpm = math.round(maxLinkDensity * 1e6)
    // per-block tag strip -> native entity decode -> ws collapse: the
    // Spark-side equivalent of folding HtmlInlineStages (which the
    // DuckDB oracle does fold, 253 entity stages and all)
    def cleanBlock(c: Column): Column =
      trim(
        regexp_replace(
          decodeHtmlEntities(
            regexp_replace(c, HtmlTagStages.last._1, HtmlTagStages.last._2)
          ),
          HtmlWsStage._1,
          HtmlWsStage._2
        )
      )
    val pre = HtmlPrecleanStages.foldLeft(col(htmlCol)) { case (x, (p, r)) =>
      regexp_replace(x, p, r)
    }
    val blocks = split(regexp_replace(pre, BlockTagRe, "\u0001"), "\u0001")
    val scored = transform(
      blocks,
      b =>
        struct(
          cleanBlock(b).as("t"),
          length(
            cleanBlock(array_join(regexp_extract_all(b, lit(AnchorRe), lit(1)), " "))
          ).as("la")
        )
    )
    // own projection for the scored array: it feeds THREE output columns,
    // and CollapseProject will not inline a non-cheap expression into
    // multiple references — so the ~16 regexes per block run once, not
    // once per output column (measured 2.5x on the sf0.1 bench entry)
    val tmp = df.withColumn("__mc_scored", scored)
    val sc = col("__mc_scored")
    val kept = filter(
      sc,
      s =>
        length(s.getField("t")) >= minChars &&
          s.getField("la") * lit(1000000L) <=
            lit(ldPpm) * length(s.getField("t"))
    )
    // explicit NULL guard: under legacy sizeOfNull, size(NULL) is -1, and
    // a NULL page must yield NULL counts
    def guarded(c: Column): Column =
      when(col(htmlCol).isNull, lit(null).cast("int")).otherwise(c)
    tmp
      .withColumn(outCol, array_join(transform(kept, _.getField("t")), " "))
      .withColumn(
        "n_blocks",
        guarded(size(filter(sc, s => length(s.getField("t")) > 0)))
      )
      .withColumn("kept_blocks", guarded(size(kept)))
      .drop("__mc_scored")
  }

  /** C4-style cross-document chunk dedup: split each document into
    * fixed-size token chunks (the no-newline analog of C4's "remove any
    * line that occurs more than N times in the corpus"), count each
    * chunk's occurrences corpus-wide, drop chunks above `maxFreq`, and
    * reassemble the surviving text in original order. Documents whose
    * chunks are all boilerplate come back with `kept_chunks = 0` and empty
    * text — every input document gets exactly one output row.
    *
    * Null-text documents are excluded (the split/reassemble contract is
    * undefined for them); filter or coalesce upstream if they must
    * survive.
    *
    * Scale shape: chunking is per-row codegen'd; the corpus frequency
    * table is one hash aggregate keyed by the chunk's md5 (map-side
    * combine absorbs within-partition repeats); only (id, chunk_id,
    * digest) rows ever shuffle — never chunk TEXT. Dropped chunk
    * POSITIONS (ints, and only for documents that actually lose a chunk)
    * aggregate to one row per affected doc and join back to the
    * still-chunked document, where a positional array filter reassembles
    * the surviving text inside one per-row projection — the reassembly
    * ships no strings at all, where the previous formulation shuffled
    * every chunk string through the frequency join AND a doc-keyed
    * collect_list. At 100 TB the only large shuffles are keyed by
    * chunk-hash and doc id — both well distributed.
    */
  def chunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 10,
      maxFreq: Long = 2
  ): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(maxFreq >= 1, "maxFreq must be >= 1")
    val toks = tokens(col(textCol))
    def chunkArr(t: Column): Column = transform(
      sequence(
        lit(0),
        ceil(size(t).cast("double") / chunkTokens).cast("int") - 1
      ),
      i => array_join(slice(t, i * chunkTokens + 1, lit(chunkTokens)), " ")
    )
    // materialized once: the chunk-array build is a transform() lambda
    // (CodegenFallback — interpreted per row) and base feeds two
    // divergently-shaped consumers (the digest explode and the final
    // reassembly join); without the checkpoint the chunking runs 3x
    val base = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), chunkArr(toks).as("__chunks"))
      .localCheckpoint(false)
    // occurrence table carries only the digest — chunk text never shuffles
    val occ = base.select(
      col(idCol),
      posexplode(col("__chunks")).as(Seq("chunk_id", "chunk"))
    ).select(col(idCol), col("chunk_id"), md5(col("chunk")).as("__h"))
    val freq = occ.groupBy("__h").agg(count(lit(1)).as("__freq"))
    val droppedSet = occ
      .join(freq.filter(col("__freq") > maxFreq), Seq("__h"))
      .groupBy(col(idCol))
      .agg(collect_set(col("chunk_id")).as("__cut"))
    val kept = when(col("__cut").isNull, col("__chunks"))
      .otherwise(
        filter(col("__chunks"), (_, i) => !array_contains(col("__cut"), i))
      )
    base
      .join(droppedSet, Seq(idCol), "left")
      .select(
        col(idCol),
        size(kept).cast("int").as("kept_chunks"),
        (size(col("__chunks")) - size(kept)).cast("int").as("dropped_chunks"),
        array_join(kept, " ").as("clean_text")
      )
  }

  /** Exact duplicated-span removal — the distributed L-gram formulation of
    * suffix-array substring dedup (after Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499; cf. the
    * reference's chunk-level dedup which only catches aligned chunks).
    * Every `spanTokens`-token gram that occurs more than once in the corpus
    * keeps its canonical first occurrence (minimum (id, position) over the
    * gram's occurrences) and is removed everywhere else; a token position is
    * dropped iff it is covered by at least one removed gram occurrence.
    * Because every duplicated substring of length >= spanTokens is tiled by
    * duplicated grams, any such shared span is fully removed from all
    * non-canonical occurrences — the gram-coverage equivalent of the
    * suffix-array criterion, made deterministic by the (id, pos) keeper rule.
    *
    * Returns one row per non-null-text document:
    * (id, n_tokens, removed_tokens, clean_md5) — the md5 of the surviving
    * tokens re-joined in order ('' when everything was removed), so result
    * rows stay narrow at any document size.
    *
    * Scale shape: gram occurrences are one posexplode (≈ one row per token,
    * same cardinality as any vocabulary pass); the frequency/keeper table is
    * ONE hash aggregate keyed by the 32-char gram digest (map-side combine
    * absorbs within-partition repeats); the join back ships only the digest
    * and two integers. Covered positions explode ONLY duplicated
    * occurrences (spanTokens rows each) — clean corpora pay almost nothing.
    * Reassembly is a left-anti join on (id, pos) plus a per-document hash
    * aggregate. All shuffles are keyed by gram digest or document id; no
    * global sort, no driver action, nothing quadratic.
    */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8
  ): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be >= 2")
    val base = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__toks"))

    // One row per gram occurrence: (__id, __gpos 0-based, __gh md5 hex
    // digest, as the DuckDB oracle computes it).
    // Docs shorter than spanTokens emit no grams (sequence(0, n-L) would run
    // BACKWARDS for n < L — Spark sequences descend when end < start).
    // single codegen'd loop (graft.plans.GramHashesExpr) — bit-identical
    // to transform(sequence(0, n-L), i => md5(array_join(slice)))
    // (ScaleSpec parity), which ran an interpreted
    // slice + join + digest per POSITION
    def gramHashes(toks: Column): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.GramHashesExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(toks),
          spanTokens
        )
      )
    val occ = base
      .filter(size(col("__toks")) >= spanTokens)
      .select(
        col("__id"),
        posexplode(gramHashes(col("__toks"))).as(Seq("__gpos", "__gh"))
      )

    val gstats = occ
      .groupBy("__gh")
      .agg(
        count(lit(1)).as("__freq"),
        min(struct(col("__id"), col("__gpos"))).as("__keeper")
      )

    val dupOcc = occ
      .join(gstats.filter(col("__freq") > 1), "__gh")
      .filter(
        !(col("__keeper.__id") === col("__id") &&
          col("__keeper.__gpos") === col("__gpos"))
      )

    // covered POSITIONS per document — ints, and only for documents that
    // actually contain a removed occurrence (clean corpora ship nothing)
    val coveredSet = dupOcc
      .select(
        col("__id"),
        explode(sequence(col("__gpos"), col("__gpos") + (spanTokens - 1)))
          .as("__pos")
      )
      .groupBy("__id")
      .agg(collect_set(col("__pos")).as("__cut"))

    // reassemble ARRAY-SIDE: join the (id -> cut positions) table back to
    // the still-tokenized document and drop covered positions with one
    // positional filter over the token array. The previous formulation
    // posexploded EVERY token into a (id, pos, tok) table, anti-joined it
    // against the covered positions and collect_list'ed the survivors —
    // i.e. it shuffled every token STRING twice (once for the anti-join,
    // once doc-keyed for reassembly); now only integer positions of
    // duplicated docs cross the wire and md5/array_join run in the same
    // per-row projection. Output identical: the positional filter keeps
    // ascending-position order, exactly what array_sort over (pos, tok)
    // structs produced.
    val kept = when(
      col("__cut").isNull,
      col("__toks")
    ).otherwise(
      filter(col("__toks"), (_, i) => !array_contains(col("__cut"), i))
    )
    base
      .join(coveredSet, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        size(col("__toks")).as("n_tokens"),
        (size(col("__toks")) - size(kept)).as("removed_tokens"),
        md5(array_join(kept, " ")).as("clean_md5")
      )
  }

  /** Unigram language-model quality score: fit a corpus unigram model
    * (term -> count / total) in one pass and score each document by its
    * mean token log-probability. The classic cheap "model-based" quality
    * signal — gibberish and rare-token spam score far below fluent text.
    * Returns (id, n_tokens, avg_logprob), logprob rounded to 6 decimals
    * (ln differs in the last ulp across libms).
    *
    * Scale shape: one explode -> hash aggregate builds the vocabulary
    * (at most |vocab| rows — tiny next to the corpus), lazily
    * materialized (localCheckpoint) because it feeds TWO branches (the
    * model projection and the grand total) — without it each branch
    * re-runs the corpus explode. The total rides a one-row broadcast
    * cross join, and scoring joins each token to the broadcast
    * vocabulary — no shuffle of the corpus beyond the per-document
    * aggregate. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("__term"))
    val vocab = exploded.groupBy("__term").agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(false)
    val total = vocab.agg(sum("__cnt").as("__total"))
    val model = vocab
      .crossJoin(broadcast(total))
      .select(
        col("__term"),
        (log(col("__cnt").cast("double")) - log(col("__total").cast("double")))
          .as("__lp")
      )
    exploded
      .join(broadcast(model), "__term")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        round(avg("__lp"), 6).as("avg_logprob")
      )
  }

  /** Per-document top-n TF-IDF terms (smooth IDF: ln(N / df)).
    *
    * One explode + one hash aggregate builds the (doc, term, tf) table,
    * which is materialized once (localCheckpoint) and serves BOTH sides:
    * document frequency per term is just its per-term row count (tf rows
    * are exactly the distinct (doc, term) pairs), so the corpus is never
    * exploded a second time for the old distinct-pairs pass. The df stats
    * join broadcasts when the vocabulary is small (Catalyst decides), and
    * a WindowGroupLimit takes the top-n per doc. The docCount is taken as
    * a parameter so the caller controls the (single, cheap) count action.
    * Scores are rounded to 6 decimals: ln() may differ in the last ulp
    * across engines/libms. */
  def tfIdfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      docCount: Long,
      n: Int = 3
  ): DataFrame = {
    val exploded = df.select(
      col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term")
    )
    val tf = exploded.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dfreq, Seq("term"))
      .withColumn(
        "tfidf",
        round(col("tf") * log(lit(docCount.toDouble) / col("df")), 6)
      )
    TopN.firstRow(
      scored.select("doc_id", "term", "tf", "df", "tfidf"),
      n = n,
      partitionBy = Seq(col("doc_id")),
      orderBy = Seq(col("tfidf").desc, col("term")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** Per-group corpus health report — the per-source dashboard row every
    * ingestion pipeline keeps: document counts, null-text counts, unique
    * content (by md5 of the raw text), the exact-duplicate fraction, and
    * token totals/means. One row per `groupCol` value.
    *
    * Scale shape: a single hash aggregate per group; the distinct-content
    * count plans through Spark's distinct-aggregate Expand (exact). Token
    * counting is per-row codegen'd arithmetic.
    */
  def corpusReport(
      df: DataFrame,
      textCol: String,
      groupCol: String
  ): DataFrame = {
    val toks = tokens(col(textCol))
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col(textCol).isNull, 1L).otherwise(0L)).as("n_null_text"),
        countDistinct(md5(col(textCol))).as("n_unique_texts"),
        sum(when(col(textCol).isNotNull, size(toks).cast("long")).otherwise(0L))
          .as("total_tokens")
      )
      .withColumn(
        "dup_fraction",
        round(
          lit(1.0) - col("n_unique_texts") /
            when(col("n_docs") - col("n_null_text") > 0, col("n_docs") - col("n_null_text")),
          6
        )
      )
      .withColumn(
        "avg_tokens",
        round(
          col("total_tokens") /
            when(col("n_docs") - col("n_null_text") > 0, col("n_docs") - col("n_null_text")),
          6
        )
      )
  }

  /** Document-pair cosine similarity over sparse TF-IDF vectors — the
    * lexical near-duplicate / related-document detector that needs no
    * embeddings. Weight w(d,t) = tf * ln(N/df); pairs with cosine >=
    * `threshold` are returned as (id_a, id_b, cosine), id_a < id_b.
    *
    * Exactness across engines: weights are floor-quantized to 1e-5 and
    * dot products / norms accumulated as INTEGERS, so the sums are
    * order-independent (the 1e-5 quantization error is far below any
    * useful threshold granularity). The final divide/sqrt is one double
    * op, rounded to 6 decimals.
    *
    * Scale shape: inverted-index self-join on the term — only (term, id,
    * weight) rows shuffle, never documents. Terms with document frequency
    * above `maxDfFraction` are dropped from the INDEX (ubiquitous terms
    * dominate join fan-out ~df^2 while contributing ~zero idf weight);
    * note cosines are then computed over the pruned vocabulary, the
    * standard stop-term tradeoff. Set it to 1.0 for exact full-vocabulary
    * cosines.
    */
  def tfidfCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      docCount: Long,
      threshold: Double,
      maxDfFraction: Double = 0.5
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    require(
      maxDfFraction > 0 && maxDfFraction <= 1,
      "maxDfFraction must be in (0, 1]"
    )
    val exploded = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("__t"))
    val tf = exploded.groupBy("__id", "__t").agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val weights = tf
      .join(dfreq, Seq("__t"))
      .filter(col("__df") <= lit(maxDfFraction) * lit(docCount.toDouble))
      .select(
        col("__t"),
        col("__id"),
        floor(
          col("__tf").cast("double") *
            log(lit(docCount.toDouble) / col("__df").cast("double")) * lit(1e5)
        ).cast("long").as("__q")
      )
    val norms = weights
      .groupBy("__id")
      .agg(sum(col("__q") * col("__q")).as("__ss"))
    val dots = weights
      .select(col("__t"), col("__id").as("id_a"), col("__q").as("__qa"))
      .join(
        weights.select(col("__t"), col("__id").as("id_b"), col("__q").as("__qb")),
        Seq("__t")
      )
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("__qa") * col("__qb")).as("__dot"))
    dots
      .join(norms.select(col("__id").as("id_a"), col("__ss").as("__ssa")), Seq("id_a"))
      .join(norms.select(col("__id").as("id_b"), col("__ss").as("__ssb")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        round(
          col("__dot").cast("double") /
            (sqrt(col("__ssa").cast("double")) * sqrt(col("__ssb").cast("double"))),
          6
        ).as("cosine")
      )
      .filter(col("cosine") >= threshold)
  }

  /** Split each document into overlapping fixed-size token windows — the
    * standard preprocessing before embedding or long-context packing.
    * Output: one row per chunk with `(chunk_id, chunk_text, n_chunk_tokens)`
    * alongside the original id; chunk i starts at token
    * `i * (chunkTokens - overlapTokens)` and carries up to `chunkTokens`
    * tokens (the final chunk may be shorter). NULL-text rows produce no
    * chunks.
    *
    * Per-row `sequence` + `explode` + `slice` — linear output (~1/stride
    * expansion), no shuffle, stays inside codegen.
    */
  def chunkText(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlapTokens: Int = 0
  ): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(
      overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlapTokens must be in [0, chunkTokens)"
    )
    val stride = chunkTokens - overlapTokens
    val toks = tokens(col(textCol))
    df.filter(col(textCol).isNotNull)
      .withColumn("__toks", toks)
      .withColumn(
        "__start",
        explode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)), lit(stride)))
      )
      .withColumn("__chunk", slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
      .select(
        col(idCol),
        (col("__start") / stride).cast("int").as("chunk_id"),
        array_join(col("__chunk"), " ").as("chunk_text"),
        size(col("__chunk")).as("n_chunk_tokens")
      )
  }

  /** Per-document mean bigram log-probability under the corpus's own
    * maximum-likelihood bigram model:
    * `avg over i>0 of ln( c(w[i-1], w[i]) / c_ctx(w[i-1]) )` where both
    * counts come from the scored corpus itself (self-perplexity). A
    * sharper fluency/repetitiveness signal than [[unigramLogProb]]:
    * documents whose transitions are corpus-typical score near 0,
    * word-salad scores very negative. Single-token and NULL documents are
    * dropped (no bigrams to score).
    *
    * Scale shape: bigram occurrences are formed WITHOUT a window — the
    * previous token is read out of the still-in-scope token array with
    * `element_at` inside the explode's codegen stage (posexplode positions
    * are 0-based, element_at is 1-based, so element_at(toks, pos) is
    * exactly lag(cur, 1) over (doc, pos)), so the corpus never pays a
    * doc-keyed shuffle+sort. Two hash aggregates build the model counts,
    * and occurrences shuffle-join against the bigram model (vocab^2 can
    * exceed broadcast size — Catalyst broadcasts when it fits). The
    * bigram table is deliberately NOT materialized: it is
    * distinct-bigram-sized (near corpus-sized for diverse text), and
    * storing it measures slower than re-running the window-free
    * explode+aggregate for the context sums. ln() is per-row; the mean is
    * rounded to 6 decimals (last-ulp libm variance).
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = ScanUtils
      .withScanParallelism(df)
      .filter(col(textCol).isNotNull)
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), col("__toks"), posexplode(col("__toks")).as(Seq("__pos", "__cur")))
      .withColumn("__prev", when(col("__pos") >= 1, element_at(col("__toks"), col("__pos"))))
      .drop("__toks")
      .filter(col("__prev").isNotNull)
    val bigrams = occ.groupBy("__prev", "__cur").agg(count(lit(1)).as("__bc"))
    val contexts = bigrams.groupBy("__prev").agg(sum("__bc").as("__cc"))
    val model = bigrams
      .join(contexts, Seq("__prev"))
      .select(
        col("__prev"),
        col("__cur"),
        (log(col("__bc").cast("double")) - log(col("__cc").cast("double"))).as("__lp")
      )
    occ
      .join(model, Seq("__prev", "__cur"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_bigrams"),
        round(avg("__lp"), 6).as("avg_bigram_logprob")
      )
  }

  /** Per-document mean trigram log-probability of `df` under a "stupid
    * backoff" model (Brants et al. 2007 — the web-scale LM smoothing:
    * score with the highest-order n-gram that was SEEN in the model
    * corpus, multiplying `alpha` per backoff step) trained on `model`.
    * Unlike [[bigramLogProb]]'s self-perplexity this scores one corpus
    * against ANOTHER — the CCNet/quality-filter shape ("how much does
    * this crawl text look like my reference corpus") — so backoff paths
    * genuinely fire: unseen trigram → alpha * bigram estimate, unseen
    * bigram → alpha² * unigram estimate. The unigram stage is add-one
    * smoothed over the model vocabulary so OOV tokens stay finite.
    *
    * Every token position is scored with its maximum AVAILABLE order
    * (document-initial positions have no context and pay no alpha).
    * Output: (id, n_tokens, avg_logprob) — mean ln rounded to 6 decimals
    * (last-ulp libm variance, the [[bigramLogProb]] discipline).
    *
    * Scale shape: model counts are three map-side-combined hash
    * aggregates over window-free occurrence projections; scoring is one
    * posexplode + LEFT joins against the count tables on gram keys. The
    * token contexts (lag-1 / lag-2) are read straight out of the
    * still-in-scope token array with `element_at` inside the same codegen
    * stage as the explode — NO doc-keyed window, so neither the model nor
    * the scored corpus pays a shuffle+sort just to see its previous
    * tokens. The unigram count table is consumed by three branches
    * (totals + two join keys) and is vocab-sized, so it is lazily
    * materialized (localCheckpoint); the bigram/trigram tables are
    * bounded by distinct observed grams — potentially corpus-sized, so
    * those joins are shuffled equi-joins on the gram key (the
    * irreducible cost of n-gram scoring); vocab-sized tables broadcast
    * when they fit. Totals ride a one-row broadcast. */
  def stupidBackoffLogProb(
      model: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 0.4
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val sep = "\u0001"
    def gram2(a: Column, b: Column): Column =
      when(a.isNotNull, concat_ws(sep, a, b))
    def gram3(a: Column, b: Column, c: Column): Column =
      when(a.isNotNull, concat_ws(sep, a, b, c))

    // posexplode positions are 0-based, element_at is 1-based, so
    // element_at(toks, pos) IS the previous token and
    // element_at(toks, pos - 1) the one before it — identical to
    // lag("__w", 1/2) over (doc, pos) without the window's shuffle+sort;
    // the array column stays in scope inside the same codegen stage as
    // the explode and is dropped before anything shuffles
    def withLags(src: DataFrame, keep: Column*): DataFrame = src
      .filter(col(textCol).isNotNull)
      .withColumn("__toks", tokens(col(textCol)))
      .select(
        keep :+ col("__toks") :+
          posexplode(col("__toks")).as(Seq("__pos", "__w")): _*
      )
      .withColumn("__p1", when(col("__pos") >= 1, element_at(col("__toks"), col("__pos"))))
      .withColumn("__p2", when(col("__pos") >= 2, element_at(col("__toks"), col("__pos") - 1)))
      .drop("__toks")

    // model counts: unigrams (+ vocab/total), bigrams, trigrams — one
    // map-side-combined aggregate each over a window-free projection.
    // m1 feeds three consumers (totals, __w join, __p1 join) and is
    // vocab-sized: checkpoint so it is computed once. m2/m3 are
    // gram-vocabulary-sized (too big to be worth storing — re-running
    // the window-free aggregate measures cheaper than materializing).
    val mocc = withLags(ScanUtils.withScanParallelism(model))
    val m1 = mocc.groupBy("__w").agg(count(lit(1)).as("__c1"))
      .localCheckpoint(false)
    val totals = m1.agg(
      sum("__c1").as("__n"),
      count(lit(1)).as("__v")
    )
    val m2 = mocc
      .filter(col("__p1").isNotNull)
      .groupBy(gram2(col("__p1"), col("__w")).as("__g2"))
      .agg(count(lit(1)).as("__c2"))
    val m3 = mocc
      .filter(col("__p2").isNotNull)
      .groupBy(gram3(col("__p2"), col("__p1"), col("__w")).as("__g3"))
      .agg(count(lit(1)).as("__c3"))

    // scored occurrences with their context grams (window-free, as above)
    val occ = withLags(ScanUtils.withScanParallelism(df), col(idCol))
      .withColumn("__g3", gram3(col("__p2"), col("__p1"), col("__w")))
      .withColumn("__g2", gram2(col("__p1"), col("__w")))
      .withColumn("__ctx2", gram2(col("__p2"), col("__p1")))

    val joined = occ
      .join(m3, Seq("__g3"), "left")
      .join(m2, Seq("__g2"), "left")
      .join(
        m2.select(col("__g2").as("__ctx2"), col("__c2").as("__cc2")),
        Seq("__ctx2"),
        "left"
      )
      .join(m1.select(col("__w"), col("__c1")), Seq("__w"), "left")
      .join(
        m1.select(col("__w").as("__p1"), col("__c1").as("__cp1")),
        Seq("__p1"),
        "left"
      )
      .crossJoin(broadcast(totals))

    // alpha powers precomputed in Scala and interpolated identically into
    // the oracle — the penalty is (max available order - used order)
    val a1 = alpha
    val a2 = alpha * alpha
    val maxOrd = least(lit(3), col("__pos") + 1)
    val score = when(col("__c3").isNotNull, col("__c3").cast("double") / col("__cc2"))
      .when(
        col("__c2").isNotNull,
        when(maxOrd === 3, lit(a1)).otherwise(lit(1.0)) *
          col("__c2").cast("double") / col("__cp1")
      )
      .otherwise(
        when(maxOrd === 3, lit(a2))
          .when(maxOrd === 2, lit(a1))
          .otherwise(lit(1.0)) *
          (coalesce(col("__c1"), lit(0L)) + lit(1L)).cast("double") /
          (col("__n") + col("__v"))
      )
    joined
      .select(col(idCol), log(score).as("__lp"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        round(avg("__lp"), 6).as("avg_logprob")
      )
  }

  /** Hashed unigram+bigram feature buckets of a text column — the feature
    * map of [[dsirLogWeights]]: tokens plus adjacent-token bigrams
    * (joined with u0001), md5-bucketed into `numBuckets` — engine-portable
    * (DuckDB: `CAST('0x'||substr(md5(g),1,15) AS BIGINT) % m`), no RNG. */
  private def rawGrams(textCol: String): Column = {
    val toks = tokens(col(textCol))
    // zip_with over shifted slices, NOT transform(sequence, i =>
    // element_at(toks, ...)): a lambda body re-evaluates the tokenization
    // per element (O(len^2) per document); zip_with's array arguments are
    // evaluated once per row (the TextFunctions.shingles fix)
    val bigrams = when(
      size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws("\u0001", a, b)
      )
    ).otherwise(array())
    concat(toks, bigrams)
  }

  /** Bucket in [0, numBuckets) of one gram or token: its md5's 60-bit
    * prefix modulo `numBuckets` — the hashing-trick feature map of DSIR and
    * the token classifier. Engine-portable (DuckDB:
    * `CAST('0x'||substr(md5(g),1,15) AS BIGINT) % numBuckets`). Callers
    * explode FIRST and apply this to the exploded column so the digest runs
    * in a codegen'd projection, not interpreted per array element inside a
    * HOF lambda. */
  private def bucketOf(g: Column, numBuckets: Int): Column =
    graft.functions.TextFunctions.md5Prefix60(g) % numBuckets

  /** DSIR importance weights — Data Selection via Importance Resampling
    * (Xie et al., NeurIPS 2023): score every corpus document by how much
    * more likely its hashed n-gram features are under a TARGET distribution
    * than under the raw corpus distribution,
    *
    *   log w(x) = sum over feature buckets b of
    *     count_b(x) * (ln p_b - ln q_b)
    *
    * with p/q the Laplace-smoothed bucket-frequency models of `target` and
    * `corpus` (unigrams + bigrams, md5-hashed into `numBuckets`). Feed the
    * output into [[dsirResample]] (or any weighted sampler) to select
    * corpus data that "looks like" a small high-quality target set — the
    * standard pretraining-data selection recipe.
    *
    * Exactness: each bucket's log-ratio is rounded to 6 decimals and cast
    * to decimal BEFORE the per-document sum, so `log_weight` is
    * order-independent and engine-reproducible (same policy as
    * [[bm25Scores]]). Documents with NULL text are excluded.
    *
    * Scale shape: the corpus is featurized ONCE — per-document bucket
    * counts (explode->hash-aggregate with map-side combine on keys that
    * subdivide documents) feed both the q model (a second, tiny
    * re-aggregation over at most docs x distinct-buckets rows, sharing the
    * same shuffle via ReuseExchange) and the final per-document scoring.
    * The target is scanned once and is small by construction. The ratio
    * table is at most `numBuckets` rows and BROADCAST; no join ever
    * carries document text.
    */
  def dsirLogWeights(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int = 8192,
      smoothing: Double = 1.0
  ): DataFrame = {
    require(numBuckets >= 2, "numBuckets must be >= 2")
    require(smoothing > 0, "smoothing must be > 0")
    // explode the RAW grams first and bucket the exploded column: the md5
    // digest runs in a codegen'd projection over flat rows instead of
    // interpreted per array element inside a HOF lambda
    def buckets(df: DataFrame) = df
      .filter(col(textCol).isNotNull)
      .select(explode(rawGrams(textCol)).as("__g"))
      .select(bucketOf(col("__g"), numBuckets).as("__b"))
    // featurize the corpus ONCE: per-doc bucket counts feed both the
    // corpus-level counts (sum over docs) and the final per-doc scoring —
    // the shared (id, bucket) shuffle is reused (ReuseExchange at runtime,
    // plan-guarded in PlanSpec), so the expensive explode+digest pass over
    // the corpus runs a single time; an explicit materialization measured
    // no faster than the reused exchange and was dropped (r14)
    val docBuckets = ScanUtils.withScanParallelism(corpus)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(rawGrams(textCol)).as("__g"))
      .select(col(idCol), bucketOf(col("__g"), numBuckets).as("__b"))
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val qCounts = docBuckets.groupBy("__b").agg(sum("__c").as("__qc"))
    val pCounts = buckets(target).groupBy("__b").agg(count(lit(1)).as("__pc"))
    val totals = qCounts
      .agg(sum("__qc").cast("double").as("__qt"))
      .crossJoin(pCounts.agg(coalesce(sum("__pc"), lit(0L)).cast("double").as("__pt")))
    val am = smoothing * numBuckets
    val ratios = qCounts
      .join(pCounts, Seq("__b"), "full")
      .crossJoin(broadcast(totals))
      .select(
        col("__b"),
        round(
          log((coalesce(col("__pc"), lit(0L)).cast("double") + smoothing) /
            (col("__pt") + lit(am))) -
            log((coalesce(col("__qc"), lit(0L)).cast("double") + smoothing) /
              (col("__qt") + lit(am))),
          6
        ).cast("decimal(18,6)").as("__lr")
      )
    docBuckets
      .join(broadcast(ratios), Seq("__b"))
      .groupBy(col(idCol))
      .agg(
        // count as decimal(10,0): the product type decimal(29,6) matches
        // the oracle's exactly, so sums agree to the last digit
        // DECIMAL-first rounding — see charEntropy's half-boundary note
        round(
          sum(col("__c").cast("decimal(10,0)") * col("__lr")),
          6
        ).cast("double").as("log_weight")
      )
  }

  /** DSIR selection: the top-k corpus documents under importance-weighted
    * sampling WITHOUT replacement — [[dsirLogWeights]] composed with the
    * log-domain Efraimidis-Spirakis key
    *
    *   key(x) = ln(ln(1/u_x)) - log_w(x)   (smallest k win)
    *
    * which ranks exactly like `u^(1/w)` with `w = exp(log_w)` but never
    * leaves the log domain (importance weights span hundreds of nats —
    * exp() would overflow). u is the md5-bucket uniform of the id (same
    * contract as [[graft.operators.Splits.weightedSample]]): deterministic
    * across runs/engines, re-keyed by `salt`. Returns (idCol, log_weight,
    * sample_key) for the k selected.
    *
    * Scale shape: [[dsirLogWeights]] plus one TakeOrdered top-k — no
    * global sort, nothing new shuffles. */
  def dsirResample(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      numBuckets: Int = 8192,
      smoothing: Double = 1.0,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = (Splits.hashBucket(col(idCol), salt).cast("double") + lit(0.5)) /
      lit(Splits.Buckets.toDouble)
    dsirLogWeights(corpus, target, idCol, textCol, numBuckets, smoothing)
      .withColumn(
        "sample_key",
        round(log(log(lit(1.0) / u)), 6) - col("log_weight")
      )
      .orderBy(col("sample_key"), col(idCol))
      .limit(k)
  }

  /** Train a hashed Naive-Bayes token classifier: the classic
    * "wiki-vs-crawl" quality filter (GPT-3 appendix A / CCNet-style) —
    * tokens are hashed into `numBuckets` features and each bucket's weight
    * is the Laplace-smoothed log-odds
    * ln((pos+1)/(posTotal+D)) - ln((neg+1)/(negTotal+D)).
    * Returns the full model as a DataFrame (bucket, weight) with one row
    * per bucket (unseen buckets carry the smoothing-only weight), weights
    * rounded to 6 decimals so the model is engine-portable and scoring is
    * reproducible.
    *
    * Scale shape: each side is one explode -> hash aggregate down to at
    * most D rows (map-side combine absorbs repeats); totals ride one-row
    * broadcast cross joins — no driver action. The model is D rows,
    * broadcastable by construction. Each side's bucket-count table is
    * lazily materialized (localCheckpoint) before the plan branches into
    * the per-bucket join and the totals aggregate — without it both
    * branches re-run the corpus explode pass, doubling every scan.
    */
  def trainTokenClassifier(
      positive: DataFrame,
      negative: DataFrame,
      textCol: String,
      numBuckets: Int = 4096
  ): DataFrame = {
    require(numBuckets >= 2, "numBuckets must be >= 2")
    def bucketCounts(df: DataFrame, cnt: String): DataFrame = df
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__tok"))
      .select(bucketOf(col("__tok"), numBuckets).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as(cnt))
      .localCheckpoint(false)
    val pos = bucketCounts(positive, "__pos")
    val neg = bucketCounts(negative, "__neg")
    val posT = pos.agg(coalesce(sum("__pos"), lit(0L)).as("__pos_total"))
    val negT = neg.agg(coalesce(sum("__neg"), lit(0L)).as("__neg_total"))
    positive.sparkSession
      .range(numBuckets)
      .toDF("bucket")
      .join(pos, Seq("bucket"), "left")
      .join(neg, Seq("bucket"), "left")
      .crossJoin(broadcast(posT))
      .crossJoin(broadcast(negT))
      .select(
        col("bucket"),
        round(
          log(
            (coalesce(col("__pos"), lit(0L)) + 1).cast("double") /
              (col("__pos_total") + numBuckets).cast("double")
          ) - log(
            (coalesce(col("__neg"), lit(0L)) + 1).cast("double") /
              (col("__neg_total") + numBuckets).cast("double")
          ),
          6
        ).as("weight")
      )
  }

  /** Score documents with a trained token-classifier model (see
    * [[trainTokenClassifier]]): mean bucket weight over the document's
    * tokens plus an optional class prior. Positive log-odds = looks like
    * the positive (reference) corpus; threshold or Pareto-sample on it to
    * filter. Returns (id, n_tokens, nb_logodds), score rounded to 6
    * decimals.
    *
    * Exactness across engines: model weights are 6-decimal quantized, so
    * the per-document total accumulates in DECIMAL (order-independent,
    * parallelism-proof — same policy as [[tfidfCosinePairs]]); only the
    * final mean is one double division.
    *
    * Scale shape: one corpus scan — explode, per-row bucket hash, join to
    * the BROADCAST model (D rows by construction), one per-document hash
    * aggregate. The corpus shuffles once, keyed by document id.
    */
  def classifierScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      numBuckets: Int = 4096,
      prior: Double = 0.0
  ): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol), bucketOf(col("__tok"), numBuckets).as("bucket"))
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        round(
          sum(col("weight").cast("decimal(27,6)")).cast("double") /
            count(lit(1)) + prior,
          6
        ).as("nb_logodds")
      )

  /** BM25 relevance of every document against a fixed query-term set — the
    * classic retrieval scorer (Robertson/Lucene idf variant):
    *
    *   score(d) = sum over matched terms t of
    *     ln(1 + (N - df + 0.5)/(df + 0.5)) *
    *     tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    *
    * Returns one row per non-null-text document: (id, dl, n_terms_matched,
    * bm25), score 0 for documents matching no query term — so the output
    * is a rankable corpus-wide score column, not just the hit list.
    *
    * Exactness across engines: tf, df, dl and N are exact integers; avgdl
    * is one exact-sum division. Each per-term score is rounded to 6
    * decimals and the per-document total accumulates in DECIMAL, so the
    * sum is order-independent (same policy as [[tfidfCosinePairs]]).
    *
    * Scale shape: explode → isin filter keeps only query-term occurrences
    * (codegen'd; the generate output is pruned before any shuffle), one
    * hash aggregate for tf, one for df; the df table is |Q| rows and the
    * corpus stats ONE row — both broadcast. No shuffle touches full
    * documents, and the final per-doc aggregate shuffles only matched
    * occurrences. */
  def bm25Scores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term")
    require(k1 > 0, "k1 must be > 0")
    require(b >= 0 && b <= 1, "b must be in [0, 1]")
    val docs = df
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("__id"),
        tokens(col(textCol)).as("__toks")
      )
      .select(col("__id"), col("__toks"), size(col("__toks")).as("__dl"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum(col("__dl").cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("__avgdl")
    )
    val matched = docs
      .select(col("__id"), col("__dl"), explode(col("__toks")).as("__term"))
      .filter(col("__term").isin(queryTerms: _*))
    val tf = matched
      .groupBy("__id", "__dl", "__term")
      .agg(count(lit(1)).as("__tf"))
    val dfreq = matched
      .select("__id", "__term")
      .distinct()
      .groupBy("__term")
      .agg(count(lit(1)).cast("double").as("__df"))
    val idf =
      log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val tfNorm = (col("__tf").cast("double") * lit(k1 + 1.0)) /
      (col("__tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl").cast("double") / col("__avgdl")))
    val perTerm = tf
      .join(broadcast(dfreq), Seq("__term"))
      .crossJoin(broadcast(stats))
      .select(
        col("__id"),
        // per-term quantization BEFORE the decimal sum: order-independence
        round(idf * tfNorm, 6).cast("decimal(18,6)").as("__s")
      )
    val perDoc = perTerm
      .groupBy("__id")
      .agg(
        count(lit(1)).cast("int").as("n_terms_matched"),
        sum("__s").cast("double").as("bm25")
      )
    docs
      .join(perDoc, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        col("__dl").cast("int").as("dl"),
        coalesce(col("n_terms_matched"), lit(0)).as("n_terms_matched"),
        coalesce(col("bm25"), lit(0.0)).as("bm25")
      )
  }

  /** BPE merge-rule training over the corpus — the classic byte-pair
    * encoding vocabulary learner (Sennrich et al.), in its standard
    * formulation: train on the WORD-FREQUENCY dictionary, not the raw
    * corpus. Each word becomes a symbol sequence (characters + an
    * end-of-word marker `</w>`); each round counts adjacent symbol pairs
    * weighted by word frequency, picks the most frequent pair (ties:
    * lexicographically smallest), and rewrites the dictionary merging
    * that pair greedily left-to-right within every word. Returns the
    * learned merge table: (merge_rank, left, right, pair_count).
    *
    * Scale shape: the corpus is scanned ONCE to build the (word, count)
    * dictionary — every round thereafter touches only the dictionary
    * (distinct-words-sized, millions of rows where the corpus has
    * billions): one map-side-combined pair-count aggregate, one tiny
    * ordered argmax (`numMerges` driver actions by construction —
    * documented EAGER, like the CC/PageRank/k-center loops), and one
    * per-word fold applying the merge. The fold is a higher-order
    * `aggregate` lambda — interpreted, but over the dictionary, never
    * the corpus; `localCheckpoint` truncates the per-round lineage. */
  def bpeMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int
  ): DataFrame =
    bpeMergesLoop(
      bpeDictionary(df, textCol).select(
        // split(w, "") may emit a trailing empty string depending on the
        // JDK split contract — drop empties defensively
        concat(
          filter(split(col("__w"), ""), s => length(s) > 0),
          array(lit("</w>"))
        ).as("__syms"),
        col("__n")
      ),
      numMerges
    )

  /** Byte-level BPE training (the GPT-2 base alphabet): identical merge
    * loop to [[bpeMerges]], but the initial symbols are the word's UTF-8
    * BYTES, each rendered as a 2-char lowercase hex string (an
    * engine-portable stand-in for GPT-2's printable byte alphabet — hex
    * pairs round-trip through SQL, parquet, and the DuckDB oracle with
    * no escaping), plus the `</w>` end marker. Byte level means NO
    * unknown symbols ever: any Unicode word decomposes into the 256-entry
    * base alphabet, which is why production LLM tokenizers train this
    * way. Multi-byte code points (e.g. `é` = c3 a9) start split across
    * symbols and merge back only if the corpus earns it. */
  def bbpeMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int
  ): DataFrame =
    bpeMergesLoop(
      bpeDictionary(df, textCol).select(
        concat(byteSyms(col("__w")), array(lit("</w>"))).as("__syms"),
        col("__n")
      ),
      numMerges
    )

  /** GPT-2-style pre-tokenization pattern: contractions, letter runs,
    * number runs, punctuation runs — the category split production BPE
    * pipelines put in FRONT of merge learning so merges never cross a
    * letter/number/punct boundary ("don't" → don | 't; "x2!" → x | 2 |
    * !). Deliberately RE2-portable (no lookahead — GPT-2's trailing
    * `\s+(?!\S)` alternative is dropped; whitespace is a separator here,
    * not a token), so the SAME string drives Spark's Java regex and the
    * DuckDB oracle. Alternation is leftmost-FIRST in both engines, so
    * contractions beat the punct class on `'s`. */
  val BbpePretokRe: String =
    "'(?:s|t|re|ve|m|ll|d)|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"

  /** Pre-token array of a text column under [[BbpePretokRe]] (lowercased,
    * like [[tokens]]). One codegen'd per-row expression. */
  def bbpePretokens(c: Column): Column =
    regexp_extract_all(lower(c), lit(BbpePretokRe), lit(0))

  /** [[bbpeMerges]] over the [[BbpePretokRe]] pre-tokenized dictionary —
    * byte-level training where the units entering the merge loop are
    * regex categories, not whitespace words. Same dictionary-only scale
    * shape: the corpus is scanned once into (pre-token, count). */
  def bbpeMergesPretok(
      df: DataFrame,
      textCol: String,
      numMerges: Int
  ): DataFrame =
    bpeMergesLoop(
      bpeDictionary(df, textCol, bbpePretokens).select(
        concat(byteSyms(col("__w")), array(lit("</w>"))).as("__syms"),
        col("__n")
      ),
      numMerges
    )

  /** (word, count) dictionary feeding the BPE trainers; `splitter` is the
    * text→unit-array expression (whitespace [[tokens]] by default,
    * [[bbpePretokens]] for the GPT-2-style category split). */
  private def bpeDictionary(
      df: DataFrame,
      textCol: String,
      splitter: Column => Column = tokens(_)
  ): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(explode(splitter(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy("__w")
      .agg(count(lit(1)).as("__n"))

  /** UTF-8 bytes of a string column as an array of 2-char lowercase hex
    * symbols — `café` -> [63, 61, 66, c3, a9]. Insert-separator-and-split
    * (with a defensive empty filter) keeps the whole construction inside
    * codegen'd string ops. */
  private def byteSyms(c: Column): Column =
    filter(
      split(
        regexp_replace(lower(hex(encode(c, "UTF-8"))), "(..)", "$1\u0001"),
        "\u0001"
      ),
      s => length(s) > 0
    )

  /** The shared fixed-round merge loop over a (__syms, __n) dictionary —
    * the ONE training definition behind [[bpeMerges]] (chars) and
    * [[bbpeMerges]] (bytes); the loop never sees a token occurrence. */
  private def bpeMergesLoop(
      words0: DataFrame,
      numMerges: Int
  ): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = words0.sparkSession
    import spark.implicits._
    var words = words0.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    var rank = 0
    while (!exhausted && rank < numMerges) {
      val pairs = words
        .select(
          explode(
            arrays_zip(
              col("__syms").as("a"),
              slice(col("__syms"), 2, 1000000).as("b")
            )
          ).as("__p"),
          col("__n")
        )
        .filter(col("__p.b").isNotNull)
        .groupBy(col("__p.a").as("__a"), col("__p.b").as("__b"))
        .agg(sum("__n").as("__total"))
      val top = pairs
        .orderBy(col("__total").desc, col("__a"), col("__b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, total) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, a, b, total))
        // greedy leftmost merge inside each word: fold symbols, gluing
        // (a, b) whenever the accumulator ends with an unconsumed `a`
        val merged = aggregate(
          col("__syms"),
          array().cast("array<string>"),
          (acc, x) =>
            when(
              size(acc) > 0 &&
                element_at(acc, -1) === lit(a) && x === lit(b),
              concat(
                slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))
              )
            ).otherwise(concat(acc, array(x)))
        )
        words = words
          .select(merged.as("__syms"), col("__n"))
          .localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "left", "right", "pair_count")
  }

  /** Standard BPE encoding of one word (Sennrich et al.'s `apply_bpe`):
    * start from characters + `</w>` (the same symbol alphabet as
    * [[bpeMerges]]), repeatedly find the LOWEST-rank merge rule whose pair
    * is present and merge all its occurrences left-to-right, until no rule
    * applies. Driver/executor-local — called per DICTIONARY word, never
    * per token occurrence. */
  private[graft] def bpeEncodeWord(
      word: String,
      ranks: Map[(String, String), Int]
  ): Vector[String] =
    bpeEncodeSyms(word.map(_.toString).toVector :+ "</w>", ranks)

  /** [[bpeEncodeWord]] on the byte-hex alphabet: the word's UTF-8 bytes
    * as 2-char lowercase hex symbols + `</w>` (exactly [[bbpeMerges]]'
    * initial sequence), merged under the trained ranks. */
  private[graft] def bbpeEncodeWord(
      word: String,
      ranks: Map[(String, String), Int]
  ): Vector[String] =
    bpeEncodeSyms(
      word
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .toVector
        .map(b => f"${b & 0xff}%02x") :+ "</w>",
      ranks
    )

  private def bpeEncodeSyms(
      syms0: Vector[String],
      ranks: Map[(String, String), Int]
  ): Vector[String] = {
    var syms = syms0
    var continue = syms.length > 1
    while (continue) {
      val best = syms.indices
        .dropRight(1)
        .flatMap(i => ranks.get((syms(i), syms(i + 1))).map(r => (r, i)))
      if (best.isEmpty) continue = false
      else {
        val (a, b) = {
          val i = best.minBy(_._1)._2
          (syms(i), syms(i + 1))
        }
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
        continue = syms.length > 1
      }
    }
    syms
  }

  /** Encode the corpus' distinct-word dictionary with a trained merge
    * table ([[bpeMerges]] output): returns (word, pieces, n_pieces). The
    * iterative merge loop — inherently imperative — runs ONLY over the
    * dictionary (distinct words: millions of rows where the corpus has
    * billions of occurrences), via mapPartitions with the merge table
    * broadcast (model-sized by construction: numMerges rows, collected
    * eagerly like every model table). */
  def bpeEncodeTable(df: DataFrame, textCol: String, merges: DataFrame): DataFrame =
    bpeEncodeTableWith(df, textCol, merges, bpeEncodeWord)

  /** [[bpeEncodeTable]] on the byte-hex alphabet ([[bbpeMerges]] models):
    * pieces are concatenated hex symbols (`the</w>` as `746865</w>` when
    * fully merged). Same dictionary-only scale shape. */
  def bbpeEncodeTable(df: DataFrame, textCol: String, merges: DataFrame): DataFrame =
    bpeEncodeTableWith(df, textCol, merges, bbpeEncodeWord)

  /** [[bbpeEncodeTable]] over the [[BbpePretokRe]] pre-token dictionary
    * (models trained by [[bbpeMergesPretok]]). */
  def bbpePretokEncodeTable(
      df: DataFrame,
      textCol: String,
      merges: DataFrame
  ): DataFrame =
    bpeEncodeTableWith(df, textCol, merges, bbpeEncodeWord, bbpePretokens)

  private def bpeEncodeTableWith(
      df: DataFrame,
      textCol: String,
      merges: DataFrame,
      encode: (String, Map[(String, String), Int]) => Vector[String],
      splitter: Column => Column = tokens(_)
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = merges
      .select("left", "right", "merge_rank")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    val bc = spark.sparkContext.broadcast(ranks)
    df.filter(col(textCol).isNotNull)
      .select(explode(splitter(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .distinct()
      .as[String]
      .mapPartitions { it =>
        val r = bc.value
        it.map { w =>
          val pieces = encode(w, r)
          (w, pieces, pieces.length)
        }
      }
      .toDF("word", "pieces", "n_pieces")
  }

  /** True-BPE token counts per document: tokenize, encode every DISTINCT
    * word once with the trained merges ([[bpeEncodeTable]]), and sum
    * per-word piece counts back over each document's occurrences. The
    * honest upgrade over the `bpe_ish_tokens` regex estimate in
    * [[tokenCounts]] — feed the result into `packSequences` /
    * `selectByTokenBudget` for budgets in REAL subword tokens. Returns one
    * row per non-null-text document: (id, ws_tokens, bpe_tokens).
    *
    * Scale shape: the corpus is scanned once into per-(doc, word)
    * occurrence counts (map-side combined); the encoded dictionary joins
    * on the word key (AQE broadcasts it when it fits — vocabulary-sized
    * either way, never forced); one per-doc aggregate. The merge loop
    * never sees a token occurrence. */
  def bpeTokenCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame
  ): DataFrame =
    bpeTokenCountsWith(df, idCol, textCol, bpeEncodeTable(df, textCol, merges))

  /** [[bpeTokenCounts]] under a byte-level ([[bbpeMerges]]) model: token
    * budgets in REAL byte-BPE subwords — the unit production LLM
    * pipelines meter (GPT-2/tiktoken-style byte alphabets have no
    * unknown tokens, so every document is countable, any script). */
  def bbpeTokenCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame
  ): DataFrame =
    bpeTokenCountsWith(df, idCol, textCol, bbpeEncodeTable(df, textCol, merges))

  /** [[bbpeTokenCounts]] under a pre-tokenized ([[bbpeMergesPretok]])
    * model: occurrences AND the encoded dictionary both keyed by the
    * [[BbpePretokRe]] category pre-tokens. `ws_tokens` counts pre-token
    * units here. */
  def bbpePretokTokenCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame
  ): DataFrame =
    bpeTokenCountsWith(
      df, idCol, textCol,
      bbpePretokEncodeTable(df, textCol, merges), bbpePretokens)

  private def bpeTokenCountsWith(
      df: DataFrame,
      idCol: String,
      textCol: String,
      encoded: DataFrame,
      splitter: Column => Column = tokens(_)
  ): DataFrame = {
    val base = df.filter(col(textCol).isNotNull)
    val occ = base
      .select(col(idCol), explode(splitter(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val dict = encoded
      .select(col("word").as("__w"), col("n_pieces").as("__p"))
    val counts = occ
      .join(dict, Seq("__w"))
      .groupBy(col(idCol))
      .agg(
        sum("__c").cast("int").as("ws_tokens"),
        sum(col("__c") * col("__p")).cast("int").as("bpe_tokens")
      )
    base
      .select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("ws_tokens"), lit(0)).as("ws_tokens"),
        coalesce(col("bpe_tokens"), lit(0)).as("bpe_tokens")
      )
  }

  /** Initial WordPiece symbol sequence of one word: the first character
    * plain, every later character `##`-prefixed (the BERT continuation
    * convention). */
  private def wpInitSyms(w: Column): Column = {
    val chars = filter(split(w, ""), s => length(s) > 0)
    concat(
      slice(chars, 1, 1),
      transform(
        // 1000000, not Int.MaxValue: slice's start+length-1 overflows int
        // (the bpeMerges bound; observed returning EMPTY, not erroring)
        slice(chars, 2, 1000000),
        c => concat(lit("##"), c)
      )
    )
  }

  /** WordPiece merge-rule training (Schuster & Nakajima 2012 — the BERT
    * tokenizer's vocabulary learner; reference scope:
    * hds_functions has no tokenizer — north-star extension completing
    * the trainer triad with [[bpeMerges]] and [[unigramLM]]). Words
    * start as characters with the `##` continuation prefix on every
    * non-initial symbol; each round scores every adjacent symbol pair by
    * the likelihood-gain criterion
    * `score(a,b) = count(ab) * N / (count(a) * count(b))` (`N` = total
    * symbol occurrences that round), picks the argmax (ties:
    * lexicographically smallest pair), and merges it greedily
    * leftmost-first inside every word, the merged symbol dropping the
    * right side's `##`. Including the (within-round constant) `N` factor
    * makes the score DUPLICATION-INVARIANT: replicating the corpus k
    * times scales `count(ab)` and `N` by k and the denominator by k^2,
    * so every score — hence the whole merge sequence — is bit-identical.
    *
    * ENGINE-PORTABLE ARGMAX: scores are compared on a fixed 2^-16 grid —
    * `score_q = (count(ab) * N * 65536) div (count(a) * count(b))` in
    * exact DECIMAL(38,0) integer arithmetic (the DuckDB oracle replays
    * the identical quotient in HUGEINT), so the per-round winner is an
    * integer decision any engine reproduces bit-for-bit; pairs tied
    * AFTER quantization break lexicographically by definition. Bound:
    * the quotient is materialized as int64, so `N * 65536` must fit —
    * N <= ~1.4e14 symbol occurrences; shrink the grid beyond that.
    *
    * Scale shape mirrors [[bpeMerges]]: one corpus scan builds the
    * (word, count) dictionary; every round touches ONLY the dictionary
    * (a pair-count and a symbol-count hash aggregate, both map-side
    * combined; one tiny ordered argmax — `numMerges` driver actions by
    * construction, documented EAGER like the CC/PageRank/BPE loops) and
    * rewrites it with a per-word fold; `localCheckpoint` truncates the
    * per-round lineage. Returns
    * (merge_rank, left, right, merged, score_q, pair_count). */
  def wordpieceTrain(
      df: DataFrame,
      textCol: String,
      numMerges: Int
  ): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var words = df
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy("__w")
      .agg(count(lit(1)).as("__n"))
      .select(wpInitSyms(col("__w")).as("__syms"), col("__n"))
      .localCheckpoint()
    val merges =
      scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long, Long)]
    var exhausted = false
    var rank = 0
    while (!exhausted && rank < numMerges) {
      // consumed three times per round (grand total + two denominator
      // joins) but NOT checkpointed: the three consumers share one
      // identical aggregate subtree, which AQE's exchange reuse dedupes at
      // runtime — an explicit localCheckpoint measured ~10% SLOWER per
      // round (materialization barrier vs. free reuse; r14)
      val syms = words
        .select(explode(col("__syms")).as("__s"), col("__n"))
        .groupBy("__s")
        .agg(sum("__n").as("__c"))
      val pairs = words
        .select(
          explode(
            arrays_zip(
              col("__syms").as("a"),
              slice(col("__syms"), 2, 1000000).as("b")
            )
          ).as("__p"),
          col("__n")
        )
        .filter(col("__p.b").isNotNull)
        .groupBy(col("__p.a").as("__a"), col("__p.b").as("__b"))
        .agg(sum("__n").as("__total"))
      val nTotal = syms.agg(sum("__c").cast("decimal(38,0)").as("__N"))
      val top = pairs
        .join(
          broadcast(syms.select(col("__s").as("__a"), col("__c").as("__ca"))),
          Seq("__a")
        )
        .join(
          broadcast(syms.select(col("__s").as("__b"), col("__c").as("__cb"))),
          Seq("__b")
        )
        .crossJoin(broadcast(nTotal))
        .withColumn(
          "__sq",
          expr(
            "(CAST(__total AS DECIMAL(38,0)) * __N * 65536)" +
              " div (CAST(__ca AS DECIMAL(38,0)) * CAST(__cb AS DECIMAL(38,0)))"
          )
        )
        .orderBy(col("__sq").desc, col("__a"), col("__b"))
        .limit(1)
        .select("__a", "__b", "__sq", "__total")
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        val sq = top(0).getLong(2)
        val total = top(0).getLong(3)
        val mergedName = a + (if (b.startsWith("##")) b.drop(2) else b)
        merges += ((rank, a, b, mergedName, sq, total))
        // greedy leftmost merge inside each word (the bpeMerges fold;
        // the merged name is a constant this round)
        val mergedSyms = aggregate(
          col("__syms"),
          array().cast("array<string>"),
          (acc, x) =>
            when(
              size(acc) > 0 &&
                element_at(acc, -1) === lit(a) && x === lit(b),
              concat(
                slice(acc, lit(1), size(acc) - 1),
                array(lit(mergedName))
              )
            ).otherwise(concat(acc, array(x)))
        )
        words = words
          .select(mergedSyms.as("__syms"), col("__n"))
          .localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq
      .toDF("merge_rank", "left", "right", "merged", "score_q", "pair_count")
  }

  /** The full WordPiece vocabulary implied by a trained merge table: the
    * corpus alphabet (every initial symbol — first characters plain,
    * continuations `##`-prefixed) plus one merged piece per rule. Feed
    * into [[wordpieceTokenCounts]] for the train->apply composition; by
    * construction every corpus character is in the alphabet, so encoding
    * the training corpus under this vocabulary never emits `[UNK]`. */
  def wordpieceVocab(
      df: DataFrame,
      textCol: String,
      merges: DataFrame
  ): DataFrame = {
    val alphabet = df
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .distinct()
      .select(explode(wpInitSyms(col("__w"))).as("piece"))
      .distinct()
    alphabet
      .union(merges.select(col("merged").as("piece")))
      .distinct()
  }

  /** WordPiece inference on one word: greedy LONGEST-match-first — at
    * each position take the longest vocabulary piece matching the
    * remaining text (`##`-prefixed lookups after position 0); if NO piece
    * matches at some position, the WHOLE word becomes the single `[UNK]`
    * token (the BERT convention). Driver/executor-local — called per
    * DICTIONARY word, never per token occurrence (the [[bpeEncodeWord]]
    * contract). Input words are assumed `#`-free (whitespace tokens of
    * natural text); a literal leading `#` could spuriously match a
    * continuation piece at position 0. */
  private[graft] def wordpieceEncodeWord(
      word: String,
      vocab: Set[String]
  ): Vector[String] = {
    val out = Vector.newBuilder[String]
    var pos = 0
    while (pos < word.length) {
      val prefix = if (pos == 0) "" else "##"
      var end = word.length
      var found = -1
      while (end > pos && found < 0) {
        if (vocab.contains(prefix + word.substring(pos, end))) found = end
        else end -= 1
      }
      if (found < 0) return Vector("[UNK]")
      out += prefix + word.substring(pos, found)
      pos = found
    }
    out.result()
  }

  /** Encode the corpus' distinct-word dictionary with a WordPiece
    * vocabulary ([[wordpieceVocab]] output or any (piece) table):
    * returns (word, pieces, n_pieces, is_unk). The greedy longest-match
    * loop — inherently imperative — runs ONLY over the dictionary via
    * mapPartitions with the vocabulary broadcast (model-sized by
    * construction, collected eagerly like every model table). */
  def wordpieceEncodeTable(
      df: DataFrame,
      textCol: String,
      vocab: DataFrame
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pieces = vocab.select("piece").collect().map(_.getString(0)).toSet
    val bc = spark.sparkContext.broadcast(pieces)
    df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .distinct()
      .as[String]
      .mapPartitions { it =>
        val v = bc.value
        it.map { w =>
          val ps = wordpieceEncodeWord(w, v)
          (w, ps, ps.length, ps == Vector("[UNK]"))
        }
      }
      .toDF("word", "pieces", "n_pieces", "is_unk")
  }

  /** WordPiece token counts per document under a vocabulary — the
    * [[bpeTokenCounts]] shape with the greedy longest-match encoder:
    * tokenize, encode every DISTINCT word once ([[wordpieceEncodeTable]]),
    * sum per-word piece counts back over each document's occurrences.
    * Returns one row per non-null-text document:
    * (id, ws_tokens, wp_tokens, unk_words) — `unk_words` counts word
    * OCCURRENCES that encoded to `[UNK]` (each also contributes exactly
    * 1 to `wp_tokens`).
    *
    * Scale shape: one corpus scan into per-(doc, word) occurrence counts
    * (map-side combined); the encoded dictionary joins on the word key
    * (AQE broadcasts it when it fits); one per-doc aggregate. The greedy
    * match loop never sees a token occurrence. */
  def wordpieceTokenCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame
  ): DataFrame = {
    val base = df.filter(col(textCol).isNotNull)
    val occ = base
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val dict = wordpieceEncodeTable(df, textCol, vocab)
      .select(
        col("word").as("__w"),
        col("n_pieces").as("__p"),
        col("is_unk").cast("int").as("__u")
      )
    val counts = occ
      .join(dict, Seq("__w"))
      .groupBy(col(idCol))
      .agg(
        sum("__c").cast("int").as("ws_tokens"),
        sum(col("__c") * col("__p")).cast("int").as("wp_tokens"),
        sum(col("__c") * col("__u")).cast("int").as("unk_words")
      )
    base
      .select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("ws_tokens"), lit(0)).as("ws_tokens"),
        coalesce(col("wp_tokens"), lit(0)).as("wp_tokens"),
        coalesce(col("unk_words"), lit(0)).as("unk_words")
      )
  }

  /** Viterbi segmentation of one word under a unigram piece model: the
    * highest-logprob split using only pieces present in `logprobs`
    * (single characters are guaranteed present by [[unigramLM]]; unknown
    * characters fall back to `unkLogprob` so segmentation never fails).
    * Ties prefer the LONGER piece at the earliest decision point —
    * deterministic. Driver/executor-local — called per DICTIONARY word,
    * never per token occurrence (the [[bpeEncodeWord]] contract). */
  private[graft] def unigramSegmentWord(
      word: String,
      logprobs: Map[String, Double],
      maxPieceLen: Int,
      unkLogprob: Double = -100.0
  ): Vector[String] = {
    val n = word.length
    if (n == 0) return Vector.empty
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      val lo = math.max(0, i - maxPieceLen)
      // iterate j ascending: longer pieces first; strict > keeps the
      // first (longest) winner on ties
      var j = lo
      while (j < i) {
        val piece = word.substring(j, i)
        val lp = logprobs.getOrElse(
          piece,
          if (piece.length == 1) unkLogprob else Double.NegativeInfinity
        )
        if (lp != Double.NegativeInfinity && best(j) + lp > best(i)) {
          best(i) = best(j) + lp
          back(i) = j
        }
        j += 1
      }
      i += 1
    }
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) { val j = back(p); rev += word.substring(j, p); p = j }
    out ++= rev.reverse
    out.result().toVector
  }

  /** Unigram-LM tokenizer training — the SentencePiece vocabulary learner
    * (Kudo 2018, arXiv:1804.10959) in its Viterbi hard-EM form: seed a
    * large candidate vocabulary from frequent substrings, alternate
    *   E: segment every dictionary word by Viterbi under current piece
    *      log-probs; count pieces weighted by word frequency,
    *   M: re-estimate log-probs from the counts,
    * and prune the lowest-count pieces (never single characters) until
    * `vocabSize` remains. Returns (piece, piece_count, logprob), counts
    * from the final E pass, logprobs rounded to 6 decimals; characters
    * the final segmentation never uses stay in the vocabulary as pure
    * fallbacks with count 0 and the segmenter's unknown-character floor
    * (-100) — NOT a pseudo-count, so the trained model is invariant
    * under corpus duplication at any scale. Deterministic:
    * ties everywhere break lexicographically, so the model is independent
    * of partitioning. (The paper's soft-EM marginalizes over all
    * segmentations; the Viterbi variant is the standard hard-EM
    * simplification and keeps every step an exact integer count.)
    *
    * ==Portable numerics==
    * The M step quantizes every log-prob to the dyadic 2^-25 grid
    * (`rint(lp * 2^25) / 2^25`, a ~3e-8 perturbation — meaningless for
    * tokenization quality). This makes every Viterbi path sum EXACT in
    * IEEE double (25 fractional bits + |lp| < 128 and words far shorter
    * than 2^20 pieces leave headroom under the 53-bit mantissa), so
    * segmentation argmaxes are decided by exact real arithmetic, never
    * by float-addition noise. Two structural wins: duplication
    * invariance stops depending on `log(kc)-log(kT)` landing on the same
    * ulp as `log(c)-log(T)` (both now quantize to the same grid point),
    * and the whole trainer becomes engine-portable — `java.lang.Math.log`
    * and other libms disagree by 1 ulp on ~2e-5 of integer inputs
    * (measured), which the grid absorbs — enabling the full DuckDB
    * training oracle on q_unigram_lm / q_unigram_tokens.
    *
    * Scale shape: the corpus is scanned ONCE into the (word, count)
    * dictionary; seeding, every E step, and every prune touch ONLY the
    * dictionary (distinct-words-sized) via mapPartitions with the
    * model broadcast — the justified-imperative tier shared with
    * [[bpeMerges]]/[[bpeEncodeTable]]. Candidate and final vocabularies
    * are model-sized driver collects by construction. No step ever
    * segments a token occurrence.
    */
  def unigramLM(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      maxPieceLen: Int = 8,
      seedMultiplier: Int = 4,
      emRounds: Int = 2,
      pruneFraction: Double = 0.25
  ): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    require(seedMultiplier >= 1, "seedMultiplier must be >= 1")
    require(emRounds >= 1, "emRounds must be >= 1")
    require(
      pruneFraction > 0 && pruneFraction < 1,
      "pruneFraction must be in (0, 1)"
    )
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy("__w")
      .agg(count(lit(1)).as("__n"))
      .as[(String, Long)]
      .localCheckpoint()

    // seed: frequent substrings (dictionary-only pass) + every character
    val subCounts = words
      .mapPartitions { it =>
        it.flatMap { case (w, n) =>
          for {
            s <- 0 until w.length
            e <- (s + 1) to math.min(w.length, s + maxPieceLen)
          } yield (w.substring(s, e), n)
        }
      }
      .toDF("__p", "__n")
      .groupBy("__p")
      .agg(sum("__n").as("__c"))
    val chars = subCounts.filter(length(col("__p")) === 1)
    val seeds = subCounts
      .filter(length(col("__p")) > 1)
      .orderBy(col("__c").desc, col("__p"))
      .limit(math.max(0, vocabSize * seedMultiplier))
      .union(chars)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val charSet = seeds.collect { case (p, _) if p.length == 1 => p }.toSet

    // dyadic 2^-25 quantization — see the "Portable numerics" scaladoc
    val QuantScale = 33554432.0 // 2^25, exact
    def mStep(counts: Seq[(String, Long)]): Map[String, Double] = {
      val total = counts.map(_._2).sum.toDouble
      counts.map { case (p, c) =>
        val lp = math.log(c.toDouble) - math.log(total)
        p -> math.rint(lp * QuantScale) / QuantScale
      }.toMap
    }

    def eStep(model: Map[String, Double]): Seq[(String, Long)] = {
      val bc = spark.sparkContext.broadcast(model)
      words
        .mapPartitions { it =>
          val m = bc.value
          it.flatMap { case (w, n) =>
            unigramSegmentWord(w, m, maxPieceLen).map(_ -> n)
          }
        }
        .toDF("__p", "__n")
        .groupBy("__p")
        .agg(sum("__n").as("__c"))
        .collect() // model-sized: bounded by the candidate vocabulary
        .map(r => r.getString(0) -> r.getLong(1))
        .toSeq
    }

    // Characters must stay segmentable even when currently unused, but a
    // pseudo-COUNT backstop would be scale-DEPENDENT: duplicating the
    // corpus k times scales real counts by k while a fixed pseudo-count
    // stays put, shifting the backstop's logprob by ln(k) — the same
    // corpus trained at different sizes would segment words differently.
    // Unused chars instead enter the MODEL at the segmenter's own
    // unknown-character floor (-100, strictly a fallback at any scale),
    // keeping the trained model invariant under corpus duplication
    // (asserted in StressSpec).
    val UnkLp = -100.0
    def modelOf(cs: Seq[(String, Long)]): Map[String, Double] = {
      val m = mStep(cs)
      m ++ (charSet -- m.keySet).map(_ -> UnkLp)
    }
    def effSize(cs: Seq[(String, Long)]): Int =
      (cs.map(_._1).toSet ++ charSet).size

    var counts: Seq[(String, Long)] = seeds.toSeq
    (1 to emRounds).foreach(_ => counts = eStep(modelOf(counts)))
    while (effSize(counts) > math.max(vocabSize, charSet.size)) {
      val target =
        math.max(math.max(vocabSize, charSet.size),
          (effSize(counts) * (1 - pruneFraction)).toInt)
      val (keepAlways, prunable) = counts.partition(_._1.length == 1)
      // unused chars are implicitly kept (they re-enter via modelOf), so
      // they consume part of the keep budget
      val missing = charSet.size - keepAlways.map(_._1).toSet.size
      val kept = prunable
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, target - keepAlways.size - missing))
      counts = keepAlways ++ kept
      (1 to emRounds).foreach(_ => counts = eStep(modelOf(counts)))
    }
    val model = modelOf(counts)
    val present = counts.map(_._1).toSet
    val full = counts ++ (charSet -- present).toSeq.sorted.map(_ -> 0L)
    full
      .sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) =>
        (p, c, math.rint(model(p) * 1e6) / 1e6)
      }
      .toDF("piece", "piece_count", "logprob")
  }

  /** True unigram-LM token counts per document: segment every DISTINCT
    * word once under a trained [[unigramLM]] model and sum per-word piece
    * counts back over each document's occurrences — the [[bpeTokenCounts]]
    * shape with the Viterbi segmenter. Returns one row per non-null-text
    * document: (id, ws_tokens, unigram_tokens). */
  def unigramTokenCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      maxPieceLen: Int = 8
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val probs = model
      .select("piece", "logprob")
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    val bc = spark.sparkContext.broadcast(probs)
    val base = df.filter(col(textCol).isNotNull)
    val dict = base
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .distinct()
      .as[String]
      .mapPartitions { it =>
        val m = bc.value
        it.map(w => (w, unigramSegmentWord(w, m, maxPieceLen).length))
      }
      .toDF("__w", "__p")
    val occ = base
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val counts = occ
      .join(dict, Seq("__w"))
      .groupBy(col(idCol))
      .agg(
        sum("__c").cast("int").as("ws_tokens"),
        sum(col("__c") * col("__p")).cast("int").as("unigram_tokens")
      )
    base
      .select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("ws_tokens"), lit(0)).as("ws_tokens"),
        coalesce(col("unigram_tokens"), lit(0)).as("unigram_tokens")
      )
  }

  /** Cross-document boilerplate removal (the CCNet/RefinedWeb paragraph
    * dedup): split each text on `delimiter`, count how many DISTINCT
    * documents contain each unit, strip units appearing in more than
    * `maxDocs` documents (navigation chrome, cookie banners, license
    * footers — anything repeated corpus-wide), and reassemble the
    * remaining units in their original order. Returns one row per
    * non-null-text document: (id, text_clean, n_units, n_removed); a
    * document whose every unit is boilerplate comes back as the empty
    * string, not a dropped row.
    *
    * An ABSOLUTE `maxDocs` threshold is scale-DEPENDENT: duplicate the
    * corpus and previously-clean units cross it, so the same document
    * cleans differently at different corpus sizes. Set `maxDocFraction`
    * > 0 for the scale-invariant form — the effective threshold becomes
    * `max(maxDocs, ceil(fraction * nDocs))` (exact integer ceil, one
    * bounded driver count; `maxDocs` stays as the small-corpus floor so
    * a 10-doc corpus doesn't strip every shared line). Invariance under
    * corpus duplication is stress-asserted.
    *
    * Scale shape: posexplode → two hash aggregates (distinct doc-unit,
    * then per-unit doc counts) produce the skinny hot-unit table; the
    * occurrence stream anti-joins it (Catalyst broadcasts when it fits)
    * and one per-doc aggregate reassembles via sort_array over (pos, unit)
    * structs — per-doc state bounded by document size, never corpus size.
    * Unit identity is the exact string: normalize upstream (trim,
    * lowercase) if fuzzy matching is wanted. */
  def stripBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDocs: Long,
      delimiter: String = "\n",
      maxDocFraction: Double = 0.0
  ): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    require(
      maxDocFraction >= 0 && maxDocFraction <= 1,
      "maxDocFraction must be in [0, 1]"
    )
    val base = df.filter(col(textCol).isNotNull)
    val threshold =
      if (maxDocFraction <= 0) maxDocs
      else {
        val n = base.count() // bounded driver action: a single count
        // exact integer ceil of fraction*n via a ppm-quantized fraction,
        // so an oracle can reproduce the threshold without float hazards
        val ppm = math.round(maxDocFraction * 1000000L)
        math.max(maxDocs, (ppm * n + 999999L) / 1000000L)
      }
    val parts = base
      .select(
        col(idCol).as("__id"),
        posexplode(
          split(col(textCol), java.util.regex.Pattern.quote(delimiter))
        ).as(Seq("__pos", "__unit"))
      )
    val hot = parts
      .select("__id", "__unit")
      .distinct()
      .groupBy("__unit")
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") > threshold)
      .select("__unit")
    val kept = parts.join(hot, Seq("__unit"), "left_anti")
    val totals = parts.groupBy("__id").agg(count(lit(1)).as("__n_units"))
    val rebuilt = kept
      .groupBy("__id")
      .agg(
        sort_array(collect_list(struct(col("__pos"), col("__unit"))))
          .as("__kl")
      )
      .select(
        col("__id"),
        concat_ws(
          delimiter,
          transform(col("__kl"), x => x.getField("__unit"))
        ).as("text_clean"),
        size(col("__kl")).as("__n_kept")
      )
    totals
      .join(rebuilt, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("__n_units").cast("int").as("n_units"),
        (col("__n_units") - coalesce(col("__n_kept"), lit(0)))
          .cast("int")
          .as("n_removed")
      )
  }
  /** Corpus-slice vocabulary divergence: smoothed unigram distributions of
    * two slices of a text corpus (rows where `groupCol` equals `groupA` /
    * `groupB`) compared by KL divergence in both directions and the
    * bounded, symmetric Jensen-Shannon divergence, plus vocabulary overlap
    * counts — the "how different are these two sources/languages/shards"
    * probe used for mixture design and drift checks on text (the unigram
    * analogue of the numeric PSI monitor in [[graft.operators.Stats]]).
    *
    * Distributions are Laplace-smoothed over the UNION vocabulary
    * (`p_t = (c_t + s) / (N + s*V)`), so both KLs are finite even for
    * disjoint vocabularies. Per-token contributions are rounded at 12
    * decimals and summed in DECIMAL (order-independent, engine-exact —
    * same policy as the DSIR scorer), with final figures rounded to 6.
    *
    * Scale shape: ONE tokenize+explode pass over both slices feeds a
    * single hash aggregate keyed by token (conditional sums split the two
    * slices — no second scan, map-side combine applies); the totals row is
    * a second aggregate over the token counts, broadcast back; the
    * per-token divergence terms and the final one-row sum never touch
    * document text. Output is one row: (n_vocab_a, n_vocab_b,
    * n_vocab_shared, kl_ab, kl_ba, jsd).
    */
  def vocabDivergence(
      df: DataFrame,
      textCol: String,
      groupCol: String,
      groupA: String,
      groupB: String,
      smoothing: Double = 0.5
  ): DataFrame = {
    require(smoothing > 0, "smoothing must be > 0")
    require(groupA != groupB, "groups must differ")
    val counts = ScanUtils
      .withScanParallelism(df)
      .filter(col(groupCol).isin(groupA, groupB) && col(textCol).isNotNull)
      .select(col(groupCol).as("__g"), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col("__t"))
      .agg(
        sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__cb")
      )
    val totals = counts.agg(
      sum("__ca").cast("double").as("__na"),
      sum("__cb").cast("double").as("__nb"),
      count(lit(1)).cast("double").as("__v"),
      sum(when(col("__ca") > 0, 1L).otherwise(0L)).as("__va"),
      sum(when(col("__cb") > 0, 1L).otherwise(0L)).as("__vb"),
      sum(when(col("__ca") > 0 && col("__cb") > 0, 1L).otherwise(0L))
        .as("__vs")
    )
    val p = (col("__ca").cast("double") + lit(smoothing)) /
      (col("__na") + lit(smoothing) * col("__v"))
    val q = (col("__cb").cast("double") + lit(smoothing)) /
      (col("__nb") + lit(smoothing) * col("__v"))
    def term(c: Column): Column =
      round(c, 12).cast("decimal(28,12)")
    val m = (p + q) / lit(2.0)
    val sums = counts
      .crossJoin(broadcast(totals))
      .select(
        term(p * log(p / q)).as("__kab"),
        term(q * log(q / p)).as("__kba"),
        term(p * log(p / m) / 2 + q * log(q / m) / 2).as("__jsd"),
        col("__va"), col("__vb"), col("__vs")
      )
      .groupBy(col("__va"), col("__vb"), col("__vs"))
      .agg(
        // DECIMAL-first rounding — see charEntropy's half-boundary note
        round(sum("__kab"), 6).cast("double").as("kl_ab"),
        round(sum("__kba"), 6).cast("double").as("kl_ba"),
        round(sum("__jsd"), 6).cast("double").as("jsd")
      )
    sums.select(
      col("__va").as("n_vocab_a"),
      col("__vb").as("n_vocab_b"),
      col("__vs").as("n_vocab_shared"),
      col("kl_ab"), col("kl_ba"), col("jsd")
    )
  }
  /** PMI-ranked adjacent-word collocations (phrase mining, the
    * word2phrase / Mikolov 2013 recipe with the textbook PMI score):
    * every adjacent token pair occurring at least `minCount` times, scored
    *
    *   pmi(w1, w2) = ln( (c12 / NB) / ((c1 / NU) * (c2 / NU)) )
    *
    * with c12 the bigram count over NB total bigrams and c1/c2 unigram
    * counts over NU total tokens. High-PMI pairs are multiword units
    * ("new york", "machine learning") worth fusing before tokenizer
    * training; low/negative PMI flags word-salad adjacency.
    *
    * Scale shape: bigrams form per-row from the token array (no window,
    * no shuffle to pair words); one hash aggregate each for unigram and
    * bigram counts (map-side combine); the two unigram attachments are
    * equi-joins on the word key (vocab-sized — Catalyst broadcasts when
    * small); the NU/NB totals ride a one-row broadcast. PMI is rounded to
    * 6 decimals (engine-portable double policy).
    */
  def collocations(
      df: DataFrame,
      textCol: String,
      minCount: Long = 2L
  ): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val docs = ScanUtils.withScanParallelism(df).filter(col(textCol).isNotNull)
    val toks = tokens(col(textCol))
    val uni = docs
      .select(explode(toks).as("__w"))
      .groupBy("__w")
      .agg(count(lit(1)).as("__c"))
    val allPairs = docs
      .select(
        explode(
          // zip_with over shifted slices: the transform(sequence, i =>
          // element_at(toks, ...)) form re-tokenizes per element
          // (O(len^2) per document — the TextFunctions.shingles fix)
          when(
            size(toks) >= 2,
            zip_with(
              slice(toks, lit(1), size(toks) - 1),
              slice(toks, lit(2), size(toks) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2"))
            )
          ).otherwise(array().cast("array<struct<w1:string,w2:string>>"))
        ).as("__p")
      )
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pair"))
    // NB totals come from the UNFILTERED bigram counts (PMI's denominator
    // is the whole bigram mass, not just the frequent pairs)
    val totals = uni
      .agg(sum("__c").cast("double").as("__nu"))
      .crossJoin(
        allPairs.agg(coalesce(sum("n_pair"), lit(0L)).cast("double").as("__nb"))
      )
    val pairs = allPairs.filter(col("n_pair") >= minCount)
    pairs
      .join(uni.select(col("__w").as("w1"), col("__c").as("__c1")), Seq("w1"))
      .join(uni.select(col("__w").as("w2"), col("__c").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(
        col("w1"),
        col("w2"),
        col("n_pair"),
        round(
          log(
            (col("n_pair").cast("double") / col("__nb")) /
              ((col("__c1").cast("double") / col("__nu")) *
                (col("__c2").cast("double") / col("__nu")))
          ),
          6
        ).as("pmi")
      )
  }
  /** Zipf rank-frequency fit of the corpus vocabulary: least-squares line
    * through (ln rank, ln count) over the `topN` most frequent tokens —
    * natural-language corpora follow slope ~ -1 (Zipf 1949), and drift in
    * the slope or fit quality (r2) flags synthetic, templated, or
    * boilerplate-heavy data slices. One output row:
    * (n_ranks, slope, intercept, r2).
    *
    * Determinism/portability: ranks are total-ordered by (count DESC,
    * token ASC); each regression term is rounded at 12 decimals and
    * summed in DECIMAL (the [[vocabDivergence]] policy), and the final
    * closed-form arithmetic runs on those exact sums — identical in any
    * engine. Final figures rounded to 6.
    *
    * Scale shape: one tokenize+explode pass and a vocab-keyed hash
    * aggregate (map-side combine); the top-N selection is a TakeOrdered
    * (no global sort of the vocabulary); the rank window and regression
    * run over at most `topN` rows — driver-bounded by construction, like
    * the flowchart and transition-matrix tails.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 2, "topN must be >= 2")
    val counts = ScanUtils
      .withScanParallelism(df)
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w")
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w"))
      .limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__c").desc, col("__w"))
    def term(c: Column): Column = round(c, 12).cast("decimal(28,12)")
    val xy = counts
      .withColumn("__r", row_number().over(w))
      .select(
        term(log(col("__r").cast("double"))).as("__x"),
        term(log(col("__c").cast("double"))).as("__y"),
        // x*x, not pow(x, 2): libm pow need not hit the exact product,
        // and the oracle must reproduce every term bit-for-bit
        term(log(col("__r").cast("double")) * log(col("__r").cast("double")))
          .as("__xx"),
        term(log(col("__c").cast("double")) * log(col("__c").cast("double")))
          .as("__yy"),
        term(log(col("__r").cast("double")) * log(col("__c").cast("double")))
          .as("__xy")
      )
    xy.agg(
        count(lit(1)).cast("double").as("__n"),
        sum("__x").cast("double").as("__sx"),
        sum("__y").cast("double").as("__sy"),
        sum("__xx").cast("double").as("__sxx"),
        sum("__yy").cast("double").as("__syy"),
        sum("__xy").cast("double").as("__sxy")
      )
      .select(
        col("__n").cast("long").as("n_ranks"),
        round(
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__n") * col("__sxx") - col("__sx") * col("__sx")),
          6
        ).as("slope"),
        round(
          (col("__sy") - ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__n") * col("__sxx") - col("__sx") * col("__sx"))) * col("__sx")) /
            col("__n"),
          6
        ).as("intercept"),
        round(
          ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) *
            (col("__n") * col("__sxy") - col("__sx") * col("__sy"))) /
            ((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
              (col("__n") * col("__syy") - col("__sy") * col("__sy"))),
          6
        ).as("r2")
      )
  }
  /** Per-document Unicode script mix: the fraction of characters in the
    * Latin, CJK (Han + kana), Cyrillic, digit, and whitespace ranges,
    * plus the remainder — the pre-language-ID routing signal multilingual
    * pipelines cut on (a "lang=en" doc that is 40% CJK is mislabeled or
    * mixed). Fractions are over the total character count and rounded to
    * 6; NULL text yields a zero-count row with NULL fractions.
    *
    * Pure per-row codegen (a chain of character-class regexp_replace
    * strips — no tokenization, no shuffle). Character classes use
    * explicit code-point ranges so any RE2/PCRE engine reproduces them.
    */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = length(col(textCol))
    def classCount(ranges: String): Column =
      n - length(regexp_replace(col(textCol), s"[$ranges]", ""))
    val latin = classCount("A-Za-z\u00C0-\u024F")
    val cjk = classCount("\u4E00-\u9FFF\u3040-\u30FF")
    val cyr = classCount("\u0400-\u04FF")
    val digit = classCount("0-9")
    val space = classCount(" \t\n\r")
    def frac(c: Column): Column = when(n > 0, round(c / n, 6))
    df.select(
      col(idCol),
      coalesce(n, lit(0)).cast("int").as("n_chars"),
      frac(latin).as("frac_latin"),
      frac(cjk).as("frac_cjk"),
      frac(cyr).as("frac_cyrillic"),
      frac(digit).as("frac_digit"),
      frac(space).as("frac_space"),
      frac(n - latin - cjk - cyr - digit - space).as("frac_other")
    )
  }
}
