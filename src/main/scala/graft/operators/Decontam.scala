package graft.operators

import graft.functions.TextFunctions._
import graft.plans.{GramSet, SharedGramCountExpr}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Train/test decontamination: find (and drop) training documents that
  * share any word n-gram with a held-out evaluation set — the standard
  * guard against benchmark leakage when assembling LLM training corpora
  * (north-star extension; no reference counterpart).
  *
  * Scale shape: the eval set is small by construction, so its distinct
  * n-gram set is built on the driver (one scan job collects the eval
  * token arrays; the driver holds no more than a broadcast of the eval
  * grams would gather there), and the training corpus streams once
  * through ONE per-row native expression (`graft.plans.SharedGramCountExpr`)
  * that counts each row's distinct grams found in the set. No explode, no
  * join, no aggregate and no shuffle of the corpus: at 100 TB the only
  * full pass is the per-row gram walk, which is the irreducible work.
  */
object Decontam {

  /** Per row of `train`, the number of its distinct word `n`-grams found
    * anywhere in `test`'s `textCol` (both sides tokenized by
    * `tokens`). EAGER: one scan job collects `test`'s token arrays and the
    * gram set is built on the driver, once per call. */
  private def sharedGramCount(test: DataFrame, textCol: String, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    val evalTokens = test.select(tokens(col(textCol))).collect().iterator
      .map(_.getSeq[String](0))
    GraftSqlBridge.column(
      SharedGramCountExpr(
        GraftSqlBridge.expression(tokens(col(textCol))), n, GramSet(evalTokens, n)
      )
    )
  }

  /** Per-training-row contamination report: every row of `train` with
    * `n_shared_grams` (distinct `n`-grams also present anywhere in `test`)
    * and a `contaminated` flag. Rows with NULL text, or shorter than `n`
    * tokens, have no n-grams and are never contaminated; an empty `test`
    * flags nothing. Counted per row, not per id: rows sharing an id keep
    * their own counts (`idCol` is not read). EAGER: see
    * [[sharedGramCount]].
    */
  def contaminationReport(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame =
    train
      .withColumn("n_shared_grams", sharedGramCount(test, textCol, n))
      .withColumn("contaminated", col("n_shared_grams") > 0)

  /** Drop contaminated training rows: every row sharing a word `n`-gram
    * with `test` goes, whatever its id (`idCol` is not read: a clean row
    * sharing an id with a contaminated one stays, a contaminated row with
    * a NULL id goes). Rows with NULL text or fewer than `n` tokens stay,
    * and an empty `test` keeps every row. EAGER: see [[sharedGramCount]]. */
  def decontaminate(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame =
    train.filter(sharedGramCount(test, textCol, n) === 0)

  /** Cross-split leakage audit: for every document OUTSIDE the training
    * split, the fraction of its distinct word `n`-grams that also appear
    * somewhere in the training split — the self-referential complement of
    * [[contaminationReport]]. After `Splits.hashSplit` (or any split
    * assignment) this answers "how much of my held-out set does the model
    * see verbatim during training?", the standard train/test leakage
    * check run before training (e.g. the overlap analyses in the GPT-3
    * appendix) — applied to your OWN splits rather than an external
    * benchmark.
    *
    * Scale shape: unlike [[contaminationReport]], NEITHER side broadcasts
    * — at 100 TB the training split's gram set is itself TB-sized. Both
    * sides reduce to distinct (id-or-nothing, gram-digest) rows and meet
    * in a shuffle hash join keyed on the 128-bit md5 digest of the gram:
    * the shuffle carries 16-byte digests instead of raw n-gram strings,
    * the train side is pre-shrunk by `distinct()` (map-side partial), and
    * the per-doc counts combine map-side. Equal-width digests also hash
    * uniformly, so the join keys cannot skew on a hot gram's byte length.
    *
    * Output: one row per held-out document that has at least one n-gram
    * (docs shorter than `n` tokens have nothing to leak and are omitted):
    * (idCol, splitCol, n_grams, n_leaked, leak_frac). Distinct-gram
    * counting on both sides makes the fraction insensitive to a gram
    * repeating inside one document.
    */
  def crossSplitLeakage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitCol: String,
      trainSplit: String = "train",
      n: Int = 3
  ): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    val grams = df
      .select(
        col(idCol),
        col(splitCol),
        explode(array_distinct(shingles(col(textCol), n))).as("__gram")
      )
      .select(col(idCol), col(splitCol), md5(col("__gram")).as("__gk"))
    val trainGrams =
      grams.filter(col(splitCol) === trainSplit).select("__gk").distinct()
    val heldOut = grams.filter(col(splitCol) =!= trainSplit)
    // ONE pass over the held-out grams: a left join against the DISTINCT
    // train-gram keys (at most one match per key, so row counts are
    // preserved exactly) feeds a single aggregate computing both the gram
    // total and the leaked count — the previous semi-join + second count
    // aggregate + re-join evaluated the held-out explode lineage twice
    // and shuffled it three times
    heldOut
      .join(
        trainGrams.withColumn("__hit", lit(1L)),
        Seq("__gk"),
        "left"
      )
      .groupBy(col(idCol), col(splitCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_leaked")
      )
      .withColumn(
        "leak_frac",
        round(col("n_leaked").cast("double") / col("n_grams"), 6)
      )
  }

  /** Fuzzy (near-duplicate) contamination matches: training docs whose
    * MinHash signature near-matches an eval doc — the rung between exact
    * n-gram decontamination (verbatim leakage) and embedding-based
    * semantic decontamination (paraphrase leakage): it catches lightly
    * edited copies of benchmark items that share few exact n-grams but
    * most of their token set. One row per (train id, matched eval id)
    * with the estimated Jaccard (1.0 for identical signatures).
    *
    * The candidate model is [[Dedup.minHashReferenceMatches]], shared with
    * [[Dedup.dedupNearMinHashIncremental]]'s corpus passes — (a) identical
    * signature: certain match with the minimum eval id of that signature;
    * (b) per LSH band bucket, the train doc pairs with the MINIMUM-id eval
    * doc sharing it, kept when full-signature agreement >= `threshold` —
    * WITHOUT the in-batch passes (decontamination never dedups the corpus
    * against itself). The eval side is benchmark-sized; its signature and
    * band tables are broadcastable, and the corpus is scanned exactly
    * once (one shingle+digest pass). Train/eval ids may overlap — the
    * pairing never mixes the two id spaces. */
  def fuzzyContaminationMatches(
      train: DataFrame,
      idCol: String,
      textCol: String,
      eval_ : DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      threshold: Double = 0.8,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    // both signature tables feed THREE divergently-shaped consumers (the
    // exact-signature join, the band explode, and the verify join-back),
    // so each is lazily materialized — without it the corpus pays the
    // shingle+digest pass three times (the dedupNearMinHash persist
    // discipline, lazy here because no driver action follows)
    val trainSigs =
      Dedup.minHashSignatures(train, idCol, textCol, shingleK, numHashes)
        .localCheckpoint(false)
    val evalSigs =
      Dedup.minHashSignatures(eval_, evalIdCol, evalTextCol, shingleK, numHashes)
        .localCheckpoint(false)
    Dedup
      .minHashReferenceMatches(trainSigs, evalSigs, threshold, numHashes, bands)
      .select(col("id"), col("ref_id").as("eval_id"), col("est_jaccard"))
      .distinct()
  }

  /** Drop every training doc with a [[fuzzyContaminationMatches]] row —
    * near-duplicate decontamination against a benchmark set. */
  def fuzzyDecontaminate(
      train: DataFrame,
      idCol: String,
      textCol: String,
      eval_ : DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      threshold: Double = 0.8,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    val matched = fuzzyContaminationMatches(
      train, idCol, textCol, eval_, evalIdCol, evalTextCol,
      threshold, shingleK, numHashes, bands
    ).select(col("id").as("__loser")).distinct()
    train.join(matched, train(idCol) === col("__loser"), "left_anti")
  }

  /** SEMANTIC contamination report: per training document, the maximum
    * cosine similarity of its embedding to ANY evaluation embedding, plus
    * a `contaminated` flag at `threshold` — the paraphrase-robust
    * complement of the n-gram forms above (a reworded benchmark question
    * shares no 13-gram but sits at cosine ~0.9+; see the decontamination
    * discussions in the GPT-3 and Llama 2 reports). Documents with a NULL
    * embedding get NULL similarity and are never flagged.
    *
    * Exactness: per-pair cosine is the codegen'd native expression; max()
    * over doubles is order-independent (unlike sums), so ONE rounding of
    * the final maximum keeps the report engine-reproducible.
    *
    * Scale shape: the eval side is small by construction (same contract
    * as [[contaminationReport]]) and BROADCAST; the corpus streams once
    * through a broadcast nested-loop score + per-doc max with map-side
    * partial aggregation. Nothing corpus-sized shuffles; for eval sets
    * too large to broadcast, pre-bucket both sides with
    * `Similarity.annTopKMultiBand`'s banks instead. */
  def semanticContaminationReport(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import graft.functions.VectorFunctions.cosineSimilarityNative
    val evalVecs = broadcast(
      eval.filter(col(vecCol).isNotNull).select(col(vecCol).as("__ev"))
    )
    val best = train
      .filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__tv"))
      .crossJoin(evalVecs)
      .groupBy(col(idCol))
      .agg(
        round(max(cosineSimilarityNative(col("__tv"), col("__ev"))), 6)
          .as("max_eval_cosine")
      )
    train
      .join(best, Seq(idCol), "left")
      .withColumn(
        "contaminated",
        coalesce(col("max_eval_cosine") >= threshold, lit(false))
      )
  }

  /** Drop semantically contaminated training documents (embedding within
    * `threshold` cosine of any eval embedding) — the anti-join form of
    * [[semanticContaminationReport]], same broadcast scale shape. */
  def semanticDecontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import graft.functions.VectorFunctions.cosineSimilarityNative
    val evalVecs = broadcast(
      eval.filter(col(vecCol).isNotNull).select(col(vecCol).as("__ev"))
    )
    val hitIds = train
      .filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__tv"))
      .crossJoin(evalVecs)
      .filter(cosineSimilarityNative(col("__tv"), col("__ev")) >= threshold)
      .select(idCol)
      .distinct()
    train.join(hitIds, Seq(idCol), "left_anti")
  }
}
