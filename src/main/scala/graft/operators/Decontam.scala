package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/test decontamination: find (and drop) training documents that
  * share any word n-gram with a held-out evaluation set — the standard
  * guard against benchmark leakage when assembling LLM training corpora
  * (north-star extension; no reference counterpart).
  *
  * Scale shape: the eval set is small by construction, so its distinct
  * n-gram set is broadcast; the training corpus streams once through
  * explode → broadcast-hash-semi-join → per-doc aggregate. No shuffle of
  * the corpus itself — only the (id, matched-gram) survivors reach the
  * aggregate, with map-side partial counts. At 100 TB the only full pass
  * is the n-gram explode, which is the irreducible work.
  */
object Decontam {

  /** Per-training-doc contamination report: every row of `train` with
    * `n_shared_grams` (distinct `n`-grams also present anywhere in `test`)
    * and a `contaminated` flag. Documents shorter than `n` tokens have no
    * n-grams and are never contaminated.
    */
  def contaminationReport(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    val testGrams = broadcast(
      test
        .select(explode(shingles(col(textCol), n)).as("__gram"))
        .distinct()
    )
    val shared = train
      .select(col(idCol), array_distinct(shingles(col(textCol), n)).as("__g"))
      .select(col(idCol), explode(col("__g")).as("__gram"))
      .join(testGrams, Seq("__gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared_grams"))
    train
      .join(shared, Seq(idCol), "left")
      .withColumn("n_shared_grams", coalesce(col("n_shared_grams"), lit(0L)))
      .withColumn("contaminated", col("n_shared_grams") > 0)
  }

  /** Drop contaminated training documents (anti-join against the ids any of
    * whose n-grams appear in `test`). */
  def decontaminate(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    val testGrams = broadcast(
      test
        .select(explode(shingles(col(textCol), n)).as("__gram"))
        .distinct()
    )
    val contaminatedIds = train
      .select(col(idCol), explode(shingles(col(textCol), n)).as("__gram"))
      .join(testGrams, Seq("__gram"), "left_semi")
      .select(idCol)
      .distinct()
    train.join(contaminatedIds, Seq(idCol), "left_anti")
  }

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

  /** Sketch-based decontamination for when even the eval n-gram set is too
    * large to broadcast exactly: compile the eval grams into a Bloom
    * filter (constant size for a chosen false-positive rate) and drop
    * every training doc with at least one probable-member gram.
    *
    * Bloom filters have NO false negatives, so every truly contaminated
    * document is guaranteed dropped; false positives over-drop a bounded
    * fraction (~ fpp per distinct gram) of clean docs — the safe direction
    * for leakage control. The result is therefore a SUBSET of
    * [[decontaminate]]'s and the only probabilistic operator in this
    * object; use the exact form whenever the eval set broadcasts.
    *
    * Scale shape: one filter-side aggregate builds the sketch (driver
    * merge of per-partition filters), then the corpus streams once
    * through explode → membership test → distinct-id anti-join. The
    * membership probe is a broadcast of one fixed-size bit array no
    * matter how many eval grams exist — and it is Spark's native
    * `BloomFilterMightContain` expression (the one runtime bloom-filter
    * joins inject), NOT a Scala UDF, so the probe stays inside
    * whole-stage codegen on the full exploded gram stream. Grams are
    * keyed by xxhash64 on BOTH the build and probe sides (the native
    * probe tests 64-bit keys), which adds only a ~n/2^64 hash-collision
    * term to fpp and keeps the no-false-negative guarantee. */
  /** Build-once Bloom contamination probe over the eval set's distinct
    * n-grams — shared by [[bloomDecontaminate]] and the streaming gate
    * (`Streaming.decontaminateStreamBloom`). Returns a function wrapping
    * ANY gram Column (including a lambda variable inside `exists()`) in
    * the native codegen'd membership test against the one driver-built,
    * fixed-size filter; None when the eval set has no grams. */
  private[graft] def bloomContaminationProbe(
      test: DataFrame,
      textCol: String,
      n: Int,
      fpp: Double
  ): Option[Column => Column] = {
    require(n >= 1, "n-gram size must be >= 1")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val grams = test
      .select(explode(shingles(col(textCol), n)).as("__gram"))
      .distinct()
    val numGrams = grams.count()
    if (numGrams == 0) None
    else {
      val bytes = BloomUtils.filterBytes(
        grams.select(xxhash64(col("__gram")).as("__h")),
        numGrams,
        fpp
      )
      Some(g => BloomUtils.probeOf(bytes, xxhash64(g)))
    }
  }

  def bloomDecontaminate(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      fpp: Double = 0.001
  ): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val grams = test
      .select(explode(shingles(col(textCol), n)).as("__gram"))
      .distinct()
    val numGrams = grams.count()
    if (numGrams == 0) train
    else {
      // build over the same 64-bit keys the native probe tests (the
      // putLong <-> mightContainLong contract lives in BloomUtils,
      // shared with Joins.bloomSemiJoin); both sides hash StringType
      // grams, so the type-identity requirement holds by construction
      val probe = BloomUtils.probeColumn(
        grams.select(xxhash64(col("__gram")).as("__h")),
        numGrams,
        fpp,
        xxhash64(col("__gram"))
      )
      val hitIds = train
        .select(col(idCol), explode(shingles(col(textCol), n)).as("__gram"))
        .filter(col("__gram").isNotNull && probe)
        .select(idCol)
        .distinct()
      train.join(hitIds, Seq(idCol), "left_anti")
    }
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
