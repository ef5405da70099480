package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication for large corpora: exact, MinHash+LSH, SimHash, and exact
  * n-gram Jaccard (north-star extension; no reference counterpart —
  * SURVEY.md §7 `graft.scale`).
  *
  * Scale design:
  *   - Exact dedup is one hash shuffle on the key columns with a streaming
  *     row_number top-1 (`WindowGroupLimit` keeps it memory-bounded).
  *   - MinHash signatures are computed per row by one native kernel, and
  *     bands by per-row expressions — zero shuffle until the band join.
  *     Candidate generation shuffles only (bandKey, id, signature) pairs,
  *     never the documents: at 100 TB the band join moves ~B small rows
  *     per doc, and the final anti-join is a semi shuffle on the id column.
  *   - Verification (signature agreement / exact Jaccard) happens only on
  *     in-bucket candidate pairs, the standard LSH cost model.
  */
object Dedup {

  /** Bucket grid for [[minHashRecallReport]]'s deterministic hash-sample.
    * Deliberately much finer than [[Splits.Buckets]] (10000): the cap
    * threshold is an integer ceil of `buckets * maxSampleDocs / n`, which
    * floors at one bucket, so the grid size bounds how SMALL the effective
    * sample fraction can get. 1e12 buckets put that floor at 1e-12 —
    * effectively no floor for any real corpus — while md5Prefix60's 60-bit
    * range (~1.15e18) keeps the modulo bias negligible (~1e-6). */
  val RecallAuditBuckets: Long = 1000000000000L

  /** Keep exactly one row per distinct combination of `keyCols` — the first
    * under `tieBreak` ordering (deterministic, unlike dropDuplicates).
    * One shuffle; WindowGroupLimit prunes per partition before the sort. */
  def exactDedup(
      df: DataFrame,
      keyCols: Seq[String],
      tieBreak: Seq[Column]
  ): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(tieBreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** One-row corpus duplication summary: document count, distinct-content
    * count (by md5 of the raw text), how many documents belong to a
    * cluster of exact duplicates, the duplicated fraction, and the
    * largest cluster size — the "how duplicated is my corpus" health
    * check run before choosing dedup thresholds. Null-text documents are
    * excluded.
    *
    * Scale shape: one hash aggregate keyed by content digest (map-side
    * combine collapses within-partition repeats), then a single-row
    * global aggregate over the (small) cluster-size table. */
  def duplicationReport(
      df: DataFrame,
      textCol: String
  ): DataFrame = {
    val clusters = df
      .filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("__h"))
      .groupBy("__h")
      .agg(count(lit(1)).as("__size"))
    clusters.agg(
      sum("__size").as("n_docs"),
      count(lit(1)).as("n_unique"),
      coalesce(sum(when(col("__size") > 1, col("__size"))), lit(0L))
        .as("n_dup_docs"),
      round(
        coalesce(sum(when(col("__size") > 1, col("__size"))), lit(0L))
          .cast("double") / sum("__size"),
        6
      ).as("dup_frac"),
      max("__size").as("max_cluster")
    )
  }

  /** MinHash signature table (__id, __sig array): one row per input row
    * whose text has at least one shingle, its signature computed by the
    * per-row native kernel [[graft.functions.TextFunctions.minHashOfShingles]]
    * (one md5 per shingle, `numHashes` running minimums) — a projection
    * over the scan, with no exploded shingle rows, no aggregate and no
    * shuffle. Rows with NULL text or fewer than `shingleK` tokens drop out
    * (they can never be duplicates of anything).
    *
    * Row key contract: the output has ONE row per input row, keyed by the
    * row's `idCol` value as it stands — rows sharing an id are NOT merged
    * into one signature (as the DuckDB oracle's per-row signature CTE).
    * Every consumer in this library passes uniquely keyed rows.
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int
  ): DataFrame = {
    // per-shingle digests are per-row expensive: spread a narrow-split
    // scan across cores (no-op at real scale — ScanUtils contract; the
    // output is per row, so row order is irrelevant). The shingle test
    // reads the text, not the signature: a filter on `__sig` would be
    // pushed below the projection and digest every shingle twice.
    val hasShingles =
      if (shingleK == 1) col(textCol).isNotNull // split never yields []
      else size(tokens(col(textCol))) >= shingleK
    ScanUtils.withScanParallelism(df)
      .filter(hasShingles)
      .select(
        col(idCol).as("__id"),
        minHashOfShingles(shingles(col(textCol), shingleK), numHashes).as("__sig")
      )
  }

  /** Candidate near-duplicate pairs (idA < idB) via MinHash + LSH banding,
    * with the estimated Jaccard from full-signature agreement.
    *
    * Cost shape: the band join moves only skinny (bandKey, id) rows; pairs
    * are deduplicated BEFORE signatures are re-attached, so the wide arrays
    * never ride the quadratic part of the shuffle.
    *
    * @param shingleK   word-shingle size (1 = order-insensitive token sets)
    * @param numHashes  signature length (bands * rowsPerBand must equal it)
    * @param representativesOnly when true, each doc is paired only with the
    *   MINIMUM id in each of its band buckets instead of with every bucket
    *   member. Turns worst-case quadratic bucket blowup (giant duplicate
    *   clusters all sharing identical signatures) into O(bands) pairs per
    *   doc — the scalable default for dedup, where "is there a smaller-id
    *   near-dup?" is the only question. Exhaustive pair enumeration
    *   (false) remains for similarity mining.
    */
  def minHashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4,
      representativesOnly: Boolean = false
  ): DataFrame = {
    val sigs = minHashSignatures(df, idCol, textCol, shingleK, numHashes)
    minHashCandidatePairsFromSigs(sigs, numHashes, bands, representativesOnly)
  }

  /** [[minHashCandidatePairs]] over a PRECOMPUTED signature table
    * (__id, __sig) — lets callers that also need the signatures for other
    * passes (e.g. [[dedupNearMinHash]]'s exact-signature pass) scan and
    * hash the corpus exactly once. */
  def minHashCandidatePairsFromSigs(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      representativesOnly: Boolean = false
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val banded = sigs.select(
      col("__id"),
      explode(lshBands(col("__sig"), bands, r)).as("__band")
    )
    bucketPairs(banded, "__band", representativesOnly)
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("sig_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        minHashSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard")
      )
  }

  /** Pairs each row of an (`__id`, `key`) table with the SMALLEST id sharing
    * its key, as (id_a = that minimum, id_b = id) for every id above it —
    * the exact-signature pass and bucket-minimum band pairing of every
    * near-duplicate operator. A groupBy + join, NOT a window: a window puts
    * a whole hot key in one task (a giant duplicate cluster is one huge
    * group), while the aggregate combines map-side and the join stays
    * splittable under AQE skew handling. */
  private def groupMinPairs(rows: DataFrame, key: String): DataFrame = {
    val mins = rows.groupBy(key).agg(min("__id").as("__min"))
    rows
      .join(mins, Seq(key))
      .filter(col("__id") > col("__min"))
      .select(col("__min").as("id_a"), col("__id").as("id_b"))
  }

  /** Distinct candidate pairs (id_a < id_b) of an (`__id`, `key`) bucket
    * table: every in-bucket pair, or with `representativesOnly` only each
    * row's pair with its bucket minimum ([[groupMinPairs]] — O(buckets)
    * pairs per row even for a giant cluster). Only ids ride the join;
    * callers attach signatures or vectors to the deduplicated pairs. */
  private def bucketPairs(
      banded: DataFrame,
      key: String,
      representativesOnly: Boolean
  ): DataFrame =
    if (representativesOnly) groupMinPairs(banded, key).distinct()
    else {
      val a = banded.select(col(key), col("__id").as("id_a"))
      val b = banded.select(col(key), col("__id").as("id_b"))
      a.join(b, Seq(key))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    }

  /** The ids a near-duplicate pair table (id_a < id_b) drops, as
    * `__loser`: every `id_b`, or with `transitive` every id above the
    * minimum of its connected component over the pair edges
    * ([[Graphs.connectedComponentsByMinLabel]] — A~B~C drops both B and C
    * even when A and C share no direct pair). Not deduplicated. */
  private def losersFromPairs(pairs: DataFrame, transitive: Boolean): DataFrame =
    if (transitive)
      Graphs
        .connectedComponentsByMinLabel(pairs.select("id_a", "id_b"), "id_a", "id_b")
        .filter(col("id") > col("component"))
        .select(col("id").as("__loser"))
    else pairs.select(col("id_b").as("__loser"))

  /** The EAGER step of the near-duplicate operators: persists `input`
    * (MEMORY_AND_DISK), builds `result` and materializes it with one
    * `count()` job, then releases `input` — when that job ends, or fails.
    * `input` is the table several sub-plans of `result` consume (a
    * signature or shingle-set table); without the persist the lazy DAG
    * would re-shingle and re-hash the corpus once per consumer (~5 full
    * scans at 100 TB). `result` — the skinny loser-id set the caller
    * anti-joins, or a pair table — stays persisted (MEMORY_AND_DISK,
    * recomputable, LRU-evictable) and is referenced by the plan the caller
    * returns; nothing here releases it. Any connected-component pass
    * inside `result` runs while `input` is held. */
  private def materialize(input: DataFrame)(result: => DataFrame): DataFrame = {
    def hold(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
    hold(input)
    try {
      val out = hold(result)
      out.count()
      out
    } finally input.unpersist(blocking = false)
  }

  /** LSH tuning report: how well does a (numHashes, bands) MinHash config
    * bucket the TRUE near-duplicate pairs? On a deterministic hash-sample
    * of the corpus, compute the exact Jaccard pairs at `threshold` (the
    * PPJoin-exact [[ngramJaccardPairs]]) and the LSH candidate pairs (all
    * in-bucket co-occurrences), and report one row:
    * (n_docs, n_true_pairs, n_candidate_pairs, n_hit, pair_recall,
    * pair_precision). Run it BEFORE shipping a 100 TB dedup to pick the
    * band count — recall is what the band config buys, precision is what
    * the verification pass pays for.
    *
    * Scale shape: the exact-pair computation is the quadratic-ish part,
    * which is exactly why it runs on the hash-sample (md5 bucketing as in
    * [[Splits.hashSplit]] but on a FINE `1e12` grid — deterministic,
    * engine-portable); both pair sets and all counts are one-row
    * aggregates crossJoined back. The fine grid matters for the cap: on
    * the coarse 10000-bucket split grid the threshold floors at ONE
    * bucket = n/10000 docs, so past 10000*maxSampleDocs rows the sample
    * would silently grow linearly again (and the exact-truth step
    * quadratically); with 1e12 buckets the effective fraction can go down
    * to 1e-12, far below any corpus this audit will meet.
    *
    * `sampleFraction` alone keeps the sample PROPORTIONAL to the corpus, so
    * the exact-truth cost still grows quadratically with data size. For a
    * scale-invariant audit set `maxSampleDocs` > 0: the effective bucket
    * threshold becomes min(fraction, maxSampleDocs/corpus) — the audit then
    * costs the same whether run on 1 GB or 100 TB. Computing the corpus
    * size is one bounded driver `count()` (a tuning report is a one-shot
    * diagnostic, not a data path). The threshold uses exact integer ceil
    * arithmetic so a SQL oracle reproduces the sample bit-for-bit. */
  def minHashRecallReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4,
      sampleFraction: Double = 1.0,
      salt: String = "",
      maxSampleDocs: Int = 0
  ): DataFrame = {
    require(
      sampleFraction > 0 && sampleFraction <= 1,
      "sampleFraction must be in (0, 1]"
    )
    val base = df.filter(col(textCol).isNotNull)
    val fracThr =
      if (sampleFraction >= 1.0) RecallAuditBuckets
      else math.round(sampleFraction * RecallAuditBuckets)
    val thr =
      if (maxSampleDocs <= 0) fracThr
      else {
        val n = base.count() // bounded driver action: a single count
        val capThr =
          if (n == 0L) RecallAuditBuckets
          else
            // BigInt: RecallAuditBuckets * maxSampleDocs can exceed Long
            ((BigInt(RecallAuditBuckets) * maxSampleDocs + n - 1) / n)
              .min(BigInt(RecallAuditBuckets))
              .toLong
        math.min(fracThr, capThr)
      }
    val fineBucket = graft.functions.TextFunctions
      .md5Prefix60(concat(col(idCol).cast("string"), lit(salt))) %
      RecallAuditBuckets
    val sampled =
      if (thr >= RecallAuditBuckets) base
      else base.filter(fineBucket < thr)
    // both pair lists feed TWO divergent consumers each (the recall
    // semi-join and a grand count — no shared exchange between them), so
    // each is lazily materialized: without the checkpoint the exact
    // PPJoin self-join and the LSH banding pass both run twice
    val truth = ngramJaccardPairs(sampled, idCol, textCol, shingleK, threshold)
      .select("id_a", "id_b")
      .localCheckpoint(false)
    val cand = minHashCandidatePairs(sampled, idCol, textCol, shingleK, numHashes, bands)
      .select("id_a", "id_b")
      .localCheckpoint(false)
    val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
    val nd = sampled.agg(count(lit(1)).as("n_docs"))
    val nt = truth.agg(count(lit(1)).as("n_true_pairs"))
    val nc = cand.agg(count(lit(1)).as("n_candidate_pairs"))
    val nh = hit.agg(count(lit(1)).as("n_hit"))
    nd.crossJoin(nt)
      .crossJoin(nc)
      .crossJoin(nh)
      .select(
        col("n_docs"),
        col("n_true_pairs"),
        col("n_candidate_pairs"),
        col("n_hit"),
        round(
          col("n_hit").cast("double") /
            when(col("n_true_pairs") > 0, col("n_true_pairs")),
          6
        ).as("pair_recall"),
        round(
          col("n_hit").cast("double") /
            when(col("n_candidate_pairs") > 0, col("n_candidate_pairs")),
          6
        ).as("pair_precision")
      )
  }

  /** Remove near-duplicates: a row is dropped iff a candidate pair links it
    * to a lower-id row with estimated Jaccard >= threshold. Candidates come
    * from bucket-minimum representative pairing (O(bands) pairs per doc —
    * see minHashCandidatePairs), the scalable standard for corpus dedup;
    * set `transitive = true` for full connected-component clustering.
    *
    * The corpus is scanned twice in total: once to build signatures (shared
    * by the exact-signature pass AND the banding pass) and once for the
    * final anti-join that re-reads the full-width rows. Rows with NULL text
    * have no shingles, so they produce no signature and are always RETAINED
    * (a null document cannot be a near-duplicate of anything).
    *
    * EAGER: the loser-id set is built off the held signature table when the
    * operator is called — see [[materialize]].
    */
  def dedupNearMinHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4,
      transitive: Boolean = false
  ): DataFrame = {
    // ONE signature projection feeds both passes: the held table is
    // scanned by the exact and banding passes instead of re-shingling and
    // re-digesting the corpus (the dominant cost at scale) per consumer
    val sigs = minHashSignatures(df, idCol, textCol, shingleK, numHashes)
    val losers = materialize(sigs) {
      minHashLosers(sigs, threshold, numHashes, bands, transitive).distinct()
    }
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** The in-table losers of an (`__id`, `__sig`) MinHash signature table:
    * (1, exact, linear) every id above the minimum of its identical-
    * signature group — certain dups, no pair enumeration even for giant
    * clusters; (2, approximate, linear) the [[losersFromPairs]] of the
    * bucket-minimum candidate pairs at estimated Jaccard >= `threshold`.
    * Not deduplicated. */
  private def minHashLosers(
      sigs: DataFrame,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      transitive: Boolean
  ): DataFrame =
    losersFromPairs(groupMinPairs(sigs, "__sig"), transitive = false).union(
      losersFromPairs(
        minHashCandidatePairsFromSigs(sigs, numHashes, bands, representativesOnly = true)
          .filter(col("est_jaccard") >= threshold),
        transitive
      )
    )

  /** Keep-BEST near-dedup: like `dedupNearMinHash(transitive = true)` but
    * each near-duplicate cluster retains its highest-`scoreCol` member
    * (ties -> smallest id) instead of the smallest id — the production
    * policy when a quality score exists ("of these 40 mirror copies, keep
    * the cleanest one"). Clusters are connected components over the union
    * of exact-signature edges and qualifying bucket-min candidate pairs,
    * so exact-dup groups and near-dup chains merge into one cluster and
    * elect one winner.
    *
    * Same scale shape as [[dedupNearMinHash]]: one signature scan feeds
    * both passes, the cluster graph is skinny 2-column edges, and the
    * winner election is one max_by aggregate per component. EAGER: see
    * [[materialize]]. */
  def dedupNearMinHashKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      threshold: Double = 0.9,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    val sigs = minHashSignatures(df, idCol, textCol, shingleK, numHashes)
    val scores = df.select(
      col(idCol).cast("long").as("id"),
      col(scoreCol).cast("double").as("__score")
    )
    val losers = materialize(sigs) {
      val nearPairs =
        minHashCandidatePairsFromSigs(sigs, numHashes, bands, representativesOnly = true)
          .filter(col("est_jaccard") >= threshold)
          .select("id_a", "id_b")
      val comp = Graphs.connectedComponentsByMinLabel(
        groupMinPairs(sigs, "__sig").union(nearPairs), "id_a", "id_b"
      )
      val winners = comp
        .join(scores, Seq("id"))
        .groupBy("component")
        .agg(max_by(col("id"), struct(col("__score"), -col("id"))).as("__winner"))
      comp
        .join(winners, Seq("component"))
        .filter(col("id") =!= col("__winner"))
        .select(col("id").as("__loser"))
    }
    df.join(losers, df(idCol).cast("long") === col("__loser"), "left_anti")
  }

  /** Incremental MinHash dedup: clean a NEW batch against an EXISTING
    * corpus using only the corpus's stored signature table — the
    * production ingestion shape, where re-shingling petabytes of already-
    * accepted documents per batch is a non-starter. `corpusSigs` is the
    * `(__id, __sig)` output of [[minHashSignatures]] from previous runs
    * (store it alongside the corpus; ~8*numHashes bytes per doc). Batch
    * ids must be disjoint from corpus ids.
    *
    * A batch row is dropped iff:
    *   (a) its signature equals some corpus signature (certain dup),
    *   (b) an LSH band bucket links it to the MINIMUM-id corpus doc of
    *       that bucket with estimated Jaccard >= threshold (bucket-min
    *       representative pairing — same approximation as
    *       [[dedupNearMinHash]], O(bands) pairs per doc), or
    *   (c) it duplicates an earlier batch row (standard in-batch passes).
    * To update the store, append `minHashSignatures(kept, ...)` (or
    * semi-join the batch signature table on the kept ids) after the run.
    *
    * Cost: ONE scan of the batch text + skinny joins against the corpus
    * signature table; the corpus text is never read. EAGER: see
    * [[materialize]].
    */
  def dedupNearMinHashIncremental(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpusSigs: DataFrame,
      threshold: Double = 0.9,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    val batchSigs = minHashSignatures(newDocs, idCol, textCol, shingleK, numHashes)
    val losers = materialize(batchSigs) {
      minHashReferenceMatches(batchSigs, corpusSigs, threshold, numHashes, bands)
        .select(col("id").as("__loser"))
        .union(minHashLosers(batchSigs, threshold, numHashes, bands, transitive = false))
        .distinct()
    }
    newDocs.join(losers, newDocs(idCol) === col("__loser"), "left_anti")
  }

  /** Matches of each row of a MinHash signature table against a REFERENCE
    * signature table (both `(__id, __sig)`), as (id, ref_id, est_jaccard):
    * (a) identical signature — certain match, paired with the minimum
    * reference id of that signature, est 1.0; (b) per LSH band bucket, the
    * row pairs with the MINIMUM reference id sharing it and is kept when
    * full-signature agreement >= `threshold`. The candidate model of
    * [[dedupNearMinHashIncremental]]'s corpus passes and
    * [[Decontam.fuzzyContaminationMatches]]; never pairs rows within one
    * table, and the two id spaces may overlap. Only (band, id) rows ride
    * the bucket join; signatures are attached to the deduplicated pairs.
    * Both tables feed three consumers each. Not deduplicated. */
  private[operators] def minHashReferenceMatches(
      sigs: DataFrame,
      refSigs: DataFrame,
      threshold: Double,
      numHashes: Int,
      bands: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def banded(s: DataFrame): DataFrame =
      s.select(col("__id"), explode(lshBands(col("__sig"), bands, r)).as("__band"))
    val refSigMins = refSigs.groupBy("__sig").agg(min("__id").as("ref_id"))
    val exact = sigs
      .join(refSigMins, Seq("__sig"))
      .select(col("__id").as("id"), col("ref_id"), lit(1.0).as("est_jaccard"))
    val refBandMins = banded(refSigs).groupBy("__band").agg(min("__id").as("ref_id"))
    val near = banded(sigs)
      .join(refBandMins, Seq("__band"))
      .select("__id", "ref_id")
      .distinct()
      .join(sigs, Seq("__id"))
      .join(refSigs.select(col("__id").as("ref_id"), col("__sig").as("__rsig")), Seq("ref_id"))
      .select(
        col("__id").as("id"),
        col("ref_id"),
        minHashSimilarity(col("__sig"), col("__rsig")).as("est_jaccard")
      )
      .filter(col("est_jaccard") >= threshold)
    exact.union(near)
  }

  /** Near-duplicate pairs VERIFIED by exact shingle-set Jaccard — the
    * two-stage production dedup shape (candidates cheap and recall-
    * oriented, verification exact and precision-oriented). Two tiers:
    * (a) CERTAIN duplicates — docs grouped by a canonical digest of the
    * sorted distinct shingle set, paired with the group minimum: Jaccard
    * 1.0 by construction, no verification, no pair enumeration even for
    * giant clusters; (b) near-misses — bucket-minimum MinHash band pairs
    * ([[minHashCandidatePairsFromSigs]], O(bands) pairs per doc), each
    * verified by exact Jaccard over the true distinct shingle sets. So
    * unlike [[dedupNearMinHash]] (which trusts the 16-hash estimate) no
    * false positive survives: est-vs-truth error costs only candidate-
    * stage recall on the NEAR-MISS tier, never a wrongly dropped document
    * — and certain duplicates are immune to it entirely.
    *
    * The threshold is quantized to ppm and compared in integers
    * (`inter * 1e6 >= thrPpm * union`) so the decision is exact and
    * engine-portable; the returned `jaccard` is the exact value.
    *
    * Scale shape: ONE shingle scan feeds both the signatures and the
    * distinct-shingle inverted index; the intersection join touches only
    * candidate pairs (bounded linear), shuffling skinny (id, shingle)
    * rows. Docs with NULL/too-short text produce no shingles and are never
    * candidates (always retained), mirroring [[dedupNearMinHash]].
    *
    * EAGER: the pair table is built off the held set table — see
    * [[materialize]]. */
  def minHashVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    val sets = verifiedSetTable(df, idCol, textCol, shingleK)
    materialize(sets)(minHashVerifiedPairsPlan(sets, threshold, numHashes, bands))
  }

  /** Distinct-shingle-set table (id, set) feeding every verified-dedup
    * stage off ONE corpus text scan. */
  private[graft] def verifiedSetTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int
  ): DataFrame =
    ScanUtils.withScanParallelism(
      df.select(
        col(idCol).as("__id"),
        array_distinct(shingles(col(textCol), shingleK)).as("__set")
      )
    )

  /** The LAZY verified-pairs plan over a pre-computed distinct-set table —
    * split out so tests can assert the shuffle shape before the eager
    * persist hides it.
    *
    * The certain-duplicate pass groups docs by a CANONICAL SET DIGEST
    * (md5 of the sorted distinct shingles): identical sets are Jaccard
    * 1.0 by construction, so these pairs need no verification AND never
    * depend on minhash-signature collisions — the failure mode where a
    * sig group's minimum is a false positive, verification kills that one
    * proposed pair, and the group's true duplicates (who were paired only
    * with the minimum) silently survive. Banded candidates (bucket-min,
    * O(bands)/doc) cover the near-miss range and are verified by exact
    * intersection counts keyed by the 16-byte shingle md5 (never the
    * string — a 5-word shingle is ~3x wider), the
    * [[TextAnalysis.spanDedup]] digest-exactness convention. Signatures
    * come from the same per-row kernel over the cached set table (a
    * minimum ignores repeats, so the distinct set's signature equals
    * [[minHashSignatures]]' over the raw shingle stream). */
  private[graft] def minHashVerifiedPairsPlan(
      sets: DataFrame,
      threshold: Double,
      numHashes: Int,
      bands: Int
  ): DataFrame = {
    val thrPpm = math.round(threshold * 1e6)
    val exploded = sets.select(col("__id"), explode(col("__set")).as("__s"))
    val sigs = sets
      .filter(size(col("__set")) > 0)
      .select(col("__id"), minHashOfShingles(col("__set"), numHashes).as("__sig"))

    // certain dups: canonical set digest, group-min drop — exact by
    // construction, giant identical clusters cost one groupBy. EMPTY sets
    // (NULL text, or fewer than shingleK tokens) must be excluded here:
    // they all share md5("") and would be emitted as jaccard-1.0 pairs,
    // silently dropping every short/NULL doc but one — the documented
    // contract is that shingle-less docs are never candidates.
    val digests = sets
      .filter(col("__set").isNotNull && size(col("__set")) > 0)
      .select(
        col("__id"),
        md5(concat_ws("\u0001", array_sort(col("__set")))).as("__d")
      )
    val exactPairs = groupMinPairs(digests, "__d")
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))

    val cand =
      minHashCandidatePairsFromSigs(sigs, numHashes, bands, representativesOnly = true)
        .select("id_a", "id_b")
        .distinct()

    val grams = exploded.select(col("__id"), unhex(md5(col("__s"))).as("__g"))
    // one distinct set per row, so its size is the shingle count (a NULL
    // element counts, as it does in the explode feeding `grams`)
    val sizes = sets.select(col("__id"), size(col("__set")).as("__n"))
    val inter = cand
      .join(grams.select(col("__id").as("id_a"), col("__g")), Seq("id_a"))
      .join(grams.select(col("__id").as("id_b"), col("__g")), Seq("id_b", "__g"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__i"))
    val verifiedBand = inter
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("__na")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("__nb")), Seq("id_b"))
      .filter(
        col("__i") * lit(1000000L) >=
          lit(thrPpm) * (col("__na") + col("__nb") - col("__i"))
      )
      .select(
        col("id_a"),
        col("id_b"),
        (col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
          .as("jaccard")
      )
    verifiedBand.union(exactPairs).distinct()
  }

  /** Near-dedup with exact verification: [[minHashVerifiedPairs]]
    * candidates, drop every doc with a VERIFIED smaller-id near-duplicate
    * (or, `transitive = true`, everything above its verified-cluster
    * minimum). The GPT-3/RefinedWeb-documented policy where the LSH stage
    * only proposes and exact Jaccard decides. EAGER: the loser-id set is
    * built off the held set table — see [[materialize]]; the verified pair
    * table itself is never persisted. */
  def dedupNearMinHashVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4,
      transitive: Boolean = false
  ): DataFrame = {
    val sets = verifiedSetTable(df, idCol, textCol, shingleK)
    val losers = materialize(sets) {
      losersFromPairs(minHashVerifiedPairsPlan(sets, threshold, numHashes, bands), transitive)
        .distinct()
    }
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Per-row 64-bit SimHash signatures (id, simhash), computed as
    * explode-tokens -> codegen'd hash aggregate with one bit-vote `sum`
    * column per signature bit — the reformulation that first took MinHash
    * out of interpreted higher-order functions, before its per-row kernel
    * (see [[minHashSignatures]]); the
    * nested-HOF spec form lives in `TextFunctions.simHash` and this
    * aggregate is asserted bit-identical to it. Bit b of the result is
    * set iff more token hashes have bit b set than clear (ties -> 0), with
    * token multiplicity counted. The 64 hash bits per token are the two
    * 32-bit halves of its md5 digest — identical in DuckDB, so signatures
    * oracle-check bit-for-bit. Docs with NULL text drop out (no tokens to
    * vote — they cannot be near-duplicates of anything).
    */
  def simHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    // per-token digests are per-row expensive: spread a narrow-split scan
    // across cores (no-op at real scale — ScanUtils contract; the
    // signature aggregate is keyed by id, so row order is irrelevant)
    val exploded = ScanUtils.withScanParallelism(df).select(
      col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("__t")
    )
    // 64 hash bits per token (md5 hi/lo halves), as plain codegen'd long
    // arithmetic
    val h = md5(col("__t"))
    val hashed = exploded.select(
      col("__id"),
      conv(substring(h, 1, 8), 16, 10).cast("long").as("__hi"),
      conv(substring(h, 9, 8), 16, 10).cast("long").as("__lo")
    )
    val bit = (b: Int) =>
      if (b < 32) shiftright(col("__hi"), b).bitwiseAND(lit(1L))
      else shiftright(col("__lo"), b - 32).bitwiseAND(lit(1L))
    // one-pass hash aggregate: token count + 64 per-bit one-counts
    // (map-side partial agg absorbs the explode before any shuffle)
    val aggCols = count(lit(1)).as("__n") +:
      (0 until 64).map(b => sum(bit(b)).as(s"__v$b"))
    val votes = hashed.groupBy("__id").agg(aggCols.head, aggCols.tail: _*)
    // bit set iff ones outnumber zeros (2*ones > n); bit 63 contributes the
    // sign bit, added as Long.MinValue so the sum stays in range
    val assembled = (0 until 64)
      .map { b =>
        val set = col(s"__v$b") * 2 > col("__n")
        val term = if (b == 63) lit(Long.MinValue) else lit(1L << b)
        when(set, term).otherwise(lit(0L))
      }
      .reduce(_ + _)
    votes.select(col("__id").as(idCol), assembled.as("simhash"))
  }

  /** The four 16-bit quarter band keys of a 64-bit SimHash — pigeonhole
    * bucketing: any pair within hamming distance 3 agrees on at least one
    * quarter. Shared by the pair-mining, dedup, and incremental paths. */
  private def simHashQuarterBands(sig: Column): Column =
    // (quarter index << 16) | quarter value — a packed LONG band key with
    // the same equality classes as the former "q:value" string key, minus
    // the per-band string allocation and with 8-byte shuffle rows
    array((0 until 4).map { q =>
      lit(q.toLong << 16) + shiftright(sig, q * 16).bitwiseAND(lit(0xffffL))
    }: _*)

  /** Near-duplicate pairs by SimHash: bucket on 16-bit quarters (a pair
    * within hamming distance 3 of 64 bits must agree on at least one
    * quarter — pigeonhole over 4 quarters), then verify hamming <=
    * maxHamming in-bucket. The quarter guarantee makes the result EXACT for
    * maxHamming <= 3: every qualifying pair shares a bucket, and the final
    * filter keeps exactly the pairs within distance.
    *
    * `representativesOnly = true` is the giant-cluster escape hatch the
    * dedup path already has: each doc pairs only with the MINIMUM id of
    * each of its four quarter buckets — O(4) candidates per doc instead of
    * a per-bucket quadratic, so one huge identical cluster costs
    * O(cluster), not O(cluster^2). The result is then the dedup-sufficient
    * subset ("is there a smaller-id doc within distance"), not the full
    * pair list. */
  def simHashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      representativesOnly: Boolean = false
  ): DataFrame = {
    // (id, 64-bit signature) — a compact proxy consumed by FOUR divergent
    // branches (the band explode feeds two, plus the two signature
    // attach joins): materialize once or the tokenize+digest+vote pass
    // over the corpus runs four times (the dedupNearSimHash persist
    // discipline, lazy here because no driver action follows)
    val sigs = simHashSignatures(df, idCol, textCol)
      .select(col(idCol).as("__id"), col("simhash"))
      .localCheckpoint(false)
    simHashPairsFromSigs(sigs, maxHamming, representativesOnly)
  }

  /** [[simHashCandidatePairs]] over a PRECOMPUTED (`__id`, `simhash`)
    * table — the SimHash twin of [[minHashCandidatePairsFromSigs]]:
    * skinny quarter-band pairing ([[bucketPairs]]), then the signatures
    * attached to the surviving pairs and (id_a, id_b, hamming) kept within
    * `maxHamming`. */
  private def simHashPairsFromSigs(
      sigs: DataFrame,
      maxHamming: Int,
      representativesOnly: Boolean
  ): DataFrame = {
    val banded = sigs.withColumn(
      "__band",
      explode(simHashQuarterBands(col("simhash")))
    )
    bucketPairs(banded, "__band", representativesOnly)
      .join(sigs.select(col("__id").as("id_a"), col("simhash").as("sh_a")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("simhash").as("sh_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        hammingDistance(col("sh_a"), col("sh_b")).as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
  }

  /** The in-table losers of an (`__id`, `simhash`) signature table, the
    * Hamming counterpart of [[minHashLosers]]: every id above the minimum
    * of its identical-signature group, plus the [[losersFromPairs]] of the
    * quarter-bucket-minimum pairs within `maxHamming`. Not deduplicated. */
  private def hammingLosers(
      sigs: DataFrame,
      maxHamming: Int,
      transitive: Boolean
  ): DataFrame =
    losersFromPairs(groupMinPairs(sigs, "simhash"), transitive = false).union(
      losersFromPairs(
        simHashPairsFromSigs(sigs, maxHamming, representativesOnly = true),
        transitive
      )
    )

  /** Remove SimHash near-duplicates: the SimHash counterpart of
    * [[dedupNearMinHash]], with the same two-pass scalable shape.
    *
    * Pass 1 (exact, linear): rows with an IDENTICAL 64-bit signature keep
    * only the minimum id — handles arbitrarily large duplicate clusters
    * with zero pair enumeration. Pass 2 (approximate, linear): each doc is
    * paired only with the MINIMUM id of each of its four 16-bit quarter
    * buckets (O(4) pairs per doc, never all-pairs) and dropped when that
    * representative is within `maxHamming`. Like MinHash bucket-min
    * pairing this is the scalable approximation of "drop iff a smaller-id
    * doc is within distance"; `transitive = true` upgrades to full
    * connected-component clustering over the qualifying pairs.
    *
    * EAGER: the loser-id set is built off the held signature table (~6
    * consumers here) — see [[materialize]].
    */
  def dedupNearSimHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      transitive: Boolean = false
  ): DataFrame = {
    val sigs = simHashSignatures(df, idCol, textCol)
      .select(col(idCol).as("__id"), col("simhash"))
    val losers = materialize(sigs) {
      hammingLosers(sigs, maxHamming, transitive).distinct()
    }
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Incremental SimHash dedup: clean a NEW batch against an EXISTING
    * corpus using only the corpus's stored (id, simhash) signature table —
    * the SimHash counterpart of [[dedupNearMinHashIncremental]], with the
    * same production ingestion shape: ONE scan of the batch text plus
    * skinny 2-column joins against the signature store (8 bytes per corpus
    * doc); the accepted corpus text is never re-read. `corpusSigs` is the
    * output of [[simHashSignatures]] from previous runs with the same
    * `idCol` name; batch ids must be disjoint from corpus ids.
    *
    * A batch row is dropped iff:
    *   (a) its 64-bit signature equals some corpus signature (certain dup),
    *   (b) a 16-bit quarter bucket links it to the MINIMUM corpus id of
    *       that bucket within `maxHamming` (bucket-min representative
    *       pairing — O(4) corpus probes per batch doc), or
    *   (c) it duplicates an earlier batch row (identical-signature +
    *       quarter-bucket-min in-batch passes, as in [[dedupNearSimHash]]).
    * To update the store, append `simHashSignatures(kept, ...)` after the
    * run. EAGER: see [[materialize]].
    */
  def dedupNearSimHashIncremental(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpusSigs: DataFrame,
      maxHamming: Int = 3
  ): DataFrame = {
    val batchSigs = simHashSignatures(newDocs, idCol, textCol)
      .select(col(idCol).as("__id"), col("simhash"))
    val corpus =
      corpusSigs.select(col(idCol).as("__cid"), col("simhash").as("__csim"))
    val losers = materialize(batchSigs) {
      // (a) exact vs corpus: semi join on the full 64-bit signature
      val exactVsCorpus = batchSigs
        .join(corpus.select(col("__csim").as("simhash")), Seq("simhash"), "left_semi")
        .select(col("__id").as("__loser"))
      // (b) quarter-banded vs corpus: batch doc pairs with the minimum
      // corpus id of each shared bucket, verified within maxHamming
      val corpusMins = corpus
        .select(col("__cid"), explode(simHashQuarterBands(col("__csim"))).as("__band"))
        .groupBy("__band")
        .agg(min("__cid").as("__cid"))
      val nearVsCorpus = batchSigs
        .select(
          col("__id"), col("simhash"),
          explode(simHashQuarterBands(col("simhash"))).as("__band")
        )
        .join(corpusMins, Seq("__band"))
        .select("__id", "simhash", "__cid")
        .distinct()
        .join(corpus, Seq("__cid"))
        .filter(hammingDistance(col("simhash"), col("__csim")) <= maxHamming)
        .select(col("__id").as("__loser"))
      // (c) in-batch: identical-signature + quarter-bucket-min passes
      exactVsCorpus
        .union(nearVsCorpus)
        .union(hammingLosers(batchSigs, maxHamming, transitive = false))
        .distinct()
    }
    newDocs.join(losers, newDocs(idCol) === col("__loser"), "left_anti")
  }

  /** One-row content-overlap report between two corpora (train vs eval,
    * old crawl vs new crawl): distinct-content counts by md5 of the raw
    * text, the shared-content count, Jaccard of the two content sets, and
    * both containment directions (shared/|A|, shared/|B|). The corpus-
    * level companion to [[Decontam]]'s row-level filtering — run it first
    * to size the contamination problem. Null texts are excluded.
    *
    * Scale shape: two hash aggregates to distinct digests (skinny 32-byte
    * rows), one equi-join for the intersection count, single-row output.
    */
  def contentOverlap(
      a: DataFrame,
      b: DataFrame,
      textCol: String
  ): DataFrame = {
    def digests(df: DataFrame) =
      df.filter(col(textCol).isNotNull)
        .select(md5(col(textCol)).as("__h"))
        .distinct()
    val da = digests(a)
    val db = digests(b)
    val shared = da.join(db, Seq("__h"), "left_semi").agg(count(lit(1)).as("n_shared"))
    val na = da.agg(count(lit(1)).as("n_a"))
    val nb = db.agg(count(lit(1)).as("n_b"))
    na.crossJoin(nb)
      .crossJoin(shared)
      .select(
        col("n_a"),
        col("n_b"),
        col("n_shared"),
        round(
          col("n_shared") /
            when(col("n_a") + col("n_b") - col("n_shared") > 0,
              col("n_a") + col("n_b") - col("n_shared")),
          6
        ).as("jaccard"),
        round(col("n_shared") / when(col("n_a") > 0, col("n_a")), 6).as("containment_a"),
        round(col("n_shared") / when(col("n_b") > 0, col("n_b")), 6).as("containment_b")
      )
  }

  /** Exact n-gram Jaccard similarity pairs with `jaccard >= threshold`.
    *
    * Candidate generation is full PPJoin — prefix, length, AND positional
    * filtering, each EXACT (a provable superset of the true result; the
    * verification stage then computes true Jaccard over full sets for
    * candidates only):
    *
    *   - PREFIX: under any global token order, two sets with Jaccard >= t
    *     must share a token within their first `|X| - ceil(t*|X|) + 1`
    *     tokens, so only those prefixes are indexed. Tokens are ordered by
    *     ascending document frequency (rarest first), concentrating the
    *     index on discriminative tokens — the plain inverted-index join
    *     over full sets degrades toward all-pairs when the vocabulary is
    *     small relative to the corpus.
    *   - LENGTH: `J >= t` forces `min(|X|,|Y|) >= t * max(|X|,|Y|)`
    *     (overlap <= min, union >= max); size-mismatched pairs die before
    *     the per-pair aggregate.
    *   - POSITIONAL: a shared token at sorted positions (i, j) bounds the
    *     overlap by `min(i,j) + min(|X|-i, |Y|-j)` (at most min(i-1,j-1)
    *     common tokens can precede it, at most min of the suffixes can
    *     follow). `J >= t` needs overlap >= t/(1+t)*(|X|+|Y|); pairs whose
    *     TIGHTEST observed bound (min over shared prefix tokens) falls
    *     short are pruned before verification.
    *
    * See [[jaccardCandidates]] (the filter stack, shared with StressSpec's
    * adversarial candidate-count bound) and PERFORMANCE.md. */
  /** Exact asymmetric containment pairs: C(a→b) = |Sa ∩ Sb| / |Sa| >=
    * `threshold` for a != b over distinct `shingleK`-gram sets — finds
    * documents that are (near-)subsets of others: quotes, excerpts,
    * boilerplate inclusion. Unlike Jaccard this is direction-sensitive (a
    * tiny doc inside a huge one scores 1.0 on containment but near 0 on
    * Jaccard), which is why dedup pipelines need both.
    *
    * Candidate generation is the PPJoin filter stack of
    * [[ngramJaccardPairs]] adapted to the asymmetric predicate
    * (`shared >= t*|Sa|`), each filter EXACT:
    *   - PREFIX on the CONTAINED side only: if a shares none of its
    *     (n - ceil(t*n) + 1) globally-rarest shingles with b, then fewer
    *     than t*n of its shingles can be in b — candidates come from
    *     prefix(a) x full(b);
    *   - LENGTH: shared <= |Sb|, so |Sb| >= t*|Sa| or the pair dies;
    *   - POSITIONAL: the same shared-token overlap bound
    *     `min(pos_a, pos_b) + min(n_a-pos_a, n_b-pos_b)`, checked against
    *     the containment requirement t*|Sa|.
    * Then exact shared counts over full sets verify. Same scale shape as
    * [[ngramJaccardPairs]]: skinny (shingle, id) joins, per-doc windows
    * only for position ranking, hash aggregates elsewhere. See
    * [[containmentCandidates]]. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 2,
      threshold: Double = 0.9
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val sets = df.select(
      col(idCol).as("__id"),
      array_distinct(shingles(col(textCol), shingleK)).as("__set")
    )
    val sizes = sets.select(col("__id"), size(col("__set")).as("__n"))
    // carry the set size on each exploded row: the filter stack then needs
    // no extra sizes join (one fewer shuffle than a join formulation)
    val inverted = sets.select(
      col("__id"),
      explode(col("__set")).as("__shingle"),
      size(col("__set")).as("__n")
    )

    val candidates = containmentCandidates(inverted, threshold)

    val shared = candidates
      .join(inverted.select("__id", "__shingle"), Seq("__id"))
      .join(
        inverted.select(col("__id").as("__id2"), col("__shingle")),
        Seq("__id2", "__shingle")
      )
      .groupBy("__id", "__id2")
      .agg(count(lit(1)).as("__shared"))

    shared
      .join(sizes, Seq("__id"))
      .select(
        col("__id").as("id_a"),
        col("__id2").as("id_b"),
        (col("__shared").cast("double") / col("__n")).as("containment")
      )
      .filter(col("containment") >= threshold)
  }

  /** PPJoin candidate pairs for [[containmentPairs]]: directional
    * (id, id2) with id != id2 surviving prefix(contained) x full +
    * length + positional filtering — a provable superset of the true
    * `C(a→b) >= threshold` pairs. The full side reuses the positioned
    * index (same subtree as the prefix side; the per-id window exchange is
    * reused by the plan). private[graft] for StressSpec's candidate-count
    * bound. */
  private[graft] def containmentCandidates(
      inverted: DataFrame,
      threshold: Double
  ): DataFrame = {
    val positioned = positionedIndex(inverted)
    prefixOf(positioned, threshold)
      .join(
        positioned.select(
          col("__id").as("__id2"),
          col("__shingle"),
          col("__n").as("__n2"),
          col("__pos").as("__pos2")
        ),
        Seq("__shingle")
      )
      .filter(col("__id") =!= col("__id2"))
      // LENGTH: shared <= |Sb|, and containment needs shared >= t*|Sa|
      .filter(col("__n2") >= col("__n") * threshold - 1e-9)
      // POSITIONAL: same shared-token overlap bound as the Jaccard case,
      // against the containment requirement t*|Sa|
      .select(
        col("__id"),
        col("__id2"),
        (least(col("__pos"), col("__pos2")) +
          least(col("__n") - col("__pos"), col("__n2") - col("__pos2")) -
          col("__n") * threshold).as("__margin")
      )
      .groupBy("__id", "__id2")
      .agg(min(col("__margin")).as("__margin"))
      .filter(col("__margin") >= -1e-9)
      .select("__id", "__id2")
  }

  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 1,
      threshold: Double = 0.5
  ): DataFrame = {
    val sets = df.select(
      col(idCol).as("__id"),
      array_distinct(shingles(col(textCol), shingleK)).as("__set")
    )
    val sizes = sets.select(col("__id"), size(col("__set")).as("__n"))
    val inverted = sets.select(
      col("__id"),
      explode(col("__set")).as("__shingle"),
      size(col("__set")).as("__n")
    )

    val candidates = jaccardCandidates(inverted, threshold)

    // exact verification: shared-token counts over FULL sets for candidates
    val shared = candidates
      .join(inverted.select("__id", "__shingle"), Seq("__id"))
      .join(
        inverted.select(col("__id").as("__id2"), col("__shingle")),
        Seq("__id2", "__shingle")
      )
      .groupBy("__id", "__id2")
      .agg(count(lit(1)).as("__shared"))

    shared
      .join(sizes, Seq("__id"))
      .join(
        sizes.select(col("__id").as("__id2"), col("__n").as("__n2")),
        Seq("__id2")
      )
      .select(
        col("__id").as("id_a"),
        col("__id2").as("id_b"),
        (col("__shared").cast("double") /
          (col("__n") + col("__n2") - col("__shared"))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** The token inverted index positioned under the PPJoin global order:
    * (id, shingle, set size, 1-based position by (document frequency asc,
    * token)). The (df, token) order is a TOTAL order on tokens, so every
    * document sorts its tokens identically — the property all three PPJoin
    * filters rest on. */
  private def positionedIndex(inverted: DataFrame): DataFrame = {
    val dfreq = inverted.groupBy("__shingle").agg(count(lit(1)).as("__df"))
    inverted
      .join(dfreq, Seq("__shingle"))
      .withColumn(
        "__pos",
        row_number().over(
          Window.partitionBy("__id").orderBy(col("__df"), col("__shingle"))
        )
      )
      .select("__id", "__shingle", "__n", "__pos")
  }

  /** The Jaccard-safe prefix of [[positionedIndex]]: the first
    * `n - ceil(t*n) + 1` tokens of each document. The epsilon keeps the
    * prefix conservative when t*n is mathematically integral but floats a
    * hair above it (5 * 0.8 -> 4.0000000000000002, whose ceil would
    * shorten the prefix and drop true pairs); a longer prefix only adds
    * candidates, never loses them. */
  private def prefixOf(positioned: DataFrame, threshold: Double): DataFrame =
    positioned.filter(
      col("__pos") <= col("__n") - ceil(col("__n") * threshold - 1e-9) + 1
    )

  /** PPJoin candidate pairs for [[ngramJaccardPairs]]: (id, id2) with
    * id < id2 surviving prefix + length + positional filtering over an
    * (__id, __shingle, __n) inverted index — a provable superset of the
    * true `J >= threshold` pairs. private[graft] so StressSpec can assert
    * the candidate-count bound on an adversarial small-vocab corpus
    * without running verification. */
  private[graft] def jaccardCandidates(
      inverted: DataFrame,
      threshold: Double
  ): DataFrame = {
    val prefixInv = prefixOf(positionedIndex(inverted), threshold)
    prefixInv
      .join(
        prefixInv.select(
          col("__id").as("__id2"),
          col("__shingle"),
          col("__n").as("__n2"),
          col("__pos").as("__pos2")
        ),
        Seq("__shingle")
      )
      .filter(col("__id") < col("__id2"))
      // LENGTH: J >= t forces min(n, n2) >= t * max(n, n2); applied per
      // joined row, before the per-pair aggregate shuffle
      .filter(
        least(col("__n"), col("__n2")) >=
          greatest(col("__n"), col("__n2")) * threshold - 1e-9
      )
      // POSITIONAL: overlap <= min(pos, pos2) + min(n-pos, n2-pos2) at any
      // shared token; J >= t needs overlap >= t/(1+t)*(n+n2). margin =
      // bound - requirement; the pair's tightest (minimum) margin decides.
      .select(
        col("__id"),
        col("__id2"),
        (least(col("__pos"), col("__pos2")) +
          least(col("__n") - col("__pos"), col("__n2") - col("__pos2")) -
          (col("__n") + col("__n2")) * (threshold / (1.0 + threshold)))
          .as("__margin")
      )
      .groupBy("__id", "__id2")
      .agg(min(col("__margin")).as("__margin"))
      .filter(col("__margin") >= -1e-9)
      .select("__id", "__id2")
  }

  /** Exact fuzzy-match pairs: (id_a < id_b) with
    * `levenshtein(str_a, str_b) <= maxDist`.
    *
    * Candidate generation is length banding, which is EXACT: edit distance
    * is bounded below by the length difference, so each left row only needs
    * partners whose length lies in `[len - maxDist, len + maxDist]`. The
    * left side explodes into those 2*maxDist+1 length keys and the join is
    * an equi-join on length — linear in the input for bounded-length
    * strings, where the naive formulation is an all-pairs product. The
    * (expensive, codegen'd) levenshtein verification runs only on
    * candidates.
    *
    * Length banding bounds the candidate count per DISTINCT length, but a
    * giant cluster of same-length strings (one huge duplicate cluster) is
    * still quadratic in-bucket. `representativesOnly = true` is the same
    * escape the SimHash/MinHash paths have: each row pairs only with the
    * MINIMUM id of each candidate length bucket — O(2*maxDist+1) pairs per
    * row, the dedup-sufficient subset rather than the full pair list. */
  def fuzzyStringPairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int = 2,
      representativesOnly: Boolean = false
  ): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val rows = df.select(
      col(idCol).as("__id"),
      col(strCol).as("__s"),
      length(col(strCol)).as("__len")
    )
    if (representativesOnly) {
      // skinny pairing: only (lenKey, id) rides the join; strings are
      // attached to the deduped pair list for the levenshtein verify
      val left = rows.select(
        col("__id"),
        explode(sequence(col("__len") - maxDist, col("__len") + maxDist))
          .as("__lenKey")
      )
      val mins = rows
        .groupBy(col("__len").as("__lenKey"))
        .agg(min("__id").as("__min"))
      val pairs = left
        .join(mins, Seq("__lenKey"))
        .filter(col("__id") =!= col("__min"))
        .select(
          least(col("__id"), col("__min")).as("id_a"),
          greatest(col("__id"), col("__min")).as("id_b")
        )
        .distinct()
      pairs
        .join(rows.select(col("__id").as("id_a"), col("__s").as("__sa")), Seq("id_a"))
        .join(rows.select(col("__id").as("id_b"), col("__s").as("__sb")), Seq("id_b"))
        .select(
          col("id_a"),
          col("id_b"),
          levenshtein(col("__sa"), col("__sb")).as("dist")
        )
        .filter(col("dist") <= maxDist)
    } else {
      val left = rows.withColumn(
        "__lenKey",
        explode(sequence(col("__len") - maxDist, col("__len") + maxDist))
      )
      val right = rows.select(
        col("__id").as("__id2"),
        col("__s").as("__s2"),
        col("__len").as("__lenKey")
      )
      left
        .join(right, Seq("__lenKey"))
        .filter(col("__id") < col("__id2"))
        .select(
          col("__id").as("id_a"),
          col("__id2").as("id_b"),
          levenshtein(col("__s"), col("__s2")).as("dist")
        )
        .distinct()
        .filter(col("dist") <= maxDist)
    }
  }

  /** OR-amplified multi-band variant of [[embeddingDedupPairs]] — the
    * recall dial: each of `planeSets.size` independent hyperplane banks
    * buckets every vector, a pair is a candidate if ANY bank co-buckets it
    * (1 - (1 - m^p)^B candidate recall vs m^p single-bank), and candidates
    * found by several banks are collapsed before the threshold filter.
    * Same scale shape as `Similarity.annTopKMultiBand`: per-row bucket
    * computation, explode to B skinny rows, equi-join per (bank:bucket).
    *
    * SIZE THE BANKS to the corpus: candidates grow as
    * B * sum(bucket_size^2), so planes-per-bank must rise with corpus size
    * (each extra plane halves expected bucket size) — banks buy recall,
    * planes bound the per-bucket quadratic cost. With near-random vectors
    * and few planes this degenerates toward all-pairs; true near-dup
    * corpora concentrate pairs in tiny buckets and stay cheap.
    */
  def embeddingDedupPairsMultiBand(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planeSets: Seq[Seq[Seq[Double]]],
      threshold: Double = 0.95
  ): DataFrame = {
    import graft.functions.VectorFunctions._
    require(planeSets.nonEmpty, "need at least one hyperplane bank")
    val bands = planeSets.zipWithIndex.map { case (planes, i) =>
      (lit(i.toLong << 32) + hyperplaneBucket(col("__v"), planes).cast("long"))
    }
    // Skinny band join: only (bucket, id) rides the quadratic self-join —
    // full vectors would otherwise be replicated twice per candidate pair
    // AND once per discovering bank. Pair ids first, collapse bank
    // duplicates, THEN re-attach each vector exactly once and score
    // (the same shape as minHashCandidatePairsFromSigs).
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val banded = vecs.select(
      col("__id"),
      explode(array(bands: _*)).as("__bucket")
    )
    // banks overlap: the pair distinct collapses duplicate discoveries
    bucketPairs(banded, "__bucket", representativesOnly = false)
      .join(vecs.select(col("__id").as("id_a"), col("__v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("__id").as("id_b"), col("__v").as("v_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        cosineSimilarityNative(col("v_a"), col("v_b")).as("cosine")
      )
      .filter(col("cosine") >= threshold)
  }

  /** Remove embedding near-duplicates: the vector-space counterpart of
    * [[dedupNearMinHash]] / [[dedupNearSimHash]] — a row is dropped iff a
    * multi-band candidate pair links it to a lower-id row with cosine >=
    * threshold. Candidates come from [[embeddingDedupPairsMultiBand]]
    * (the OR-amplified recall dial; pass one bank for single-bucket LSH),
    * so the whole pair set is bucketed, never all-pairs; survivors are the
    * full-width input anti-joined against the skinny loser-id set.
    * `transitive = true` upgrades to full connected-component clustering
    * over the qualifying pairs (the SemDeDup-style semantics: one survivor
    * — the minimum id — per cosine-linked cluster, even when endpoints
    * share no direct pair). */
  def dedupNearEmbedding(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planeSets: Seq[Seq[Seq[Double]]],
      threshold: Double = 0.95,
      transitive: Boolean = false
  ): DataFrame = {
    val pairs =
      embeddingDedupPairsMultiBand(df, idCol, vecCol, planeSets, threshold)
    val losers = losersFromPairs(pairs, transitive).distinct()
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-local
    * semantic deduplication — k-means the embeddings
    * ([[Similarity.kmeansCluster]]), compare pairs only WITHIN each
    * cluster, and for every pair with cosine >= `threshold` drop the
    * member the paper drops: the one CLOSER to the cluster centroid
    * (`keepFarthest = true`, the paper's diversity-keeping choice;
    * `false` keeps the more prototypical member instead). Ties on the
    * rounded distance drop the larger id. Survivors are the full-width
    * input anti-joined against the skinny loser-id set.
    *
    * Versus [[dedupNearEmbedding]]: LSH banding finds near-identical
    * pairs anywhere in space; SemDeDup's cluster partition instead
    * bounds the candidate set by construction and picks winners by
    * centroid geometry, which is what you want when pruning semantic
    * redundancy rather than literal copies.
    *
    * Scale shape: the within-cluster self-join carries only
    * (cluster, id, dist) — vectors are re-attached to candidate pairs
    * once per side — and is O(sum of cluster sizes squared): choose `k`
    * proportional to corpus size to hold mean cluster size constant
    * (the paper runs k = 11k on 100M docs). The k-means rounds read a
    * call-scoped held copy of the input and shuffle only k centroid sums
    * per partition each ([[Similarity.kmeansTrain]]). The result is lazy:
    * each action on it runs the pair join and the anti-join again. No
    * global sort anywhere.
    */
  def semDeDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 2,
      threshold: Double = 0.95,
      keepFarthest: Boolean = true
  ): DataFrame = {
    import graft.functions.VectorFunctions._
    require(threshold >= -1 && threshold <= 1, "threshold must be in [-1, 1]")
    // materialize the SKINNY assignment once (lazy checkpoint, same trick
    // as the connected-components fold): the a/b pair sides would
    // otherwise each re-execute the k-distance-loops-per-row assignment —
    // the dominant cost at the paper's k — through their uncached lineage
    val slim = Similarity
      .kmeansCluster(df, idCol, vecCol, k, rounds, outCol = "__cl", distCol = "__d")
      .select(col(idCol).as("__id"), col("__cl"), col("__d"))
      .localCheckpoint(false)
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val a = slim.select(col("__cl"), col("__id").as("id_a"), col("__d").as("d_a"))
    val b = slim.select(col("__cl"), col("__id").as("id_b"), col("__d").as("d_b"))
    val pairs = a
      .join(b, Seq("__cl"))
      .filter(col("id_a") < col("id_b"))
      .join(vecs.select(col("__id").as("id_a"), col("__v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("__id").as("id_b"), col("__v").as("v_b")), Seq("id_b"))
      .filter(cosineSimilarityNative(col("v_a"), col("v_b")) >= threshold)
    val closer = when(col("d_a") < col("d_b"), col("id_a"))
      .when(col("d_b") < col("d_a"), col("id_b"))
      .otherwise(col("id_b"))
    val farther = when(col("d_a") < col("d_b"), col("id_b"))
      .when(col("d_b") < col("d_a"), col("id_a"))
      .otherwise(col("id_b"))
    val losers = pairs
      .select((if (keepFarthest) closer else farther).as("__loser"))
      .distinct()
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold among candidates
    * sharing a hyperplane-LSH bucket (see Similarity.annTopK for the
    * bucketing rationale). */
  def embeddingDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Seq[Seq[Double]],
      threshold: Double = 0.95
  ): DataFrame = {
    import graft.functions.VectorFunctions._
    // Same skinny-pair shape as the multi-band variant: the quadratic
    // in-bucket join carries only (bucket, id); vectors are attached to
    // the surviving deduped pairs exactly once.
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val bucketed = vecs.select(
      col("__id"),
      hyperplaneBucket(col("__v"), planes).as("__bucket")
    )
    bucketPairs(bucketed, "__bucket", representativesOnly = false)
      .join(vecs.select(col("__id").as("id_a"), col("__v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("__id").as("id_b"), col("__v").as("v_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        cosineSimilarityNative(col("v_a"), col("v_b")).as("cosine")
      )
      .filter(col("cosine") >= threshold)
  }
  /** Sorted-neighborhood candidate pairs (Hernandez & Stolfo 1995, the
    * blocked variant): rows are sorted by a normalized blocking key WITHIN
    * a `blockChars`-prefix block, and every row pairs with the next
    * `windowSize` rows of its block; each candidate carries the
    * levenshtein distance of the keys for downstream verification. The
    * classic entity-resolution alternative to LSH blocking: catches typo
    * neighbors that hash-based banding scatters, at O(windowSize) pairs
    * per row.
    *
    * Unlike the textbook formulation there is NO global sort: the prefix
    * block is the shuffle key (one exchange + within-partition sort for
    * the row_number), and the adjacency join is a pure equi-join on
    * (block, rank) — each left row explodes into `windowSize` probe ranks.
    * The tradeoff is inherited from blocked SNM: pairs whose keys differ
    * inside the first `blockChars` characters are not candidates (pick the
    * prefix length so the block survives expected typos, or union passes
    * over different key orderings — the standard multi-pass SNM recipe).
    *
    * Output: (id_a, id_b, key_a, key_b, dist), id_a < id_b, each unordered
    * pair exactly once (ranks are unique in a block, every adjacency is
    * generated from its lower-ranked end only).
    *
    * `maxDist >= 0` bounds the distance computation: `dist` uses the
    * banded O(len x maxDist) levenshtein — exact for pairs within
    * `maxDist`, `-1` beyond it — instead of the full O(len^2) matrix.
    * Downstream verification always thresholds the distance anyway, so
    * pass that threshold here and filter `dist BETWEEN 0 AND t` (or use
    * `dist >= 0` as the agreement indicator); every surviving value is
    * identical to the unbounded form. No pairs are dropped by the
    * operator itself. */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      windowSize: Int = 5,
      blockChars: Int = 3,
      maxDist: Int = -1
  ): DataFrame = {
    require(windowSize >= 1, "windowSize must be >= 1")
    require(blockChars >= 1, "blockChars must be >= 1")
    val rows = df
      .filter(col(keyCol).isNotNull)
      .select(
        col(idCol).as("__id"),
        lower(trim(col(keyCol))).as("__k")
      )
      .withColumn("__blk", substring(col("__k"), 1, blockChars))
    val ranked = rows.withColumn(
      "__rn",
      row_number().over(
        Window.partitionBy(col("__blk")).orderBy(col("__k"), col("__id"))
      )
    )
    val probes = ranked.select(
      col("__id").as("__id_lo"),
      col("__k").as("__k_lo"),
      col("__blk"),
      explode(sequence(col("__rn") + 1, col("__rn") + windowSize)).as("__rn")
    )
    probes
      .join(
        ranked.select(
          col("__blk"), col("__rn"),
          col("__id").as("__id_hi"), col("__k").as("__k_hi")
        ),
        Seq("__blk", "__rn")
      )
      .select(
        least(col("__id_lo"), col("__id_hi")).as("id_a"),
        greatest(col("__id_lo"), col("__id_hi")).as("id_b"),
        when(col("__id_lo") <= col("__id_hi"), col("__k_lo"))
          .otherwise(col("__k_hi")).as("key_a"),
        when(col("__id_lo") <= col("__id_hi"), col("__k_hi"))
          .otherwise(col("__k_lo")).as("key_b"),
        (if (maxDist >= 0)
           levenshtein(col("__k_lo"), col("__k_hi"), maxDist)
         else levenshtein(col("__k_lo"), col("__k_hi"))).as("dist")
      )
  }
  /** Fellegi-Sunter (1969) record-linkage match weight over candidate
    * pairs: for each field with agreement indicator column `agreeCol` and
    * conditional probabilities m = P(agree | match), u = P(agree |
    * non-match), an agreeing field contributes ln(m/u) and a disagreeing
    * field ln((1-m)/(1-u)); a NULL indicator (field missing on either
    * side) contributes 0 — the standard treatment. `match_weight` is the
    * sum, rounded to 6. Pairs above a decision threshold are links,
    * below a second threshold non-links, between them clerical review —
    * the probabilistic upgrade over a single string distance, composable
    * with [[sortedNeighborhoodPairs]] or any LSH blocking for candidates.
    *
    * Per-field contributions are Scala-computed CONSTANTS folded into the
    * plan — the whole operator is a pure per-row projection in codegen:
    * no shuffle, no join, no UDF.
    */
  def linkageScore(
      pairs: DataFrame,
      fields: Seq[(String, Double, Double)]
  ): DataFrame = {
    require(fields.nonEmpty, "at least one (agreeCol, m, u) field")
    fields.foreach { case (c, m, u) =>
      require(m > 0 && m < 1, s"$c: m must be in (0,1)")
      require(u > 0 && u < 1, s"$c: u must be in (0,1)")
      require(m > u, s"$c: m must exceed u (field must be informative)")
    }
    val weight = fields
      .map { case (c, m, u) =>
        when(col(c).isNull, lit(0.0))
          .when(col(c), lit(math.log(m / u)))
          .otherwise(lit(math.log((1 - m) / (1 - u))))
      }
      .reduce(_ + _)
    pairs.withColumn("match_weight", round(weight, 6))
  }

  /** The Scala-side agreement weights of [[linkageScore]], exposed so an
    * engine-portable oracle can inline the SAME ln(m/u) constants instead
    * of recomputing them in its own libm. */
  def linkageWeights(
      fields: Seq[(String, Double, Double)]
  ): Seq[(String, Double, Double)] =
    fields.map { case (c, m, u) =>
      (c, math.log(m / u), math.log((1 - m) / (1 - u)))
    }
}
