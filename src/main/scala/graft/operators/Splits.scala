package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting for training pipelines (north-star
  * extension; no reference counterpart).
  *
  * `randomSplit` is reproducible only for a fixed partitioning of a fixed
  * file set — re-ingesting, compacting, or re-partitioning the corpus
  * reassigns rows. Hash splitting assigns each row by a pure function of
  * its KEY, so the assignment is stable across runs, engines, repartitions
  * and even languages (md5 is universal), rows with the same key always
  * land in the same split (no train/test leakage across duplicates of an
  * entity), and new data lands proportionally. This is the standard way to
  * hold out validation data at corpus scale.
  */
object Splits {

  /** Number of hash buckets the unit interval is quantized into. */
  val Buckets: Long = 10000L

  /** Bucket in [0, Buckets) from the md5 of the key (+ optional salt):
    * pure per-row expression — codegen'd, no shuffle, engine-portable
    * (DuckDB: `CAST('0x'||substr(md5(k),1,15) AS BIGINT) % 10000`). */
  def hashBucket(key: Column, salt: String = ""): Column =
    graft.functions.TextFunctions
      .md5Prefix60(concat(key.cast("string"), lit(salt))) % Buckets

  /** Assign a split label per row: `fractions` are (label, fraction) pairs
    * consumed in order; any remainder falls into `defaultLabel`. Fractions
    * are quantized to 1/10000 (the cumulative thresholds are integers, so
    * an oracle can reproduce the assignment exactly).
    *
    * @param salt vary to draw an independent split from the same keys
    *             (e.g. per experiment) without touching the data
    */
  def hashSplit(
      df: DataFrame,
      keyCol: String,
      fractions: Seq[(String, Double)],
      splitCol: String = "split",
      defaultLabel: String = "rest",
      salt: String = ""
  ): DataFrame = {
    require(fractions.nonEmpty, "at least one (label, fraction) required")
    require(fractions.forall(_._2 > 0), "fractions must be positive")
    val total = fractions.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"fractions sum to $total > 1")

    val thresholds = fractions
      .scanLeft(0L) { case (acc, (_, f)) => acc + math.round(f * Buckets) }
      .tail
    val bucket = hashBucket(col(keyCol), salt)
    val label = fractions.zip(thresholds).reverse.foldLeft(lit(defaultLabel)) {
      case (elseCol, ((name, _), upper)) =>
        when(bucket < lit(upper), lit(name)).otherwise(elseCol)
    }
    df.withColumn(splitCol, label)
  }

  /** Deterministic mixture upsampling for corpus blending: each row is
    * repeated according to its stratum's weight — `floor(w)` whole copies,
    * plus one more iff the row's hash bucket falls below the fractional
    * part (so a weight of 2.5 yields 2 copies for every row and a third
    * copy for a deterministic half of them). Weights < 1 downsample the
    * stratum (0.5 → half the rows appear once, half disappear). This is
    * the "epochs per source" knob of LLM data mixing, with [[hashSplit]]'s
    * stability guarantees: reproducible across runs/partitionings, and the
    * SAME rows gain the extra copy every time.
    *
    * Output: the input columns plus `copyCol` (0-based copy index) — one
    * output row per copy. Pure per-row expressions + an explode; no
    * shuffle.
    */
  def weightedRepeat(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      weights: Seq[(String, Double)],
      defaultWeight: Double = 1.0,
      copyCol: String = "copy_id",
      salt: String = ""
  ): DataFrame = {
    require(
      (weights.map(_._2) :+ defaultWeight).forall(_ >= 0),
      "weights must be non-negative"
    )
    val bucket = hashBucket(col(keyCol), salt)
    def wholeOf(w: Double): Long = math.floor(w).toLong
    def fracThreshOf(w: Double): Long = math.round((w - math.floor(w)) * Buckets)
    val whole = weights.foldRight(lit(wholeOf(defaultWeight)): Column) {
      case ((stratum, w), elseCol) =>
        when(col(strataCol) === stratum, lit(wholeOf(w))).otherwise(elseCol)
    }
    val fracThresh = weights.foldRight(lit(fracThreshOf(defaultWeight)): Column) {
      case ((stratum, w), elseCol) =>
        when(col(strataCol) === stratum, lit(fracThreshOf(w))).otherwise(elseCol)
    }
    val reps = whole + when(bucket < fracThresh, 1L).otherwise(0L)
    df.withColumn(
      copyCol,
      explode(
        when(reps > 0, sequence(lit(0L), reps - 1))
          .otherwise(array().cast("array<bigint>"))
      )
    )
  }

  /** Deterministic stratified sampling: keep a row iff its key's hash
    * bucket falls below the fraction threshold of its stratum. Same
    * stability guarantees as [[hashSplit]] (reproducible, leak-free per
    * key, engine-portable), with a per-stratum rate — e.g. downsample the
    * dominant language while keeping all of a rare one.
    *
    * @param fractions (stratumValue, keepFraction) pairs; strata not listed
    *                  fall back to `defaultFraction`
    */
  def stratifiedHashSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      fractions: Seq[(String, Double)],
      defaultFraction: Double = 0.0,
      salt: String = ""
  ): DataFrame = {
    require(
      (fractions.map(_._2) :+ defaultFraction).forall(f => f >= 0 && f <= 1),
      "fractions must be within [0, 1]"
    )
    val bucket = hashBucket(col(keyCol), salt)
    val threshold = fractions.foldRight(
      lit(math.round(defaultFraction * Buckets)): Column
    ) { case ((stratum, f), elseCol) =>
      when(col(strataCol) === stratum, lit(math.round(f * Buckets)))
        .otherwise(elseCol)
    }
    df.filter(bucket < threshold)
  }

  /** Sequence-packing plan for training batches: concatenate documents in
    * a deterministic order within each shard and cut the token stream into
    * fixed-size blocks. Each document is assigned the block where its
    * first token lands (`block_id`) and its token offset within that block
    * — exactly the metadata a pack-and-split loader (GPT-style
    * concatenate-then-chunk) needs to locate every document, without
    * materializing the packed text.
    *
    * Packing is per-shard (`shardCol`), the standard practice: a global
    * token order would serialize the corpus through one partition, while
    * per-shard streams pack independently and in parallel. Order within a
    * shard follows `orderCol` ascending (must be unique per shard for a
    * deterministic result).
    *
    * Scale shape: one shuffle on the shard key for the running-sum window;
    * token counting is per-row codegen'd. Shards are the parallelism unit
    * — size them like file shards (thousands of docs), not like sources.
    */
  def packSequences(
      df: DataFrame,
      orderCol: String,
      textCol: String,
      shardCol: String,
      blockTokens: Int
  ): DataFrame = {
    require(blockTokens >= 1, "blockTokens must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy(col(orderCol))
    val nTokens = col("n_tokens")
    // ONE running offset (one Window operator) feeds both block columns
    val start = col("__pack_start")
    df.filter(col(textCol).isNotNull)
      .withColumn("n_tokens", size(split(lower(col(textCol)), " ")))
      .withColumn("__pack_start", coalesce(sum(nTokens.cast("long")).over(w) - nTokens, lit(0L)))
      .withColumn("block_id", (start / lit(blockTokens.toLong)).cast("long"))
      .withColumn("block_offset", (start % lit(blockTokens.toLong)).cast("long"))
      .drop("__pack_start")
  }

  /** Deterministic k-fold assignment for cross-validation: adds `fold` in
    * 0..k-1 from the key's md5 bucket. Same guarantees as [[hashSplit]] —
    * reproducible across runs/engines, and leak-free per key (every row of
    * a key lands in the same fold, so grouped records never straddle a
    * train/validation boundary). Folds are near-equal in expectation. */
  def kFoldAssign(
      df: DataFrame,
      keyCol: String,
      k: Int,
      salt: String = "",
      foldCol: String = "fold"
  ): DataFrame = {
    require(k >= 2, "k must be >= 2")
    df.withColumn(foldCol, (hashBucket(col(keyCol), salt) % k).cast("int"))
  }

  /** Deterministic per-group sample: the first `n` rows of each group
    * under md5-hash order of `idCol` — a stable shuffle of each group
    * that is reproducible across runs and engines and uncorrelated with
    * any natural ordering (insertion time, id ranges), which is what makes
    * it a SAMPLE rather than a head. Ties on the full digest are broken by
    * the id itself, so the result is unique even under hash collisions.
    *
    * One shuffle on the group key; the rank filter rewrites to
    * WindowGroupLimit, so per-partition state never exceeds n rows per
    * group regardless of group size — safe for billion-row groups.
    */
  def groupSample(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      n: Int
  ): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(groupCols.nonEmpty, "at least one group column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Budgeted corpus selection: take documents in (score desc, id asc)
    * order while the cumulative token count stays within `tokenBudget` —
    * the "best data that fits the training budget" selector. Adds
    * `cum_tokens` (the running total INCLUDING the row).
    *
    * Scale shape: equivalent to a global ORDER BY + running sum, but
    * built without one. Per-score token subtotals cumulate over the
    * DISTINCT-SCORE table (window over scores, not rows); within each
    * score the running sum windows over that score's partition only, so
    * no document-level single-partition stage exists. `global cum =
    * exclusive score-prefix + within-score running` holds exactly because
    * (score desc, id asc) sorts score-majorly.
    *
    * The distinct-score prefix table is BROADCAST, so its cardinality
    * must stay driver-sized. Scores are therefore auto-quantized to
    * `scoreDecimals` decimals before the prefix (truly continuous per-doc
    * scores would otherwise make the table corpus-sized and OOM the
    * driver). Tie semantics: documents whose scores agree after rounding
    * are admitted in `idCol`-ascending order within the shared bucket.
    * Integer-ish scores (<= scoreDecimals decimals already) are
    * unaffected. Pass a smaller `scoreDecimals` to trade ordering
    * granularity for a smaller broadcast. */
  def selectByTokenBudget(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      tokensCol: String,
      tokenBudget: Long,
      scoreDecimals: Int = 6
  ): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be > 0")
    require(scoreDecimals >= 0, "scoreDecimals must be >= 0")
    val qScore = round(col(scoreCol).cast("double"), scoreDecimals)
    val rows = df
      .filter(col(scoreCol).isNotNull && col(tokensCol).isNotNull)
    val scoreWindow = org.apache.spark.sql.expressions.Window
      .orderBy(col("__score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefix = rows
      .groupBy(qScore.as("__score"))
      .agg(sum(col(tokensCol).cast("long")).as("__bucketTokens"))
      .withColumn(
        "__before",
        coalesce(sum("__bucketTokens").over(scoreWindow), lit(0L))
      )
      .select(col("__score"), col("__before"))
    val withinWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qscore"))
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    rows
      .withColumn("__qscore", qScore)
      .join(broadcast(prefix), col("__qscore") === col("__score"))
      .withColumn(
        "cum_tokens",
        col("__before") + sum(col(tokensCol).cast("long")).over(withinWindow)
      )
      .filter(col("cum_tokens") <= tokenBudget)
      .drop("__score", "__before", "__qscore")
  }

  /** Deterministic weighted sample WITHOUT replacement, size k — the
    * Efraimidis-Spirakis exponential-key scheme: each row draws a
    * reproducible uniform u from its key's md5 bucket (`(bucket + 0.5) /
    * Buckets`, strictly inside (0,1)) and scores `u^(1/w)`; the k largest
    * scores are the sample. Inclusion probability is proportional to
    * weight, the assignment is stable across runs/engines/partitionings
    * (same md5 contract as [[hashSplit]]), and re-keying via `salt` draws
    * an independent sample. Rows with weight <= 0 or null are excluded.
    *
    * Ranking uses the equivalent log-domain key `ln(u)/w` (monotone in
    * `u^(1/w)`, so the same sample), NOT the rounded power: for large
    * weights (w >= ~1e5) `round(u^(1/w), 6)` collapses toward 1.000000
    * and selection would degenerate to the key-ascending tiebreak. The
    * key stays engine-portable without a rounded pow because `ln(u)` is
    * quantized to 6 decimals first: u takes only `Buckets` distinct
    * values whose ln-gaps are >= 1/Buckets, so the quantization never
    * merges distinct u, and dividing the SAME two doubles is exact IEEE
    * arithmetic on every engine. Equal keys (same u bucket AND same
    * weight) break by key column ascending. The reported `sample_score`
    * column is still `round(u^(1/w), 6)` for interpretability.
    *
    * Scale shape: pure per-row arithmetic + a global top-k, which Spark
    * plans as TakeOrdered (per-partition size-k heaps merged on the
    * driver) — no global sort, no shuffle of the data. */
  def weightedSample(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      k: Int,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = (hashBucket(col(keyCol), salt).cast("double") + lit(0.5)) /
      lit(Buckets.toDouble)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn(
        "sample_score",
        round(pow(u, lit(1.0) / col(weightCol).cast("double")), 6)
      )
      .withColumn(
        "__es_key",
        round(log(u), 6) / col(weightCol).cast("double")
      )
      .orderBy(col("__es_key").desc, col(keyCol))
      .limit(k)
      .drop("__es_key")
  }

  /** Temperature-scaled source mixture — the sampling-rate computation of
    * multilingual/multi-source LM training: source s with n_s rows gets
    * mixture probability p_s = n_s^alpha / sum_t(n_t^alpha). `alpha = 1`
    * keeps the natural distribution, `alpha < 1` flattens it toward rare
    * sources (alpha = 0 is uniform over sources) — the "temperature"
    * upsampling of low-resource languages.
    *
    * Returns one row per source: (source, n_rows, natural_share,
    * temp_share, weight) where `weight = p_s / q_s` is the per-row
    * repeat/keep factor that REALIZES the mixture — feed it straight into
    * [[weightedRepeatByTable]]. All shares/weights are rounded to 6
    * decimals; the n^alpha terms are quantized to decimal BEFORE the
    * cross-source sum so every derived number is order-independent and
    * engine-reproducible.
    *
    * Scale shape: one map-side-combined count per source (the table is
    * sources-sized, i.e. tiny), one single-row total broadcast back. The
    * corpus itself is touched exactly once. */
  def temperatureMixture(
      df: DataFrame,
      sourceCol: String,
      alpha: Double
  ): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0, 1]")
    val counts = df
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn(
        "__pow",
        round(pow(col("n_rows").cast("double"), lit(alpha)), 6)
          .cast("decimal(28,6)")
      )
    val totals = counts.agg(
      sum("n_rows").cast("double").as("__nn"),
      sum("__pow").cast("double").as("__sp")
    )
    counts
      .crossJoin(broadcast(totals))
      .select(
        col("source"),
        col("n_rows"),
        round(col("n_rows").cast("double") / col("__nn"), 6)
          .as("natural_share"),
        round(col("__pow").cast("double") / col("__sp"), 6).as("temp_share"),
        round(
          (col("__pow").cast("double") / col("__sp")) *
            (col("__nn") / col("n_rows").cast("double")),
          6
        ).as("weight")
      )
  }

  /** One DoReMi-style multiplicative-weights update over domain mixture
    * weights (Xie et al. 2023, arXiv:2305.10429 — the Group-DRO
    * proxy-weight step in batch form): per domain d with mean EXCESS loss
    *
    *   e_d = max(0, mean(loss_d - ref_d))
    *
    * (proxy-model loss minus reference-model loss; a domain the proxy
    * already fits contributes zero), update `w'_d ∝ prior_d * exp(eta *
    * e_d)`, renormalize, then smooth with the uniform distribution:
    * `w_d = (1 - smoothing) * w'_d + smoothing / K`. Hard domains get
    * upweighted, easy domains keep their prior odds — the published
    * recipe for choosing pretraining mixture proportions. Priors default
    * to the natural row shares; pass `priors` (one row per domain value
    * in `(domainCol, prior)`) to iterate the update across proxy
    * retraining rounds — domains absent from the table fall back to
    * their natural share. Rows with a NULL domain, loss, or reference
    * loss are excluded. Returns one row per domain:
    * (domain, n, mean_excess, prior, weight), ratios rounded to 6 dp.
    *
    * Exactness: per-row excess is rounded to 6 dp and summed in DECIMAL
    * (exact, order-independent), and the exp outputs are rounded to 6 dp
    * then renormalized through DECIMAL sums — the same engine-parity
    * treatment as [[temperatureMixture]]'s pow.
    *
    * Scale shape: ONE streaming aggregate over the corpus (map-side
    * combined into K domain groups); everything downstream runs on the
    * K-row domain table with broadcast crossJoins. Never a sort, never a
    * second pass over the data. */
  def domainReweight(
      df: DataFrame,
      domainCol: String,
      lossCol: String,
      refLossCol: String,
      eta: Double = 1.0,
      smoothing: Double = 0.0,
      priors: Option[DataFrame] = None
  ): DataFrame = {
    require(eta > 0, "eta must be positive")
    require(smoothing >= 0 && smoothing < 1, "smoothing must be in [0, 1)")
    val perDomain = df
      .filter(
        col(domainCol).isNotNull && col(lossCol).isNotNull &&
          col(refLossCol).isNotNull
      )
      .groupBy(col(domainCol).as("domain"))
      .agg(
        count(lit(1)).as("__n"),
        sum(
          round(
            col(lossCol).cast("double") - col(refLossCol).cast("double"),
            6
          ).cast("decimal(27,6)")
        ).as("__esum")
      )
    val totalN = perDomain.agg(sum("__n").as("__nt"))
    val withPrior = {
      val natural = perDomain
        .crossJoin(broadcast(totalN))
        .withColumn(
          "__natural",
          round(col("__n").cast("double") / col("__nt"), 6)
        )
      priors match {
        case None => natural.withColumn("__prior", col("__natural"))
        case Some(p) =>
          natural
            .join(
              broadcast(
                p.select(
                  col(domainCol).as("domain"),
                  col("prior").cast("double").as("__prior_in")
                )
              ),
              Seq("domain"),
              "left"
            )
            .withColumn(
              "__prior",
              coalesce(round(col("__prior_in"), 6), col("__natural"))
            )
      }
    }
    val scored = withPrior
      .withColumn(
        "__me",
        round(
          greatest(lit(0.0), col("__esum").cast("double") / col("__n")),
          6
        )
      )
      .withColumn(
        "__mw",
        // the exp argument is capped at 40 (e^40 ~ 2.4e17, safely inside
        // decimal(28,6)): an uncapped argument — e.g. a caller passing
        // summed loss instead of per-token log-loss — would overflow the
        // decimal cast to NULL under non-ANSI and silently DROP the
        // hardest domain from the renormalization, the exact inverse of
        // the update. Beyond e^40 the renormalized weights are saturated
        // anyway (the hardest domain takes ~everything).
        round(
          col("__prior") * exp(least(lit(40.0), lit(eta) * col("__me"))),
          6
        ).cast("decimal(28,6)")
      )
    val norm = scored.agg(
      sum("__mw").as("__sw"),
      count(lit(1)).as("__k")
    )
    scored
      .crossJoin(broadcast(norm))
      .select(
        col("domain"),
        col("__n").as("n"),
        col("__me").as("mean_excess"),
        col("__prior").as("prior"),
        round(
          lit(1.0 - smoothing) *
            (col("__mw").cast("double") / col("__sw").cast("double")) +
            lit(smoothing) / col("__k"),
          6
        ).as("weight")
      )
  }

  /** [[weightedRepeat]] with the weights coming from a TABLE instead of a
    * driver-side literal list — the shape that composes with
    * [[temperatureMixture]] (or any computed per-stratum weight) without a
    * collect: the weight table is broadcast-joined onto the corpus and the
    * repeat count is the same deterministic floor(w) + hash-fraction rule,
    * evaluated per row from the joined weight column. Strata missing from
    * the weight table fall back to `defaultWeight`.
    *
    * The weight table must hold one row per stratum (`strataCol` value) in
    * `weightCol`; weights should already be quantized (e.g. the 6-decimal
    * output of [[temperatureMixture]]) so the fractional-part threshold is
    * engine-reproducible.
    *
    * Scale shape: broadcast join (the weight table is strata-sized) + pure
    * per-row expressions + one explode. No shuffle of the corpus. */
  def weightedRepeatByTable(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      weightTable: DataFrame,
      weightStrataCol: String = "source",
      weightCol: String = "weight",
      defaultWeight: Double = 1.0,
      copyCol: String = "copy_id",
      salt: String = ""
  ): DataFrame = {
    require(defaultWeight >= 0, "defaultWeight must be non-negative")
    val wtab = weightTable.select(
      col(weightStrataCol).as("__stratum"),
      col(weightCol).cast("double").as("__w")
    )
    val bucket = hashBucket(col(keyCol), salt)
    val w = coalesce(col("__w"), lit(defaultWeight))
    val whole = floor(w).cast("long")
    // round() is HALF_UP on both engines for positive doubles — same
    // quantization as weightedRepeat's driver-side math.round
    val fracThresh = round((w - floor(w)) * Buckets, 0).cast("long")
    val reps = whole + when(bucket < fracThresh, 1L).otherwise(0L)
    df.join(broadcast(wtab), df(strataCol) === col("__stratum"), "left")
      .withColumn(
        copyCol,
        explode(
          when(reps > 0, sequence(lit(0L), reps - 1))
            .otherwise(array().cast("array<bigint>"))
        )
      )
      .drop("__stratum", "__w")
  }

  /** Deterministic global shuffle into training shards: every row gets a
    * `shard` in [0, nShards) and a 32-char `sort_key`, both pure md5
    * expressions of (salt, key) — so the full ordering
    * (shard, sort_key, key) is a reproducible pseudo-random permutation of
    * the corpus, independent of input partitioning, engine, and run. Vary
    * `salt` to draw an independent shuffle per epoch without touching the
    * data. This is the standard "global shuffle before sharded training
    * data" step, done WITHOUT a global sort.
    *
    * Scale shape: two per-row codegen'd expressions — no shuffle at all
    * here. A writer that wants one directory per shard repartitions once
    * by `shard` and sorts within partitions by `sort_key`.
    */
  def shuffleIntoShards(
      df: DataFrame,
      keyCol: String,
      nShards: Int,
      salt: String = ""
  ): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    require(
      !df.columns.contains("shard") && !df.columns.contains("sort_key"),
      "input already has a 'shard' or 'sort_key' column — drop or rename it"
    )
    val key = col(keyCol).cast("string")
    df.withColumn(
        "shard",
        (graft.functions.TextFunctions
          .md5Prefix60(concat(lit("shard:"), lit(salt), lit(":"), key))
          % nShards).cast("int")
      )
      .withColumn(
        "sort_key",
        md5(concat(lit("order:"), lit(salt), lit(":"), key))
      )
  }

  /** Dataset-release manifest: per shard (or any grouping column), the row
    * count and an ORDER-INDEPENDENT content checksum — the integrity
    * record shipped alongside a published dataset so any copy, on any
    * engine, can be verified shard-by-shard without sorting anything.
    *
    * The checksum is the exact decimal sum of a 60-bit md5-derived digest
    * of each row's listed columns (null distinguished from empty by a
    * sentinel, columns joined with an unprintable separator), reduced mod
    * a 60-bit prime so it rides in a plain BIGINT (wide decimals round to
    * float in pandas/duckdb consumers). Summation is commutative, so the
    * checksum is invariant under row order, partitioning, and task count —
    * and md5 makes it engine-reproducible: DuckDB computes the identical
    * value for string/integer columns (float formatting differs across
    * engines; cast floats to decimal first if they must participate).
    *
    * Scale shape: one map-side-combined hash aggregate on the grouping
    * key; the shuffle carries (group, count, partial decimal sum) — three
    * scalars per task per group, regardless of corpus size. Verifying a
    * 100 TB copy is one scan on each side plus a manifest-sized compare.
    */
  def shardManifest(
      df: DataFrame,
      cols: Seq[String],
      groupCol: String = "shard"
  ): DataFrame = {
    require(cols.nonEmpty, "at least one content column required")
    val rowDigest = graft.functions.TextFunctions.md5Prefix60(
      concat_ws(
        "\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*
      )
    )
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        (sum(rowDigest.cast("decimal(20,0)")) % lit(ChecksumMod))
          .cast("long")
          .as("checksum")
      )
  }

  /** 60-bit prime modulus for [[shardManifest]] checksums. */
  val ChecksumMod: Long = 1152921504606846976L - 93L // 2^60 - 93, prime

  /** Token-budget mixture allocation — the "data recipe" planner (the
    * LLaMA-style per-source sampling-proportion/epoch table computed
    * BEFORE any sampling runs): given per-source available token counts,
    * target mixture weights, and a total token budget,
    *
    *   1. each source wants `budget * weight` tokens, capped at
    *      `available * maxEpochs`;
    *   2. the unfilled remainder is redistributed ONCE across the
    *      not-yet-capped sources proportionally to their weights (single
    *      deterministic pass — exact water-filling would iterate; the
    *      residue after one pass is reported as unallocated budget, never
    *      silently spread).
    *
    * All arithmetic is INTEGER: weights are normalized to parts-per-
    * million (`weight_ppm`) and every allocation is an integer floor —
    * exact, order-independent, engine-portable. Returns one row per
    * weighted source: (source, available_tokens, weight_ppm,
    * allocated_tokens, epochs, capped); `epochs = allocated/available`
    * rounded to 6. Feed the result into [[weightedRepeatByTable]] /
    * [[selectByTokenBudget]] to execute the plan.
    *
    * Scale shape: `tokensBySource` is one row per source — model-sized by
    * construction (an upstream map-side-combined aggregate); the math is
    * a driver computation like every model table, and the corpus itself
    * is never touched here.
    */
  def mixtureAllocation(
      tokensBySource: DataFrame,
      sourceCol: String,
      tokensCol: String,
      targetWeights: Seq[(String, Double)],
      totalBudget: Long,
      maxEpochs: Double = 1.0
  ): DataFrame = {
    require(targetWeights.nonEmpty, "need at least one target weight")
    require(targetWeights.forall(_._2 > 0), "weights must be positive")
    require(
      targetWeights.map(_._1).distinct.size == targetWeights.size,
      "duplicate source in targetWeights"
    )
    require(totalBudget >= 0, "totalBudget must be >= 0")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val spark = tokensBySource.sparkSession
    import spark.implicits._
    val avail = tokensBySource
      .select(col(sourceCol).cast("string"), col(tokensCol).cast("long"))
      .collect() // one row per source: model-sized
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val wSum = targetWeights.map(_._2).sum
    val ppm = targetWeights.map { case (s, w) =>
      s -> math.round(w / wSum * 1e6)
    }
    val epochsPpm = math.round(maxEpochs * 1e6)
    val rows = ppm.map { case (s, wq) =>
      val av = avail.getOrElse(s, 0L)
      val want = BigInt(totalBudget) * wq / 1000000
      val cap = BigInt(av) * epochsPpm / 1000000
      val alloc1 = want.min(cap)
      (s, av, wq, alloc1, cap)
    }
    val leftover = BigInt(totalBudget) - rows.map(_._4).sum
    val uncappedPpm = rows.collect { case (_, _, wq, a1, cap) if a1 < cap => wq }.sum
    val out = rows.map { case (s, av, wq, a1, cap) =>
      val extra =
        if (a1 < cap && uncappedPpm > 0 && leftover > 0)
          (leftover * wq / uncappedPpm).min(cap - a1)
        else BigInt(0)
      val alloc = (a1 + extra).toLong
      val epochs =
        if (av > 0)
          // HALF_UP like Spark/DuckDB ROUND, not rint's half-even
          BigDecimal(alloc.toDouble / av)
            .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
            .toDouble
        else 0.0
      (s, av, wq, alloc, epochs, BigInt(alloc) == cap)
    }
    out.toDF(
      sourceCol, "available_tokens", "weight_ppm",
      "allocated_tokens", "epochs", "capped"
    )
  }
  /** Leakage-safe temporal train/test split with an embargo gap (the
    * purged time-series split of de Prado 2018, ch. 7): rows strictly
    * before `cutoff` are "train", rows at/after `cutoff + embargoSeconds`
    * are "test", and rows inside the gap are "embargo" — dropped by
    * convention so that look-ahead features computed over trailing windows
    * of up to `embargoSeconds` can never straddle the boundary. The
    * standard alternative to hash splits when rows are time-ordered and
    * features look backward.
    *
    * Pure per-row projection — no shuffle, no action; the timestamp
    * comparison sits in whole-stage codegen and pushes down to the scan
    * when filtered on. Timestamp physical-type tolerant (NTZ/long-nanos
    * via [[TimeUtils.ensureTimestamp]]).
    */
  def temporalSplit(
      df: DataFrame,
      tsCol: String,
      cutoff: java.sql.Timestamp,
      embargoSeconds: Long
  ): DataFrame = {
    require(embargoSeconds >= 0, "embargoSeconds must be >= 0")
    val cutMicros = cutoff.getTime * 1000L + (cutoff.getNanos / 1000L) % 1000L
    val testMicros = cutMicros + embargoSeconds * 1000000L
    val ts = unix_micros(col(tsCol))
    TimeUtils.ensureTimestamp(df, tsCol)
      .withColumn(
        "split",
        when(ts < cutMicros, "train")
          .when(ts >= testMicros, "test")
          .otherwise("embargo")
      )
  }
}
