package graft

import graft.QueryShared._
import graft.operators.{Checks, Decontam, Dedup, Graphs, Joins, Layout, Sessionize, Similarity, Splits, Stats, TextAnalysis, TopN, Wrangling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dataset splits, sampling, mixtures, packing and shard manifests — query registry + DuckDB oracles.
  * Merged into the driver contract by [[ScaleQueries]]. */
private[graft] object SplitQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // deterministic hash-based train/val/test split (80/10/10 by order key)
    "q_hash_split" -> ((s, dir) => {
      Splits
        .hashSplit(
          t(s, dir, "orders"),
          "o_orderkey",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        )
        .groupBy("split")
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total")
        )
        .orderBy("split")
    }),

    // token-budget mixture allocation: the LLaMA-style data-recipe table
    // (per-source allocation + epochs under a budget, caps at 1 epoch,
    // one deterministic redistribution pass) — integer ppm arithmetic
    "q_mixture_alloc" -> ((s, dir) => {
      val bySource = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .groupBy("source")
        .agg(sum(size(graft.functions.TextFunctions.tokens(col("text")))).as("tokens"))
      Splits
        .mixtureAllocation(
          bySource, "source", "tokens",
          targetWeights = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          totalBudget = 4000L
        )
        .orderBy("source")
    }),

    // deterministic mixture upsampling: src0 x2.5, src1 x0.5, others x1
    "q_weighted_repeat" -> ((s, dir) => {
      Splits
        .weightedRepeat(
          t(s, dir, "documents"), "doc_id", "source",
          Seq("src0" -> 2.5, "src1" -> 0.5)
        )
        .select("doc_id", "source", "copy_id")
        .orderBy("doc_id", "copy_id")
    }),

    // deterministic stratified sampling: per-language keep rates
    "q_stratified_sample" -> ((s, dir) => {
      Splits
        .stratifiedHashSample(
          t(s, dir, "documents"), "doc_id", "lang",
          Seq("en" -> 0.5, "es" -> 0.25), defaultFraction = 0.1
        )
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
        .orderBy("lang")
    }),

    // sequence packing: per-source token streams cut into 512-token blocks
    "q_pack_sequences" -> ((s, dir) => {
      Splits
        .packSequences(
          t(s, dir, "documents"), "doc_id", "text", "source",
          blockTokens = 512
        )
        .select("doc_id", "source", "n_tokens", "block_id", "block_offset")
        .orderBy("doc_id")
    }),

    // deterministic per-group sample: 3 docs per (lang, source) stratum
    // under md5-hash order of doc_id
    "q_group_sample" -> ((s, dir) => {
      Splits
        .groupSample(t(s, dir, "documents"), Seq("lang", "source"), "doc_id", 3)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "source", "doc_id")
    }),

    // deterministic global shuffle into 16 training shards: pure md5
    // shard + sort_key assignment (the write path adds the one shard-keyed
    // shuffle; no global sort anywhere)
    "q_shuffle_shards" -> ((s, dir) => {
      Splits
        .shuffleIntoShards(
          t(s, dir, "documents").select("doc_id"),
          "doc_id",
          nShards = 16,
          salt = "ep0"
        )
        .orderBy("doc_id")
    }),

    // dataset-release manifest: per shard, row count + order-independent
    // md5-sum checksum over the full document row
    "q_shard_manifest" -> ((s, dir) => {
      Splits
        .shardManifest(
          Splits.shuffleIntoShards(
            t(s, dir, "documents"), "doc_id", nShards = 16, salt = "ep0"
          ),
          Seq("doc_id", "text", "lang", "source", "n_chars")
        )
        .orderBy("shard")
    }),

    // leak-free 5-fold cross-validation assignment by customer key
    "q_kfold" -> ((s, dir) => {
      Splits
        .kFoldAssign(t(s, dir, "orders"), "o_custkey", k = 5)
        .groupBy("fold")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_customers")
        )
        .orderBy("fold")
    }),

    // purged temporal split: train before Jan 20, 1-day embargo, test after
    // (counts + boundary timestamps per split and event type)
    "q_temporal_split" -> ((s, dir) => {
      Splits
        .temporalSplit(
          events(s, dir), "ts",
          new java.sql.Timestamp(1705708800000L), // 2024-01-20 00:00:00 UTC
          embargoSeconds = 86400L
        )
        .groupBy("split", "event_type")
        .agg(
          count(lit(1)).as("n_events"),
          min("ts").as("first_ts"),
          max("ts").as("last_ts")
        )
        .orderBy("split", "event_type")
    }),

    // end-to-end retrieval-shaped pipeline, composed the way a user chains
    // the operators: MinHash near-dedup of the training slice ->
    // decontaminate against the held-out slice (word 4-grams: long enough
    // that drops are real cross-split overlap, ~17% of docs, not the
    // common-trigram collateral that 3-grams inflict) -> quality gate ->
    // deterministic hash split -> sequence
    // packing per split shard. Exercises operator COMPOSITION: column
    // collisions (qualityScore and packSequences both emit n_tokens — last
    // writer wins by design), null-text propagation (retained by dedup and
    // decontam, dropped at the quality gate in both engines), and the
    // dedup-survivor set feeding downstream stages.
    "q_pipeline_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val deduped = Dedup.dedupNearMinHash(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        threshold = 0.9, shingleK = 1, numHashes = 16, bands = 4
      )
      val clean = Decontam.decontaminate(
        deduped, docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 4
      )
      // gate barrier (the crawlCurate gated-slice persist): filtering on
      // the computed quality column would substitute the scorer into the
      // pushed-down predicate and re-run it against the decontam output
      val scored = TextAnalysis
        .qualityScore(clean, "text")
        .localCheckpoint(false)
        .filter(col("quality") >= 0.5)
      val split = Splits.hashSplit(
        scored, "doc_id", Seq("train" -> 0.8, "val" -> 0.1),
        defaultLabel = "test"
      )
      Splits
        .packSequences(split, "doc_id", "text", "split", blockTokens = 512)
        .select(
          "doc_id", "split", "quality", "n_tokens", "block_id", "block_offset"
        )
        .orderBy("doc_id")
    }),

    // DoReMi-lite: one multiplicative-weights update over language
    // shares with log2 doc length as the proxy loss against a fixed
    // reference budget — over-budget (hard) languages upweight, de sits
    // under budget and keeps its prior odds via the max(0, .) clamp
    "q_domain_reweight" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("loss", log2(col("n_chars") + 1))
        .withColumn("ref_loss", lit(8.0))
      Splits
        .domainReweight(
          docs, "lang", "loss", "ref_loss",
          eta = 0.5, smoothing = 0.1
        )
        .orderBy("domain")
    }),

    // temperature-flattened language mixture (alpha = 0.5) plus its
    // deterministic realization: per-language shares, the repeat weight,
    // and the post-mixture row count from weightedRepeatByTable
    "q_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mix = Splits.temperatureMixture(docs, "lang", alpha = 0.5)
      val applied = Splits.weightedRepeatByTable(
        docs, "doc_id", "lang", mix, weightStrataCol = "source"
      )
      val after =
        applied.groupBy(col("lang")).agg(count(lit(1)).as("n_after"))
      mix
        .withColumnRenamed("source", "lang")
        .join(after, Seq("lang"), "left")
        .select(
          col("lang"), col("n_rows"), col("natural_share"),
          col("temp_share"), col("weight"),
          coalesce(col("n_after"), lit(0L)).as("n_after")
        )
        .orderBy("lang")
    }),

    // budgeted data selection: highest-n_chars docs until 8k tokens —
    // global (score desc, id) running sum built WITHOUT a global sort
    "q_budget_select" -> ((s, dir) => {
      Splits
        .selectByTokenBudget(
          t(s, dir, "documents")
            .select(
              col("doc_id"), col("n_chars"),
              size(split(lower(col("text")), " ")).as("n_tokens")
            ),
          "doc_id", "n_chars", "n_tokens", tokenBudget = 8000L
        )
        .select("doc_id", "n_chars", "n_tokens", "cum_tokens")
        .orderBy("cum_tokens")
    }),

    // Efraimidis-Spirakis weighted sample without replacement: longer
    // documents proportionally likelier, deterministic across engines
    "q_weighted_sample" -> ((s, dir) => {
      Splits
        .weightedSample(
          t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
          "doc_id", "n_chars", k = 50
        )
        .select("doc_id", "lang", "source", "sample_score")
        .orderBy(col("sample_score").desc, col("doc_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_hash_split" ->
      """WITH b AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk,
        |         o_totalprice
        |  FROM orders
        |)
        |SELECT CASE WHEN bk < 8000 THEN 'train'
        |            WHEN bk < 9000 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // reps = floor(w) + (md5 bucket < frac(w)*10000); one row per copy
    "q_weighted_repeat" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |         (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END)
        |         + (CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 <
        |                 (CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 5000 ELSE 0 END)
        |            THEN 1 ELSE 0 END) AS reps
        |  FROM documents
        |)
        |SELECT doc_id, source, CAST(unnest(range(reps)) AS BIGINT) AS copy_id
        |FROM r WHERE reps > 0
        |ORDER BY doc_id, copy_id""".stripMargin,

    "q_mixture_alloc" -> {
      // ppm literals computed by the SAME normalization as the operator,
      // so the only data-dependent inputs are the per-source token sums
      val weights = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
      val wSum = weights.map(_._2).sum
      val vals = weights
        .map { case (s, w) => s"('$s', ${math.round(w / wSum * 1e6)})" }
        .mkString(", ")
      val budget = 4000L
      s"""WITH a AS (
         |  SELECT source, SUM(len(string_split(lower(text), ' '))) AS av
         |  FROM documents WHERE text IS NOT NULL GROUP BY source
         |), w(source, wq) AS (VALUES $vals),
         |j AS (
         |  SELECT w.source, CAST(COALESCE(a.av, 0) AS BIGINT) AS av, w.wq,
         |         ($budget * w.wq) // 1000000 AS want,
         |         (CAST(COALESCE(a.av, 0) AS BIGINT) * 1000000) // 1000000 AS cap
         |  FROM w LEFT JOIN a USING (source)
         |), f AS (
         |  SELECT *, LEAST(want, cap) AS a1 FROM j
         |), g AS (
         |  SELECT *,
         |         (SELECT $budget - SUM(a1) FROM f) AS leftover,
         |         (SELECT COALESCE(SUM(wq) FILTER (WHERE a1 < cap), 0) FROM f) AS up
         |  FROM f
         |), h AS (
         |  SELECT source, av, wq, cap,
         |         a1 + CASE WHEN a1 < cap AND up > 0 AND leftover > 0
         |              THEN LEAST((leftover * wq) // up, cap - a1)
         |              ELSE 0 END AS alloc
         |  FROM g
         |)
         |SELECT source, av AS available_tokens,
         |       CAST(wq AS BIGINT) AS weight_ppm,
         |       CAST(alloc AS BIGINT) AS allocated_tokens,
         |       ROUND(CASE WHEN av > 0 THEN CAST(alloc AS DOUBLE) / av
         |             ELSE 0.0 END, 6) AS epochs,
         |       (alloc = cap) AS capped
         |FROM h ORDER BY source""".stripMargin
    },

    "q_stratified_sample" ->
      """WITH s AS (
        |  SELECT * FROM documents
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 <
        |        CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500 ELSE 1000 END
        |)
        |SELECT lang, count(*) AS n, min(doc_id) AS min_id
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL
        |), r AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(sum(n_tokens) OVER (
        |           PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           - n_tokens AS start_off
        |  FROM d
        |)
        |SELECT doc_id, source, n_tokens,
        |       start_off // 512 AS block_id,
        |       start_off % 512 AS block_offset
        |FROM r ORDER BY doc_id""".stripMargin,

    // composition of the q_dedup_minhash, q_decontam, q_quality,
    // q_hash_split and q_pack_sequences oracle fragments, each already
    // individually green — the pipeline oracle checks the COMPOSITION
    "q_pipeline_e2e" -> {
      val en = TextAnalysis.LangMarkers.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH ${duckMinHashCommonWhere(" AND doc_id % 10 <> 0")}, losers AS (
         |  SELECT doc_id AS ib FROM ex WHERE doc_id > sig_min
         |  UNION
         |  SELECT ib FROM cl WHERE est >= 0.9
         |), dd AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT ib FROM losers)
         |), tk AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
         |), ng AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 2),
         |    i -> array_to_string(t[i:i+3], ' '))) AS g
         |  FROM tk
         |), te AS (
         |  SELECT DISTINCT unnest(g) AS gram FROM ng WHERE doc_id % 10 = 0
         |), cont AS (
         |  SELECT DISTINCT x.doc_id FROM (
         |    SELECT doc_id, unnest(g) AS gram FROM ng WHERE doc_id % 10 <> 0
         |  ) x JOIN te USING (gram)
         |), q AS (
         |  SELECT doc_id, text,
         |         ${QueryShared.duckQualityExpr("nt", "pc", "stops")} AS quality
         |  FROM (
         |    SELECT doc_id, text,
         |           len(string_split(lower(text), ' ')) AS nt,
         |           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS pc,
         |           len(list_filter(string_split(lower(text), ' '),
         |               w -> list_contains([$en], w))) AS stops
         |    FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM cont)
         |  )
         |), sp AS (
         |  SELECT doc_id, text, quality,
         |         CASE WHEN bk < 8000 THEN 'train'
         |              WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT *,
         |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
         |        FROM q)
         |  WHERE quality >= 0.5
         |), pk AS (
         |  SELECT doc_id, split, quality,
         |         CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
         |         CAST(sum(len(string_split(lower(text), ' '))) OVER (
         |           PARTITION BY split ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |           - len(string_split(lower(text), ' ')) AS start_off
         |  FROM sp WHERE text IS NOT NULL
         |)
         |SELECT doc_id, split, quality, n_tokens,
         |       start_off // 512 AS block_id, start_off % 512 AS block_offset
         |FROM pk ORDER BY doc_id""".stripMargin
    },

    "q_group_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |         row_number() OVER (
        |           PARTITION BY lang, source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 3 ORDER BY lang, source, doc_id""".stripMargin,

    "q_shuffle_shards" ->
      """SELECT doc_id,
        |       CAST(CAST(('0x' || substr(md5('shard:ep0:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |                 AS BIGINT) % 16 AS INT) AS shard,
        |       md5('order:ep0:' || CAST(doc_id AS VARCHAR)) AS sort_key
        |FROM documents ORDER BY doc_id""".stripMargin,

    // chr(1)-joined, chr(0)-for-NULL row digest summed per shard — the
    // same bytes Spark's concat_ws(u0001, coalesce(..., u0000)) hashes
    "q_shard_manifest" ->
      """WITH sh AS (
        |  SELECT CAST(CAST(('0x' || substr(md5('shard:ep0:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |              AS BIGINT) % 16 AS INT) AS shard,
        |         CAST(CAST(('0x' || substr(md5(
        |           COALESCE(CAST(doc_id AS VARCHAR), chr(0)) || chr(1) ||
        |           COALESCE(text, chr(0)) || chr(1) ||
        |           COALESCE(lang, chr(0)) || chr(1) ||
        |           COALESCE(source, chr(0)) || chr(1) ||
        |           COALESCE(CAST(n_chars AS VARCHAR), chr(0))
        |         ), 1, 15)) AS BIGINT) AS DECIMAL(20,0)) AS d
        |  FROM documents
        |)
        |SELECT shard, count(*) AS n_rows,
        |       CAST(sum(d) % 1152921504606846883 AS BIGINT) AS checksum
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_kfold" ->
      """SELECT CAST(CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 % 5 AS INT) AS fold,
        |       count(*) AS n,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_temporal_split" ->
      """SELECT CASE WHEN epoch_us(ts) < 1705708800000000 THEN 'train'
        |            WHEN epoch_us(ts) >= 1705795200000000 THEN 'test'
        |            ELSE 'embargo' END AS split,
        |       event_type, count(*) AS n_events,
        |       min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_domain_reweight" ->
      """WITH base AS (
        |  SELECT lang AS domain, ROUND(log2(n_chars + 1) - 8.0, 6) AS ex
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |), d AS (
        |  SELECT domain, COUNT(*) AS n,
        |         SUM(CAST(ex AS DECIMAL(27,6))) AS esum
        |  FROM base GROUP BY 1
        |), t AS (
        |  SELECT SUM(n) AS nt FROM d
        |), p AS (
        |  SELECT domain, n,
        |         ROUND(CAST(n AS DOUBLE) / nt, 6) AS prior,
        |         ROUND(GREATEST(0.0, CAST(esum AS DOUBLE) / n), 6) AS me
        |  FROM d, t
        |), m AS (
        |  SELECT domain, n, me, prior,
        |         CAST(ROUND(prior * exp(LEAST(CAST(40.0 AS DOUBLE),
        |                                      CAST(0.5 AS DOUBLE) * me)), 6)
        |              AS DECIMAL(28,6)) AS mw
        |  FROM p
        |), s AS (
        |  SELECT SUM(mw) AS sw, COUNT(*) AS k FROM m
        |)
        |SELECT domain, CAST(n AS BIGINT) AS n, me AS mean_excess, prior,
        |       ROUND(CAST(0.9 AS DOUBLE) *
        |               (CAST(mw AS DOUBLE) / CAST(sw AS DOUBLE)) +
        |             CAST(0.1 AS DOUBLE) / k, 6) AS weight
        |FROM m, s
        |ORDER BY domain""".stripMargin,

    "q_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n_rows FROM documents GROUP BY 1
        |), p AS (
        |  SELECT lang, n_rows,
        |         CAST(ROUND(pow(CAST(n_rows AS DOUBLE), 0.5), 6)
        |              AS DECIMAL(28,6)) AS pw
        |  FROM c
        |), tot AS (
        |  SELECT CAST(sum(n_rows) AS DOUBLE) AS nn,
        |         CAST(sum(pw) AS DOUBLE) AS sp
        |  FROM p
        |), mix AS (
        |  SELECT lang, n_rows,
        |         ROUND(CAST(n_rows AS DOUBLE) / (SELECT nn FROM tot), 6)
        |           AS natural_share,
        |         ROUND(CAST(pw AS DOUBLE) / (SELECT sp FROM tot), 6)
        |           AS temp_share,
        |         ROUND(CAST(pw AS DOUBLE) / (SELECT sp FROM tot) *
        |               ((SELECT nn FROM tot) / CAST(n_rows AS DOUBLE)), 6)
        |           AS weight
        |  FROM p
        |), rep AS (
        |  SELECT d.lang,
        |         CAST(floor(m.weight) AS BIGINT) +
        |         CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
        |                        AS BIGINT) % 10000
        |                   < CAST(ROUND((m.weight - floor(m.weight)) * 10000, 0)
        |                          AS BIGINT)
        |              THEN 1 ELSE 0 END AS reps
        |  FROM documents d JOIN mix m USING (lang)
        |), aft AS (
        |  SELECT lang, CAST(sum(reps) AS BIGINT) AS n_after FROM rep GROUP BY 1
        |)
        |SELECT m.lang, m.n_rows, m.natural_share, m.temp_share, m.weight,
        |       CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after
        |FROM mix m LEFT JOIN aft a USING (lang) ORDER BY m.lang""".stripMargin,

    "q_budget_select" ->
      """WITH scored AS (
        |  SELECT doc_id, n_chars,
        |         CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
        |), c AS (
        |  SELECT doc_id, n_chars, n_tokens,
        |         CAST(sum(CAST(n_tokens AS BIGINT)) OVER (
        |           ORDER BY n_chars DESC, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM scored
        |)
        |SELECT doc_id, n_chars, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 8000 ORDER BY cum_tokens""".stripMargin,

    "q_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |               AS BIGINT) % 10000 + 0.5) / 10000.0 AS u
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0
        |)
        |SELECT doc_id, lang, source,
        |       ROUND(POWER(u, 1.0 / CAST(n_chars AS DOUBLE)), 6)
        |         AS sample_score
        |FROM s
        |ORDER BY ROUND(LN(u), 6) / CAST(n_chars AS DOUBLE) DESC, doc_id
        |LIMIT 50""".stripMargin
  )
}
