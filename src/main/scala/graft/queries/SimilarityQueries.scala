package graft

import graft.QueryShared._
import graft.operators.{Checks, Decontam, Dedup, Graphs, Joins, Layout, Sessionize, Similarity, Splits, Stats, TextAnalysis, TopN, Wrangling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** embedding similarity: ANN, IVF, k-means, SemDeDup, selection — query registry + DuckDB oracles.
  * Merged into the driver contract by [[ScaleQueries]]. */
private[graft] object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine top-10 for query vectors vec_id < 3
    "q_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity
        .cosineTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 10)
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    }),

    // int8-quantized brute-force top-10: 4x-smaller integer index, scales
    // cancel in the cosine, codegen'd integer loop
    "q_ann_quantized" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity
        .cosineTopKQuantized(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 10)
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("cosine_q"), 6).as("cosine_q"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed approximate top-5 (scale path; same planes as oracle)
    "q_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity
        .annTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5, AnnPlanes)
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    }),

    // embedding near-dup pairs in shared LSH buckets (cosine >= 0.8)
    "q_embed_dedup" -> ((s, dir) => {
      Dedup
        // 0.4 is below near-dup territory, deliberately: the synthetic
        // embeddings top out at pairwise cosine 0.51, so a realistic 0.8+
        // threshold returns zero rows — a trivially-green oracle. 0.4
        // yields a real pair set that actually exercises the bucket-join
        // and threshold logic.
        .embeddingDedupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", AnnPlanes, 0.4
        )
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // OR-amplified multi-band embedding near-dup pairs (recall dial over
    // q_embed_dedup: 16 banks x 3 planes recover nearly all >= 0.4 pairs
    // where the single 6-plane bucket finds a handful). Input bounded to
    // the first 1000 vectors for the same reason as q_jaccard_pairs: on
    // near-random embeddings with 8 buckets/bank the candidate (and true)
    // pair set grows quadratically with corpus size, so an unbounded bench
    // would measure result-set growth, not the operator. Real corpora tune
    // planes-per-bank up (smaller buckets) as size grows.
    "q_embed_dedup_mb" -> ((s, dir) => {
      Dedup
        .embeddingDedupPairsMultiBand(
          t(s, dir, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", AnnBanks, 0.4
        )
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // drop-the-losers form of q_embed_dedup_mb: survivors after removing
    // every vector linked to a smaller id at cosine >= 0.4 (the embedding
    // counterpart of q_dedup_minhash / q_dedup_simhash)
    "q_embed_dedup_drop" -> ((s, dir) => {
      Dedup
        .dedupNearEmbedding(
          t(s, dir, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", AnnBanks, 0.4
        )
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // SemDeDup (Abbas et al. 2023): k-means cluster-local semantic dedup —
    // within each of 8 clusters, every cosine>=0.4 pair drops the member
    // closer to the centroid (diversity-keeping); survivors listed
    "q_semdedup" -> ((s, dir) => {
      Dedup
        .semDeDup(
          t(s, dir, "embeddings").select("vec_id", "embedding"),
          "vec_id", "embedding", k = 8, rounds = 2, threshold = 0.4
        )
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // corpus k-NN graph: top-3 cosine neighbors per vector among
    // multi-band LSH candidates (bounded slice for the same quadratic-
    // result reason as q_embed_dedup_mb)
    "q_knn_graph" -> ((s, dir) => {
      Similarity
        .knnGraph(
          t(s, dir, "embeddings").filter(col("vec_id") < 300),
          "vec_id", "embedding", AnnBanks, k = 3
        )
        .select(
          col("id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank")
        )
        .orderBy("id", "rank")
    }),

    // contrastive training pairs: kPos LSH-graph positives + mNeg
    // hash-deterministic pool negatives per anchor
    "q_contrastive_pairs" -> ((s, dir) => {
      Similarity
        .contrastivePairs(
          t(s, dir, "embeddings").filter(col("vec_id") < 300),
          "vec_id", "embedding", AnnBanks,
          kPos = 3, mNeg = 3, poolSize = 64, salt = "cp"
        )
        .select(
          col("anchor_id"), col("pair_id"), col("label"),
          round(col("cosine"), 6).as("cosine"), col("rank")
        )
        .orderBy("anchor_id", "label", "rank")
    }),

    // transitive (SemDeDup-style) variant: one survivor per cosine-linked
    // connected component; oracle computes reachability recursively like
    // q_dedup_minhash_cc
    "q_embed_dedup_cc" -> ((s, dir) => {
      Dedup
        .dedupNearEmbedding(
          t(s, dir, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", AnnBanks, 0.4, transitive = true
        )
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // IVF approximate top-5 with a deterministic codebook: centroids are
    // the corpus vectors at vec_id % 64 == 0 (8 cells at sf0.01); cell
    // assignment and probing use squared Euclidean distance, only the
    // in-cell ranking is cosine — fully SQL-expressible, so the search is
    // oracle-checked end to end. A kmeansTrain codebook runs the same
    // search code and is gated by the ScaleSpec recall assertion instead.
    "q_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = e
        .filter(col("vec_id") % 64 === 0)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]](0).toSeq)
        .toSeq
      Similarity
        .ivfTopKWithCentroids(e, e.filter(col("vec_id") < 3), "vec_id",
          "embedding", k = 5, centroids, nProbe = 3)
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    }),

    // deterministic Lloyd k-means (k=8, 2 rounds): md5-seeded, exact
    // integer centroid sums — the clustering stage of cluster-then-curate
    // (SemDeDup cluster-local dedup, cluster-balanced sampling); fully
    // engine-portable, so the whole model is oracle-checked end to end
    "q_kmeans" -> ((s, dir) => {
      Similarity
        .kmeansCluster(
          t(s, dir, "embeddings").select("vec_id", "embedding"),
          "vec_id", "embedding", k = 8, rounds = 2
        )
        .select("vec_id", "cluster", "sq_dist")
        .orderBy("vec_id")
    }),

    // cluster-balanced subsample: 12 docs per k-means cluster chosen by
    // the deterministic md5 order — diversity-preserving downsampling
    // (each topic keeps representation no matter how skewed the corpus);
    // composes kmeansCluster + the hash-ranked top-n
    "q_cluster_sample" -> ((s, dir) => {
      val clustered = Similarity
        .kmeansCluster(
          t(s, dir, "embeddings").select("vec_id", "embedding"),
          "vec_id", "embedding", k = 8, rounds = 2
        )
      TopN
        .firstRow(
          clustered.withColumn("__bk", Splits.hashBucket(col("vec_id"))),
          n = 12,
          partitionBy = Seq(col("cluster")),
          orderBy = Seq(col("__bk").asc, col("vec_id").asc)
        )
        .select("vec_id", "cluster")
        .orderBy("cluster", "vec_id")
    }),

    // OR-amplified multi-band LSH top-5 (recall dial over q_ann_topk)
    "q_ann_multiband" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity
        .annTopKMultiBand(
          e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5, AnnBanks
        )
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    }),

    // Johnson-Lindenstrauss random projection 64 -> 8 dims (long format)
    "q_random_projection" -> ((s, dir) => {
      Similarity
        .randomProjection(
          t(s, dir, "embeddings").filter(col("vec_id") < 200),
          "vec_id", "embedding", inDims = 64, outDims = 8
        )
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "dim")
    }),

    // semantic decontamination report: max cosine of every corpus embedding
    // to a planted eval set (every 97th vector) — paraphrase-robust leakage
    // audit; eval members self-match at exactly 1.0
    "q_semantic_decontam" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Decontam
        .semanticContaminationReport(
          emb, emb.filter(col("vec_id") % 97 === 0), "vec_id", "embedding",
          threshold = 0.95
        )
        .select("vec_id", "max_eval_cosine", "contaminated")
        .orderBy("vec_id")
    }),

    // the drop form: corpus minus everything within 0.95 cosine of eval
    "q_semantic_drop" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Decontam
        .semanticDecontaminate(
          emb, emb.filter(col("vec_id") % 97 === 0), "vec_id", "embedding",
          threshold = 0.95
        )
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // MMR diversified top-3: relevance (deterministic pseudo-score) traded
    // against redundancy via native cosine; oracle = the same 3 greedy
    // rounds unrolled as CTE stages (lambda = 0.75 so 1 - lambda is exact
    // in binary and both engines compute identical objectives)
    "q_mmr" -> ((s, dir) => {
      Similarity
        .diversifiedTopK(
          t(s, dir, "embeddings")
            .filter(col("vec_id") < 150)
            .withColumn(
              "rel",
              ((col("vec_id") * 37) % 101).cast("double")
            ),
          "vec_id", "embedding", "rel", k = 3, lambda = 0.75
        )
        .orderBy("rank")
    }),

    // greedy k-center diversity sample (farthest-point-first) — the
    // selection complement of dedup; oracle = the same 3 rounds unrolled
    // as CTE stages with the identical argmax tie-break
    "q_kcenter" -> ((s, dir) => {
      Similarity
        .kCenterSample(
          t(s, dir, "embeddings").filter(col("vec_id") < 200),
          "vec_id", "embedding", k = 3
        )
        .orderBy("center_rank")
    }),

    // scalable (k-means||-style) k-center: constant distributed rounds of
    // md5-deterministic distance-proportional oversampling, driver-local
    // greedy on the candidate set. The md5 coin makes the whole run
    // exactly unrollable, so this small-k/2-round config carries a FULL
    // CTE oracle (QueryShared.duckKCenterScalableCte); the big-k/3-round
    // shape and its coverage-radius bound vs the exact greedy stay
    // asserted in ScaleSpec.
    "q_kcenter_scalable" -> ((s, dir) => {
      Similarity
        .kCenterSampleScalable(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, oversample = 2.0, rounds = 2
        )
        .orderBy("center_rank")
    }),

    // product-quantization codebooks (4 subspaces x 8 centroids over the
    // 64-dim embeddings, 2 Lloyd rounds): the whole trained model dumped
    // as (subspace, cluster, pos, value) rows — every float of every
    // sub-centroid is oracle-checked, the strongest possible training gate
    "q_pq_train" -> ((s, dir) => {
      import s.implicits._
      val cbs = Similarity.pqTrain(
        t(s, dir, "embeddings").select("vec_id", "embedding"),
        "vec_id", "embedding", numSubspaces = 4, k = 8, rounds = 2
      )
      cbs.zipWithIndex
        .flatMap { case (cb, sub) =>
          cb.zipWithIndex.flatMap { case (cv, c) =>
            cv.zipWithIndex.map { case (x, pos) => (sub, c, pos, x.toDouble) }
          }
        }
        .toDF("subspace", "cluster", "pos", "value")
        .orderBy("subspace", "cluster", "pos")
    }),

    // PQ encoding: each vector reduced to its 4 per-subspace nearest
    // sub-centroid ids — the 64x-compressed representation a 100 TB
    // corpus persists instead of its float vectors
    "q_pq_encode" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cbs = Similarity
        .pqTrain(e, "vec_id", "embedding", numSubspaces = 4, k = 8, rounds = 2)
      Similarity
        .pqEncode(e, "embedding", cbs)
        .select(
          col("vec_id") +:
            (0 until 4).map(i => col("pq_codes").getItem(i).as(s"code_$i")): _*
        )
        .orderBy("vec_id")
    }),

    // asymmetric-distance PQ top-5: queries keep their float vectors, the
    // corpus side is codes-only — per query one 4x8 lut, per candidate 4
    // array lookups (never a dim-length loop, never the original vectors)
    "q_pq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cbs = Similarity
        .pqTrain(e, "vec_id", "embedding", numSubspaces = 4, k = 8, rounds = 2)
      val db = Similarity
        .pqEncode(e.filter(col("vec_id") >= 5), "embedding", cbs)
      Similarity
        .pqTopK(
          db, "vec_id", "pq_codes",
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          cbs, k = 5
        )
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    }),

    // two-stage retrieval: ADC top-15 shortlist, float vectors
    // re-attached for the shortlist only, exact-cosine re-rank to top-5
    // — the refine step that buys back quantization error for one
    // bounded join
    "q_pq_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cbs = Similarity
        .pqTrain(e, "vec_id", "embedding", numSubspaces = 4, k = 8, rounds = 2)
      val corpus = e.filter(col("vec_id") >= 5)
      val db = Similarity.pqEncode(corpus, "embedding", cbs)
      Similarity
        .pqTopKRefined(
          db, "vec_id", "pq_codes",
          corpus, "vec_id", "embedding",
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          cbs, k = 5, expand = 3
        )
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    }),

    // PQ tuning report: exact top-10 vs ADC top-10 on 8 md5-chosen
    // queries — the recall-vs-code-budget dial read before shipping a
    // compressed index (mirrors the q_lsh_recall audit for dedup)
    "q_pq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cbs = Similarity
        .pqTrain(e, "vec_id", "embedding", numSubspaces = 4, k = 8, rounds = 2)
      Similarity.pqRecallAudit(e, "vec_id", "embedding", cbs,
        k = 10, numQueries = 8)
    }),

    // IVF-PQ index build: modulo-chosen coarse cells + PQ codes of the
    // cell residuals — every vector's routing AND compressed form checked
    "q_ivfpq_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val coarse = ivfModCentroids(e)
      val cbs = Similarity
        .ivfPqTrain(e, "vec_id", "embedding", coarse,
          numSubspaces = 4, k = 8, rounds = 2)
      Similarity
        .ivfPqIndex(e, "vec_id", "embedding", coarse, cbs)
        .select(
          col("vec_id") +: col("cell") +:
            (0 until 4).map(i => col("pq_codes").getItem(i).as(s"code_$i")): _*
        )
        .orderBy("vec_id")
    }),

    // IVF-PQ search: 2 probed cells per query, per-(query, cell) residual
    // ADC luts, candidates cost 4 array lookups — the composed
    // partition-pruned + compressed serve path at any corpus size
    "q_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val coarse = ivfModCentroids(e)
      val cbs = Similarity
        .ivfPqTrain(e, "vec_id", "embedding", coarse,
          numSubspaces = 4, k = 8, rounds = 2)
      val index = Similarity.ivfPqIndex(e, "vec_id", "embedding", coarse, cbs)
      Similarity
        .ivfPqTopK(
          index, "vec_id",
          e.filter(col("vec_id") < 3), "vec_id", "embedding",
          coarse, cbs, k = 5, nProbe = 2
        )
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"),
          col("rank")
        )
        .orderBy("query_id", "rank")
    })
  )

  /** The deterministic modulo codebook shared by the oracle-checked IVF
    * variants: corpus vectors at `vec_id % 64 == 0`, cell = ascending
    * vec_id rank (8 cells at sf0.01). */
  private def ivfModCentroids(e: DataFrame): Seq[Seq[Float]] = e
    .filter(col("vec_id") % 64 === 0)
    .orderBy("vec_id")
    .select("embedding")
    .collect()
    .map(_.getAs[scala.collection.Seq[Float]](0).toSeq)
    .toSeq

  val oracles: Map[String, String] = Map(
    "q_cosine_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3
         |), s AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ${duckCosine("q.embedding", "e.embedding")} AS c
         |  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, neighbor_id, c,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,

    // floor(x*127/maxabs + 0.5) quantization replicated exactly (floor,
    // not round: Spark HALF_UP vs DuckDB bankers diverge on .5); integer
    // dot/norms in BIGINT then one double division, matching the native
    // expression's arithmetic order
    "q_ann_quantized" ->
      s"""WITH mm AS (
         |  SELECT vec_id, embedding,
         |         list_max(list_transform(embedding, x -> abs(x))) AS m
         |  FROM embeddings
         |), qe AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x ->
         |           CASE WHEN m > 0
         |                THEN CAST(floor(x * 127.0 / m + 0.5) AS INT)
         |                ELSE 0 END) AS qv
         |  FROM mm
         |), q AS (
         |  SELECT vec_id, qv FROM qe WHERE vec_id < 3
         |), s AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> CAST(q.qv[i] AS BIGINT) * CAST(e.qv[i] AS BIGINT))) AS DOUBLE) /
         |         (sqrt(CAST(list_sum(list_transform(q.qv, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS DOUBLE)) *
         |          sqrt(CAST(list_sum(list_transform(e.qv, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS DOUBLE))) AS c
         |  FROM q JOIN qe e ON e.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, neighbor_id, c,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine_q, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_ann_topk" ->
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings
         |), q AS (
         |  SELECT vec_id, embedding, bucket FROM eb WHERE vec_id < 3
         |), s AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ${duckCosine("q.embedding", "e.embedding")} AS c
         |  FROM q JOIN eb e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, neighbor_id, c,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_embed_dedup" ->
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings
         |), p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS c
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM p
         |WHERE c >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // deterministic-codebook IVF: centroids = corpus vectors at
    // vec_id % 64 == 0 (cell = rank of centroid id), squared-Euclidean
    // assignment (argmin, ties -> lowest cell), nProbe=3, cosine top-5
    "q_ivf_topk" ->
      s"""WITH cent AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
         |         embedding AS cv
         |  FROM embeddings WHERE vec_id % 64 = 0
         |), ac AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |         ${duckSqDist("e.embedding", "c.cv")} AS cd
         |  FROM embeddings e CROSS JOIN cent c
         |), assigned AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT vec_id, embedding, cell,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM ac
         |  ) WHERE rn = 1
         |), probe AS (
         |  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
         |    SELECT vec_id, embedding, cell,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM ac WHERE vec_id < 3
         |  ) WHERE rn <= 3
         |), s AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |         ${duckCosine("p.qv", "a.embedding")} AS c
         |  FROM probe p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |), r AS (
         |  SELECT query_id, neighbor_id, c,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_kmeans" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckKmeansCte(k = 8, rounds = 2)}
         |SELECT vec_id, CAST(cl AS INT) AS cluster, ROUND(d, 6) AS sq_dist
         |FROM af ORDER BY vec_id""".stripMargin,

    "q_semdedup" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckKmeansCte(k = 8, rounds = 2)}, sl AS (
         |  SELECT af.vec_id, e.embedding, af.cl, ROUND(af.d, 6) AS d
         |  FROM af JOIN e USING (vec_id)
         |), pr AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib, a.d AS da, b.d AS db
         |  FROM sl a JOIN sl b ON a.cl = b.cl AND a.vec_id < b.vec_id
         |  WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.4
         |), lo AS (
         |  SELECT DISTINCT CASE WHEN da < db THEN ia
         |                       WHEN db < da THEN ib
         |                       ELSE ib END AS loser
         |  FROM pr
         |)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT loser FROM lo)
         |ORDER BY vec_id""".stripMargin,

    "q_cluster_sample" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckKmeansCte(k = 8, rounds = 2)}, bk AS (
         |  SELECT vec_id, cl,
         |         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS b
         |  FROM af
         |)
         |SELECT vec_id, CAST(cl AS INT) AS cluster FROM (
         |  SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY cl ORDER BY b, vec_id) AS rn
         |  FROM bk
         |) WHERE rn <= 12 ORDER BY cluster, vec_id""".stripMargin,

    "q_embed_dedup_mb" -> {
      val bucketCols = AnnBanks.zipWithIndex
        .map { case (planes, i) => s"${duckBucketFor(planes)} AS b$i" }
        .mkString(", ")
      val orCond = AnnBanks.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, $bucketCols FROM embeddings
         |  WHERE vec_id < 1000
         |), p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS c
         |  FROM eb a JOIN eb b ON ($orCond) AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM p
         |WHERE c >= 0.4 ORDER BY id_a, id_b""".stripMargin
    },

    "q_embed_dedup_drop" -> {
      val bucketCols = AnnBanks.zipWithIndex
        .map { case (planes, i) => s"${duckBucketFor(planes)} AS b$i" }
        .mkString(", ")
      val orCond = AnnBanks.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, $bucketCols FROM embeddings
         |  WHERE vec_id < 1000
         |), p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS c
         |  FROM eb a JOIN eb b ON ($orCond) AND a.vec_id < b.vec_id
         |), losers AS (
         |  SELECT DISTINCT id_b FROM p WHERE c >= 0.4
         |)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id < 1000 AND vec_id NOT IN (SELECT id_b FROM losers)
         |ORDER BY vec_id""".stripMargin
    },

    "q_knn_graph" -> {
      val bucketCols = AnnBanks.zipWithIndex
        .map { case (planes, i) => s"${duckBucketFor(planes)} AS b$i" }
        .mkString(", ")
      val orCond = AnnBanks.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, $bucketCols FROM embeddings
         |  WHERE vec_id < 300
         |), s AS (
         |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS c
         |  FROM eb a JOIN eb b ON ($orCond) AND a.vec_id <> b.vec_id
         |), r AS (
         |  SELECT id, neighbor_id, c,
         |         ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM s
         |)
         |SELECT id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 3 ORDER BY id, rank""".stripMargin
    },

    "q_contrastive_pairs" -> {
      val bucketCols = AnnBanks.zipWithIndex
        .map { case (planes, i) => s"${duckBucketFor(planes)} AS b$i" }
        .mkString(", ")
      val orCond = AnnBanks.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, $bucketCols FROM embeddings
         |  WHERE vec_id < 300
         |), s AS (
         |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS c
         |  FROM eb a JOIN eb b ON ($orCond) AND a.vec_id <> b.vec_id
         |), pos AS (
         |  SELECT id, neighbor_id, c, rn FROM (
         |    SELECT id, neighbor_id, c,
         |           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id) AS rn
         |    FROM s
         |  ) WHERE rn <= 3
         |), pool AS (
         |  SELECT vec_id AS pid, embedding AS pv FROM eb
         |  ORDER BY CAST(('0x' || substr(md5('pool:cp:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
         |  LIMIT 64
         |), nc AS (
         |  SELECT a.vec_id AS anchor_id, p.pid, p.pv,
         |         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |           CAST(('0x' || substr(md5('neg:cp:' || CAST(a.vec_id AS VARCHAR) || '|' || CAST(p.pid AS VARCHAR)), 1, 15)) AS BIGINT),
         |           p.pid) AS rn
         |  FROM eb a JOIN pool p ON p.pid <> a.vec_id
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM pos WHERE pos.id = a.vec_id AND pos.neighbor_id = p.pid
         |  )
         |), neg AS (
         |  SELECT nc.anchor_id, nc.pid AS pair_id,
         |         ${duckCosine("a.embedding", "nc.pv")} AS c, nc.rn
         |  FROM nc JOIN eb a ON a.vec_id = nc.anchor_id
         |  WHERE nc.rn <= 3
         |)
         |SELECT anchor_id, pair_id, label, ROUND(c, 6) AS cosine, CAST(rn AS INT) AS rank
         |FROM (
         |  SELECT id AS anchor_id, neighbor_id AS pair_id, 'pos' AS label, c, rn FROM pos
         |  UNION ALL
         |  SELECT anchor_id, pair_id, 'neg' AS label, c, rn FROM neg
         |)
         |ORDER BY anchor_id, label, rank""".stripMargin
    },

    "q_embed_dedup_cc" -> {
      val bucketCols = AnnBanks.zipWithIndex
        .map { case (planes, i) => s"${duckBucketFor(planes)} AS b$i" }
        .mkString(", ")
      val orCond = AnnBanks.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
      s"""WITH RECURSIVE eb AS (
         |  SELECT vec_id, embedding, $bucketCols FROM embeddings
         |  WHERE vec_id < 1000
         |), p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS c
         |  FROM eb a JOIN eb b ON ($orCond) AND a.vec_id < b.vec_id
         |), e AS (
         |  SELECT id_a AS a, id_b AS b FROM p WHERE c >= 0.4
         |  UNION
         |  SELECT id_b AS a, id_a AS b FROM p WHERE c >= 0.4
         |), reach AS (
         |  SELECT a AS src, b AS dst FROM e
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst
         |), comp AS (
         |  SELECT src AS id, least(src, min(dst)) AS component
         |  FROM reach GROUP BY src
         |), losers AS (
         |  SELECT id FROM comp WHERE id > component
         |)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id < 1000 AND vec_id NOT IN (SELECT id FROM losers)
         |ORDER BY vec_id""".stripMargin
    },

    "q_ann_multiband" -> {
      val bucketCols = AnnBanks.zipWithIndex
        .map { case (planes, i) => s"${duckBucketFor(planes)} AS b$i" }
        .mkString(", ")
      val orCond = AnnBanks.indices.map(i => s"e.b$i = q.b$i").mkString(" OR ")
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, $bucketCols FROM embeddings
         |), q AS (
         |  SELECT * FROM eb WHERE vec_id < 3
         |), s AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ${duckCosine("q.embedding", "e.embedding")} AS c
         |  FROM q JOIN eb e ON ($orCond) AND e.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, neighbor_id, c,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "q_random_projection" ->
      """SELECT vec_id, CAST(j AS INT) AS dim,
        |  CAST(list_sum(list_transform(range(1, 65), i ->
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000000) AS BIGINT)
        |    * (1 - 2 * (CAST('0x' || substr(md5((i-1) || ':' || j), 1, 1) AS BIGINT) % 2))
        |  )) AS DOUBLE) / 10000000.0 AS value
        |FROM embeddings, range(0, 8) r(j)
        |WHERE vec_id < 200
        |ORDER BY vec_id, dim""".stripMargin,

    "q_semantic_decontam" ->
      s"""WITH ev AS (
         |  SELECT embedding AS evv FROM embeddings WHERE vec_id % 97 = 0
         |), m AS (
         |  SELECT t.vec_id,
         |         ROUND(MAX(${duckCosine("t.embedding", "ev.evv")}), 6)
         |           AS max_eval_cosine
         |  FROM embeddings t, ev GROUP BY t.vec_id
         |)
         |SELECT e.vec_id, m.max_eval_cosine,
         |       COALESCE(m.max_eval_cosine >= 0.95, FALSE) AS contaminated
         |FROM embeddings e LEFT JOIN m USING (vec_id)
         |ORDER BY vec_id""".stripMargin,

    "q_semantic_drop" ->
      s"""WITH ev AS (
         |  SELECT embedding AS evv FROM embeddings WHERE vec_id % 97 = 0
         |), hit AS (
         |  SELECT DISTINCT t.vec_id
         |  FROM embeddings t, ev
         |  WHERE ${duckCosine("t.embedding", "ev.evv")} >= 0.95
         |)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM hit)
         |ORDER BY vec_id""".stripMargin,

    "q_mmr" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         CAST((vec_id * 37) % 101 AS DOUBLE) AS rel
         |  FROM embeddings WHERE vec_id < 150
         |), c1 AS (
         |  SELECT vec_id, embedding, 0.75 * rel AS mmr FROM e
         |  ORDER BY 0.75 * rel DESC, vec_id LIMIT 1
         |), m1 AS (
         |  SELECT e.vec_id, e.embedding, e.rel,
         |         ${duckCosine("e.embedding", "c1.embedding")} AS ms
         |  FROM e, c1 WHERE e.vec_id != c1.vec_id
         |), c2 AS (
         |  SELECT vec_id, embedding, ms,
         |         0.75 * rel - (1.0 - 0.75) * ms AS mmr
         |  FROM m1 ORDER BY 0.75 * rel - (1.0 - 0.75) * ms DESC, vec_id LIMIT 1
         |), m2 AS (
         |  SELECT m1.vec_id, m1.rel,
         |         greatest(m1.ms,
         |                  ${duckCosine("m1.embedding", "c2.embedding")}) AS ms
         |  FROM m1, c2 WHERE m1.vec_id != c2.vec_id
         |), c3 AS (
         |  SELECT vec_id, 0.75 * rel - (1.0 - 0.75) * ms AS mmr
         |  FROM m2 ORDER BY 0.75 * rel - (1.0 - 0.75) * ms DESC, vec_id LIMIT 1
         |)
         |SELECT vec_id, CAST(0 AS INT) AS rank, ROUND(mmr, 6) AS mmr FROM c1
         |UNION ALL SELECT vec_id, CAST(1 AS INT), ROUND(mmr, 6) FROM c2
         |UNION ALL SELECT vec_id, CAST(2 AS INT), ROUND(mmr, 6) FROM c3
         |ORDER BY rank""".stripMargin,

    "q_kcenter" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
         |), c1 AS (
         |  SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1
         |), d1 AS (
         |  SELECT e.vec_id, e.embedding,
         |         ${duckSqDist("e.embedding", "c1.embedding")} AS mind
         |  FROM e, c1
         |), c2 AS (
         |  SELECT vec_id, embedding FROM d1 ORDER BY mind DESC, vec_id LIMIT 1
         |), d2 AS (
         |  SELECT d1.vec_id,
         |         least(d1.mind,
         |               ${duckSqDist("d1.embedding", "c2.embedding")}) AS mind
         |  FROM d1, c2
         |), c3 AS (
         |  SELECT vec_id FROM d2 ORDER BY mind DESC, vec_id LIMIT 1
         |)
         |SELECT vec_id, CAST(0 AS INT) AS center_rank FROM c1
         |UNION ALL SELECT vec_id, CAST(1 AS INT) FROM c2
         |UNION ALL SELECT vec_id, CAST(2 AS INT) FROM c3
         |ORDER BY center_rank""".stripMargin,

    // k = 8, perRound = ceil(oversample * k / rounds) = ceil(2.0*8/2) = 8
    "q_kcenter_scalable" -> duckKCenterScalableCte(k = 8, perRound = 8.0),

    "q_pq_train" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckPqCte(m = 4, k = 8, rounds = 2)}, cb AS (
         |  SELECT 0 AS subspace, cl, cv FROM cb_0
         |  UNION ALL SELECT 1, cl, cv FROM cb_1
         |  UNION ALL SELECT 2, cl, cv FROM cb_2
         |  UNION ALL SELECT 3, cl, cv FROM cb_3
         |)
         |SELECT CAST(subspace AS INT) AS subspace, CAST(cl AS INT) AS cluster,
         |       CAST(i - 1 AS INT) AS pos, CAST(cv[i] AS DOUBLE) AS value
         |FROM cb CROSS JOIN range(1, 17) AS r(i)
         |ORDER BY subspace, cluster, pos""".stripMargin,

    "q_pq_encode" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckPqCte(m = 4, k = 8, rounds = 2)}
         |SELECT e.vec_id,
         |       CAST(af_0.cl AS INT) AS code_0, CAST(af_1.cl AS INT) AS code_1,
         |       CAST(af_2.cl AS INT) AS code_2, CAST(af_3.cl AS INT) AS code_3
         |FROM e JOIN af_0 USING (vec_id) JOIN af_1 USING (vec_id)
         |       JOIN af_2 USING (vec_id) JOIN af_3 USING (vec_id)
         |ORDER BY vec_id""".stripMargin,

    "q_pq_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckPqCte(m = 4, k = 8, rounds = 2)}, q AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 5
         |), en AS (
         |  SELECT e.vec_id, af_0.cl AS c0, af_1.cl AS c1,
         |         af_2.cl AS c2, af_3.cl AS c3
         |  FROM e JOIN af_0 USING (vec_id) JOIN af_1 USING (vec_id)
         |         JOIN af_2 USING (vec_id) JOIN af_3 USING (vec_id)
         |  WHERE e.vec_id >= 5
         |), d AS (
         |  SELECT q.query_id, en.vec_id AS neighbor_id,
         |         ${duckSqDistSub("q.qv", "cb0.cv", 0, 16)}
         |       + ${duckSqDistSub("q.qv", "cb1.cv", 16, 16)}
         |       + ${duckSqDistSub("q.qv", "cb2.cv", 32, 16)}
         |       + ${duckSqDistSub("q.qv", "cb3.cv", 48, 16)} AS dist
         |  FROM q CROSS JOIN en
         |  JOIN cb_0 cb0 ON cb0.cl = en.c0
         |  JOIN cb_1 cb1 ON cb1.cl = en.c1
         |  JOIN cb_2 cb2 ON cb2.cl = en.c2
         |  JOIN cb_3 cb3 ON cb3.cl = en.c3
         |), r AS (
         |  SELECT query_id, neighbor_id, dist,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY dist, neighbor_id) AS rn
         |  FROM d
         |)
         |SELECT query_id, neighbor_id, ROUND(dist, 6) AS adc_dist,
         |       CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_pq_rerank" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckPqCte(m = 4, k = 8, rounds = 2)}, q AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 5
         |), en AS (
         |  SELECT e.vec_id, af_0.cl AS c0, af_1.cl AS c1,
         |         af_2.cl AS c2, af_3.cl AS c3
         |  FROM e JOIN af_0 USING (vec_id) JOIN af_1 USING (vec_id)
         |         JOIN af_2 USING (vec_id) JOIN af_3 USING (vec_id)
         |  WHERE e.vec_id >= 5
         |), d AS (
         |  SELECT q.query_id, en.vec_id AS neighbor_id,
         |         ${duckSqDistSub("q.qv", "cb0.cv", 0, 16)}
         |       + ${duckSqDistSub("q.qv", "cb1.cv", 16, 16)}
         |       + ${duckSqDistSub("q.qv", "cb2.cv", 32, 16)}
         |       + ${duckSqDistSub("q.qv", "cb3.cv", 48, 16)} AS dist
         |  FROM q CROSS JOIN en
         |  JOIN cb_0 cb0 ON cb0.cl = en.c0
         |  JOIN cb_1 cb1 ON cb1.cl = en.c1
         |  JOIN cb_2 cb2 ON cb2.cl = en.c2
         |  JOIN cb_3 cb3 ON cb3.cl = en.c3
         |), sl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY dist, neighbor_id) AS rn
         |    FROM d
         |  ) WHERE rn <= 15
         |), rr AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |         ${duckCosine("q.qv", "e.embedding")} AS c
         |  FROM sl
         |  JOIN e ON e.vec_id = sl.neighbor_id
         |  JOIN q ON q.query_id = sl.query_id
         |), rk AS (
         |  SELECT query_id, neighbor_id, c,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY c DESC, neighbor_id) AS rn
         |  FROM rr
         |)
         |SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine,
         |       CAST(rn AS INT) AS rank
         |FROM rk WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_pq_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), ${duckPqCte(m = 4, k = 8, rounds = 2)}, qs AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM (
         |    SELECT vec_id, embedding,
         |           ROW_NUMBER() OVER (
         |             ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
         |                      vec_id) AS rn
         |    FROM e
         |  ) WHERE rn <= 8
         |), ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.query_id
         |             ORDER BY ${duckSqDist("e.embedding", "q.qv")}, e.vec_id) AS rn
         |    FROM qs q JOIN e ON e.vec_id <> q.query_id
         |  ) WHERE rn <= 10
         |), en AS (
         |  SELECT e.vec_id, af_0.cl AS c0, af_1.cl AS c1,
         |         af_2.cl AS c2, af_3.cl AS c3
         |  FROM e JOIN af_0 USING (vec_id) JOIN af_1 USING (vec_id)
         |         JOIN af_2 USING (vec_id) JOIN af_3 USING (vec_id)
         |), ad AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, en.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.query_id
         |             ORDER BY ${duckSqDistSub("q.qv", "cb0.cv", 0, 16)}
         |                    + ${duckSqDistSub("q.qv", "cb1.cv", 16, 16)}
         |                    + ${duckSqDistSub("q.qv", "cb2.cv", 32, 16)}
         |                    + ${duckSqDistSub("q.qv", "cb3.cv", 48, 16)},
         |                      en.vec_id) AS rn
         |    FROM qs q JOIN en ON en.vec_id <> q.query_id
         |    JOIN cb_0 cb0 ON cb0.cl = en.c0
         |    JOIN cb_1 cb1 ON cb1.cl = en.c1
         |    JOIN cb_2 cb2 ON cb2.cl = en.c2
         |    JOIN cb_3 cb3 ON cb3.cl = en.c3
         |  ) WHERE rn <= 10
         |), hit AS (
         |  SELECT ex.query_id FROM ex
         |  JOIN ad ON ad.query_id = ex.query_id
         |         AND ad.neighbor_id = ex.neighbor_id
         |)
         |SELECT (SELECT count(*) FROM e) AS n_docs,
         |       (SELECT count(*) FROM qs) AS n_queries,
         |       (SELECT count(*) FROM ex) AS n_true_pairs,
         |       (SELECT count(*) FROM hit) AS n_hit,
         |       ROUND(CAST((SELECT count(*) FROM hit) AS DOUBLE) /
         |             NULLIF((SELECT count(*) FROM ex), 0), 6)
         |         AS recall_at_k""".stripMargin,

    "q_ivfpq_index" ->
      s"""WITH ${duckIvfPqCommon()}
         |SELECT vec_id, cell,
         |       CAST(c0 AS INT) AS code_0, CAST(c1 AS INT) AS code_1,
         |       CAST(c2 AS INT) AS code_2, CAST(c3 AS INT) AS code_3
         |FROM en ORDER BY vec_id""".stripMargin,

    "q_ivfpq_topk" ->
      s"""WITH ${duckIvfPqCommon()}, probe AS (
         |  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
         |    SELECT vec_id, embedding, cell,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM ac WHERE vec_id < 3
         |  ) WHERE rn <= 2
         |), qr AS (
         |  SELECT p.query_id, p.cell,
         |         list_transform(range(1, 65), i ->
         |           CAST(CAST(p.qv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE) AS FLOAT))
         |           AS qres
         |  FROM probe p JOIN cent c USING (cell)
         |), d AS (
         |  SELECT qr.query_id, en.vec_id AS neighbor_id,
         |         ${duckSqDistSub("qr.qres", "cb0.cv", 0, 16)}
         |       + ${duckSqDistSub("qr.qres", "cb1.cv", 16, 16)}
         |       + ${duckSqDistSub("qr.qres", "cb2.cv", 32, 16)}
         |       + ${duckSqDistSub("qr.qres", "cb3.cv", 48, 16)} AS dist
         |  FROM qr JOIN en ON en.cell = qr.cell AND en.vec_id <> qr.query_id
         |  JOIN cb_0 cb0 ON cb0.cl = en.c0
         |  JOIN cb_1 cb1 ON cb1.cl = en.c1
         |  JOIN cb_2 cb2 ON cb2.cl = en.c2
         |  JOIN cb_3 cb3 ON cb3.cl = en.c3
         |), r AS (
         |  SELECT query_id, neighbor_id, dist,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY dist, neighbor_id) AS rn
         |  FROM d
         |)
         |SELECT query_id, neighbor_id, ROUND(dist, 6) AS adc_dist,
         |       CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
  )
}
