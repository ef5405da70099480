package graft.operators

import graft.functions.VectorFunctions._
import java.math.BigInteger
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over embedding columns (north-star extension;
  * SURVEY.md §7 `graft.scale`).
  *
  * Scale design:
  *   - Brute force: the query set is broadcast (it is small by construction)
  *     and the corpus streams once; top-k per query is a ranking window on
  *     (query_id) — `WindowGroupLimit` keeps per-partition heaps of size k,
  *     so no full sort of the |queries| x |corpus| score table.
  *   - ANN: sign-random-projection buckets computed per-row (no shuffle),
  *     join restricted to matching buckets — the classic recall/cost dial
  *     via number of hyperplanes. IVF coarse quantization is the same
  *     shape with bucket = nearest centroid id ([[ivfTopKWithCentroids]]).
  *
  * Every top-k tier ranks through one step, [[rankPerQuery]], and returns
  * `(query_id, neighbor_id, score, rank)`.
  */
object Similarity {

  /** The per-query top-k of every ANN tier: rows ranked by `score`, then
    * `neighbor_id`, within each `by` group, numbered 1..k in `rank` —
    * a `WindowGroupLimit` keeps per-partition heaps of size k, so the
    * candidate table is never fully sorted. */
  private def rankPerQuery(
      scored: DataFrame,
      k: Int,
      score: Column,
      by: String = "query_id"
  ): DataFrame =
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col(by)),
      orderBy = Seq(score, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )

  /** Each query's `nProbe` nearest cells by squared Euclidean distance to
    * the centroids (ties → lowest cell): `(query_id, __qv)` in,
    * `(query_id, __qv, cell)` out. Queries are few, so the window over
    * (query, cell) rows is trivially small. */
  private def probeNearestCells(
      queries: DataFrame,
      centroids: Seq[Seq[Float]],
      nProbe: Int
  ): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(nProbe >= 1, "nProbe must be >= 1")
    queries
      .withColumn(
        "__cd",
        array(centroids.map(c => squaredDistanceNative(col("__qv"), typedlit(c))): _*)
      )
      .select(
        col("query_id"),
        col("__qv"),
        posexplode(col("__cd")).as(Seq("cell", "__qd"))
      )
      .withColumn(
        "__rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("__qd"), col("cell"))
        )
      )
      .filter(col("__rank") <= nProbe)
      .select(col("query_id"), col("__qv"), col("cell"))
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH (fixed seed —
    * identical across runs/engines; components are short decimals so SQL
    * literals parse to the same doubles). */
  def randomHyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)((rnd.nextInt(2001) - 1000) / 1000.0))
  }

  /** Independent hyperplane banks for OR-amplified LSH ([[annTopKMultiBand]]):
    * bank i uses seed + i, so banks are uncorrelated but reproducible. */
  def randomHyperplaneBanks(
      numBanks: Int,
      planesPerBank: Int,
      dim: Int,
      seed: Long = 42L
  ): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(numBanks)(i => randomHyperplanes(planesPerBank, dim, seed + i))

  /** Exact cosine top-k neighbors for each query vector (brute force).
    *
    * @param queries  small DataFrame (query_id, query vector) — broadcast
    * @return (query_id, neighbor_id, cosine, rank) — rank 1..k, self
    *         excluded, ties broken by neighbor id
    */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv")
    )
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    rankPerQuery(scored, k, col("cosine").desc)
  }

  /** Int8 scalar quantization of an embedding column: per vector,
    * `q_i = floor(x_i * 127 / max|x| + 0.5)` in [-127, 127] (symmetric
    * max-abs scaling, the standard int8 scheme). `floor(x + 0.5)` rather
    * than `round()` — Spark rounds HALF_UP where other engines bank-round,
    * and floor is bit-identical everywhere. All-zero (or null-element)
    * vectors quantize to all zeros.
    *
    * The point at 100 TB: an int8 index is 4x smaller than float32 —
    * 4x more vectors per executor's memory/page cache — and cosine over
    * quantized vectors never needs the scale back (it cancels), so search
    * runs entirely on integers ([[cosineTopKQuantized]]).
    */
  def quantizeVector(v: Column): Column = {
    val maxAbs = array_max(transform(v, x => abs(x)))
    // zip_with against a repeated-scalar array, NOT transform with maxAbs
    // in the lambda body: a lambda re-evaluates outer expressions per
    // element, so the transform form recomputes the whole array_max per
    // component — O(dim^2) per row. zip_with's arguments (including the
    // array_repeat) are evaluated once per row.
    zip_with(
      v,
      array_repeat(maxAbs, size(v)),
      (x, m) =>
        when(m > 0, floor(x * lit(127.0) / m + lit(0.5)).cast("int"))
          .otherwise(lit(0))
    )
  }

  /** Exact brute-force top-k over int8-QUANTIZED vectors — the memory-
    * bounded form of [[cosineTopK]]: per-vector scales cancel in the
    * cosine, so the whole scan runs on 4x-smaller integer vectors with
    * the codegen'd [[graft.plans.QuantizedCosineExpr]] integer loop.
    * Quantization costs ~1e-2 cosine error at 64 dims; rank inversions
    * are confined to near-ties (recall vs the float top-k asserted in
    * ScaleSpec). Same broadcast shape and tie-break as [[cosineTopK]].
    */
  def cosineTopKQuantized(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    def qcos(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.QuantizedCosineExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(a),
          org.apache.spark.sql.GraftSqlBridge.expression(b)
        )
      )
    val q = queries.select(
      col(idCol).as("query_id"),
      quantizeVector(col(vecCol)).as("__qq")
    )
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), quantizeVector(col(vecCol)).as("__nq"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        qcos(col("__qq"), col("__nq")).as("cosine_q")
      )
    rankPerQuery(scored, k, col("cosine_q").desc)
  }

  /** IVF top-k with EXPLICIT centroids (cell i = `centroids(i)`): every
    * corpus vector is assigned to its nearest centroid by squared Euclidean
    * distance (ties → lowest cell — the k-means quantization metric), each
    * query probes its `nProbe` nearest cells by the same distance, and only
    * those cells are searched (ranking within cells is cosine). The
    * inverted-file analogue of [[annTopK]]'s hyperplane buckets.
    *
    * The quantizer is an argument: [[kmeansTrain]] trains one
    * deterministically, and a fixed CHOSEN codebook (e.g. an arithmetic
    * subsequence of corpus vectors) makes the whole operator
    * SQL-expressible and oracle-checkable.
    *
    * Scale shape: centroids are driver-side literals (an IVF codebook is
    * small by construction), so assignment is a pure per-row codegen'd
    * expression (one native squared-distance loop per centroid) — no
    * shuffle, no join against a centroid table; the probed query side is
    * broadcast and per-query top-k rides `WindowGroupLimit`.
    */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Seq[Float]],
      nProbe: Int
  ): DataFrame = {
    val probed = probeNearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      centroids,
      nProbe
    )
    // corpus side: ONE native codebook expression (argmin with ties to the
    // lowest cell) — the k-ary distance array would fall out of codegen
    // for large codebooks; the probe side needs all k distances for the
    // nProbe ranking and queries are few, so it keeps the array form
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .withColumn("cell", nearestCentroid(col("__nv"), centroids).getField("cluster"))
    val scored = assigned
      .join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    rankPerQuery(scored, k, col("cosine").desc)
  }

  /** Deterministic, engine-portable Lloyd k-means over an embedding
    * column — the clustering stage of cluster-then-curate pipelines
    * (SemDeDup-style cluster-local dedup, cluster-balanced subsampling,
    * topic bucketing). Deliberately NOT MLlib KMeans: seeding and every
    * arithmetic step are pinned so the model and assignment are
    * reproducible across runs, partitionings AND engines (a DuckDB
    * oracle re-derives the exact clustering):
    *
    *  - seeds = the `k` rows with the smallest md5-derived key of
    *    `idCol` (a deterministic pseudo-random draw; cluster id = seed
    *    rank, ties on the key break to the lowest id);
    *  - assignment = argmin over the codegen'd sequential
    *    squared-distance loop, ties to the lowest cluster id;
    *  - centroid update: each element is floor-quantized to 1e-6
    *    (`floor(x * 1e6)` as a long), summed EXACTLY (a long, carried
    *    into a BigInteger on overflow), and the mean `sum / 1e6 / n` is
    *    truncated to float — integer sums
    *    make the update order-independent, so the model cannot depend
    *    on partitioning; empty clusters keep their previous centroid.
    *
    * Output: the input rows (minus NULL vectors) plus `outCol` (0..k-1)
    * and `distCol` (squared distance to the final centroid, rounded to
    * 6 decimals — the SemDeDup "keep closest/farthest" ranking signal).
    *
    * Scale shape: training reads the input once — its skinny
    * (id, vector, seed key) projection is held MEMORY_AND_DISK for the
    * call, filled by the seed query. Per round, assignment is a pure
    * per-row codegen'd expression against driver-side literal centroids
    * (no join), and the update is one map-side pass that adds each row
    * into its cluster's exact sums; partials combine per cluster on
    * executors (one small shuffle of k sums per partition) and the
    * driver receives k sums — a model-sized action like the IVF codebook
    * bootstrap. The final assignment is per-row compute over the
    * original input. `rounds` is a small constant; nothing materializes
    * pairs or sorts globally.
    */
  def kmeansCluster(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 2,
      outCol: String = "cluster",
      distCol: String = "sq_dist"
  ): DataFrame =
    kmeansAssign(df, vecCol, kmeansTrain(df, idCol, vecCol, k, rounds), outCol, distCol)

  /** Assignment-only companion to [[kmeansCluster]]: label rows with
    * their nearest centroid from an ALREADY-TRAINED codebook (same
    * argmin/tie rules), without touching the model — how a clustering
    * trained on one corpus snapshot applies to the next ingest batch.
    * Pure per-row codegen'd compute: no shuffle, no join, no action. */
  def kmeansAssign(
      df: DataFrame,
      vecCol: String,
      centroids: Seq[Seq[Float]],
      outCol: String = "cluster",
      distCol: String = "sq_dist"
  ): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    // single native expression over the whole codebook: stays in codegen
    // at any k (the k-ary array form bails out past ~hundreds)
    df.filter(col(vecCol).isNotNull)
      .withColumn("__nc", nearestCentroid(col(vecCol), centroids))
      .withColumn(outCol, col("__nc.cluster"))
      .withColumn(distCol, round(col("__nc.sq_dist"), 6))
      .drop("__nc")
  }

  /** Train the [[kmeansCluster]] codebook and return it as driver-side
    * centroids (cluster i = element i) — feed to [[kmeansAssign]] to
    * label other data with the same model. Same determinism contract as
    * [[kmeansCluster]].
    *
    * Scale shape: the [[lloydTrain]] core, as in [[kmeansCluster]] — the
    * input is read once, then one map-side pass per round; the driver
    * receives k sums per round. Nothing stays persisted after the call. */
  def kmeansTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 2
  ): Seq[Seq[Float]] = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    lloydTrain(df, idCol, vecCol, k, rounds, "no non-null vectors to cluster") {
      seeds => (None, Seq(seeds))
    }.head
  }

  /** The deterministic Lloyd loop under [[kmeansTrain]] and [[pqTrain]].
    * `layout` turns the k seed vectors into the starting codebooks and
    * their subvector width: `None` = one codebook over the whole
    * (possibly ragged) vector; `Some(w)` = codebook s over elements
    * `[s*w, (s+1)*w)`, the `slice` PQ assigns on.
    *
    * The input is projected to (id, vector, md5 seed key) and persisted
    * for this call only (released in a `finally`): the seed query fills
    * the cache, every round reads it, so a lazy input runs once. Each
    * round assigns rows with the native [[nearestCentroid]] and takes
    * each row once in [[CentroidSums]], keyed by (codebook, cluster);
    * partials combine on executors per key and the driver averages
    * `sum / 1e6 / n` to float. Keys no row reached keep the old centroid.
    */
  private def lloydTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int,
      noRows: String
  )(
      layout: Seq[Seq[Float]] => (Option[Int], Seq[Seq[Seq[Float]]])
  ): Seq[Seq[Seq[Float]]] = {
    val held = df
      .filter(col(vecCol).isNotNull)
      .select(
        col(idCol).as("__id"),
        col(vecCol).as("__v"),
        graft.functions.TextFunctions.md5Prefix60(col(idCol).cast("string")).as("__h")
      )
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // model-sized driver actions: k seed vectors, then k sums per round
      val seeds: Seq[Seq[Float]] = held
        .orderBy(col("__h"), col("__id"))
        .limit(k)
        .select(col("__v"))
        .collect()
        .map(_.getSeq[Float](0).toSeq)
        .toSeq
      require(seeds.nonEmpty, noRows)
      val (width, init) = layout(seeds)
      def piece(s: Int): Column =
        width.fold(col("__v"))(w => slice(col("__v"), s * w + 1, w))
      var books = init
      for (_ <- 1 to rounds) {
        val clusters = books.indices.map(s =>
          nearestCentroid(piece(s), books(s)).getField("cluster"))
        val sums = CentroidSums.perKey(
          held.select(array(clusters: _*), col("__v")), k, books.size, width)
        books = books.zipWithIndex.map { case (book, s) =>
          book.zipWithIndex.map { case (old, c) =>
            sums.get(s * k + c).fold(old) { acc =>
              width.fold(acc.centroid(acc.length, s"cluster $c", "kmeans"))(w =>
                acc.centroid(w, s"subspace $s cluster $c", "PQ"))
            }
          }
        }
      }
      books
    } finally held.unpersist(blocking = false)
  }

  /** Approximate cosine top-k: candidates restricted to the query's
    * hyperplane-LSH bucket. Lower cost, recall controlled by plane count
    * (fewer planes => bigger buckets => higher recall & cost). */
  def annTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Seq[Seq[Double]]
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      hyperplaneBucket(col(vecCol), planes).as("__bucket")
    )
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("__nv"),
      hyperplaneBucket(col(vecCol), planes).as("__bucket")
    )
    val scored = c
      .join(broadcast(q), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    rankPerQuery(scored, k, col("cosine").desc)
  }

  /** OR-amplified hyperplane LSH top-k — the recall dial [[annTopK]] lacks:
    * each of `planeSets.size` independent hyperplane banks buckets every
    * vector, and a corpus vector is a candidate for a query if ANY bank puts
    * them in the same bucket (the same OR construction as MinHash bands —
    * a single flipped plane no longer loses the candidate). With B banks of
    * p planes and match probability m = 1 - theta/pi per plane, candidate
    * recall is 1 - (1 - m^p)^B: more banks => higher recall, linearly more
    * candidate rows.
    *
    * Scale shape: per-row bucket computation (no shuffle), explode to B
    * skinny (bank:bucket, id) rows, hash join against the broadcast query
    * side, then a (query_id, neighbor_id) agg to dedupe pairs found by
    * several banks BEFORE the top-k window — each pair is scored once per
    * discovering bank but ranked once.
    */
  def annTopKMultiBand(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planeSets: Seq[Seq[Seq[Double]]]
  ): DataFrame = {
    require(planeSets.nonEmpty, "need at least one hyperplane bank")
    def banded(df: DataFrame, id: String, vec: String): DataFrame = {
      val bands = planeSets.zipWithIndex.map { case (planes, i) =>
        (lit(i.toLong << 32) + hyperplaneBucket(col(vecCol), planes).cast("long"))
      }
      df.select(
        col(idCol).as(id),
        col(vecCol).as(vec),
        explode(array(bands: _*)).as("__bucket")
      )
    }
    val q = banded(queries, "query_id", "__qv")
    val c = banded(corpus, "neighbor_id", "__nv")
    val scored = c
      .join(broadcast(q), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
      // banks overlap: collapse duplicate pairs (identical cosine) before
      // ranking so no neighbor appears twice in a query's top-k
      .groupBy("query_id", "neighbor_id")
      .agg(min("cosine").as("cosine"))
    rankPerQuery(scored, k, col("cosine").desc)
  }

  /** k-NN graph over ONE corpus: for every vector, its top-k cosine
    * neighbors among the multi-band LSH candidates (vectors sharing at
    * least one bank bucket). The building block of SemDeDup-style semantic
    * clustering, graph-based diversity sampling, and label propagation —
    * the corpus-vs-corpus sibling of [[annTopKMultiBand]], where neither
    * side is broadcastable.
    *
    * Scale shape: the same skinny band join as
    * `Dedup.embeddingDedupPairsMultiBand` — only (bucket, id) rides the
    * quadratic self-join, bank-duplicate DIRECTED pairs collapse before
    * vectors are attached and scored once, and the per-source top-k is a
    * WindowGroupLimit (size-k heaps, no full sort of the candidate
    * table). Recall per neighbor follows the 1 - (1 - m^p)^B OR-bank
    * formula; size banks like the dedup path.
    *
    * @return (id, neighbor_id, cosine, rank) — rank 1..k per id, self
    *         excluded, ties broken by neighbor id
    */
  def knnGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planeSets: Seq[Seq[Seq[Double]]],
      k: Int
  ): DataFrame = {
    require(planeSets.nonEmpty, "need at least one hyperplane bank")
    require(k >= 1, "k must be >= 1")
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val bands = planeSets.zipWithIndex.map { case (planes, i) =>
      (lit(i.toLong << 32) + hyperplaneBucket(col("__v"), planes).cast("long"))
    }
    val banded = vecs.select(
      col("__id"),
      explode(array(bands: _*)).as("__bucket")
    )
    val a = banded.select(col("__bucket"), col("__id").as("id"))
    val b = banded.select(col("__bucket"), col("__id").as("neighbor_id"))
    val pairs = a
      .join(b, Seq("__bucket"))
      .filter(col("id") =!= col("neighbor_id"))
      .select("id", "neighbor_id")
      .distinct()
    val scored = pairs
      .join(vecs.select(col("__id").as("id"), col("__v").as("__va")), Seq("id"))
      .join(
        vecs.select(col("__id").as("neighbor_id"), col("__v").as("__vb")),
        Seq("neighbor_id")
      )
      .select(
        col("id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__va"), col("__vb")).as("cosine")
      )
    rankPerQuery(scored, k, col("cosine").desc, by = "id")
  }

  /** Contrastive training pairs: for every anchor document, `kPos`
    * positives (its nearest neighbors via [[knnGraph]]'s multi-band LSH)
    * and `mNeg` deterministic random negatives — the (anchor, positive,
    * negative) data an embedding/retrieval model trains on (in-batch
    * negatives' standalone form).
    *
    * Negatives are drawn from a GLOBAL candidate pool — the `poolSize`
    * corpus ids with the smallest md5 rank under `salt` — then per anchor
    * the `mNeg` smallest `md5(anchor | candidate)` survivors after
    * excluding self and that anchor's positives. Everything is a pure
    * function of ids and `salt`: the same pairs on every run, engine,
    * and partitioning, re-drawable per epoch by changing the salt.
    *
    * Scale shape: positives are [[knnGraph]]'s skinny band joins; the
    * pool is model-sized and BROADCAST (ids + vectors, ~poolSize x dim
    * floats); negative selection ranks skinny (anchor, candidate) pairs
    * with WindowGroupLimit pruning, and vectors are re-attached only to
    * the selected mNeg rows per anchor (one co-keyed join with the
    * corpus; the pool side rides the broadcast). Nothing quadratic,
    * nothing corpus-sized in memory.
    *
    * Output: (anchor_id, pair_id, label 'pos'|'neg', cosine, rank) with
    * rank 1..kPos / 1..mNeg within each label.
    */
  def contrastivePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      planeSets: Seq[Seq[Seq[Double]]],
      kPos: Int,
      mNeg: Int,
      poolSize: Int = 1024,
      salt: String = ""
  ): DataFrame = {
    require(kPos >= 1 && mNeg >= 1, "kPos and mNeg must be >= 1")
    require(poolSize > mNeg, "poolSize must exceed mNeg")
    import graft.functions.TextFunctions.md5Prefix60
    val pos = knnGraph(corpus, idCol, vecCol, planeSets, kPos)
      .select(
        col("id").as("anchor_id"),
        col("neighbor_id").as("pair_id"),
        lit("pos").as("label"),
        col("cosine"),
        col("rank")
      )
    // global negative pool: poolSize smallest md5-ranked ids (documented
    // single-partition global top-n over a model-sized result)
    val pool = TopN
      .firstRow(
        corpus.select(
          col(idCol).as("__pid"),
          col(vecCol).as("__pv"),
          md5Prefix60(concat(lit("pool:"), lit(salt), lit(":"), col(idCol).cast("string")))
            .as("__pr")
        ),
        n = poolSize,
        orderBy = Seq(col("__pr"), col("__pid"))
      )
      .drop("__pr")
    val negPairs = corpus
      .select(col(idCol).as("anchor_id"))
      .join(broadcast(pool.select("__pid")), col("anchor_id") =!= col("__pid"))
      .join(
        pos.select(col("anchor_id"), col("pair_id").as("__pid")),
        Seq("anchor_id", "__pid"),
        "left_anti"
      )
      .withColumn(
        "__nr",
        md5Prefix60(concat(
          lit("neg:"), lit(salt), lit(":"),
          col("anchor_id").cast("string"), lit("|"), col("__pid").cast("string")
        ))
      )
    val selected = TopN.firstRow(
      negPairs,
      n = mNeg,
      partitionBy = Seq(col("anchor_id")),
      orderBy = Seq(col("__nr"), col("__pid")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
    val neg = selected
      .join(
        corpus.select(col(idCol).as("anchor_id"), col(vecCol).as("__av")),
        Seq("anchor_id")
      )
      .join(broadcast(pool), Seq("__pid"))
      .select(
        col("anchor_id"),
        col("__pid").as("pair_id"),
        lit("neg").as("label"),
        cosineSimilarityNative(col("__av"), col("__pv")).as("cosine"),
        col("rank")
      )
    pos.unionByName(neg)
  }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `outDims` dimensions, in LONG format `(id, dim, value)` with
    * `value_j = sum_i emb[i] * sign(i, j)` and ±1 signs from md5 parity of
    * `"i:j"` — deterministic and engine-portable (no RNG state), the
    * standard cheap sketch before LSH/ANN when raw dimensionality makes
    * hashing or distance evaluation the bottleneck. Components are
    * floor-quantized to 1e-7 and summed as integers, so the result is
    * bit-identical regardless of partitioning/summation order (and across
    * engines — IEEE double multiply + floor has no rounding-mode
    * ambiguity, unlike decimal casts). The quantization error is orders of
    * magnitude below JL distortion.
    *
    * Scale shape: posexplode the vector, broadcast-join the (inDims x
    * outDims) sign matrix — built once, a few KB — and hash-aggregate on
    * (id, dim). Partial aggregation collapses the inDims x outDims row
    * expansion map-side, so the single shuffle carries only outDims rows
    * per vector.
    */
  def randomProjection(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int
  ): DataFrame = {
    require(inDims >= 1 && outDims >= 1, "dimensions must be >= 1")
    val spark = df.sparkSession
    val signs = spark
      .range(inDims)
      .select(col("id").cast("int").as("__i"))
      .crossJoin(spark.range(outDims).select(col("id").cast("int").as("dim")))
      .select(
        col("__i"),
        col("dim"),
        (lit(1) - lit(2) * (conv(
          substring(md5(concat_ws(":", col("__i"), col("dim"))), 1, 1),
          16,
          10
        ).cast("int") % 2)).as("__sign")
      )
    df.select(
        col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__i", "__v"))
      )
      .join(broadcast(signs), Seq("__i"))
      .groupBy("id", "dim")
      .agg(
        (sum(floor(col("__v").cast("double") * lit(1e7)).cast("long") * col("__sign"))
          .cast("double") / lit(1e7)).as("value")
      )
  }

  /** Greedy k-center (farthest-point-first) diversity sample over an
    * embedding column — the selection complement of near-dup REMOVAL:
    * dedup drops what is too close, k-center picks the k points that
    * SPREAD the widest (coverage radius within 2x of optimal, the classic
    * Gonzalez bound). Deterministic: the seed is the minimum id, each
    * round picks the point with the largest squared distance to its
    * nearest chosen center (ties -> smallest id). Returns (idCol,
    * center_rank) for the k chosen points, rank 0 = seed.
    *
    * Scale shape: k passes, each a narrow per-row update
    * `minDist = least(minDist, dist(v, newest center))` — one codegen'd
    * native distance per row per round against the BROADCAST newest
    * center (never the full chosen set), then a one-row max_by argmax.
    * `localCheckpoint` truncates the k-step lineage like the CC/PageRank
    * loops. k driver actions by construction (one argmax per round) —
    * the same bounded-iteration contract, documented EAGER.
    */
  def kCenterSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .localCheckpoint()
    val seedRow = base.orderBy("__id").select("__id", "__v").head()
    var chosen = List((seedRow.getLong(0), seedRow.getSeq[Float](1)))
    var work = base
      .withColumn(
        "__mind",
        squaredDistanceNative(col("__v"), typedLit(chosen.head._2.toArray))
      )
      .localCheckpoint()
    var exhausted = false
    while (!exhausted && chosen.size < k) {
      val far = work
        .agg(
          max_by(
            struct(col("__id"), col("__v")),
            // largest distance first; exact-tie -> smallest id
            struct(col("__mind"), (-col("__id")).as("__nid"))
          ).as("__far")
        )
        .select(col("__far.__id"), col("__far.__v"))
        .head()
      val center = (far.getLong(0), far.getSeq[Float](1))
      // the argmax revisiting a chosen point means every remaining point
      // is at distance 0 (k exceeds the distinct vectors): stop short
      if (chosen.exists(_._1 == center._1)) exhausted = true
      else {
        chosen = chosen :+ center
        if (chosen.size < k)
          work = work
            .withColumn(
              "__mind",
              least(
                col("__mind"),
                squaredDistanceNative(col("__v"), typedLit(center._2.toArray))
              )
            )
            .localCheckpoint()
      }
    }
    chosen.zipWithIndex
      .map { case ((id, _), rank) => (id, rank) }
      .toDF(idCol, "center_rank")
  }

  /** Scalable large-k diversity sample — the k-means||-style
    * oversample-then-prune complement of [[kCenterSample]]: where the exact
    * greedy runs k sequential Spark passes (fine for sampling-k, hopeless
    * for k in the thousands), this runs a CONSTANT number of distributed
    * rounds, then finishes the greedy on a driver-local candidate set.
    *
    * Per round, every point is selected independently with probability
    * proportional to its squared distance to the nearest candidate so far
    * (expected `oversample * k / rounds` picks per round) — far points are
    * overwhelmingly likely to surface, exactly the farthest-point-first
    * intuition, and the k-means|| initialization argument (Bahmani et al.,
    * VLDB 2012) for why O(k) distance-proportional candidates cover every
    * region an exact greedy would reach. Selection is DETERMINISTIC: the
    * coin is the md5 bucket of (id, salt, round) — reproducible across
    * runs, engines, and partitionings. The final greedy over candidates is
    * Gonzalez farthest-point-first seeded at the minimum id with
    * smallest-id tie-breaks, so the output is stable.
    *
    * Scale shape: `2 * rounds + 3` driver actions TOTAL, independent of k.
    * Each round updates min-distances against ONLY the new candidate batch
    * as one compact 2-D array literal folded per-row (`aggregate` over the
    * batch, native squared distance inside — the IVF codebook pattern: no
    * shuffle, no join), with a lazy `localCheckpoint` so the round's sum
    * aggregate is the action that materializes it. The candidate set is
    * O(oversample * k) vectors and must fit on the driver — the same
    * contract as any broadcast codebook; the finishing greedy is
    * O(k * |candidates| * dim) driver flops (k = 10^4 is seconds).
    * Unlike exact Gonzalez there is no formal 2-approx guarantee; the
    * planted-cluster coverage bound is asserted in ScaleSpec.
    *
    * @param oversample candidate multiplier (>= 1); larger = closer to the
    *                   exact greedy's radius at more driver memory
    * @param rounds     distributed passes; distances are refreshed against
    *                   new candidates between rounds, so more rounds =
    *                   better-adapted sampling (k-means|| uses ~5)
    */
  def kCenterSampleScalable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      oversample: Double = 4.0,
      rounds: Int = 4,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(oversample >= 1.0, "oversample must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .localCheckpoint()
    val seedRow = base.orderBy("__id").select("__id", "__v").head()
    val candidates =
      scala.collection.mutable.ArrayBuffer((seedRow.getLong(0), seedRow.getSeq[Float](1)))
    val candidateIds = scala.collection.mutable.Set(candidates.head._1)

    // min distance to the whole batch in ONE codegen'd codebook loop —
    // the HOF fold (aggregate over a typedlit array) evaluates an
    // interpreted lambda per batch member per row; min VALUE is identical
    def minDistToBatch(batch: Seq[Seq[Float]]): Column =
      nearestCentroid(col("__v"), batch).getField("sq_dist")

    var work = base
      .withColumn(
        "__mind",
        squaredDistanceNative(col("__v"), typedLit(candidates.head._2.toArray))
      )
      .localCheckpoint(false)
    var sumD = work.agg(sum("__mind")).head().getDouble(0) // materializes
    val perRound = math.ceil(oversample * k / rounds)
    var r = 1
    while (r <= rounds && sumD > 0) {
      // deterministic coin: u < perRound * d / sumD  <=>  u * sumD < perRound * d
      val u = (Splits.hashBucket(col("__id"), s"kc|$salt|$r").cast("double") + lit(0.5)) /
        lit(Splits.Buckets.toDouble)
      val batch = work
        .filter(col("__mind") > 0 && u * lit(sumD) < lit(perRound) * col("__mind"))
        .select("__id", "__v")
        .collect()
        .iterator
        .map(row => (row.getLong(0), row.getSeq[Float](1)))
        .filterNot { case (id, _) => candidateIds(id) }
        .toSeq
      if (batch.nonEmpty) {
        candidates ++= batch
        candidateIds ++= batch.map(_._1)
        work = work
          .withColumn(
            "__mind",
            least(col("__mind"), minDistToBatch(batch.map(_._2)))
          )
          .localCheckpoint(false)
      }
      sumD = work.agg(sum("__mind")).head().getDouble(0) // one job per round
      r += 1
    }
    // under-delivery guard (tiny corpora / degenerate distributions): top
    // up with the current farthest points — TakeOrdered, no global sort
    if (candidates.size < k) {
      val extra = work
        .filter(col("__mind") > 0)
        .orderBy(col("__mind").desc, col("__id"))
        .limit(k - candidates.size)
        .select("__id", "__v")
        .collect()
        .iterator
        .map(row => (row.getLong(0), row.getSeq[Float](1)))
        .filterNot { case (id, _) => candidateIds(id) }
      candidates ++= extra
    }

    // driver-local Gonzalez over the candidate set (seeded at the min id,
    // which is candidates(0) by construction; ties -> smallest id)
    def sqDist(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val cand = candidates.sortBy(_._1).toIndexedSeq
    val minD = Array.fill(cand.size)(Double.MaxValue)
    var chosen = List(0) // index of the min id in the sorted candidate seq
    while (chosen.size < k) {
      val newest = cand(chosen.head)._2
      var best = -1
      var bestD = 0.0
      var i = 0
      while (i < cand.size) {
        val d = math.min(minD(i), sqDist(cand(i)._2, newest))
        minD(i) = d
        if (d > bestD) { bestD = d; best = i }
        i += 1
      }
      // farthest remaining distance 0 => every candidate already covered
      // (k exceeds the distinct vectors): stop short, like kCenterSample
      if (bestD == 0.0) return finishKCenter(cand, chosen.reverse, idCol)
      chosen = best :: chosen
    }
    finishKCenter(cand, chosen.reverse, idCol)
  }

  private def finishKCenter(
      cand: IndexedSeq[(Long, Seq[Float])],
      chosenInOrder: List[Int],
      idCol: String
  ): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    chosenInOrder.zipWithIndex
      .map { case (idx, rank) => (cand(idx)._1, rank) }
      .toDF(idCol, "center_rank")
  }

  /** Maximal-Marginal-Relevance diversified top-k: greedily select k rows
    * maximizing `lambda * score - (1 - lambda) * maxCosineToChosen` — the
    * classic re-ranker that trades pure relevance against redundancy
    * (lambda = 1 is plain top-k by score, lambda -> 0 approaches pure
    * diversity). Deterministic: ties break to the smallest id; the seed is
    * the best-scored row (its penalty term is 0). Returns (idCol, rank,
    * mmr) with `mmr` the objective value at selection time.
    *
    * Scale shape: identical to [[kCenterSample]] — k narrow passes, each
    * one codegen'd native cosine against the BROADCAST newest pick
    * (`maxSim = greatest(maxSim, cos(v, newest))`, never the whole chosen
    * set), a one-row max_by argmax per round, `localCheckpoint` lineage
    * truncation. k driver actions by construction — documented EAGER. */
  def diversifiedTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scoreCol: String,
      k: Int,
      lambda: Double = 0.7
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(
        col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"),
        col(scoreCol).cast("double").as("__s")
      )
      .localCheckpoint()
    def mmr = lit(lambda) * col("__s") - lit(1.0 - lambda) * col("__maxsim")
    var work = base.withColumn("__maxsim", lit(0.0))
    var chosen = List.empty[(Long, Seq[Float], Double)]
    var exhausted = false
    while (!exhausted && chosen.size < k) {
      val remaining =
        if (chosen.isEmpty) work
        else work.filter(!col("__id").isin(chosen.map(_._1): _*))
      val top = remaining
        .agg(
          max_by(
            struct(col("__id"), col("__v"), mmr.as("__mmr")),
            struct(mmr.as("__m"), (-col("__id")).as("__nid"))
          ).as("__t")
        )
        .select(col("__t.__id"), col("__t.__v"), col("__t.__mmr"))
        .collect()
      if (top.isEmpty || top(0).isNullAt(0)) exhausted = true
      else {
        val pick = (top(0).getLong(0), top(0).getSeq[Float](1), top(0).getDouble(2))
        chosen = chosen :+ pick
        if (chosen.size < k) {
          val cos =
            cosineSimilarityNative(col("__v"), typedLit(pick._2.toArray))
          // after the FIRST pick the running max IS the raw cosine (which
          // may be negative — the seed-round 0.0 placeholder must not
          // floor it); later picks fold in via greatest
          val updated =
            if (chosen.size == 1) cos else greatest(col("__maxsim"), cos)
          work = work.withColumn("__maxsim", updated).localCheckpoint()
        }
      }
    }
    chosen.zipWithIndex
      .map { case ((id, _, m), rank) =>
        // HALF_UP like SQL ROUND — argmax decisions used the full doubles
        val rounded = BigDecimal(m)
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        (id, rank, rounded)
      }
      .toDF(idCol, "rank", "mmr")
  }

  // ===========================================================================
  // Product quantization (PQ): the compressed-codes ANN tier between int8
  // scalar quantization (4x) and IVF partition pruning — split each vector
  // into `numSubspaces` contiguous subvectors, k-means each subspace
  // independently, and store ONLY the per-subspace nearest-centroid ids.
  // At 64 dims float32 -> 4 int codes that's 64x smaller than the raw
  // vectors: the whole 100 TB corpus's codes fit where 1.6 TB of floats
  // would, and search never touches the original vectors (asymmetric
  // distance: per query, precompute the numSubspaces x k table of
  // query-slice <-> centroid distances ONCE, then every candidate costs
  // numSubspaces array lookups instead of a dim-length loop).
  // ===========================================================================

  /** Train PQ codebooks: one [[kmeansTrain]]-style deterministic Lloyd
    * model PER SUBSPACE (md5-ranked seeds — the same k seed rows feed
    * every subspace — floor-quantized integer centroid sums so the mean
    * is order-independent, empty clusters carrying the previous
    * centroid). Returns `codebooks(s)(c)` = centroid `c` of subspace `s`;
    * vector width must divide evenly into `numSubspaces`.
    *
    * Scale shape: the [[lloydTrain]] core shared with [[kmeansTrain]] —
    * the input is read once, and all subspaces train together in one
    * map-side pass per round, keyed by (subspace, cluster); the driver
    * receives numSubspaces * k sums per round. */
  def pqTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numSubspaces: Int,
      k: Int,
      rounds: Int = 2
  ): Seq[Seq[Seq[Float]]] = {
    require(numSubspaces >= 1, "numSubspaces must be >= 1")
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    lloydTrain(df, idCol, vecCol, k, rounds, "no non-null vectors to train on") {
      seeds =>
        val dim = seeds.head.length
        require(
          dim % numSubspaces == 0,
          s"vector width $dim is not divisible into $numSubspaces subspaces"
        )
        val sub = dim / numSubspaces
        (Some(sub), (0 until numSubspaces).map(s =>
          seeds.map(_.slice(s * sub, (s + 1) * sub))))
    }
  }

  /** Encode vectors to PQ codes: `outCol` = array<int> of length
    * numSubspaces, element s = the nearest subspace-s centroid id (same
    * argmin/tie rules as [[kmeansAssign]]). Pure per-row compute — one
    * codegen'd [[nearestCentroid]] loop per subspace over the slice, no
    * shuffle, no action; the column a 100 TB corpus persists instead of
    * its float vectors. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      outCol: String = "pq_codes"
  ): DataFrame = {
    require(codebooks.nonEmpty, "need at least one subspace codebook")
    require(
      !df.columns.contains(outCol),
      s"input already has a column '$outCol' — pqEncode would silently " +
        "overwrite it; rename or drop it first (or pass a different outCol)"
    )
    val sub = codebooks.head.head.length
    df.filter(col(vecCol).isNotNull)
      .withColumn(
        outCol,
        array(codebooks.indices.map { s =>
          nearestCentroid(slice(col(vecCol), s * sub + 1, sub), codebooks(s))
            .getField("cluster")
        }: _*)
      )
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-ENCODED corpus: for each
    * query, precompute the numSubspaces x k lookup table of exact
    * query-slice <-> centroid squared distances (per QUERY, not per
    * candidate), broadcast the tiny lut table, and score every candidate
    * as `lut_0[code_0] + lut_1[code_1] + ...` — numSubspaces array
    * lookups per pair, never a dim-length loop, never the original
    * vectors. Approximation error is the quantization residual; recall
    * vs the exact scan is asserted in the suite.
    *
    * `db` needs (`dbIdCol`, `codesCol` from [[pqEncode]]); ranking is
    * (adc_dist asc, neighbor_id) per query via `WindowGroupLimit` —
    * the same no-global-sort shape as [[cosineTopK]]. Self-pairs (equal
    * ids) are excluded. */
  def pqTopK(
      db: DataFrame,
      dbIdCol: String,
      codesCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int
  ): DataFrame = {
    require(codebooks.nonEmpty, "need at least one subspace codebook")
    require(k >= 1, "k must be >= 1")
    // NULL query vectors are dropped here, not downstream: a NULL lut
    // would rank NULLS FIRST under the ascending distance sort and hand
    // the query k garbage neighbors instead of no rows
    val luts = queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
      .select(col("query_id") +: adcLuts(col("__qv"), codebooks): _*)
    val scored = db
      .select(col(dbIdCol).as("neighbor_id"), col(codesCol))
      .join(broadcast(luts), col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        adcDistance(col(codesCol), codebooks.size).as("adc_dist")
      )
    rankPerQuery(scored, k, col("adc_dist"))
  }

  /** The ADC lookup tables of query vector `q`, columns `__lut_0` ..
    * `__lut_{m-1}`: element c of `__lut_s` = ||q_s - centroid_c||^2
    * (sequential-fold double, the oracle-portable arithmetic). Queries are
    * small by construction, so the per-element lambda re-evaluation of the
    * slice is irrelevant; the candidate side never runs this. */
  private def adcLuts(q: Column, codebooks: Seq[Seq[Seq[Float]]]): Seq[Column] = {
    val sub = codebooks.head.head.length
    codebooks.indices.map { s =>
      transform(
        array(codebooks(s).map(c => typedlit(c.toArray)): _*),
        cv => squaredDistance(slice(q, s * sub + 1, sub), cv)
      ).as(s"__lut_$s")
    }
  }

  /** A candidate's ADC distance: `__lut_0[codes[0]] + __lut_1[codes[1]] + …`,
    * added in fixed s-ascending order (engine-portable). */
  private def adcDistance(codes: Column, m: Int): Column =
    (0 until m)
      .map(s => element_at(col(s"__lut_$s"), codes.getItem(s) + 1))
      .reduceLeft(_ + _)

  /** Two-stage PQ retrieval — ADC shortlist, then EXACT re-rank: take the
    * [[pqTopK]] top-(k*expand) candidates per query, re-attach float
    * vectors for the SHORTLIST only, exact-cosine re-rank to the final
    * top-k. The standard production shape (FAISS's refine step): the
    * compressed index does the heavy candidate generation over the whole
    * corpus, and the one bounded join (|queries| * k * expand rows
    * broadcast against the vector table — never a corpus-sized shuffle)
    * buys back the quantization error, lifting recall@k from the ADC
    * ~0.8 band toward ~1 for a fixed code budget (asserted vs
    * [[pqRecallAudit]] in the suite).
    *
    * `db` is the codes-only index (`dbIdCol`, `codesCol`); `vectors`
    * maps `vecIdCol` -> `vecCol` floats (usually the original corpus
    * table — only shortlisted rows are ever fetched from it). Output is
    * (query_id, neighbor_id, cosine, rank), ranking (cosine desc, id)
    * per query via `WindowGroupLimit`. Self-pairs are excluded by the
    * ADC stage; shortlisted ids missing from `vectors` are dropped
    * (inner join) — feed the same corpus the codes came from. */
  def pqTopKRefined(
      db: DataFrame,
      dbIdCol: String,
      codesCol: String,
      vectors: DataFrame,
      vecIdCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int,
      expand: Int = 4
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(expand >= 1, "expand must be >= 1")
    val shortlist = pqTopK(
      db, dbIdCol, codesCol, queries, qIdCol, qVecCol, codebooks,
      k * expand
    ).select(col("query_id"), col("neighbor_id"))
    val q = queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    // broadcast the model-sized shortlist INTO the vector scan: the
    // corpus table is read once, filtered to shortlist members by a
    // broadcast hash join — no corpus shuffle, no second index
    val rescored = vectors
      .select(col(vecIdCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    rankPerQuery(rescored, k, col("cosine").desc)
  }

  /** PQ tuning report — the ANN counterpart of
    * [[Dedup.minHashRecallReport]]: on a deterministic md5-chosen sample
    * of `numQueries` vectors, compare the EXACT squared-distance top-k
    * against [[pqTopK]] over the PQ-encoded corpus and report one row:
    * (n_docs, n_queries, n_true_pairs, n_hit, recall_at_k). Run it
    * BEFORE shipping a compressed index to pick (numSubspaces, k) —
    * recall is what the code budget buys.
    *
    * Scale shape: the exact-truth scan is the expensive part, and it is
    * bounded by construction — `numQueries` broadcast query vectors
    * against one corpus pass (O(numQueries * n), never n^2); the ADC side
    * costs the serve path. All counts are one-row aggregates crossJoined
    * back; the md5 query draw is engine-portable, so the whole report is
    * oracle-checkable. */
  def pqRecallAudit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int,
      numQueries: Int,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(numQueries >= 1, "numQueries must be >= 1")
    val base = df.filter(col(vecCol).isNotNull)
    val qs = base
      .withColumn(
        "__h",
        graft.functions.TextFunctions
          .md5Prefix60(concat(col(idCol).cast("string"), lit(salt)))
      )
      .orderBy(col("__h"), col(idCol))
      .limit(numQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val exact = TopN.firstRow(
      base
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
        .join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          squaredDistanceNative(col("__qv"), col("__nv")).as("__d")
        ),
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("__d"), col("neighbor_id"))
    ).select("query_id", "neighbor_id")
    val adc = pqTopK(
      pqEncode(base, vecCol, codebooks), idCol, "pq_codes",
      qs, "query_id", "__qv", codebooks, k
    ).select("query_id", "neighbor_id")
    val hit = exact.join(adc, Seq("query_id", "neighbor_id"), "left_semi")
    val nd = base.agg(count(lit(1)).as("n_docs"))
    val nq = qs.agg(count(lit(1)).as("n_queries"))
    val nt = exact.agg(count(lit(1)).as("n_true_pairs"))
    val nh = hit.agg(count(lit(1)).as("n_hit"))
    nd.crossJoin(nq)
      .crossJoin(nt)
      .crossJoin(nh)
      .select(
        col("n_docs"),
        col("n_queries"),
        col("n_true_pairs"),
        col("n_hit"),
        round(
          col("n_hit").cast("double") /
            when(col("n_true_pairs") > 0, col("n_true_pairs")),
          6
        ).as("recall_at_k")
      )
  }

  // ===========================================================================
  // IVF-PQ: the two tiers composed the way a billion-scale index actually
  // ships — a coarse quantizer routes each vector to a cell (search probes
  // only nProbe cells), and PQ encodes the RESIDUAL vector - cellCentroid
  // (residuals are tighter than raw vectors, so the same code budget
  // quantizes finer). The index row is (id, cell, codes): bytes per vector,
  // no floats anywhere at serve time.
  // ===========================================================================

  /** Residual of each vector against its nearest coarse centroid:
    * `(id, cell, resCol)` where the residual is computed element-wise in
    * double and truncated back to float (the storage/search width — and the
    * form an oracle reproduces exactly). Pure per-row codegen'd compute. */
  def ivfResiduals(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Seq[Float]],
      resCol: String = "residual"
  ): DataFrame = {
    require(coarse.nonEmpty, "need at least one coarse centroid")
    // the output claims 'cell' (and resCol) by contract; a pre-existing
    // column of either name would survive the withColumnRenamed as a
    // DUPLICATE column and poison every downstream select with an
    // ambiguity error — reject it here, where the cause is nameable
    Seq("cell", "__cell", resCol).foreach { c =>
      require(
        !df.columns.contains(c),
        s"input already has a column '$c', which ivfResiduals produces — " +
          "rename or drop it first"
      )
    }
    val cell = nearestCentroid(col(vecCol), coarse).getField("cluster")
    val centroid =
      element_at(array(coarse.map(c => typedlit(c.toArray)): _*), col("__cell") + 1)
    df.filter(col(vecCol).isNotNull)
      .withColumn("__cell", cell)
      .withColumn(
        resCol,
        zip_with(
          col(vecCol),
          centroid,
          (x, c) => (x.cast("double") - c.cast("double")).cast("float")
        )
      )
      .withColumnRenamed("__cell", "cell")
  }

  /** Train the residual PQ codebooks for an IVF-PQ index: [[pqTrain]] on
    * the [[ivfResiduals]] of the corpus. Same determinism contract —
    * the model replays bit-for-bit from (ids, vectors, coarse). */
  def ivfPqTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Seq[Float]],
      numSubspaces: Int,
      k: Int,
      rounds: Int = 2
  ): Seq[Seq[Seq[Float]]] =
    pqTrain(
      ivfResiduals(df, idCol, vecCol, coarse).select(col(idCol), col("residual")),
      idCol, "residual", numSubspaces, k, rounds
    )

  /** Build the IVF-PQ index rows `(idCol, cell, pq_codes)`: cell routing
    * plus PQ codes of the residual. Per-row codegen'd compute only — at
    * corpus scale this is the one full scan, and its output is the only
    * thing search ever reads. */
  def ivfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]]
  ): DataFrame =
    pqEncode(
      ivfResiduals(df, idCol, vecCol, coarse),
      "residual", codebooks
    ).select(col(idCol), col("cell"), col("pq_codes"))

  /** IVF-PQ search: each query probes its `nProbe` nearest cells; within
    * each probed cell the query's RESIDUAL against that cell's centroid
    * feeds a per-(query, cell) ADC lookup table, and candidates cost
    * numSubspaces array lookups — the index's floats are never read
    * (there are none). The probed (query, cell, luts) table is broadcast;
    * per-query ranking is (adc_dist asc, id) via `WindowGroupLimit`.
    * Self-pairs are excluded. */
  def ivfPqTopK(
      index: DataFrame,
      idCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      coarse: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int,
      nProbe: Int
  ): DataFrame = {
    require(codebooks.nonEmpty, "need at least one subspace codebook")
    val cellArr = array(coarse.map(c => typedlit(c.toArray)): _*)
    // NULL query vectors dropped (same NULLS-FIRST hazard as pqTopK: the
    // probe window would hand them cells 0..nProbe-1 and garbage ranks)
    val probed = probeNearestCells(
      queries
        .filter(col(qVecCol).isNotNull)
        .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv")),
      coarse,
      nProbe
    )
      // the query's residual against the PROBED cell (not its own nearest):
      // ADC distance approximates ||q - x|| = ||qres_cell - res_x|| inside
      // that cell, so the lut must be built from the cell-local residual
      .withColumn(
        "__qres",
        zip_with(
          col("__qv"),
          element_at(cellArr, col("cell") + 1),
          (x, c) => (x.cast("double") - c.cast("double")).cast("float")
        )
      )
      .select(col("query_id") +: col("cell") +: adcLuts(col("__qres"), codebooks): _*)
    val scored = index
      .select(col(idCol).as("neighbor_id"), col("cell"), col("pq_codes"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        adcDistance(col("pq_codes"), codebooks.size).as("adc_dist")
      )
    rankPerQuery(scored, k, col("adc_dist"))
  }
}

/** The exact centroid-sum state of one (codebook, cluster) key in
  * [[Similarity]]'s Lloyd core: per vector position, the rows that reach
  * it, its non-null elements and the exact sum of `floor(e * 1e6)` — a
  * `long`, with what overflowed it banked in a `BigInteger`. Integer
  * sums make the mean independent of row order and partitioning. */
private[graft] final class CentroidSums extends Serializable {
  private var rows = new Array[Long](0)
  private var present = new Array[Long](0)
  private var sums = new Array[Long](0)
  private var carry = new Array[BigInteger](0)

  def length: Int = rows.length

  private def grow(n: Int): Unit = if (n > length) {
    rows = java.util.Arrays.copyOf(rows, n)
    present = java.util.Arrays.copyOf(present, n)
    sums = java.util.Arrays.copyOf(sums, n)
    carry = java.util.Arrays.copyOf(carry, n)
  }

  private def addCarry(p: Int, b: BigInteger): Unit =
    carry(p) = if (carry(p) == null) b else carry(p).add(b)

  private def addSum(p: Int, t: Long): Unit = {
    val s = sums(p)
    val r = s + t
    // signed overflow: bank the old sum exactly, restart the long at t
    if (((s ^ r) & (t ^ r)) < 0) { addCarry(p, BigInteger.valueOf(s)); sums(p) = t }
    else sums(p) = r
  }

  /** Add elements `[from, until)` of `v` at positions `0 until until - from`. */
  def add(v: ArrayData, from: Int, until: Int): Unit = {
    grow(until - from)
    var p = 0
    while (p < until - from) {
      rows(p) += 1
      if (!v.isNullAt(from + p)) {
        present(p) += 1
        addSum(p, CentroidSums.micros(v.getFloat(from + p)))
      }
      p += 1
    }
  }

  def merge(o: CentroidSums): CentroidSums = {
    grow(o.length)
    for (p <- 0 until o.length) {
      rows(p) += o.rows(p)
      present(p) += o.present(p)
      addSum(p, o.sums(p))
      if (o.carry(p) != null) addCarry(p, o.carry(p))
    }
    this
  }

  /** The mean `sum / 1e6 / rows` truncated to float, `width` wide
    * (positions no row reached stay 0). A null element fails loudly: it
    * is data corruption, not a value to average over. */
  def centroid(width: Int, where: String, model: String): Seq[Float] = {
    val v = new Array[Float](width)
    for (p <- 0 until length) {
      require(
        rows(p) == present(p),
        s"null embedding element in $where dim $p " +
          s"(${rows(p) - present(p)} of ${rows(p)} rows): $model requires " +
          "fully-populated vectors (null VECTORS are filtered; null " +
          "ELEMENTS are data corruption)"
      )
      val total =
        if (carry(p) == null) sums(p).toDouble
        else carry(p).add(BigInteger.valueOf(sums(p))).doubleValue()
      v(p) = (total / 1000000.0 / rows(p).toDouble).toFloat
    }
    v.toSeq
  }
}

private[graft] object CentroidSums {

  /** `floor(cast(e as double) * 1e6)` exactly as Spark's `floor` computes
    * it: NaN is 0, out-of-range values saturate at the long bounds. */
  def micros(e: Float): Long = math.floor(e.toDouble * 1000000.0).toLong

  /** One pass over `assigned` = (array<int> cluster per codebook,
    * array<float> vector): each row adds its piece of the vector for
    * codebook s (all of it when `width` is None, else elements
    * `[s*w, (s+1)*w)`) to key `s * k + cluster`. Partials combine per
    * key on executors; the driver receives one [[CentroidSums]] per key
    * that some non-empty piece reached. */
  def perKey(
      assigned: DataFrame,
      k: Int,
      books: Int,
      width: Option[Int]
  ): Map[Int, CentroidSums] = {
    // no width means one codebook (s = 0) over the whole vector
    val w = width.fold(Long.MaxValue)(_.toLong)
    val partials = assigned.queryExecution.toRdd.mapPartitions { it =>
      val acc = new Array[CentroidSums](books * k)
      it.foreach { r =>
        val cls = r.getArray(0)
        val v = r.getArray(1)
        val len = v.numElements()
        for (s <- 0 until books) {
          val from = s * w
          if (from < len) {
            val key = s * k + cls.getInt(s)
            if (acc(key) == null) acc(key) = new CentroidSums
            acc(key).add(v, from.toInt, math.min(from + w, len.toLong).toInt)
          }
        }
      }
      acc.indices.iterator.filter(acc(_) != null).map(key => key -> acc(key))
    }
    partials
      .reduceByKey(_ merge _, math.min(books * k, partials.getNumPartitions))
      .collect()
      .toMap
  }
}
