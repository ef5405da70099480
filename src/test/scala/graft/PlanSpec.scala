package graft

/** Physical-plan shape guards: the optimizations we rely on at scale must
  * actually fire (predicate pushdown into parquet, broadcast joins,
  * WindowGroupLimit top-k). Complements the value-level oracle checks. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q1_pricing pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters"), p)
    assert(
      p.contains("LessThanOrEqual(l_shipdate"),
      s"expected l_shipdate pushdown:\n$p"
    )
  }

  test("q1_pricing prunes columns (no l_orderkey in scan schema)") {
    val p = plan("q1_pricing")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("inclusion-criteria filter pushes conjuncts into the scan") {
    // include = AND-chain of criteria exprs over source columns; Catalyst
    // must collapse the flag projections and push the deterministic
    // predicates down to parquet
    val p = plan("q_inclusion")
    // (plan toString truncates the PushedFilters list; check an early entry)
    assert(
      p.contains("PushedFilters: [IsNotNull"),
      s"expected criteria pushdown:\n$p"
    )
    assert(p.contains("In(o_orderstatus"), s"expected o_orderstatus pushdown:\n$p")
  }

  test("flagship entry broadcasts a side of its join") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"), p)
  }

  test("cosine top-k broadcasts the query side and keeps WindowGroupLimit") {
    val p = plan("q_cosine_topk")
    assert(p.contains("WindowGroupLimit"), s"expected top-k pushdown:\n$p")
  }

  test("PQ search broadcasts the lut side, ranks via WindowGroupLimit; encode is shuffle-free") {
    Seq("q_pq_topk", "q_ivfpq_topk").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: expected broadcast lut join:\n$p")
      assert(p.contains("WindowGroupLimit"), s"$q: expected top-k pushdown:\n$p")
    }
    // encoding is pure per-row compute: nothing in the plan may exchange
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cbs = graft.operators.Similarity
      .pqTrain(e, "vec_id", "embedding", 4, 8, rounds = 0)
    val pe = graft.operators.Similarity
      .pqEncode(e, "embedding", cbs)
      .queryExecution.executedPlan.toString
    assert(!pe.contains("Exchange"), s"pqEncode must not shuffle:\n$pe")
  }

  test("top-n query plans use WindowGroupLimit (rank filter pushdown)") {
    Seq("q_first_row", "q_first_rank", "q_first_dense_rank", "q_ann_quantized")
      .foreach { q =>
        assert(plan(q).contains("WindowGroupLimit"), s"$q missing WindowGroupLimit")
      }
  }

  test("simhash signatures stay in a codegen'd hash aggregate (no HOF eval)") {
    val p = plan("q_simhash")
    assert(p.contains("HashAggregate"), s"expected hash aggregate:\n$p")
    // the interpreted higher-order path would show ArrayTransform/
    // ArrayAggregate nodes evaluating per token — the bit-vote aggregate
    // must not contain any
    assert(
      !p.contains("aggregate(") && !p.contains("ArrayAggregate"),
      s"interpreted HOF leaked into the simhash plan:\n$p"
    )
  }

  test("range join stays an equi-join on bins, never a nested loop") {
    val p = plan("q_range_join")
    assert(
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degenerated to a product:\n$p"
    )
  }

  test("fuzzy pairs join on the length band, never a product") {
    val p = plan("q_fuzzy_pairs")
    assert(
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"length-banded join degenerated to a product:\n$p"
    )
  }

  test("window-function query pushes its customer filter into the scan") {
    val p = plan("q_window_funcs")
    assert(
      p.contains("LessThanOrEqual(o_custkey"),
      s"expected o_custkey pushdown:\n$p"
    )
  }

  test("multi-band ANN broadcasts the banded query side") {
    val p = plan("q_ann_multiband")
    assert(
      p.contains("BroadcastHashJoin"),
      s"expected broadcast bucket join:\n$p"
    )
    assert(p.contains("WindowGroupLimit"), s"expected top-k pushdown:\n$p")
  }

  test("decontamination is one gram kernel: no explode, join, aggregate or added exchange") {
    // the native gram-set kernel replaces explode -> broadcast gram join
    // -> distinct aggregates -> id join: each plan holds the kernel and
    // only the exchanges its input and orderBy bring
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val test = docs.filter(col("doc_id") % 10 === 0)
    def exchanges(p: String) = "Exchange".r.findAllIn(p).length
    def physical(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    val report = plan("q_decontam")
    val filtered = physical(
      graft.operators.Decontam.decontaminate(train, test, "doc_id", "text", n = 3))
    val reportBase = physical(
      train.select("doc_id", "text").orderBy("doc_id"))
    for ((p, base) <- Seq(report -> reportBase, filtered -> physical(train))) {
      assert(p.contains("shared_gram_count"), s"expected the gram kernel:\n$p")
      assert(!p.contains("Generate"), s"decontamination explodes grams:\n$p")
      assert(!p.contains("Aggregate"), s"decontamination aggregates:\n$p")
      assert(!p.contains("Join"), s"decontamination joins:\n$p")
      assert(exchanges(p) == exchanges(base), s"decontamination adds an exchange:\n$p")
    }
  }

  test("ivf assignment is expression-only: no centroid-table join") {
    val p = plan("q_ivf_topk")
    // corpus->cell assignment must be a projection (native squared-distance
    // array), so the ONLY joins are the broadcast probe join and nothing
    // shuffles the corpus by cell twice
    assert(p.contains("squared_distance_native"), s"expected native expr:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe join:\n$p")
    assert(p.contains("WindowGroupLimit"), s"expected top-k pushdown:\n$p")
  }

  test("repetition stats aggregate with map-side partials") {
    val p = plan("q_repetition")
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
    assert(
      !p.contains("ArrayAggregate"),
      s"interpreted HOF leaked into the repetition plan:\n$p"
    )
  }

  test("unigram scoring joins tokens against a broadcast model") {
    val p = plan("q_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast model join:\n$p")
  }

  test("winsorize clips against broadcast per-group bounds") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bounds join:\n$p")
  }

  test("DSIR weights broadcast the ratio model and combine map-side") {
    val p = plan("q_dsir")
    // the corpus-sized per-doc bucket table joins the m-row ratio model
    // BROADCAST (the one SortMergeJoin in the plan is the p-vs-q model
    // full-outer join — full outer cannot broadcast, and both inputs are
    // <= numBuckets rows, so it is model-sized, never corpus-sized)
    assert(p.contains("BroadcastHashJoin"),
      s"bucket log-ratios must join broadcast:\n$p")
    assert(p.contains("partial_sum"),
      s"per-doc weight sum must combine map-side:\n$p")
    // the corpus is featurized ONCE: the q model re-aggregates the per-doc
    // bucket table, so at runtime AQE must reuse the shared (id, bucket)
    // shuffle instead of exploding the corpus a second time (the static
    // plan prints the duplicated lineage; reuse is a runtime property)
    val df = SparkEntry.queries("q_dsir")(spark, sfDir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("isFinalPlan=true"), s"expected adaptive final plan:\n$fp")
    assert(fp.contains("Reused"),
      s"corpus featurization shuffle must be reused at runtime:\n$fp")
  }

  test("semantic decontamination broadcasts the eval side") {
    val p = plan("q_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval embeddings must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"scoring must not shuffle the corpus:\n$p")
  }

  test("corpus amplification is a broadcast fan-out, never a shuffle") {
    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val amp = graft.operators.Stress
      .selfUnionSkewed(docs, "doc_id", copies = 10, idStride = 1000000L,
        hotId = 0L, hotCopies = 90)
    val plan = amp.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"copy fan-out must broadcast the copies table:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"amplification must not shuffle the corpus:\n$plan")
  }

  test("q7 nation-pair volume broadcasts the filtered dimension sides") {
    val p = plan("q7_nation_volume")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(
      p.contains("PushedFilters"),
      s"expected nation-name filter at the scan:\n$p"
    )
  }

  test("chunk dedup never degenerates to a product join") {
    val p = plan("q_chunk_dedup")
    assert(
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"chunk-frequency join must stay an equi-join:\n$p"
    )
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
  }

  test("group sample and heavy hitters keep WindowGroupLimit (bounded state)") {
    assert(plan("q_group_sample").contains("WindowGroupLimit"))
    assert(plan("q_heavy_hitters").contains("WindowGroupLimit"))
  }

  test("json extraction prunes the scan to the touched columns") {
    val p = plan("q_json_extract")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props"), readSchema)
    assert(!readSchema.contains("value"), s"untouched column read:\n$readSchema")
  }

  test("zorderBy range-partitions by the morton code") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val p = graft.operators.Layout
      .zorderBy(df, "l_partkey", "l_suppkey", numPartitions = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), s"expected range exchange:\n$p")
    assert(p.contains("Sort"), s"expected per-partition sort:\n$p")
  }

  test("random projection broadcasts the sign matrix and aggregates map-side") {
    val p = plan("q_random_projection")
    assert(p.contains("BroadcastHashJoin"), s"sign matrix must broadcast:\n$p")
    assert(p.contains("partial"), s"expected partial aggregation:\n$p")
  }

  test("incremental dedup joins skinny signature tables, never a product") {
    val p = plan("q_dedup_incremental")
    assert(
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"signature joins must stay equi-joins:\n$p"
    )
  }

  test("embedding band joins are skinny: no vector rides the bucket join") {
    // the quadratic in-bucket self-join must carry only (bucket, id) —
    // vectors are re-attached AFTER pair dedup. A regression here ships
    // two 64-float arrays per candidate pair (once per bank) through the
    // widest shuffle of the operator.
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.ArrayType
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off so the full join tree is traversable pre-execution
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Seq("q_embed_dedup", "q_embed_dedup_mb", "q_embed_dedup_drop", "q_knn_graph").foreach { q =>
        val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
        val bucketJoins = plan.collect {
          case j: BaseJoinExec
              if j.leftKeys.exists(_.toString.contains("__bucket")) => j
        }
        assert(bucketJoins.nonEmpty, s"$q: no bucket equi-join found")
        bucketJoins.foreach { j =>
          assert(
            !j.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"$q: bucket join output carries an array column:\n$j"
          )
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("knn graph top-k uses WindowGroupLimit") {
    assert(
      plan("q_knn_graph").contains("WindowGroupLimit"),
      "per-source top-k must prune with size-k heaps"
    )
  }

  test("q5 filters customer and supplier by the region dim BEFORE the fact joins") {
    // the region-filtered nation dim must broadcast onto BOTH the customer
    // and supplier scans below the big shuffle joins — a plan that joins
    // the whole fact chain first and filters by region last carries 5x
    // the rows through every shuffle
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val exec = SparkEntry
      .queries("q5_region_revenue")(spark, sfDir)
      .queryExecution
      .executedPlan
    val plan = exec match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"expected nation broadcasts on both sides:\n$plan")
    val keys = bhj.flatMap(_.leftKeys).map(_.toString) ++
      bhj.flatMap(_.rightKeys).map(_.toString)
    assert(
      keys.exists(_.contains("c_nationkey")) && keys.exists(_.contains("s_nationkey")),
      s"customer and supplier must each broadcast-join the region-filtered dim:\n$keys"
    )
  }

  test("interval overlap join is a bin equi-join, never a nested loop") {
    val p = plan("q_interval_overlap")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
  }

  test("weighted sample plans as TakeOrdered, not a global sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heap plan:\n$p")
  }

  test("bm25 broadcasts the df stats and corpus stats, no full-doc shuffle") {
    // the per-term score join must broadcast BOTH small sides (|Q|-row df
    // table, one-row corpus stats); only matched occurrences may shuffle
    val p = plan("q_bm25")
    val broadcasts = "BroadcastExchange".r.findAllIn(p).length
    assert(broadcasts >= 2, s"expected df + stats broadcasts:\n$p")
    // the text column must not appear in any exchange output: documents
    // are scanned, exploded, and never shuffled whole
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    exchanges.foreach(l => assert(!l.contains("text"), s"doc text shuffled: $l"))
  }

  test("temperature mixture applies via a broadcast weight-table join") {
    val p = plan("q_temperature_mix")
    assert(
      p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"weight table must broadcast onto the corpus:\n$p"
    )
  }

  test("boilerplate strip aggregates with map-side partials") {
    // the per-unit doc-count aggregate must have a partial_count before
    // the shuffle: unit occurrences combine map-side, so the shuffle
    // carries at most |distinct units| rows per partition
    val p = plan("q_boilerplate")
    assert(p.contains("partial_count"), s"expected map-side combine:\n$p")
  }

  test("span dedup shuffles digests and positions, never text or arrays") {
    val p = plan("q_span_dedup")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // every shuffle is keyed by gram digest or doc id; none may carry the
    // raw text column or the token array
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach { l =>
        assert(!l.contains("text#"), s"doc text shuffled: $l")
        assert(!l.contains("__toks"), s"token array shuffled: $l")
      }
  }

  test("classifier scoring broadcasts the model onto the corpus") {
    val p = plan("q_nb_score")
    assert(
      p.contains("BroadcastHashJoin"),
      s"model join must broadcast (D rows by construction):\n$p"
    )
    // the corpus shuffles only (id, bucket) pairs — never the text column
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text#"), s"doc text shuffled: $l"))
  }

  test("classifier training keeps totals as one-row broadcasts") {
    val p = plan("q_nb_train")
    val broadcasts = "BroadcastExchange".r.findAllIn(p).length
    assert(broadcasts >= 2, s"expected pos/neg total broadcasts:\n$p")
  }

  test("cross-split leakage shuffles only gram digests, no broadcast of a corpus side") {
    val p = plan("q_split_leakage")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // both sides are corpus-sized: the gram join must be a shuffled join
    // on the digest key, and no shuffle may carry the raw text or gram
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach { l =>
        assert(!l.contains("text#"), s"doc text shuffled: $l")
        assert(!l.contains("__gram"), s"raw gram shuffled (digest expected): $l")
      }
    assert(
      p.contains("__gk"),
      s"expected the md5 digest key in the gram join:\n$p"
    )
  }

  test("contrastive pairs broadcast the negative pool and bound ranks with WindowGroupLimit") {
    val p = plan("q_contrastive_pairs")
    assert(p.contains("WindowGroupLimit"), s"expected bounded per-anchor rank:\n$p")
    assert(
      p.contains("BroadcastExchange"),
      s"negative pool must broadcast (model-sized by construction):\n$p"
    )
    // the only nested-loop join allowed is anchors x the broadcast pool
    // (bounded poolSize rows per anchor); no corpus-sized product
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
  }

  test("vocab coverage broadcasts the vocabulary onto the token stream") {
    val p = plan("q_vocab_coverage")
    assert(
      p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast (model-sized by construction):\n$p"
    )
    // the corpus never shuffles its text; only (id, counts) move
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text#"), s"doc text shuffled: $l"))
  }

  test("shard manifest shuffles only per-group partial sums, never text") {
    val p = plan("q_shard_manifest")
    assert(p.contains("HashAggregate"), s"expected hash aggregate:\n$p")
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text#"), s"doc text shuffled: $l"))
  }

  test("shard assignment is pure per-row compute (no hash shuffle)") {
    // shuffleIntoShards itself must not shuffle: the only exchange in the
    // query plan is the presentation orderBy's range partitioning
    val p = plan("q_shuffle_shards")
    assert(
      !p.contains("Exchange hashpartitioning"),
      s"shard assignment must be shuffle-free:\n$p"
    )
  }

  test("snapshot diff is one pre-projected full-outer join, never a product") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"), s"expected a full-outer key join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"diff must join on the key:\n$p")
  }

  test("kmeans final assignment is join-free per-row compute") {
    // centroids are one codegen'd codebook reference object: the
    // assignment plan must carry the native nearest-centroid expression,
    // not a join against a centroid table and not k stacked expressions
    val p = plan("q_kmeans")
    assert(p.contains("nearest_centroid_native"), p)
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
  }

  test("semDeDup pair join reads the checkpointed skinny assignment, no product") {
    // the within-cluster candidate join must not replicate embeddings OR
    // re-execute the k-distance assignment per pair side: both sides scan
    // the checkpointed (id, cluster, dist) table — which structurally
    // carries no vectors — and the native cosine gates the pair filter
    // after vectors re-attach
    val p = plan("q_semdedup")
    assert(p.contains("cosine_similarity_native"), p)
    assert(p.contains("ExistingRDD"), s"expected checkpointed assignment:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products allowed:\n$p")
  }

  test("quantile bucketing broadcasts the per-group boundary table") {
    val p = plan("q_ppl_buckets")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bounds:\n$p")
    // the scale trap this operator avoids is an ntile/global-rank window,
    // which would plan as a single-partition exchange
    assert(
      !p.contains("Exchange SinglePartition"),
      s"must not funnel data through one partition:\n$p"
    )
  }

  test("script profile is pure per-row compute (no hash shuffle at all)") {
    val p = plan("q_script_profile")
    assert(
      !p.contains("Exchange hashpartitioning"),
      s"per-row regex strips must not shuffle:\n$p"
    )
    assert(p.contains("PushedFilters"), s"doc_id filter must push down:\n$p")
  }

  test("chi-square: margins broadcast onto the category grid") {
    val p = plan("q_chi_square")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    // the colTot and grand one-row attaches ride broadcast nested loops;
    // everything else is keyed
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 2, s"only the two broadcast grid attaches may nest-loop:\n$p")
    assert(p.contains("partial_count"), s"cell counts must combine map-side:\n$p")
  }

  test("triangle count: every join is a keyed equi-join (stats attach excepted)") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    // the one-row vertex/edge stats attach via broadcast nested loop is
    // fine; the wedge and closing joins must be hash/sort-merge equi-joins
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 2, s"only the two one-row stat attaches may nest-loop:\n$p")
  }

  test("linkage scoring adds no shuffle beyond blocking and attribute joins") {
    val p = plan("q_linkage_score")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // the FS weight is a constant-folded projection: no aggregate, no
    // window, no exchange introduced by the scoring step itself
    assert(!p.contains("Exchange SinglePartition"), s"global funnel:\n$p")
  }

  test("MAD outliers: AQE broadcasts the per-group model at small cardinality") {
    // the operator carries NO forced broadcast hint (a high-cardinality
    // group key must be allowed to shuffle-join) — so the guard checks the
    // AQE FINAL plan: at this group cardinality the runtime size estimate
    // must still convert the model join to a broadcast
    val df = SparkEntry.queries("q_mad_outliers")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"expected an executed AQE plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected AQE broadcast medians:\n$p")
  }

  test("zipf fit: vocabulary top-N is TakeOrdered, counts combine map-side") {
    val p = plan("q_zipf")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N vocab selection must be TakeOrdered, not a global sort:\n$p")
    assert(p.contains("partial_count"), s"expected map-side combine:\n$p")
  }

  test("collocations: unigram attachments broadcast, top-100 is TakeOrdered") {
    val p = plan("q_collocations")
    // the vocab-sized unigram table attaches to the frequent pairs via
    // broadcast at this SF; the one-row totals ride a broadcast nested loop
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast attachments:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    assert(p.contains("partial_count"), s"expected map-side combine:\n$p")
  }

  test("temporal split is a pure projection: one aggregate exchange, no join") {
    val p = plan("q_temporal_split")
    assert(!p.contains("Join"), s"split assignment must not join:\n$p")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.size <= 1, s"expected only the groupBy exchange:\n$p")
  }

  test("session paths: one event-data shuffle; session + lag windows share it") {
    val p = plan("q_session_paths")
    // the user-key exchange feeds both the session-id window and the lag
    // chain (same partitioning); everything after is hash aggregates on
    // the path string. A second hashpartitioning over event rows would
    // mean the windows stopped sharing the sort.
    val eventShuffles = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(_.contains("path#"))
      .toList
    assert(
      eventShuffles.size <= 1,
      s"expected the session and lag windows to share one user-key exchange:\n$p"
    )
    // top-50 consumption must be TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("attribution: session + touch windows share the user exchange") {
    val p = plan("q_attribution")
    val eventShuffles = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(_.contains("touch_type#"))
      .toList
    assert(
      eventShuffles.size <= 1,
      s"session and touch windows must share one user-key exchange:\n$p"
    )
  }

  test("event transitions: probability window runs post-aggregation only") {
    val p = plan("q_event_transitions")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .toList
    // one shuffle on the user key for the windows, one on (from, to) for
    // the count, one tiny one on from_type for the normalization window
    assert(exchanges.size <= 3, s"unexpected extra shuffles:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregate:\n$p")
  }

  test("sorted-neighborhood pairs ride an equi-join on (block, rank), no product") {
    val p = plan("q_snm_pairs")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // no global sort: ranks come from a per-block window, so every
    // hashpartitioning is keyed, never a single range partition of the data
    assert(
      !p.contains("Exchange SinglePartition"),
      s"global funnel in SNM:\n$p"
    )
  }

  test("vocab divergence: one token aggregate, totals broadcast back") {
    val p = plan("q_vocab_divergence")
    assert(p.contains("partial_sum"), s"expected map-side combine:\n$p")
    // the totals row joins back via broadcast; the per-token divergence
    // terms must not shuffle with a join key (only the token aggregate
    // and the final one-row aggregate repartition)
    assert(p.contains("BroadcastExchange"), s"expected broadcast totals:\n$p")
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach { l =>
        assert(!l.contains("text#"), s"document text shuffled: $l")
      }
  }

  test("calibration bins: only the bin aggregate shuffles, totals broadcast, no window") {
    val p = plan("q_calibration")
    assert(p.contains("partial_count"), s"expected map-side combine:\n$p")
    assert(p.contains("BroadcastExchange"), s"expected broadcast totals:\n$p")
    assert(!p.contains("Window"), s"per-bin report must not window:\n$p")
    // every hash exchange must carry the bin key (the static plan shows
    // the perBin aggregate twice — totals recompute it and AQE reuses the
    // exchange at runtime — but nothing may shuffle on any OTHER key)
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach { l =>
        assert(
          l.contains("_groupingexpression") || l.contains("bin#"),
          s"non-bin shuffle: $l"
        )
      }
  }

  test("rank-based stats plan NO unpartitioned WindowExec anywhere") {
    // aucRoc/ksTwoSample/exact equi-depth & winsorize run their rank pass
    // through Stats.rangedRunningSums (range-partition + per-slice totals
    // + broadcast offsets); an unpartitioned Window over the distinct
    // table would collapse it back onto one task at a fine value grid
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case w: WindowExec => Seq(w)
        case _             => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case _                        => p.children
      }
      self ++ kids.flatMap(windows)
    }
    Seq("q_auc", "q_ks_test", "q_wasserstein", "q_equidepth", "q_winsorize",
        "q_spearman")
      .foreach { q =>
      val exec =
        SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      val bad = windows(exec).filter(_.partitionSpec.isEmpty)
      assert(
        bad.isEmpty,
        s"$q plans ${bad.size} unpartitioned WindowExec node(s):\n$exec"
      )
    }
  }

  test("bloom semi-join probes via native might_contain at the scan, pre-shuffle") {
    val p = plan("q_bloom_semijoin")
    assert(p.contains("might_contain"), s"expected native bloom probe:\n$p")
    assert(!p.toLowerCase.contains("udf"), s"no UDF allowed:\n$p")
    // the probe filter must sit on the scan side BEFORE any shuffle of the
    // left rows: walk the physical tree, find the filter carrying the
    // probe, and assert its subtree reaches the source with no
    // ShuffleExchange in between (otherwise the bloom saves nothing)
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def nodes(x: SparkPlan): Seq[SparkPlan] = {
      val kids = x match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case _                        => x.children
      }
      x +: kids.flatMap(nodes)
    }
    val exec = SparkEntry
      .queries("q_bloom_semijoin")(spark, sfDir)
      .queryExecution.executedPlan
    val probeFilters = nodes(exec).collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(probeFilters.nonEmpty, s"no might_contain FilterExec:\n$exec")
    probeFilters.foreach { f =>
      val below = nodes(f).drop(1)
      assert(
        !below.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"bloom probe sits ABOVE a shuffle (saves nothing):\n$exec"
      )
    }
  }

  test("domain reweight: only the domain aggregate shuffles, totals broadcast") {
    val p = plan("q_domain_reweight")
    assert(p.contains("partial_count"), s"expected map-side combine:\n$p")
    assert(p.contains("BroadcastExchange"), s"expected broadcast totals:\n$p")
    assert(!p.contains("Window"), s"reweight must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach { l =>
        // the domain key collapses to the source column (lang) pre-alias
        assert(
          l.contains("domain#") || l.contains("lang#"),
          s"non-domain shuffle: $l"
        )
      }
  }

  test("stupid backoff: totals broadcast, no product join, text never shuffles") {
    val p = plan("q_stupid_backoff")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    // the (N, V) totals ride a one-row broadcast
    assert(p.contains("BroadcastExchange"), s"expected totals broadcast:\n$p")
    // every hash exchange carries gram keys / ids / counts — never the
    // document text column
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text#"), s"doc text shuffled: $l"))
  }

  test("surt keys and blockword gate are shuffle-free per-row projections") {
    // both ride the first corpus scan at 100 TB: the only allowed
    // exchange is the final presentation ORDER BY's range partitioning
    // (the plan prints pre-execution under AQE, so codegen spans aren't
    // visible — the Exchange/aggregate absence is the load-bearing check)
    for (q <- Seq("q_surt_key", "q_blockwords")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q shuffles:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$q joins:\n$p")
      assert(!p.contains("HashAggregate"), s"$q aggregates:\n$p")
      assert(p.contains("FileScan parquet"), s"$q scan missing:\n$p")
    }
  }

  test("langId script fallback stays one per-row projection, no shuffle") {
    val p = plan("q_lang_id")
    assert(!p.contains("Exchange hashpartitioning"), s"q_lang_id shuffles:\n$p")
    assert(!p.contains("HashAggregate"), s"q_lang_id aggregates:\n$p")
  }

  test("MinHash signatures are one per-row projection: no explode, no shuffle") {
    // the native kernel replaces explode -> 16-column min aggregate ->
    // exchange by id; the only exchange allowed is the round robin that
    // ScanUtils.withScanParallelism puts on a narrow input
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def exchanges(p: String) = "Exchange".r.findAllIn(p).length
    val scanOnly = graft.operators.ScanUtils.withScanParallelism(docs)
      .queryExecution.executedPlan.toString
    val p = graft.operators.Dedup
      .minHashSignatures(docs, "doc_id", "text", 1, 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), s"signatures explode shingles:\n$p")
    assert(!p.contains("HashAggregate"), s"signatures aggregate:\n$p")
    assert(!p.contains("hashpartitioning"), s"signatures shuffle by key:\n$p")
    assert(exchanges(p) == exchanges(scanOnly), s"signatures add an exchange:\n$p")
  }

  test("verified pairs take each set's size per row: no count aggregate keyed by id") {
    // the shingle count is size(__set) of the one distinct set per row,
    // not a count grouped by __id (one aggregate fewer). Every test that
    // takes a held pair table releases it, so no cached table stands in
    // for part of this plan and the aggregate count is the same alone and
    // in the full suite
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.operators.Dedup
      .minHashVerifiedPairsPlan(graft.operators.Dedup.verifiedSetTable(docs, "doc_id", "text", 1), 0.8, 16, 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("size(__set"), s"expected per-row set sizes:\n$p")
    assert("HashAggregate\\(keys=\\[__id#".r.findFirstIn(p).isEmpty, s"sizes aggregate by id:\n$p")
    assert(!p.contains("InMemoryRelation"), s"a held table stands in for part of the plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length == 12, s"expected 12 HashAggregate nodes:\n$p")
  }

  test("packSequences computes its running offset with exactly one Window") {
    val p = plan("q_pack_sequences")
    assert("Window \\[".r.findAllIn(p).length == 1, s"expected one Window:\n$p")
  }

}
