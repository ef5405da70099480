package graft

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Joins, Similarity, Stress}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress rehearsal: the dedup/LSH/join stack on a 10x self-union of
  * the sf0.1 corpus (50k+ docs — sf1-equivalent) with a planted duplicate
  * cluster an order of magnitude hotter than the rest.
  *
  * Every 100 TB scale claim in the dedup stack is an argument from plan
  * shape (skinny band joins, bucket-min pairing, groupBy-not-window); this
  * suite buys empirical evidence OFF the happy path:
  *   - candidate-pair counts are ASSERTED O(bands x docs), never O(docs^2),
  *     with the hot cluster present (the worst case for LSH bucketing);
  *   - min-id dedup survivors of the amplified corpus must be EXACTLY the
  *     survivors of the original corpus (copy 0 keeps the original ids, so
  *     amplification must not change any dedup decision) — an exact oracle
  *     with no DuckDB round-trip;
  *   - salted joins under key skew must return exactly the plain join.
  *
  * Runtime tripwires are deliberately loose (this VM's CPU allocation
  * swings 3-30x): a quadratic regression fails the COUNT asserts first.
  */
class StressSpec extends SparkSpec {
  import spark.implicits._

  private val stride = 100000L
  private val copies = 10
  private val hotCopies = 90

  private lazy val origDocs = spark.read
    .parquet("/root/testdata/sf0.1/documents.parquet")
    .select("doc_id", "text", "lang")
    .localCheckpoint()

  /** 10x re-keyed copies + a 100-member hot cluster for doc 0. */
  private lazy val stressedDocs = Stress
    .selfUnionSkewed(origDocs, "doc_id", copies, stride, hotId = 0L, hotCopies = hotCopies)
    .localCheckpoint()

  private def timed[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"$label: $sec%.1f s")
    assert(sec < 600, s"$label blew the runtime tripwire: $sec s")
    r
  }

  test("10x skewed corpus: stressed row count and hot cluster are as planted") {
    val n = stressedDocs.count()
    assert(n == origDocs.count() * copies + hotCopies, s"n=$n")
    // the planted hot cluster really is 10x the others: doc 0's text now
    // appears 100 times (10 copies + 90 hot), others 10 times
    val hotText = origDocs.filter(col("doc_id") === 0).head().getString(1)
    assert(stressedDocs.filter(col("text") === hotText).count() >= copies + hotCopies)
  }

  test("minhash bucket-min pairing stays O(bands x docs) under the hot cluster") {
    val n = stressedDocs.count()
    val bands = 4
    val pairs = timed("minHashCandidatePairs(representativesOnly) on 50k docs") {
      Dedup
        .minHashCandidatePairs(
          stressedDocs, "doc_id", "text",
          shingleK = 1, numHashes = 16, bands = bands,
          representativesOnly = true
        )
        .count()
    }
    // bucket-min emits at most `bands` pairs per doc before dedup; the hot
    // 100-member cluster alone would contribute 4,950 pairs under
    // exhaustive pairing and the 10-clusters ~45 x 5000 more (~230k just
    // from duplicates, growing quadratically with the copy factor)
    assert(pairs <= bands.toLong * n, s"pair blowup: $pairs > $bands*$n")
    assert(pairs > 0)
  }

  test("capped recall audit samples a constant-size truth set on the 10x corpus") {
    // q_lsh_recall's scale contract: with maxSampleDocs the audit's
    // quadratic exact-truth side is computed on ~cap docs no matter how
    // large the corpus is (the 10x sweep measured the uncapped form at
    // 24x cost for 10x data; capped it must be flat)
    val report = timed("minHashRecallReport(maxSampleDocs=500) on 50k docs") {
      Dedup
        .minHashRecallReport(
          stressedDocs, "doc_id", "text",
          threshold = 0.9, shingleK = 1, numHashes = 16, bands = 4,
          sampleFraction = 0.1, maxSampleDocs = 500
        )
        .head()
    }
    val nDocs = report.getLong(0)
    // ceil-threshold expectation is ~505 of 50.5k; hash-bucket sampling is
    // binomial around it — bound generously, but an uncapped proportional
    // sample (5k docs) must fail
    assert(nDocs > 100L && nDocs < 1500L, s"cap not holding: $nDocs docs sampled")
  }

  test("30x amplification: pair bound and dedup invariance (always-on)") {
    // sf3-equivalent (150k docs, hot cluster of 300) INSIDE the default
    // test budget — the strongest scale evidence used to hide behind the
    // SPARK_GRAFT_STRESS_100X gate and was canceled on every normal run;
    // this tier catches a quadratic regression in the amplification
    // invariants on plain `sbt test`, the 100x below stays opt-in.
    val big = Stress
      .selfUnionSkewed(origDocs, "doc_id", 30, stride, hotId = 0L, hotCopies = 270)
      .localCheckpoint()
    val n = big.count()
    assert(n == origDocs.count() * 30 + 270, s"n=$n")
    val bands = 4
    val pairs = timed("minHashCandidatePairs(representativesOnly) on 150k docs") {
      Dedup
        .minHashCandidatePairs(
          big, "doc_id", "text",
          shingleK = 1, numHashes = 16, bands = bands,
          representativesOnly = true
        )
        .count()
    }
    assert(pairs <= bands.toLong * n, s"pair blowup: $pairs > $bands*$n")
    assert(pairs > 0)
    val orig = Dedup
      .dedupNearMinHash(origDocs, "doc_id", "text", threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = timed("dedupNearMinHash on the 30x corpus") {
      Dedup
        .dedupNearMinHash(big, "doc_id", "text", threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(survivors == orig,
      s"extra: ${(survivors -- orig).take(5)}; lost: ${(orig -- survivors).take(5)}")
  }

  test("100x amplification: dedup invariance and pair bound (opt-in)") {
    // sf10-equivalent row count (500k docs, hot cluster of 1,000). ~2 min
    // on a quiet machine — opt in with SPARK_GRAFT_STRESS_100X=1; the
    // default suite runs the same assertions at 10x above. Committed so
    // the 100x claim in PERFORMANCE.md is reproducible, not a REPL story.
    assume(
      sys.env.contains("SPARK_GRAFT_STRESS_100X"),
      "set SPARK_GRAFT_STRESS_100X=1 to run the 100x amplification"
    )
    val big = Stress
      .selfUnionSkewed(origDocs, "doc_id", 100, stride, hotId = 0L, hotCopies = 900)
      .localCheckpoint()
    val n = big.count()
    val bands = 4
    val pairs = timed("minHashCandidatePairs(representativesOnly) on 500k docs") {
      Dedup
        .minHashCandidatePairs(
          big, "doc_id", "text",
          shingleK = 1, numHashes = 16, bands = bands,
          representativesOnly = true
        )
        .count()
    }
    assert(pairs <= bands.toLong * n, s"pair blowup: $pairs > $bands*$n")
    val orig = Dedup
      .dedupNearMinHash(origDocs, "doc_id", "text", threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = timed("dedupNearMinHash on the 100x corpus") {
      Dedup
        .dedupNearMinHash(big, "doc_id", "text", threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(survivors == orig,
      s"extra: ${(survivors -- orig).take(5)}; lost: ${(orig -- survivors).take(5)}")
  }

  test("minhash dedup survivors on the 10x corpus equal the original corpus survivors") {
    val orig = timed("dedupNearMinHash on the original corpus") {
      Dedup
        .dedupNearMinHash(origDocs, "doc_id", "text", threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val stressed = timed("dedupNearMinHash on the 10x corpus") {
      Dedup
        .dedupNearMinHash(stressedDocs, "doc_id", "text", threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // copy 0 keeps the original ids => every cluster's minimum is an
    // original id => amplification must not change a single dedup decision
    assert(stressed == orig,
      s"extra survivors: ${(stressed -- orig).take(5)}; lost: ${(orig -- stressed).take(5)}")
  }

  test("verified dedup survivors on the 10x corpus equal the original corpus survivors") {
    val orig = timed("dedupNearMinHashVerified on the original corpus") {
      Dedup
        .dedupNearMinHashVerified(origDocs, "doc_id", "text", threshold = 0.8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val stressed = timed("dedupNearMinHashVerified on the 10x corpus") {
      Dedup
        .dedupNearMinHashVerified(stressedDocs, "doc_id", "text", threshold = 0.8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // bucket minima are original ids (copy 0 keeps them), candidates for
    // original ids are therefore unchanged, and exact-Jaccard verification
    // is a pure pair function — amplification must not flip any decision
    assert(stressed == orig,
      s"extra survivors: ${(stressed -- orig).take(5)}; lost: ${(orig -- stressed).take(5)}")
  }

  test("verified pair count stays O((bands + 1) x docs) under the hot cluster") {
    val pairs = timed("minHashVerifiedPairs on the 10x corpus") {
      Dedup
        .minHashVerifiedPairs(stressedDocs, "doc_id", "text", threshold = 0.8)
        .count()
    }
    val n = stressedDocs.count()
    // each doc is the ib of at most `bands` bucket-min pairs plus one
    // identical-signature pair; verification only removes pairs. The hot
    // 100-member clique must NOT produce clique^2 pairs.
    assert(pairs <= 5L * n, s"pairs=$pairs for n=$n — quadratic blowup")
  }

  test("simhash dedup survivors on the 10x corpus equal the original corpus survivors") {
    val orig = timed("dedupNearSimHash on the original corpus") {
      Dedup
        .dedupNearSimHash(origDocs, "doc_id", "text", maxHamming = 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val stressed = timed("dedupNearSimHash on the 10x corpus") {
      Dedup
        .dedupNearSimHash(stressedDocs, "doc_id", "text", maxHamming = 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(stressed == orig,
      s"extra survivors: ${(stressed -- orig).take(5)}; lost: ${(orig -- stressed).take(5)}")
  }

  test("span dedup on the 10x corpus: copy-0 invariant, all other copies erased") {
    // Exact oracle from amplification: copy 0 keeps the original ids, so
    // every gram's keeper (min (id, pos)) in the 10x corpus is the same
    // copy-0 occurrence as in the original corpus, and a copy-0 occurrence
    // is removed iff it was removed in the original run. Every copy>=1
    // occurrence is a non-keeper, so docs long enough to carry a gram are
    // erased completely.
    import graft.operators.TextAnalysis
    val emptyMd5 = java.security.MessageDigest
      .getInstance("MD5")
      .digest(Array.empty[Byte])
      .map("%02x".format(_))
      .mkString // md5("")
    val orig = timed("spanDedup on the original corpus") {
      TextAnalysis
        .spanDedup(origDocs, "doc_id", "text", spanTokens = 8)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .toSet
    }
    val stressed = timed("spanDedup on the 10x corpus") {
      TextAnalysis
        .spanDedup(stressedDocs, "doc_id", "text", spanTokens = 8)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    }
    val (copy0, rest) = stressed.partition(_._1 < stride)
    assert(copy0.toSet == orig,
      s"copy-0 results changed under amplification: ${(copy0.toSet -- orig).take(3)}")
    val survivors = rest.filter(r => r._2 >= 8 && r._4 != emptyMd5)
    assert(survivors.isEmpty,
      s"non-canonical copies must be erased: ${survivors.take(3).toSeq}")
    rest.filter(_._2 < 8).foreach { r =>
      assert(r._3 == 0, s"short doc must be untouched: $r")
    }
  }

  test("incremental dedup adjudicates a 5k batch against 50k stored signatures") {
    // the production ingestion shape at 10x: the accepted corpus exists
    // only as its signature table; a new batch of 5k copies (all of which
    // must drop) plus 3 genuinely novel docs (all of which must survive)
    val corpusSigs = graft.operators.Dedup
      .minHashSignatures(stressedDocs, "doc_id", "text",
        shingleK = 1, numHashes = 16)
      .localCheckpoint()
    assert(corpusSigs.count() == stressedDocs.count())
    val copyBatch = origDocs
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val novel = Seq(
      (30000001L, "zanzibar quokka xylophone brontosaurus marzipan glockenspiel"),
      (30000002L, "isotope quasar nebula pulsar magnetar heliopause parallax"),
      (30000003L, "sourdough levain crumb hydration autolyse lamination proofing")
    ).toDF("doc_id", "text")
    val batch = copyBatch.unionByName(novel)
    val kept = timed("incremental dedup of a 5k batch vs 50k signatures") {
      graft.operators.Dedup
        .dedupNearMinHashIncremental(batch, "doc_id", "text", corpusSigs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept == Set(30000001L, 30000002L, 30000003L),
      s"every copy must drop, every novel doc must survive: ${kept.take(10)}")
  }

  test("knnGraph on 10x near-dup embeddings: bucket-bounded candidates, self-recall") {
    // 10 near-copies of every embedding (copy c shifts component 0 by
    // c * 1e-4 — cosine to the original stays ~1): the realistic
    // mirror-corpus shape for a semantic knn graph
    val stressedE = Stress
      .selfUnionSkewed(
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
          .select("vec_id", "embedding"),
        "vec_id", copies, stride
      )
      .withColumn(
        "embedding",
        transform(
          col("embedding"),
          (x, i) => when(i === 0,
            x + ((col("vec_id") / lit(stride)).cast("int").cast("float") * lit(1e-4f))
          ).otherwise(x)
        )
      )
      .localCheckpoint()
    val n = stressedE.count()
    val planeSets = Similarity.randomHyperplaneBanks(numBanks = 3, planesPerBank = 8, dim = 64)

    // external audit of the band join's quadratic exposure: sum of
    // c*(c-1) over (bank, bucket) IS the directed candidate count the
    // join materializes — assert it stays a small fraction of n^2 and
    // that no degenerate mega-bucket forms even with every vector
    // 10x-duplicated
    val banded = stressedE.select(
      col("vec_id"),
      explode(array(planeSets.zipWithIndex.map { case (planes, i) =>
        concat_ws(":", lit(i), VectorFunctions.hyperplaneBucket(col("embedding"), planes))
      }: _*)).as("__bucket")
    )
    val sizes = banded.groupBy("__bucket").agg(count(lit(1)).as("c"))
    val Array(candidates, maxBucket) = sizes
      .agg(sum(col("c") * (col("c") - 1)), max("c"))
      .head().toSeq.map(_.toString.toLong).toArray
    assert(candidates < n * n / 20,
      s"band join degenerating toward all-pairs: $candidates of ${n * n}")
    assert(maxBucket < n / 5, s"degenerate mega-bucket: $maxBucket of $n")

    val knn = timed("knnGraph on 20k vectors") {
      Similarity.knnGraph(stressedE, "vec_id", "embedding", planeSets, k = 5)
        .localCheckpoint()
    }
    val perSource = knn.groupBy("id").agg(count(lit(1)).as("k"))
    assert(perSource.agg(max("k")).head().getLong(0) <= 5)
    assert(knn.filter(col("id") === col("neighbor_id")).count() == 0)
    // every vector has 9 near-copies at cosine ~1 in the corpus; the OR'd
    // banks must surface one of them as the top neighbor nearly always
    val top1 = knn.filter(col("rank") === 1)
    val nearPerfect = top1.filter(col("cosine") > 0.999).count()
    assert(nearPerfect >= (n * 95) / 100,
      s"self-recall too low: $nearPerfect of $n top-1 neighbors at cosine>0.999")
  }

  test("salted join under 10x key skew returns exactly the plain join") {
    // lang is skewed (en ~ 40%, amplified 10x); dim carries one row per lang
    val dim = origDocs.select(col("lang")).distinct()
      .withColumn("lang_label", concat(lit("label:"), col("lang")))
    val plain = stressedDocs.join(dim, Seq("lang"))
    val salted = timed("saltedJoin on 50k skewed rows") {
      Joins.saltedJoin(stressedDocs, dim, Seq("lang"), saltFactor = 8)
    }
    val p = plain.agg(count(lit(1)), sum("doc_id"), sum(length(col("lang_label")))).head()
    val s = salted.agg(count(lit(1)), sum("doc_id"), sum(length(col("lang_label")))).head()
    assert(p == s, s"salted join diverged: $s vs $p")
  }

  test("100x semDeDup: identical-clique collapse at 200k vectors (opt-in)") {
    // the same exact invariant as the 10x tier below, at a 100x union
    // with k scaled to hold mean cluster size (~300) constant — the
    // paper's regime. Opt in with SPARK_GRAFT_STRESS_100X=1.
    assume(
      sys.env.contains("SPARK_GRAFT_STRESS_100X"),
      "set SPARK_GRAFT_STRESS_100X=1 to run the 100x semDeDup stress"
    )
    val emb = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")
    val stressed = Stress
      .selfUnionSkewed(emb, "vec_id", 100, stride)
      .localCheckpoint()
    val origIds = emb.select("vec_id").as[Long].collect().toSet
    val survivors = timed("semDeDup on 200k vectors (k=640)") {
      Dedup
        .semDeDup(stressed, "vec_id", "embedding", k = 640, rounds = 2,
          threshold = 0.99)
        .select("vec_id")
        .as[Long]
        .collect()
        .toSet
    }
    assert(survivors == origIds,
      s"extra=${(survivors -- origIds).take(5)} missing=${(origIds -- survivors).take(5)}")
  }

  test("semDeDup on a 10x vector corpus collapses every identical clique to its min id") {
    // 10x self-union of the sf0.1 embeddings (20k vectors): copy 0 keeps
    // the original ids, strided copies are exact duplicates. At
    // threshold 0.99 only identical-vector cliques pair (the corpus's
    // true near-dup pairs sit below 0.6 cosine), every clique lands in
    // ONE k-means cluster (identical vectors share an argmin), and the
    // tie rule drops the larger id — so the survivor set must be EXACTLY
    // the original ids. An exact end-to-end oracle for the clustering,
    // the pair join, and the loser election at 10x scale, with no DuckDB
    // round-trip; cost is bounded by sum of cluster sizes squared
    // (k = 64 holds mean cluster size ~300).
    val emb = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")
    val stressed = Stress
      .selfUnionSkewed(emb, "vec_id", copies, stride)
      .localCheckpoint()
    val origIds = emb.select("vec_id").as[Long].collect().toSet
    val survivors = timed("semDeDup on 20k vectors (k=64)") {
      Dedup
        .semDeDup(stressed, "vec_id", "embedding", k = 64, rounds = 2,
          threshold = 0.99)
        .select("vec_id")
        .as[Long]
        .collect()
        .toSet
    }
    assert(survivors == origIds,
      s"extra=${(survivors -- origIds).take(5)} missing=${(origIds -- survivors).take(5)}")
  }
  test("keyed time joins are copy-invariant under user-rekeyed amplification") {
    // 5 re-keyed copies of the purchase/view streams: same timestamps,
    // disjoint users => every as-of match must replicate exactly per copy
    // (same matched value, same distance) and row counts scale by exactly
    // k. A cross-key leak through the union-merge window or a
    // nondeterministic pick under amplification fails the equality.
    // (rangeJoin/intervalOverlapJoin are deliberately absent: they are
    // UNKEYED temporal joins, so re-keyed copies legitimately cross-match.)
    import graft.operators.{Dedup, Joins}
    val ev = ScaleQueries
      .events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts", "event_type", "value")
      .localCheckpoint()
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = Dedup
      .exactDedup(
        ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "value", "event_id"),
        Seq("user_id", "ts"),
        Seq(col("event_id"))
      )
      .select("user_id", "ts", "value")
    val k = 5
    def ampP(c: Int) = purchases
      .withColumn("user_id", col("user_id") + lit(c * 1000000L))
      .withColumn("event_id", col("event_id") + lit(c * 10000000L))
    def ampV(c: Int) =
      views.withColumn("user_id", col("user_id") + lit(c * 1000000L))
    val pAmp = (0 until k).map(ampP).reduce(_ unionByName _)
    val vAmp = (0 until k).map(ampV).reduce(_ unionByName _)

    def collectBy(df: DataFrame, valueCol: String): Map[Long, String] =
      df.select(col("event_id"), col(valueCol).cast("string"))
        .collect()
        .map(r => r.getLong(0) -> String.valueOf(r.get(1)))
        .toMap

    val baseAsOf = collectBy(
      Joins.asOfJoin(purchases, views, "user_id", "ts", "ts", Seq("value")),
      "asof_value")
    val ampAsOf = timed(s"asOfJoin on the ${k}x streams") {
      collectBy(
        Joins.asOfJoin(pAmp, vAmp, "user_id", "ts", "ts", Seq("value")),
        "asof_value")
    }
    assert(ampAsOf.size == k * baseAsOf.size)
    (0 until k).foreach { c =>
      baseAsOf.foreach { case (id, v) =>
        assert(ampAsOf(id + c * 10000000L) == v,
          s"copy $c purchase $id: ${ampAsOf(id + c * 10000000L)} != $v")
      }
    }

    val baseTol = collectBy(
      Joins.asOfJoinTolerant(
        purchases, views, "user_id", "ts", "ts", Seq("value"),
        toleranceSeconds = 7200),
      "asof_value")
    val ampTol = timed(s"asOfJoinTolerant on the ${k}x streams") {
      collectBy(
        Joins.asOfJoinTolerant(
          pAmp, vAmp, "user_id", "ts", "ts", Seq("value"),
          toleranceSeconds = 7200),
        "asof_value")
    }
    assert(ampTol.size == k * baseTol.size)
    (0 until k).foreach { c =>
      baseTol.foreach { case (id, v) =>
        assert(ampTol(id + c * 10000000L) == v)
      }
    }

    val baseNear = collectBy(
      Joins.nearestJoin(purchases, views, "user_id", "ts", "ts", "value"),
      "near_dist_us")
    val ampNear = timed(s"nearestJoin on the ${k}x streams") {
      collectBy(
        Joins.nearestJoin(pAmp, vAmp, "user_id", "ts", "ts", "value"),
        "near_dist_us")
    }
    assert(ampNear.size == k * baseNear.size)
    (0 until k).foreach { c =>
      baseNear.foreach { case (id, d) =>
        assert(ampNear(id + c * 10000000L) == d,
          s"copy $c purchase $id nearest distance drifted")
      }
    }
  }

  test("tokenizer training is invariant under corpus duplication (BPE + unigram LM)") {
    // duplicating every document k times scales EVERY count by exactly k:
    // BPE pair-frequency argmaxes are unchanged and unigram-LM logprobs
    // are log(k*c) - log(k*T) = log(c) - log(T), so both learned models
    // must come back BIT-IDENTICAL. This is the strongest property
    // available for the two rows-gated training loops (iterative
    // training has no SQL oracle) — a partitioning- or scale-sensitive
    // tie-break would break the equality.
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .localCheckpoint()
    val k = 7
    val dup = (0 until k)
      .map(c => docs.withColumn("doc_id", col("doc_id") + lit(c * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(13) // scramble partitioning too
      .localCheckpoint()

    val baseMerges = TextAnalysis
      .bpeMerges(docs, "text", numMerges = 8)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
      .toSeq
    val dupMerges = timed(s"bpeMerges on the ${k}x corpus") {
      TextAnalysis
        .bpeMerges(dup, "text", numMerges = 8)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
        .toSeq
    }
    assert(dupMerges == baseMerges,
      s"merge sequence drifted under duplication:\n$dupMerges\nvs\n$baseMerges")

    val baseLm = TextAnalysis
      .unigramLM(docs, "text", vocabSize = 60)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(2))
      .toMap
    val dupLm = timed(s"unigramLM on the ${k}x corpus") {
      TextAnalysis
        .unigramLM(dup, "text", vocabSize = 60)
        .collect()
        .map(r => r.getString(0) -> r.getDouble(2))
        .toMap
    }
    assert(dupLm.keySet == baseLm.keySet,
      s"vocab drifted: extra ${(dupLm.keySet -- baseLm.keySet).take(5)}, " +
        s"lost ${(baseLm.keySet -- dupLm.keySet).take(5)}")
    baseLm.foreach { case (p, lp) =>
      assert(dupLm(p) == lp, s"logprob drifted for '$p': ${dupLm(p)} vs $lp")
    }
  }

  test("fractional boilerplate threshold is invariant under corpus duplication") {
    import graft.operators.TextAnalysis
    // 20 docs share a footer; 3 docs share a rarer line. At 25% the
    // footer strips and the rare line survives — and the SAME must hold
    // on the 6x-duplicated corpus (doc counts and the ceil threshold both
    // scale by k). The absolute-threshold mode is demonstrably NOT
    // invariant on the same data: the rare line crosses maxDocs=4 only
    // after duplication.
    val docs = ((1 to 20).map(i => (i.toLong, s"body $i\nshared footer")) ++
      (21 to 23).map(i => (i.toLong, s"body $i\nrare line"))).toDF("id", "text")
    val k = 6
    val dup = (0 until k)
      .map(c => docs.withColumn("id", col("id") + lit(c * 1000L)))
      .reduce(_ unionByName _)
    def clean(df: org.apache.spark.sql.DataFrame, frac: Double) = TextAnalysis
      .stripBoilerplate(df, "id", "text", maxDocs = 1, maxDocFraction = frac)
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val base = clean(docs, 0.25)
    assert(base(1L) == "body 1", "footer (20/23 docs) must strip at 25%")
    assert(base(21L) == "body 21\nrare line", "rare line (3/23) must survive")
    val amp = clean(dup, 0.25)
    (0 until k).foreach { c =>
      base.foreach { case (id, t) =>
        assert(amp(id + c * 1000L) == t, s"copy $c doc $id cleaned differently")
      }
    }
    // absolute mode: invariance breaks by design (18 > 4 after 6x)
    val absBase = TextAnalysis
      .stripBoilerplate(docs, "id", "text", maxDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val absAmp = TextAnalysis
      .stripBoilerplate(dup, "id", "text", maxDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(absBase(21L).contains("rare line") && !absAmp(21L).contains("rare line"),
      "absolute threshold should be scale-sensitive on this fixture")
  }

  test("TF-IDF is invariant under corpus duplication (smooth idf cancels k)") {
    // ln(kN / k*df) = ln(N / df) and both divisions are correctly-rounded
    // forms of the same real number, so every replica doc must score
    // bit-identically to its base doc
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .localCheckpoint()
    val n = docs.count()
    val k = 7
    val dup = (0 until k)
      .map(c => docs.withColumn("doc_id", col("doc_id") + lit(c * 1000000L)))
      .reduce(_ unionByName _)
    val base = TextAnalysis
      .tfIdfTopTerms(docs, "doc_id", "text", docCount = n)
      .collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> ((r.getString(1), r.getDouble(4))))
      .toMap
    val amp = timed(s"tfIdfTopTerms on the ${k}x corpus") {
      TextAnalysis
        .tfIdfTopTerms(dup, "doc_id", "text", docCount = n * k)
        .collect()
        .map(r => (r.getLong(0), r.getInt(5)) -> ((r.getString(1), r.getDouble(4))))
        .toMap
    }
    assert(amp.size == k * base.size)
    (0 until k).foreach { c =>
      base.foreach { case ((id, rank), v) =>
        assert(amp((id + c * 1000000L, rank)) == v,
          s"copy $c doc $id rank $rank drifted")
      }
    }
  }

  test("event analytics scale exactly linearly under user-rekeyed amplification") {
    // 5 re-keyed copies of the events table: same timestamps, disjoint
    // users => every session replicates exactly 5x. Path/transition
    // counts must scale by EXACTLY 5 and the conditional probabilities
    // must be bit-identical — a quadratic blowup, a cross-copy session
    // leak, or a probability drift all fail the equality, with no DuckDB
    // round-trip. (The sf0.001 table keeps the suite fast; the property
    // is size-independent.)
    import graft.operators.Sessionize
    val ev = ScaleQueries
      .events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts", "event_type")
      .localCheckpoint()
    val k = 5
    val amp = (0 until k)
      .map { c =>
        ev.withColumn("user_id", col("user_id") + lit(c * 1000000L))
          .withColumn("event_id", col("event_id") + lit(c * 10000000L))
      }
      .reduce(_ unionByName _)
    val baseTr = Sessionize
      .eventTransitions(ev, 1800)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val ampTr = timed(s"eventTransitions on the ${k}x corpus") {
      Sessionize
        .eventTransitions(amp, 1800)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
    }
    assert(ampTr.keySet == baseTr.keySet, "amplification invented/lost adjacencies")
    baseTr.foreach { case (key, (n, p)) =>
      assert(ampTr(key)._1 == k * n, s"$key: ${ampTr(key)._1} != $k*$n")
      assert(ampTr(key)._2 == p, s"$key: probability drifted ${ampTr(key)._2} vs $p")
    }
    val basePaths = Sessionize
      .frequentPaths(ev, 1800, pathLen = 3)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val ampPaths = timed(s"frequentPaths on the ${k}x corpus") {
      Sessionize
        .frequentPaths(amp, 1800, pathLen = 3)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    }
    assert(ampPaths.keySet == basePaths.keySet)
    basePaths.foreach { case (path, (occ, sess)) =>
      assert(ampPaths(path) == ((k * occ, k * sess)),
        s"$path: ${ampPaths(path)} != ($k*$occ, $k*$sess)")
    }
  }

  test("PPJoin filters bound set-similarity candidates on a small-vocab adversarial corpus") {
    // THE adversarial shape for the plain inverted-index join: a tiny
    // Zipf-ish vocabulary, so the hot tokens' posting lists are most of
    // the corpus and full-set indexing degrades toward all-pairs — while
    // TRUE similarity stays low. The df-ordered prefixes pick each doc's
    // RARE tail instead, the length filter kills the 4-tier size spread
    // (10/18/26/34 tokens; J >= 0.8 forces near-equal sizes), and the
    // positional bound prunes deep-vs-shallow token matches. A UNIFORM
    // tiny vocabulary is the honest limit of the technique (all dfs equal
    // -> no discriminative prefix; measured ~1.8x there), which is why
    // the bound is asserted on the distribution real corpora have.
    // Deterministic seed.
    val rnd = new scala.util.Random(20260816L)
    val vocab = (0 until 40).map(i => f"w$i%02d")
    def draw(): String =
      vocab(math.min(39, (math.pow(rnd.nextDouble(), 2.5) * 40).toInt))
    // four multiplicatively-spaced size tiers (every cross-tier ratio is
    // < 0.8, so the length filter must kill every cross-tier pair);
    // distinct draws so the tier IS the exact set size
    val tierLens = Array(8, 11, 15, 20)
    val base = (0 until 1200).map { i =>
      val want = tierLens(i % 4)
      val s = scala.collection.mutable.LinkedHashSet[String]()
      while (s.size < want) s += draw()
      (i.toLong, s.mkString(" "))
    }
    // planted near-duplicates (on the largest tier: one token of 20
    // swapped -> J = 19/21 = 0.905) so the exactness check is non-trivial
    val nearDups = (0 until 10).map { i =>
      val toks = base(i * 4 + 3)._2.split(" ").toSeq
      val sub = vocab.find(w => !toks.contains(w)).get
      (5000L + i, toks.updated(0, sub).mkString(" "))
    }
    val docs = (base ++ nearDups).toDF("doc_id", "text")

    val sets = docs.select(
      col("doc_id").as("__id"),
      array_distinct(split(col("text"), " ")).as("__set")
    )
    val inverted = sets
      .select(col("__id"), explode(col("__set")).as("__shingle"),
        size(col("__set")).as("__n"))
      .localCheckpoint()

    // the plain inverted-index candidate count this corpus punishes
    val plain = inverted.select("__id", "__shingle")
      .join(inverted.select(col("__id").as("__id2"), col("__shingle")),
        Seq("__shingle"))
      .filter(col("__id") < col("__id2"))
      .select("__id", "__id2")
      .distinct()
      .count()
    val allPairs = {
      val n = docs.count(); n * (n - 1) / 2
    }
    val ppjoin = timed("jaccardCandidates (prefix+length+positional)") {
      Dedup.jaccardCandidates(inverted, 0.8).count()
    }
    info(s"jaccard candidates: all-pairs=$allPairs plain=$plain ppjoin=$ppjoin")
    // small vocab: the plain index really does degrade toward all-pairs
    assert(plain * 2 > allPairs, s"corpus not adversarial: plain=$plain")
    // THE bound under review: the PPJoin stack must cut candidates by a
    // wide margin (measured ~9.5x on this seed; 7x is the regression
    // floor — one filter silently dying drops it under 3x)
    assert(ppjoin * 7 <= plain,
      s"ppjoin=$ppjoin vs plain=$plain — prefix/length/positional filters lost their bite")

    // exactness: the filters are candidate-only — the verified result
    // equals driver-side brute force over all pairs
    val got = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", shingleK = 1, threshold = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val local = (base ++ nearDups).map { case (id, t) => id -> t.split(" ").toSet }
    val want = (for {
      (ia, sa) <- local
      (ib, sb) <- local
      if ia < ib
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.8
    } yield (ia, ib) -> j).toMap
    assert(want.nonEmpty, "planted near-dups produced no true pairs")
    assert(got.keySet == want.keySet)
    want.foreach { case (k2, j) => assert(math.abs(got(k2) - j) < 1e-12, s"pair $k2") }

    // containment: same corpus, same bound, directional counts
    val plainDir = inverted.select("__id", "__shingle")
      .join(inverted.select(col("__id").as("__id2"), col("__shingle")),
        Seq("__shingle"))
      .filter(col("__id") =!= col("__id2"))
      .select("__id", "__id2")
      .distinct()
      .count()
    val ppjoinDir = timed("containmentCandidates (prefix+length+positional)") {
      Dedup.containmentCandidates(inverted, 0.9).count()
    }
    info(s"containment candidates: plain=$plainDir ppjoin=$ppjoinDir")
    // smaller cut than Jaccard BY DESIGN: containment legitimately keeps
    // small-in-large pairs, so the length filter is one-directional and
    // cross-tier pairs survive (measured ~4.4x on this seed; 3x floor)
    assert(ppjoinDir * 3 <= plainDir,
      s"ppjoinDir=$ppjoinDir vs plainDir=$plainDir — containment filters lost their bite")
    val gotC = Dedup
      .containmentPairs(docs, "doc_id", "text", shingleK = 1, threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val wantC = (for {
      (ia, sa) <- local
      (ib, sb) <- local
      if ia != ib
      c = (sa & sb).size.toDouble / sa.size
      if c >= 0.9
    } yield (ia, ib, c)).toSet
    assert(gotC == wantC, s"got ${gotC.size} containment pairs, want ${wantC.size}")
  }
}
