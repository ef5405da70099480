package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Decontam, Dedup, Sessionize, Similarity, Splits, Stats, TextAnalysis}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Planted-case tests for the scale operators (dedup / similarity / text /
  * sessionization). */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup keeps deterministic first row per key") {
    val df = Seq(
      (3L, "a", "x"), (1L, "a", "x"), (2L, "a", "y"), (5L, "b", "x")
    ).toDF("id", "k1", "k2")
    val got = Dedup.exactDedup(df, Seq("k1", "k2"), Seq(col("id")))
    checkRows(
      got,
      Seq(Row(1L, "a", "x"), Row(2L, "a", "y"), Row(5L, "b", "x"))
    )
  }

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "dog lazy the over jumps fox brown quick the"), // shuffled dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (5L, "another unrelated document mentioning nothing shared")
  ).toDF("doc_id", "text")

  test("minHash candidate pairs find shuffled duplicates") {
    val pairs = Dedup
      .minHashCandidatePairs(docs, "doc_id", "text", shingleK = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val d12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(d12.isDefined, s"expected (1,2) pair in ${pairs.mkString(",")}")
    assert(d12.get._3 == 1.0) // identical token sets => identical signatures
  }

  test("dedupNearMinHash drops the higher-id duplicate only") {
    val got = Dedup
      .dedupNearMinHash(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    assert(got.contains(1L) && !got.contains(2L))
    assert(got.contains(3L) && got.contains(5L))
  }

  test("ngramJaccardPairs computes exact token-set jaccard") {
    val pairs = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", shingleK = 1, threshold = 0.5)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc1 vs doc4: tokens {the,quick,brown,fox,jumps,over,lazy,dog} vs
    // {...,cat}: intersection 7, union 9
    assert(math.abs(pairs((1L, 4L)) - 7.0 / 9.0) < 1e-12)
    assert(!pairs.contains((1L, 3L)))
  }

  test("prefix-filtered jaccard matches brute force on real documents") {
    val d = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 120)
    val got = Dedup
      .ngramJaccardPairs(d, "doc_id", "text", 1, 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // brute force driver-side over all pairs
    val sets = d
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSet)
    val expected = (for {
      (ia, sa) <- sets
      (ib, sb) <- sets
      if ia < ib
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.8
    } yield (ia, ib) -> j).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, j) =>
      assert(math.abs(got(k) - j) < 1e-12, s"pair $k")
    }
  }

  test("agg-form simhash is bit-identical to the HOF spec form") {
    val d = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 200)
    val hof = d
      .select(
        col("doc_id"),
        TextFunctions.simHash(TextFunctions.tokens(col("text"))).as("simhash")
      )
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val agg = Dedup
      .simHashSignatures(d, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(agg.keySet == hof.keySet)
    agg.foreach { case (id, s) =>
      assert(s == hof(id), s"simhash mismatch for doc $id")
    }
  }

  test("connected components: min label over chains, separate components") {
    // chain 1-2-3 plus pair 7-9; 5 appears only via self-free edge list
    val edges = Seq((2L, 1L), (2L, 3L), (9L, 7L)).toDF("a", "b")
    val got = graft.operators.Graphs
      .connectedComponentsByMinLabel(edges, "a", "b")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("kCenterSampleScalable covers planted clusters within the exact greedy's radius bound") {
    // 8 tight clusters far apart in 8-dim: any decent k-center picks one
    // point per cluster; radius = worst intra-cluster spread
    val rnd = new scala.util.Random(11)
    val rows = for {
      c <- 0 until 8
      i <- 0 until 30
    } yield {
      val center = Array.tabulate(8)(d => if (d == c) 10.0f else 0.0f)
      val jitter = Array.fill(8)((rnd.nextInt(21) - 10) / 100.0f) // <= 0.1/dim
      ((c * 30 + i).toLong, center.zip(jitter).map { case (a, b) => a + b })
    }
    val df = rows.toDF("id", "vec")
    def radius(chosen: Set[Long]): Double = {
      val centers = rows.filter(r => chosen(r._1)).map(_._2)
      rows.map { case (_, v) =>
        centers.map { cv =>
          v.zip(cv).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
        }.min
      }.max
    }
    val exact = Similarity.kCenterSample(df, "id", "vec", k = 8)
      .collect().map(_.getLong(0)).toSet
    val scalable = Similarity
      .kCenterSampleScalable(df, "id", "vec", k = 8, oversample = 4.0, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(scalable.length == 8)
    assert(scalable.map(_._2).sorted.toSeq == (0 until 8), "ranks must be 0..k-1")
    val scalableIds = scalable.map(_._1).toSet
    // every planted cluster must be covered (one center per cluster)
    assert(scalableIds.map(_ / 30).size == 8,
      s"missed a cluster: ${scalableIds.map(_ / 30)}")
    // coverage radius within 2x of the exact greedy's
    val rExact = radius(exact)
    val rScal = radius(scalableIds)
    assert(rScal <= 2.0 * rExact + 1e-9, s"radius $rScal vs exact $rExact")
    // deterministic across runs; salt re-keys the draw but keeps coverage
    val again = Similarity
      .kCenterSampleScalable(df, "id", "vec", k = 8, oversample = 4.0, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(scalable.toSeq == again.toSeq, "must be deterministic")
    // k exceeding distinct vectors stops short instead of looping
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f))
    ).toDF("id", "vec")
    val short = Similarity.kCenterSampleScalable(tiny, "id", "vec", k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(short == Set(1L, 3L), s"duplicates cannot be centers: $short")
  }

  test("CC pointer jump contracts a long chain in O(log diameter) rounds") {
    // 129-vertex chain (diameter 128): pure neighbor propagation needs
    // ~128 rounds and would blow the default maxIterations = 20; the
    // label-edge pointer jump (grandparent label delivered through the
    // same propagation join) must keep contraction ~doubling per round,
    // so convergence — including the confirmation round — fits well
    // inside the default budget. Guards the fused single-join round shape
    // against silently degrading to O(diameter).
    val chain = (1L until 129L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = graft.operators.Graphs
      .connectedComponentsByMinLabel(chain, "a", "b")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(comp.size == 129 && comp.values.forall(_ == 1L),
      "default maxIterations must suffice for a 128-diameter chain")
  }

  test("CC fails loudly when maxIterations runs out before convergence") {
    // the same 129-vertex chain needs more than 2 rounds: returning the
    // half-propagated labels would silently split one component
    val chain = (1L until 129L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      graft.operators.Graphs
        .connectedComponentsByMinLabel(chain, "a", "b", maxIterations = 2)
    }
    assert(e.getMessage.contains("2 rounds"), e.getMessage)
  }

  test("CC convergence check rides the update job (fewer jobs than an eager-checkpoint loop)") {
    // chain graph forcing several propagation rounds
    val edges = (1L until 16L).map(i => (i, i + 1)).toDF("a", "b")

    def jobsOf(body: => Unit): Int = {
      val gid = "cc-jobs-" + java.util.UUID.randomUUID().toString
      spark.sparkContext.setJobGroup(gid, "count jobs", interruptOnCancel = false)
      try body
      finally spark.sparkContext.clearJobGroup()
      // statusTracker is fed by the async listener bus: poll until stable
      var prev = -1
      var cur = spark.sparkContext.statusTracker.getJobIdsForGroup(gid).length
      while (cur != prev) {
        Thread.sleep(200)
        prev = cur
        cur = spark.sparkContext.statusTracker.getJobIdsForGroup(gid).length
      }
      cur
    }

    var folded: Map[Long, Long] = Map.empty
    val foldedJobs = jobsOf {
      folded = graft.operators.Graphs
        .connectedComponentsByMinLabel(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(folded.size == 16 && folded.values.forall(_ == 1L))

    // the pre-fold shape: EAGER checkpoint (its own job) + separate checksum
    // action per round — the folded implementation must beat it
    def checksum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
    val unfoldedJobs = jobsOf {
      val sym = edges
        .select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
        .union(edges.select(col("b").cast("long").as("src"), col("a").cast("long").as("dst")))
        .distinct().localCheckpoint()
      var labels = sym.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")).localCheckpoint()
      var prevSum = checksum(labels)
      var converged = false
      var i = 0
      while (!converged && i < 20) {
        val neighborMin = sym.join(labels, sym("dst") === labels("id"))
          .groupBy("src").agg(min("component").as("__nmin"))
        val stepped = labels
          .join(neighborMin, labels("id") === neighborMin("src"), "left")
          .select(labels("id").as("id"),
            least(col("component"), coalesce(col("__nmin"), col("component"))).as("component"))
        val parents = labels.select(col("id").as("__pid"), col("component").as("__pcomp"))
        val updated = stepped
          .join(parents, stepped("component") === col("__pid"), "left")
          .select(stepped("id"),
            least(stepped("component"), coalesce(col("__pcomp"), stepped("component"))).as("component"))
          .localCheckpoint() // EAGER: a materialization job per round...
        val newSum = checksum(updated) // ...plus the convergence action
        converged = newSum == prevSum
        prevSum = newSum
        labels = updated
        i += 1
      }
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == folded)
    }
    assert(foldedJobs < unfoldedJobs,
      s"folded convergence check must launch fewer jobs: $foldedJobs vs $unfoldedJobs")
  }

  test("transitive dedup drops B linked only through C (A~C, B~C edges)") {
    // A~B~C via shared neighbor: edges (1,3) and (2,3). Direct pair (1,2)
    // absent. Non-transitive keeps 2 (it never appears as id_b); transitive
    // assigns {1,2,3} one component with min 1 and drops both 2 and 3.
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val comp = graft.operators.Graphs
      .connectedComponentsByMinLabel(edges, "id_a", "id_b")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(comp(2L) == 1L && comp(3L) == 1L && comp(1L) == 1L)
  }

  test("dedupNearMinHash transitive retention is a subset keeping minima") {
    val d = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 300)
    val plain = Dedup
      .dedupNearMinHash(d, "doc_id", "text", threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val trans = Dedup
      .dedupNearMinHash(d, "doc_id", "text", threshold = 0.9, transitive = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trans.subsetOf(plain), "transitive mode must only drop more")
    assert(trans.contains(plain.min))
  }

  test("simhash of identical token multisets is equal; near dup is close") {
    val sigs = Dedup
      .simHashSignatures(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(sigs(1L) == sigs(2L)) // same tokens, order-insensitive
    val h14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    val h13 = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(h14 < h13, s"near-dup hamming $h14 should be < unrelated $h13")
  }

  test("simHashCandidatePairs returns the shuffled-dup pair at distance 0") {
    val pairs = Dedup
      .simHashCandidatePairs(docs, "doc_id", "text", maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("dedupNearSimHash drops the shuffled duplicate, keeps distinct docs") {
    val got = Dedup
      .dedupNearSimHash(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    // docs 1 and 2 have identical token multisets => identical simhash
    assert(got.contains(1L) && !got.contains(2L))
    assert(got.contains(3L) && got.contains(5L))
  }

  test("cosine similarity matches hand computation") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(1.0f, 1.0f, 0.0f)),
      (4L, Seq(2.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 1L)
    val got = Similarity
      .cosineTopK(df, q, "vec_id", "embedding", 3)
      .collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // neighbors of (1,0,0): id4 cos=1, id3 cos=1/sqrt(2), id2 cos=0
    assert(got(0)._1 == 4L && math.abs(got(0)._2 - 1.0) < 1e-12)
    assert(got(1)._1 == 3L && math.abs(got(1)._2 - 1.0 / math.sqrt(2)) < 1e-12)
    assert(got(2)._1 == 2L && math.abs(got(2)._2) < 1e-12)
  }

  test("native cosine expression is bit-identical to the HOF form") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val a = e.select(col("vec_id"), col("embedding").as("va")).filter(col("vec_id") < 50)
    val b = e.select(col("vec_id").as("vb_id"), col("embedding").as("vb"))
      .filter(col("vb_id") >= 50 && col("vb_id") < 100)
    val pairs = a.crossJoin(b)
    val diffs = pairs
      .select(
        graft.functions.VectorFunctions.cosineSimilarity(col("va"), col("vb")).as("hof"),
        graft.functions.VectorFunctions.cosineSimilarityNative(col("va"), col("vb")).as("native")
      )
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0, "native cosine diverged from HOF fold")
  }

  test("native hyperplane bucket is bit-identical to the HOF form") {
    import graft.functions.VectorFunctions
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val banks = Similarity.randomHyperplaneBanks(4, 5, 64)
    banks.foreach { planes =>
      val diffs = e
        .select(
          VectorFunctions.hyperplaneBucketHof(col("embedding"), planes).as("hof"),
          VectorFunctions.hyperplaneBucket(col("embedding"), planes).as("native")
        )
        .filter(col("hof") =!= col("native"))
        .count()
      assert(diffs == 0, "native hyperplane bucket diverged from HOF fold")
    }
  }

  test("multi-band embedding dedup recalls >= 0.8 of true pairs") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val banks = Similarity.randomHyperplaneBanks(16, 3, 64)
    // ground truth: all pairs with cosine >= 0.4 (brute force)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val truth = a
      .join(b, col("ia") < col("ib"))
      .select(
        col("ia"), col("ib"),
        VectorFunctions.cosineSimilarityNative(col("va"), col("vb")).as("c")
      )
      .filter(col("c") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup
      .embeddingDedupPairsMultiBand(e, "vec_id", "embedding", banks, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "multi-band must never invent pairs")
    if (truth.nonEmpty) {
      val recall = got.size.toDouble / truth.size
      assert(recall >= 0.8, s"recall $recall (${got.size}/${truth.size})")
    }
  }

  test("fillTimeGaps emits zero rows for empty buckets in each key's span") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:50:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 03:05:00")), // gap: hours 1, 2
      (2L, java.sql.Timestamp.valueOf("2024-01-01 05:30:00"))  // single bucket
    ).toDF("user_id", "ts")
    val got = Sessionize
      .fillTimeGaps(df, "user_id", "ts", 3600L)
      .orderBy("user_id", "bucket_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 2L),
      (1L, "2024-01-01 01:00:00.0", 0L),
      (1L, "2024-01-01 02:00:00.0", 0L),
      (1L, "2024-01-01 03:00:00.0", 1L),
      (2L, "2024-01-01 05:00:00.0", 1L)
    ))
  }

  test("weightedRepeat repeats per-stratum weights deterministically") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = graft.operators.Splits
      .weightedRepeat(d, "doc_id", "source", Seq("src0" -> 2.5, "src1" -> 0.5))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("copies"), max("copy_id").as("max_copy"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (id, src, copies, maxCopy) =>
      assert(maxCopy == copies - 1, s"copy ids must be 0..n-1 for doc $id")
      src match {
        case "src0" => assert(copies == 2 || copies == 3, s"doc $id: $copies")
        case "src1" => assert(copies == 1, s"doc $id: $copies") // 0-copy rows absent
        case _      => assert(copies == 1, s"doc $id: $copies")
      }
    }
    // weight-0.5 strata drop about half their rows entirely
    val src1In = d.filter(col("source") === "src1").count()
    val src1Out = got.count(_._2 == "src1")
    assert(src1Out < src1In && src1Out > 0, s"$src1Out of $src1In")
    // determinism: identical copy multiset on a second evaluation
    val again = graft.operators.Splits
      .weightedRepeat(d, "doc_id", "source", Seq("src0" -> 2.5, "src1" -> 0.5))
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toSet ==
      again.map(t => (t._1, t._2)))
  }

  test("duplicationReport summarizes exact-dup clusters") {
    val df = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "unique one"), (5L, "unique two"), (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = Dedup.duplicationReport(df, "text").head()
    assert(r.getLong(0) == 5L) // n_docs (null excluded)
    assert(r.getLong(1) == 3L) // n_unique
    assert(r.getLong(2) == 3L) // n_dup_docs
    assert(r.getDouble(3) == 0.6) // dup_frac
    assert(r.getLong(4) == 3L) // max_cluster
  }

  test("chunkDedup drops corpus-frequent chunks and reassembles in order") {
    val df = Seq(
      (1L, "a b x x c d"), // chunks: "a b", "x x", "c d"
      (2L, "x x e f"), // "x x" occurs twice corpus-wide -> dropped at maxFreq=1
      (3L, "g h")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .chunkDedup(df, "doc_id", "text", chunkTokens = 2, maxFreq = 1)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(
      got.toSeq == Seq(
        (1L, 2, 1, "a b c d"),
        (2L, 1, 1, "e f"),
        (3L, 1, 0, "g h")
      )
    )
  }

  test("chunkDedup keeps fully-boilerplate docs as empty rows") {
    val df = Seq((1L, "x x"), (2L, "x x"), (3L, "y z")).toDF("doc_id", "text")
    val got = TextAnalysis
      .chunkDedup(df, "doc_id", "text", chunkTokens = 2, maxFreq = 1)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    assert(got.toSeq == Seq((1L, 0, ""), (2L, 0, ""), (3L, 1, "y z")))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  test("spanDedup removes shared spans from non-canonical occurrences only") {
    val df = Seq(
      (1L, "a b c d e f"), // canonical occurrence of the shared span
      (2L, "x y a b c d z"), // repeats "a b c d" -> those 4 tokens cut
      (3L, "a b q"), // unique gram, untouched
      (4L, "p q r p q r"), // within-doc repeat: second occurrence cut
      (5L, "u v"), // shorter than spanTokens: no grams, untouched
      (6L, null) // null text: excluded, like every text operator here
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .spanDedup(df, "doc_id", "text", spanTokens = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(
      got.toSeq == Seq(
        (1L, 6, 0, md5hex("a b c d e f")),
        (2L, 7, 4, md5hex("x y z")),
        (3L, 3, 0, md5hex("a b q")),
        (4L, 6, 3, md5hex("p q r")),
        (5L, 2, 0, md5hex("u v"))
      )
    )
  }

  test("spanDedup erases fully-duplicated docs to the empty digest") {
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b c d") // every position covered -> empty survivor
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .spanDedup(df, "doc_id", "text", spanTokens = 4)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3)))
    assert(
      got.toSeq == Seq(
        (1L, 0, md5hex("a b c d")),
        (2L, 4, md5hex(""))
      )
    )
  }

  test("token classifier separates reference-like from crawl-like docs") {
    val pos = Seq(
      (1L, "clean fluent reference prose"),
      (2L, "fluent reference prose again")
    ).toDF("doc_id", "text")
    val neg = Seq(
      (3L, "spam junk noise garbage"),
      (4L, "junk noise garbage spam spam")
    ).toDF("doc_id", "text")
    val model =
      TextAnalysis.trainTokenClassifier(pos, neg, "text", numBuckets = 4096)
    assert(model.count() == 4096L) // one weight per bucket, unseen included
    val scored = TextAnalysis
      .classifierScore(
        pos.unionByName(neg),
        "doc_id",
        "text",
        model,
        numBuckets = 4096
      )
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
      .toMap
    assert(scored(1L) > 0 && scored(2L) > 0, s"positive docs: $scored")
    assert(scored(3L) < 0 && scored(4L) < 0, s"negative docs: $scored")
  }

  test("shuffleIntoShards is deterministic and covers all shards") {
    val df = spark.range(200).toDF("id")
    val a = graft.operators.Splits
      .shuffleIntoShards(df, "id", nShards = 16, salt = "ep0")
    val rows = a.orderBy("id").collect()
    assert(rows.forall { r =>
      val s = r.getInt(1); s >= 0 && s < 16 && r.getString(2).length == 32
    })
    assert(rows.map(_.getInt(1)).distinct.length == 16)
    // same salt -> identical permutation; different salt -> different one
    val b = graft.operators.Splits
      .shuffleIntoShards(df, "id", nShards = 16, salt = "ep0")
      .orderBy("id")
      .collect()
    assert(rows.sameElements(b))
    val c = graft.operators.Splits
      .shuffleIntoShards(df, "id", nShards = 16, salt = "ep1")
      .orderBy("id")
      .collect()
    assert(!rows.map(_.getString(2)).sameElements(c.map(_.getString(2))))
  }

  test("unigramLogProb scores rare-token docs below common-token docs") {
    val df = Seq((1L, "a a a a"), (2L, "a a a b")).toDF("doc_id", "text")
    val got = TextAnalysis
      .unigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // corpus: a x7, b x1, total 8. doc1 = ln(7/8); doc2 = (3 ln(7/8) + ln(1/8))/4
    assert(got(0) == ((1L, 4, -0.133531)))
    assert(got(1) == ((2L, 4, -0.620009)))
    assert(got(0)._3 > got(1)._3)
  }

  test("packSequences assigns blocks by per-shard running token count") {
    val df = Seq(
      (1L, "a b c", "s"), // starts at 0 -> block 0, offset 0
      (2L, "d e f", "s"), // starts at 3 -> block 0, offset 3
      (3L, "g", "s"), // starts at 6 -> block 1, offset 2
      (4L, "h i j k l", "s"), // starts at 7 -> block 1, offset 3
      (5L, "m n", "t") // other shard packs independently from 0
    ).toDF("doc_id", "text", "src")
    val got = graft.operators.Splits
      .packSequences(df, "doc_id", "text", "src", blockTokens = 4)
      .select("doc_id", "n_tokens", "block_id", "block_offset")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(
      got.toSeq == Seq(
        (1L, 3, 0L, 0L),
        (2L, 3, 0L, 3L),
        (3L, 1, 1L, 2L),
        (4L, 5, 1L, 3L),
        (5L, 2, 0L, 0L)
      )
    )
  }

  test("histogram bins with edge clamping") {
    val df = (0 until 10).map(i => Tuple1(i.toDouble)).toDF("v")
      .union(Seq(Tuple1(-5.0), Tuple1(99.0)).toDF("v"))
    val got = graft.operators.Stats
      .histogram(df, "v", 0.0, 10.0, 5)
      .orderBy("bin")
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(
      got.toSeq == Seq(
        (0, 0.0, 2.0, 3L), // 0, 1 and the clamped -5
        (1, 2.0, 4.0, 2L),
        (2, 4.0, 6.0, 2L),
        (3, 6.0, 8.0, 2L),
        (4, 8.0, 10.0, 3L) // 8, 9 and the clamped 99
      )
    )
  }

  test("winsorize clips to per-group rounded percentiles") {
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val got = graft.operators.Stats
      .winsorize(df, Seq("grp"), "v", 0.1, 0.9, exact = true)
      .orderBy("v")
      .collect()
      .map(r => (r.getDouble(1), r.getDouble(4))) // v, v_wins
    // percentile(0.1) = 1.9, percentile(0.9) = 9.1 (linear interpolation)
    assert(got.map(_._2).min == 1.9 && got.map(_._2).max == 9.1)
    assert(got.count { case (v, w) => v != w } == 2) // only 1.0 and 10.0 clip
    got.foreach { case (v, w) => assert(w == math.min(math.max(v, 1.9), 9.1)) }
  }

  test("pageRank matches a driver-side reference incl. dangling mass") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 2L))
    def ref(iters: Int, d: Double): Map[Long, Double] = {
      val e = edges.distinct
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
      val n = nodes.size.toDouble
      val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
      var r = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val dangling = nodes.filterNot(out.contains).map(r).sum
        val inflow = e
          .groupBy(_._2)
          .view
          .mapValues(_.map { case (s, _) => r(s) / out(s) }.sum)
          .toMap
        r = nodes
          .map(v => v -> ((1 - d) / n + d * (inflow.getOrElse(v, 0.0) + dangling / n)))
          .toMap
      }
      r
    }
    val expected = ref(5, 0.85)
    val got = graft.operators.Graphs
      .pageRank(edges.toDF("src", "dst"), "src", "dst", iterations = 5)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, rank) =>
      assert(math.abs(rank - expected(id)) < 1e-9, s"node $id")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass conserved")
  }

  test("profile reports nulls, distincts, and stringified min/max per column") {
    val df = Seq(
      (1L, Some(2.5), "b"),
      (2L, None, "a"),
      (3L, Some(2.5), "c")
    ).toDF("id", "v", "s")
    val got = graft.operators.Stats
      .profile(df, Seq("id", "v", "s"))
      .orderBy("column")
      .collect()
      .map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5))
      )
    assert(
      got.toSeq == Seq(
        ("id", 3L, 0L, 3L, "1", "3"),
        ("s", 3L, 0L, 3L, "a", "c"),
        ("v", 3L, 1L, 1L, "2.5", "2.5")
      )
    )
  }

  test("profile approx-distinct mode stays within 5% of exact on real data") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    def distincts(approx: Boolean): Map[String, Long] = graft.operators.Stats
      .profile(d, cols, approxDistinct = approx)
      .collect()
      .map(r => r.getString(0) -> r.getLong(3))
      .toMap
    val exact = distincts(approx = false)
    val est = distincts(approx = true)
    cols.foreach { c =>
      val err = math.abs(est(c) - exact(c)).toDouble / math.max(exact(c), 1L)
      assert(err <= 0.05, s"$c: est ${est(c)} vs exact ${exact(c)}")
    }
  }

  test("containmentPairs equals brute-force containment on real documents") {
    val d = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 120)
    val got = Dedup
      .containmentPairs(d, "doc_id", "text", shingleK = 2, threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // brute force: distinct 2-gram sets, all ordered pairs
    val sets = d
      .select(
        col("doc_id"),
        array_distinct(TextFunctions.shingles(col("text"), 2)).as("s")
      )
      .collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[String]](1).toSet))
    val want = (for {
      (ia, sa) <- sets
      (ib, sb) <- sets
      if ia != ib
      c = (sa & sb).size.toDouble / sa.size
      if c >= 0.9
    } yield (ia, ib, c)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("containment is direction-sensitive: subset scores 1.0 one way") {
    val df = Seq(
      (1L, "a b c d e"),            // 2-grams: ab bc cd de
      (2L, "a b c d e f g h i j")   // superset of 1's grams
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .containmentPairs(df, "doc_id", "text", shingleK = 2, threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)), pairs.mkString(","))
  }

  test("decontaminate drops exactly the train docs sharing a test n-gram") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),      // shares "beta gamma delta"
      (2L, "epsilon zeta eta theta"),      // no shared 3-gram
      (3L, "iota beta gamma delta kappa")  // shares "beta gamma delta"
    ).toDF("doc_id", "text")
    val test = Seq((100L, "zzz beta gamma delta yyy")).toDF("doc_id", "text")

    val kept = graft.operators.Decontam
      .decontaminate(train, test, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L))

    val report = graft.operators.Decontam
      .contaminationReport(train, test, "doc_id", "text", n = 3)
      .select("doc_id", "n_shared_grams", "contaminated")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    // doc 1 shares "beta gamma delta" and doc 3 shares it too (1 distinct
    // gram each); doc 2 shares none
    assert(report.toSeq == Seq((1L, 1L, true), (2L, 0L, false), (3L, 1L, true)))
  }

  /** The explode -> broadcast semi-join -> distinct-ids -> anti-join form
    * the per-row kernel of `Decontam.decontaminate` replaced: the test
    * reference. Kept (doc_id) rows, sorted. */
  private def decontamReference(
      train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame,
      n: Int
  ): Seq[Long] = {
    val testGrams = broadcast(
      test.select(explode(TextFunctions.shingles(col("text"), n)).as("__gram")).distinct()
    )
    val contaminatedIds = train
      .select(col("doc_id"), explode(TextFunctions.shingles(col("text"), n)).as("__gram"))
      .join(testGrams, Seq("__gram"), "left_semi")
      .select("doc_id")
      .distinct()
    train.join(contaminatedIds, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
  }

  /** The report form the kernel replaced: distinct shared grams per id by
    * explode -> broadcast join -> count, left-joined back by id. */
  private def reportReference(
      train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame,
      n: Int
  ): Seq[(Long, Long, Boolean)] = {
    val testGrams = broadcast(
      test.select(explode(TextFunctions.shingles(col("text"), n)).as("__gram")).distinct()
    )
    val shared = train
      .select(col("doc_id"), array_distinct(TextFunctions.shingles(col("text"), n)).as("__g"))
      .select(col("doc_id"), explode(col("__g")).as("__gram"))
      .join(testGrams, Seq("__gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    reportRows(
      train.join(shared, Seq("doc_id"), "left")
        .withColumn("n_shared_grams", coalesce(col("n_shared_grams"), lit(0L)))
        .withColumn("contaminated", col("n_shared_grams") > 0)
    )
  }

  private def reportRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Boolean)] =
    df.select("doc_id", "n_shared_grams", "contaminated").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted

  test("decontamination kernel equals the explode + semi-join + distinct-ids reference") {
    // empty tokens (double, leading, trailing spaces), case, non-ASCII
    // lowercasing (İ, ß), surrogate pairs, tabs and newlines (not
    // separators), a doc repeating one shared gram, NULL and short texts
    val train = Seq[(Long, String)](
      (1L, "alpha beta gamma delta"), (2L, "  alpha  beta gamma  "),
      (3L, "ALPHA Beta GAMMA delta epsilon"), (4L, "İstanbul straße 😀 ß 𝄞 notes"),
      (5L, "tab\tseparated words stay one token"), (6L, "new\nline words stay joined"),
      (7L, "beta gamma beta gamma beta gamma beta gamma"), (8L, null), (9L, ""),
      (10L, "one"), (11L, " "), (12L, "unrelated clean words entirely"),
      (13L, "x  y"), (14L, "i̇stanbul STRASSE 😀 ß")
    ).toDF("doc_id", "text")
    val test = Seq[(Long, String)](
      (100L, "zz Beta gamma DELTA yy beta gamma"), (101L, "İSTANBUL Straße 😀 ß 𝄞"),
      (102L, "words stay one token"), (103L, "new\nline words"), (104L, null),
      (105L, "short"), (106L, "q  y"), (107L, "")
    ).toDF("doc_id", "text")
    val noEval = test.filter(col("doc_id") < 0L)
    // the local relation evaluates the kernel interpreted, the
    // repartitioned input in generated code
    for (n <- 1 to 4; (eval, label) <- Seq(test -> "eval", noEval -> "empty eval")) {
      val want = decontamReference(train, eval, n)
      val wantReport = reportReference(train, eval, n)
      for (input <- Seq(train, train.repartition(3))) {
        val kept = Decontam.decontaminate(input, eval, "doc_id", "text", n)
          .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
        assert(kept == want, s"n=$n, $label")
        val report = reportRows(Decontam.contaminationReport(input, eval, "doc_id", "text", n))
        assert(report == wantReport, s"n=$n, $label")
        assert(kept == report.filterNot(_._3).map(_._1), s"n=$n, $label")
      }
    }
    // every occurrence of the repeated shared gram counts once
    val repeated = reportRows(Decontam.contaminationReport(train, test, "doc_id", "text", 2))
      .find(_._1 == 7L).get
    assert(repeated == (7L, 1L, true), s"repeated shared gram: $repeated")
    // an empty eval set keeps every row, NULL text included
    assert(Decontam.decontaminate(train, noEval, "doc_id", "text", 3).count() == train.count())
  }

  test("decontamination drops rows, not ids") {
    // a clean row sharing its id with a contaminated one stays; a
    // contaminated row with a NULL id goes
    val train = Seq[(Option[Long], String)](
      (Some(1L), "alpha beta gamma delta"), (Some(1L), "clean words only here"),
      (None, "alpha beta gamma epsilon"), (Some(2L), "other clean words")
    ).toDF("doc_id", "text")
    val test = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val kept = Decontam.decontaminate(train, test, "doc_id", "text", 3)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(kept == Set((Some(1L), "clean words only here"), (Some(2L), "other clean words")))
    val report = Decontam.contaminationReport(train, test, "doc_id", "text", 3)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(report == Map(
      "alpha beta gamma delta" -> 1L, "clean words only here" -> 0L,
      "alpha beta gamma epsilon" -> 1L, "other clean words" -> 0L
    ))
  }

  test("a 10k-gram set prints as its size and fingerprint, compares by content") {
    val words = (0 until 10000).map(i => s"w$i")
    val test = Seq((100L, words.mkString(" "))).toDF("doc_id", "text")
    val train = Seq((1L, "w7 nothing"), (2L, "clean text")).toDF("doc_id", "text")
    val out = Decontam.decontaminate(train, test, "doc_id", "text", n = 1)
    val explained = out.queryExecution.toString
    assert(explained.contains("GramSet(10000 grams"), explained.take(2000))
    assert(explained.length < 8192, s"plan text is ${explained.length} chars")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // equal content in another order is the same set; one gram more is not
    val a = graft.plans.GramSet(Iterator(words), 1)
    val b = graft.plans.GramSet(Iterator(words.reverse, words.take(3)), 1)
    val c = graft.plans.GramSet(Iterator(words :+ "extra"), 1)
    assert(a == b && a.hashCode == b.hashCode && a.toString == b.toString)
    assert(a != c && a.size == 10000 && c.size == 10001)
  }

  /** The composed MinHash spec the native kernel replaces: explode an
    * (id, arr) table's shingle arrays, the conv(substring(md5)) seeds of
    * `minHashPreSpec` per shingle, then a per-component `min` grouped by
    * id. Returns (id, sig-as-string) sorted, for row-multiset equality. */
  private def composedMinHash(df: org.apache.spark.sql.DataFrame, numHashes: Int): Seq[(Long, String)] = {
    val seeded = df.select(col("id"), explode(TextFunctions.minHashPreSpec(col("arr"))).as("ab"))
    val mins = (0 until numHashes).map { j =>
      min((col("ab.a") + lit(j.toLong) * col("ab.b")) % TextFunctions.MinHashMod).as(s"h$j")
    }
    sigRows(
      seeded.groupBy("id").agg(mins.head, mins.tail: _*)
        .select(col("id"), array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"))
    )
  }

  /** The native kernel over the same (id, arr) table, rows without a
    * signature (NULL or empty array) dropped. */
  private def kernelMinHash(df: org.apache.spark.sql.DataFrame, numHashes: Int): Seq[(Long, String)] =
    sigRows(
      df.select(col("id"), TextFunctions.minHashOfShingles(col("arr"), numHashes).as("sig"))
        .filter(col("sig").isNotNull)
    )

  private def sigRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] = {
    assert(df.schema("sig").dataType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = true))
    df.select(col(df.columns(0)).cast("long"), to_json(col("sig")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
  }

  test("native md5 digest expressions match their composed spec forms bit-for-bit") {
    // the native Md5Prefix60Expr / MinHashSignatureExpr replace
    // conv(substring(md5(s), ...), 16, 10) chains on every portable hash
    // path (splits, DSIR buckets, shards, manifests, minhash signatures) —
    // any divergence silently reassigns buckets everywhere, so pin identity
    // over adversarial strings: unicode, empties, separators, long runs
    val strs = (0 until 500).map(i => s"s$i é中文 ${"x" * (i % 97)}") ++
      Seq("", " ", "\u0001\u0000", "shard:ep0:42", "a b c", "😀")
    val df = strs.toDF("s")
    val prefixDiff = df
      .select(
        TextFunctions.md5Prefix60(col("s")).as("native"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("spec")
      )
      .filter(col("native") =!= col("spec"))
      .count()
    assert(prefixDiff == 0, s"$prefixDiff md5Prefix60 divergences")
    // the kernel's seeds: seed a is md5Prefix60 (pinned above); every
    // string alone pins (a mod p, b) through components 0 and 1 of its
    // signature, and 7-string windows pin the per-component minimum
    val single = strs.zipWithIndex.map { case (s, i) => (i.toLong, Seq(s)) }
    val windows = strs.indices.map(i => (1000L + i, strs.slice(i, i + 7)))
    val arrs = (single ++ windows).toDF("id", "arr")
    val native = kernelMinHash(arrs, 16)
    assert(native.size == single.size + windows.size)
    assert(native == composedMinHash(arrs, 16), "minHash signature divergences")
  }

  test("MinHash kernel equals the explode + seed + per-component min spec on edge cases") {
    // NULL text, empty text and docs shorter than shingleK produce no
    // signature row (explode drops them); 1 and 16 components
    val docs = Seq[(Long, String)](
      (1L, "the quick brown fox"), (2L, null), (3L, ""), (4L, "one"),
      (5L, "two words"), (6L, "Three Word Doc"), (7L, "a  b"),
      (8L, "x y z w v u"), (9L, "é中文 😀 tokens here"), (10L, " ")
    ).toDF("doc_id", "text")
    for (k <- 1 to 3; numHashes <- Seq(1, 16)) {
      val spec = composedMinHash(
        docs.select(col("doc_id").as("id"), TextFunctions.shingles(col("text"), k).as("arr")),
        numHashes
      )
      val got = sigRows(
        Dedup.minHashSignatures(docs, "doc_id", "text", k, numHashes)
          .select(col("__id"), col("__sig").as("sig"))
      )
      assert(got == spec, s"k=$k numHashes=$numHashes")
      assert(got.forall(_._2.count(_ == ',') == numHashes - 1))
      assert(!got.exists(_._1 == 2L), "NULL text must produce no signature")
    }
    // NULL elements are skipped; an all-NULL array is the all-NULL
    // signature (min over no value), an empty or NULL array none at all
    val arrs = Seq[(Long, Seq[String])](
      (1L, Seq("a", null, "b")), (2L, Seq(null)), (3L, Seq()), (4L, null),
      (5L, Seq("a", "b")), (6L, Seq("b", "a", "a"))
    ).toDF("id", "arr")
    for (numHashes <- Seq(1, 16)) {
      val native = kernelMinHash(arrs, numHashes)
      assert(native == composedMinHash(arrs, numHashes), s"numHashes=$numHashes")
      assert(native.map(_._1) == Seq(1L, 2L, 5L, 6L))
      val byId = native.toMap
      assert(byId(2L) == Seq.fill(numHashes)("null").mkString("[", ",", "]"))
      assert(byId(1L) == byId(5L) && byId(5L) == byId(6L))
    }
  }

  test("minHashSignatures yields one signature per input row, never merged by id") {
    // the per-row contract: rows sharing an id keep their own signatures
    // (the oracle's per-row CTE), only shingle-less rows drop out
    val docs = Seq[(Long, String)](
      (1L, "alpha beta"), (1L, "gamma delta"), (2L, "alpha beta"), (3L, null)
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 1, 16)
    val rows = sigRows(sigs.select(col("__id"), col("__sig").as("sig")))
    assert(rows.map(_._1) == Seq(1L, 1L, 2L))
    val one = rows.filter(_._1 == 1L).map(_._2)
    assert(one.distinct.size == 2, s"id 1's rows were merged: $one")
    assert(one.contains(rows.find(_._1 == 2L).get._2))
  }

  test("shardManifest checksums are order-independent and null-vs-empty distinct") {
    val df = Seq(
      (0, "a", "x"), (0, "b", "y"), (1, "c", "z")
    ).toDF("shard", "c1", "c2")
    def collectManifest(d: org.apache.spark.sql.DataFrame) = Splits
      .shardManifest(d, Seq("c1", "c2"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
      .toSeq
    val base = collectManifest(df)
    // invariant under partitioning and row order — the release-integrity
    // property: any copy of the data verifies regardless of layout
    assert(collectManifest(df.repartition(7)) == base)
    assert(collectManifest(df.orderBy(col("c2").desc)) == base)
    assert(base.map(_._2) == Seq(2L, 1L))
    // NULL and empty string must not collide, nor shifted separators
    def oneChecksum(rows: Seq[(Int, String, String)]) = Splits
      .shardManifest(rows.toDF("shard", "c1", "c2"), Seq("c1", "c2"))
      .collect().map(_.getLong(2)).head
    assert(oneChecksum(Seq((0, "a", null))) != oneChecksum(Seq((0, "a", ""))))
    assert(oneChecksum(Seq((0, "ab", ""))) != oneChecksum(Seq((0, "a", "b"))))
  }

  test("crossSplitLeakage reports hand-checked per-doc 3-gram leak fractions") {
    val df = Seq(
      (1L, "a b c d e", "train"),   // train grams: abc bcd cde
      (2L, "f g h i", "train"),     // fgh ghi
      (3L, "a b c d x", "val"),     // abc bcd cdx -> abc, bcd leaked
      (4L, "p q r s", "test"),      // pqr qrs -> none leaked
      (5L, "f g h", "val"),         // fgh -> leaked
      (6L, "a b c a b c", "test"),  // distinct grams abc bca cab -> abc leaked
      (7L, "zz yy", "test")         // < 3 tokens: no grams, absent
    ).toDF("doc_id", "text", "split")
    val got = graft.operators.Decontam
      .crossSplitLeakage(df, "doc_id", "text", "split", n = 3)
      .select("doc_id", "split", "n_grams", "n_leaked", "leak_frac")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (3L, "val", 3L, 2L, 0.666667),
      (4L, "test", 2L, 0L, 0.0),
      (5L, "val", 1L, 1L, 1.0),
      (6L, "test", 3L, 1L, 0.333333)
    ))
  }

  test("vocabCoverage counts OOV tokens against a lowercased vocab") {
    val docs = Seq((1L, "a b c d"), (2L, "a a x"), (3L, "zz")).toDF("doc_id", "text")
    val vocab = Seq("a", "b", "C", "a").toDF("term") // dup + case normalize
    val got = TextAnalysis
      .vocabCoverage(docs, "doc_id", "text", vocab, "term")
      .select("doc_id", "n_tokens", "n_oov", "oov_frac")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 0.25),     // d is OOV; c covered via lowercased "C"
      (2L, 3L, 1L, 0.333333), // x OOV, repeated token counted per occurrence
      (3L, 1L, 1L, 1.0)
    ))
  }

  test("repetitionStats computes hand-checked 2-gram fractions") {
    val df = Seq(
      (1L, "a b a b a"), // 2-grams: ab, ba, ab, ba -> total 4, top 2, all dup
      (2L, "x y z")      // 2-grams: xy, yz -> total 2, top 1, none dup
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .repetitionStats(df, "doc_id", "text", n = 2)
      .select("doc_id", "total_ngrams", "top_ngram_count", "top_ngram_frac", "dup_ngram_frac")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 4L, 2L, 0.5, 1.0), (2L, 2L, 1L, 0.5, 0.0)))
    // a doc shorter than n has no n-grams and is absent
    val short = TextAnalysis
      .repetitionStats(Seq((9L, "solo")).toDF("doc_id", "text"), "doc_id", "text", n = 2)
    assert(short.count() == 0)
  }

  test("redactPatterns applies every pattern in order, all occurrences") {
    val df = Seq((1L, "mail bob@x.io and bob@y.org num 42 the end")).toDF("doc_id", "text")
    val got = TextAnalysis
      .redactPatterns(
        df,
        "text",
        Seq(
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "[EMAIL]",
          "\\b[0-9]+\\b" -> "[NUM]",
          "\\bthe\\b" -> "[W]"
        )
      )
      .select("redacted").head().getString(0)
    assert(got == "mail [EMAIL] and [EMAIL] num [NUM] [W] end")
  }

  test("native squared distance is bit-identical to the HOF form") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val a = e.select(col("vec_id"), col("embedding").as("va")).filter(col("vec_id") < 50)
    val b = e.select(col("vec_id").as("vb_id"), col("embedding").as("vb"))
      .filter(col("vb_id") >= 50 && col("vb_id") < 100)
    val diffs = a.crossJoin(b)
      .select(
        graft.functions.VectorFunctions.squaredDistance(col("va"), col("vb")).as("hof"),
        graft.functions.VectorFunctions.squaredDistanceNative(col("va"), col("vb")).as("native")
      )
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0, "native squared distance diverged from HOF fold")
  }

  test("native nearest-centroid is bit-identical to the array+argmin spec form") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = e
      .filter(col("vec_id") % 50 === 0)
      .orderBy("vec_id")
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toSeq)
      .toSeq
    import graft.functions.VectorFunctions._
    val spec = e.select(
      col("vec_id"),
      array(centroids.map(c => squaredDistanceNative(col("embedding"), typedLit(c))): _*)
        .as("__cd")
    ).select(
      col("vec_id"),
      (array_position(col("__cd"), array_min(col("__cd"))) - 1).cast("int").as("cl"),
      array_min(col("__cd")).as("d")
    )
    val native = e.select(
      col("vec_id"),
      nearestCentroid(col("embedding"), centroids).as("__nc")
    ).select(col("vec_id"), col("__nc.cluster").as("cl"), col("__nc.sq_dist").as("d"))
    val diffs = spec
      .join(native, Seq("vec_id"))
      .filter(spec("cl") =!= native("cl") || spec("d") =!= native("d"))
      .count()
    assert(diffs == 0, "nearest-centroid diverged from the array+argmin form")
    // NULL vector -> NULL struct
    val nulls = spark.range(1)
      .select(lit(null).cast("array<float>").as("v"))
      .select(nearestCentroid(col("v"), centroids).as("nc"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("annTopK recalls the exact top-1 on real embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val planes = Similarity.randomHyperplanes(4, 64)
    val q = e.filter(col("vec_id") < 2)
    val exact = Similarity
      .cosineTopK(e, q, "vec_id", "embedding", 50)
      .filter(col("rank") === 1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val approx = Similarity
      .annTopK(e, q, "vec_id", "embedding", 50, planes)
      .collect()
      .groupBy(_.getLong(0))
    // with only 4 planes (16 buckets over 500 vecs) the true top-1 need not
    // share the bucket; just assert the ANN search returns sane results
    approx.foreach { case (_, rows) =>
      assert(rows.nonEmpty)
      assert(rows.forall(r => r.getDouble(2) <= 1.000001))
    }
    assert(exact.nonEmpty)
  }

  private def recallAt(
      exact: Map[Long, Set[Long]],
      approx: Map[Long, Set[Long]]
  ): Double = {
    val hits = exact.map { case (q, truth) =>
      (truth & approx.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    hits.sum / hits.size
  }

  private def topKSets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  test("contrastivePairs: negatives exclude self and positives, counts and determinism hold") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 100)
    val banks = Similarity.randomHyperplaneBanks(8, 3, 64)
    def run() = Similarity
      .contrastivePairs(e, "vec_id", "embedding", banks,
        kPos = 2, mNeg = 4, poolSize = 32, salt = "t")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(4)))
    val rows = run()
    val neg = rows.filter(_._3 == "neg")
    val pos = rows.filter(_._3 == "pos").map(r => (r._1, r._2)).toSet
    // every anchor gets exactly mNeg negatives, never itself or a positive
    val perAnchor = neg.groupBy(_._1)
    assert(perAnchor.size == e.count())
    perAnchor.foreach { case (a, ns) =>
      assert(ns.length == 4, s"anchor $a got ${ns.length} negatives")
      assert(ns.forall(_._2 != a), s"anchor $a paired with itself")
      assert(ns.forall(n => !pos.contains((a, n._2))), s"anchor $a negative is a positive")
      assert(ns.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4))
    }
    // pure function of ids + salt: identical on a second run, different
    // negatives under a different salt (a fresh epoch draw)
    assert(run().toSeq == rows.toSeq)
    val other = Similarity
      .contrastivePairs(e, "vec_id", "embedding", banks,
        kPos = 2, mNeg = 4, poolSize = 32, salt = "t2")
      .filter(col("label") === "neg")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(other != neg.map(n => (n._1, n._2)).toSet, "salt must re-draw negatives")
  }

  test("int8-quantized top-k reaches recall@10 >= 0.9 vs the float top-k") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val exact = topKSets(
      Similarity.cosineTopK(e, q, "vec_id", "embedding", 10).collect()
    )
    val quant = topKSets(
      Similarity.cosineTopKQuantized(e, q, "vec_id", "embedding", 10).collect()
    )
    // int8 max-abs quantization at 64 dims costs ~1e-2 cosine error; rank
    // inversions live only among near-ties, so recall@10 stays high
    val r = recallAt(exact, quant)
    assert(r >= 0.9, s"quantized recall@10 = $r, expected >= 0.9")
    // quantized values are bounded and [-127, 127]-scaled
    val qv = q.select(Similarity.quantizeVector(col("embedding")).as("qv"))
      .select(explode(col("qv")).as("c")).collect().map(_.getInt(0))
    assert(qv.forall(v => v >= -127 && v <= 127))
    assert(qv.exists(v => math.abs(v) == 127), "max-abs element must hit 127")
    // all-zero vector quantizes to zeros, not NaN
    import spark.implicits._
    val z = Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val zq = z.select(Similarity.quantizeVector(col("embedding")).as("q"))
      .collect().head.getSeq[Int](0)
    assert(zq == Seq(0, 0, 0, 0))
  }

  test("multi-band ANN reaches recall@5 >= 0.9 vs exact top-k") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val exact = topKSets(
      Similarity.cosineTopK(e, q, "vec_id", "embedding", 5).collect()
    )
    // near-random embeddings: median top-5 cosine ~0.32 => m ~ 0.60/plane;
    // 16 banks x 3 planes => predicted recall 1-(1-m^3)^16 ~ 0.98
    val banks = Similarity.randomHyperplaneBanks(16, 3, 64)
    val multi = topKSets(
      Similarity.annTopKMultiBand(e, q, "vec_id", "embedding", 5, banks).collect()
    )
    val r = recallAt(exact, multi)
    assert(r >= 0.9, s"multi-band recall@5 = $r, expected >= 0.9")
  }

  test("ivfTopK recall@5 vs exact top-k meets the probe-limited bound") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val exact = topKSets(
      Similarity.cosineTopK(e, q, "vec_id", "embedding", 5).collect()
    )
    val ivf = topKSets(
      Similarity
        .ivfTopK(e, q, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 3)
        .collect()
    )
    val r = recallAt(exact, ivf)
    assert(r >= 0.6, s"ivf recall@5 = $r, expected >= 0.6 (8 cells, 3 probes)")
  }

  test("PQ: train is deterministic, codes are valid, ADC replays exactly, recall beats the coarse tier") {
    import graft.functions.VectorFunctions.squaredDistance
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val db = e.filter(col("vec_id") >= 10)
    val m = 16; val cbK = 16; val sub = 64 / m
    val cbs = Similarity.pqTrain(e, "vec_id", "embedding", m, cbK, rounds = 2)
    assert(cbs.size == m && cbs.forall(_.size == cbK) &&
      cbs.forall(_.forall(_.size == sub)))
    // training is invariant to physical layout (md5 seeds + quantized sums)
    assert(Similarity.pqTrain(e.repartition(7), "vec_id", "embedding", m, cbK, 2) == cbs)
    val enc = Similarity.pqEncode(db, "embedding", cbs)
    val codes = enc.select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(cs => cs.size == m && cs.forall(c => c >= 0 && c < cbK)))
    val adc = Similarity
      .pqTopK(enc, "vec_id", "pq_codes", q, "vec_id", "embedding", cbs, 10)
      .collect()
    // ADC distance replays exactly from codebooks + codes: a driver-side
    // Scala fold over the same doubles must match the expression bit-for-bit
    val qvecs = q.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    adc.foreach { r =>
      val (qid, nid, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val expect = (0 until m).map { s =>
        val cv = cbs(s)(codes(nid)(s))
        val qs = qvecs(qid).slice(s * sub, (s + 1) * sub)
        qs.zip(cv).foldLeft(0.0) { case (acc, (x, y)) =>
          val diff = x.toDouble - y.toDouble; acc + diff * diff
        }
      }.reduceLeft(_ + _)
      assert(d == expect, s"ADC dist $d != driver replay $expect for ($qid, $nid)")
    }
    // ranked 1..k per query, self-pairs excluded
    adc.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length),
        s"ranks broken for query $qid")
      assert(rows.forall(_.getLong(1) != qid))
    }
    // recall: 16x16 (64-bit codes) must hold a floor AND beat the coarse
    // 4x8 config on the same (deterministic) data — the accuracy/size dial
    // moving the right way is the property that matters
    val exact = topKSets(
      db.select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .crossJoin(broadcast(q.select(col("vec_id").as("qid"), col("embedding").as("qv"))))
        .select(col("qid"), col("nid"), squaredDistance(col("qv"), col("nv")).as("d"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("d"), col("nid"))))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("nid"))
        .collect()
    )
    val fine = recallAt(exact, topKSets(adc.map(r =>
      org.apache.spark.sql.Row(r.getLong(0), r.getLong(1)))))
    val coarseCbs = Similarity.pqTrain(e, "vec_id", "embedding", 4, 8, 2)
    val coarseEnc = Similarity.pqEncode(db, "embedding", coarseCbs)
    val coarse = recallAt(exact, topKSets(
      Similarity.pqTopK(coarseEnc, "vec_id", "pq_codes", q, "vec_id",
        "embedding", coarseCbs, 10).collect()
    ))
    assert(fine >= 0.3, s"PQ 16x16 recall@10 = $fine, expected >= 0.3")
    assert(fine > coarse,
      s"finer codes must raise recall: 16x16 = $fine vs 4x8 = $coarse")
    // invalid shapes rejected
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(e, "vec_id", "embedding", numSubspaces = 7, k = 4)
    }
    // a MIXED null/non-null element position must fail loudly, not bias
    // the centroid mean (sum skips nulls; count does not)
    import spark.implicits._
    val dirty = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Seq(1.0f, 2.0f, 3.0f, 4.0f))
    ).toDF("vec_id", "embedding")
      .union(
        Seq(3L).toDF("vec_id").select(
          col("vec_id"),
          array(lit(1.0f), lit(null).cast("float"), lit(3.0f), lit(4.0f))
            .as("embedding")
        )
      )
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqTrain(dirty, "vec_id", "embedding",
        numSubspaces = 2, k = 1, rounds = 1)
    }
    assert(ex.getMessage.contains("null embedding element"))
    // NULL-vector queries return no rows, never NULLS-FIRST garbage ranks
    val nullQ = Seq(99999L).toDF("vec_id")
      .select(col("vec_id"), lit(null).cast("array<float>").as("embedding"))
    assert(Similarity.pqTopK(enc, "vec_id", "pq_codes",
      nullQ, "vec_id", "embedding", cbs, 5).count() == 0)
  }

  test("pqTopKRefined equals exact cosine at full expand and lifts recall at bounded expand") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 210).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val db = e.filter(col("vec_id") >= 10) // 200 rows
    val cbs = Similarity.pqTrain(e, "vec_id", "embedding", 4, 8, rounds = 2)
    val enc = Similarity.pqEncode(db, "embedding", cbs)
    def asTuples(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val exact = Similarity
      .cosineTopK(db, q, "vec_id", "embedding", 10).collect()
    // k*expand = 200 covers the whole corpus: the shortlist IS the corpus,
    // so the re-rank must reproduce the exact cosine top-k bit-for-bit
    val full = Similarity.pqTopKRefined(
      enc, "vec_id", "pq_codes", db, "vec_id", "embedding",
      q, "vec_id", "embedding", cbs, k = 10, expand = 20
    ).collect()
    assert(asTuples(full) == asTuples(exact),
      "full-expand refine must equal the exact cosine top-k")
    // bounded expand: re-ranking the ADC top-30 by true cosine can only
    // improve (or tie) recall vs serving the ADC top-10 directly
    val exactSets = topKSets(exact)
    val adcSets = topKSets(Similarity
      .pqTopK(enc, "vec_id", "pq_codes", q, "vec_id", "embedding", cbs, 10)
      .collect())
    val refSets = topKSets(Similarity.pqTopKRefined(
      enc, "vec_id", "pq_codes", db, "vec_id", "embedding",
      q, "vec_id", "embedding", cbs, k = 10, expand = 3
    ).collect())
    val (rAdc, rRef) = (recallAt(exactSets, adcSets), recallAt(exactSets, refSets))
    assert(rRef >= rAdc, s"refine recall $rRef must be >= ADC recall $rAdc")
    assert(rRef >= 0.4, s"refine recall $rRef unexpectedly low")
    // widening the shortlist can only help: recall is monotone in expand
    val refWide = recallAt(exactSets, topKSets(Similarity.pqTopKRefined(
      enc, "vec_id", "pq_codes", db, "vec_id", "embedding",
      q, "vec_id", "embedding", cbs, k = 10, expand = 8
    ).collect()))
    assert(refWide >= rRef,
      s"expand=8 recall $refWide must be >= expand=3 recall $rRef")
    intercept[IllegalArgumentException] {
      Similarity.pqTopKRefined(enc, "vec_id", "pq_codes", db, "vec_id",
        "embedding", q, "vec_id", "embedding", cbs, k = 10, expand = 0)
    }
  }

  test("IVF-PQ: residuals replay exactly, probes prune, recall holds, index is layout-invariant") {
    import graft.functions.VectorFunctions.squaredDistance
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // 4 deterministic coarse cells from an arithmetic id subsequence
    val coarse = e.filter(col("vec_id") % 12 === 0).orderBy("vec_id")
      .limit(4).select("embedding")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0).toSeq).toSeq
    assert(coarse.size == 4)
    val m = 16; val cbK = 16
    val cbs = Similarity.ivfPqTrain(e, "vec_id", "embedding", coarse, m, cbK, 2)
    val index = Similarity.ivfPqIndex(e, "vec_id", "embedding", coarse, cbs)
    // layout invariance of the whole build
    val again = Similarity.ivfPqIndex(
      e.repartition(7), "vec_id", "embedding",
      coarse,
      Similarity.ivfPqTrain(e.repartition(7), "vec_id", "embedding", coarse, m, cbK, 2)
    )
    val idxRows = index.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
    assert(again.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSeq == idxRows.toSeq)
    assert(idxRows.forall { case (_, cell, codes) =>
      cell >= 0 && cell < 4 && codes.size == m && codes.forall(c => c >= 0 && c < cbK)
    })
    // residual exactness: replay vec - coarse(cell) element-wise on the
    // driver (double subtract, float truncate — the operator's contract)
    val resRows = Similarity.ivfResiduals(e, "vec_id", "embedding", coarse)
      .select("vec_id", "embedding", "cell", "residual")
      .orderBy("vec_id").limit(20).collect()
    resRows.foreach { r =>
      val (vec, cell, res) =
        (r.getSeq[Float](1), r.getInt(2), r.getSeq[Float](3))
      val want = vec.zip(coarse(cell)).map { case (x, c) =>
        (x.toDouble - c.toDouble).toFloat
      }
      assert(res == want, s"residual mismatch for vec ${r.getLong(0)}")
    }
    val q = e.filter(col("vec_id") < 10)
    val db = index.filter(col("vec_id") >= 10)
    // probe pruning: every returned neighbor's cell is among the query's
    // nProbe nearest cells (driver replay of the probe ranking)
    val cellOf = idxRows.map(r => r._1 -> r._2).toMap
    val qvecs = q.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def sq(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        val d = x.toDouble - y.toDouble; acc + d * d
      }
    val got2 = Similarity
      .ivfPqTopK(db, "vec_id", q, "vec_id", "embedding", coarse, cbs, 10, nProbe = 2)
      .collect()
    got2.foreach { r =>
      val probed = coarse.indices
        .sortBy(c => (sq(qvecs(r.getLong(0)), coarse(c)), c)).take(2).toSet
      assert(probed.contains(cellOf(r.getLong(1))),
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s probed cells")
    }
    // recall with all cells probed: the PQ-residual tier alone must hold a
    // floor vs the exact float scan
    val exact = topKSets(
      e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .crossJoin(broadcast(q.select(col("vec_id").as("qid"), col("embedding").as("qv"))))
        .select(col("qid"), col("nid"), squaredDistance(col("qv"), col("nv")).as("d"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("d"), col("nid"))))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("nid"))
        .collect()
    )
    val full = recallAt(exact, topKSets(
      Similarity.ivfPqTopK(db, "vec_id", q, "vec_id", "embedding",
        coarse, cbs, 10, nProbe = 4).collect()
    ))
    assert(full >= 0.3, s"IVF-PQ full-probe recall@10 = $full, expected >= 0.3")
  }

  test("ivfTopK returns sane ranked neighbors from probed cells") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 2)
    val got = Similarity
      .ivfTopK(e, q, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2)
      .collect()
    assert(got.nonEmpty)
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ranks = rows.map(_.getInt(3)).sorted
      assert(ranks.head == 1 && ranks.length <= 5)
      // cosine is within [-1, 1] + fp slack
      rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.000001))
    }
  }

  test("hashSplit is deterministic, leak-free, and near the requested fractions") {
    import graft.operators.Splits
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val split = Splits.hashSplit(
      orders, "o_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    )
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(math.abs(counts("train") / total - 0.8) < 0.05, counts.toString)
    assert(math.abs(counts("val") / total - 0.1) < 0.05, counts.toString)
    // deterministic: re-running assigns identical labels
    val again = Splits.hashSplit(
      orders, "o_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    )
    assert(
      split.select("o_orderkey", "split")
        .exceptAll(again.select("o_orderkey", "split")).isEmpty
    )
    // same key always lands in the same split (no leakage across dup keys)
    val dup = orders.union(orders)
    val perKey = Splits.hashSplit(
      dup, "o_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    )
      .groupBy("o_orderkey")
      .agg(countDistinct("split").as("k"))
      .filter(col("k") > 1)
    assert(perKey.isEmpty, "a key was assigned two different splits")
    // a different salt draws a different split
    val salted = Splits.hashSplit(
      orders, "o_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt = "exp2"
    )
    assert(
      split.select("o_orderkey", "split")
        .exceptAll(salted.select("o_orderkey", "split")).count() > 0
    )
  }

  test("fuzzyStringPairs equals brute-force levenshtein pairs") {
    val df = Seq(
      (1L, "kitten"), (2L, "sitten"), (3L, "sittin"),
      (4L, "completely-different"), (5L, "kitte"), (6L, "mitten")
    ).toDF("id", "name")
    val got = Dedup.fuzzyStringPairs(df, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val names = Map(1L -> "kitten", 2L -> "sitten", 3L -> "sittin",
      4L -> "completely-different", 5L -> "kitte", 6L -> "mitten")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        )
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- names; (ib, sb) <- names
      if ia < ib && lev(sa, sb) <= 2
    } yield (ia, ib) -> lev(sa, sb)).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("sortedNeighborhoodPairs: window adjacency within blocks, each pair once") {
    val df = Seq(
      (1L, "Apple pie recipe"),
      (2L, "apple pie recipes"),   // same block 'app', adjacent after sort
      (3L, "apple tart"),
      (4L, "Banana bread"),        // block 'ban' — never pairs with 'app'
      (5L, "banana loaf"),
      (6L, "apple pie recipe ")    // trims to id-1's key: dist 0 pair
    ).toDF("id", "title")
    val got = Dedup
      .sortedNeighborhoodPairs(df, "id", "title", windowSize = 2, blockChars = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4))
    // every unordered pair appears exactly once
    assert(got.map(_._1).distinct.length == got.length)
    val m = got.toMap
    // exact duplicate after normalization
    assert(m((1L, 6L)) == 0)
    // cross-block pairs never generated
    assert(m.keys.forall { case (a, b) =>
      (a <= 3 || a == 6) == (b <= 3 || b == 6)
    })
    // window bound: block 'app' has 4 rows => at most 2+2+1 = 5 pairs, and
    // a row never pairs beyond 2 sort positions away
    val appPairs = m.keys.count { case (a, _) => a <= 3 || a == 6 }
    assert(appPairs <= 5, m.toString)
    // maxDist banding: same pair set, exact dist within the bound, -1
    // beyond it — never a dropped pair
    val banded = Dedup
      .sortedNeighborhoodPairs(
        df, "id", "title", windowSize = 2, blockChars = 3, maxDist = 2
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4))
      .toMap
    assert(banded.keySet == m.keySet)
    banded.foreach { case (k, d) =>
      if (m(k) <= 2) assert(d == m(k), s"$k: banded=$d exact=${m(k)}")
      else assert(d == -1, s"$k: expected -1 beyond maxDist, got $d")
    }
    assert(banded.values.exists(_ == -1) && banded.values.exists(_ >= 0))
  }

  test("vocabDivergence: symmetric under swap, zero for identical slices, bounded") {
    val df = Seq(
      (1L, "the cat sat", "a"),
      (2L, "the cat sat on the mat", "a"),
      (3L, "der hund lief", "b"),
      (4L, "the dog ran fast", "b")
    ).toDF("id", "text", "grp")
    val ab = TextAnalysis.vocabDivergence(df, "text", "grp", "a", "b").collect()(0)
    val ba = TextAnalysis.vocabDivergence(df, "text", "grp", "b", "a").collect()(0)
    assert(ab.getAs[Double]("kl_ab") == ba.getAs[Double]("kl_ba"))
    assert(ab.getAs[Double]("jsd") == ba.getAs[Double]("jsd"))
    assert(ab.getAs[Double]("jsd") >= 0.0 && ab.getAs[Double]("jsd") <= math.log(2) + 1e-9)
    assert(ab.getAs[Long]("n_vocab_a") == 5L) // {the, cat, sat, on, mat}
    assert(ab.getAs[Long]("n_vocab_shared") == 1L) // just "the"
    // identical slices diverge by exactly zero
    val dup = df.select(col("text"), lit("p").as("g"))
      .union(df.select(col("text"), lit("q").as("g")))
    val z = TextAnalysis.vocabDivergence(dup, "text", "g", "p", "q").collect()(0)
    assert(z.getAs[Double]("kl_ab") == 0.0)
    assert(z.getAs[Double]("jsd") == 0.0)
    assert(z.getAs[Long]("n_vocab_a") == z.getAs[Long]("n_vocab_shared"))
  }

  test("scriptProfile counts scripts by code-point range, null text safe") {
    val df = Seq(
      (1L, Some("ab 北京 мир 12")), // 2 latin, 2 cjk, 3 cyrillic, 2 digit, 3 space
      (2L, None),
      (3L, Some("")) // empty -> zero chars, null fractions
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Int]("n_chars") == 12)
    def f(c: String) = r1.getAs[Double](c)
    assert(f("frac_latin") == math.rint(2.0 / 12 * 1e6) / 1e6 ||
      math.abs(f("frac_latin") - 2.0 / 12) < 1e-6)
    assert(math.abs(f("frac_cjk") - 2.0 / 12) < 1e-6)
    assert(math.abs(f("frac_cyrillic") - 3.0 / 12) < 1e-6)
    assert(math.abs(f("frac_digit") - 2.0 / 12) < 1e-6)
    assert(math.abs(f("frac_space") - 3.0 / 12) < 1e-6)
    assert(f("frac_other") == 0.0)
    assert(got(2L).getAs[Int]("n_chars") == 0 && got(2L).isNullAt(2))
    assert(got(3L).getAs[Int]("n_chars") == 0 && got(3L).isNullAt(2))
  }

  test("chiSquareIndependence: zero on independence, Cramers V 1 on a diagonal") {
    // perfectly independent 2x2: every cell 5
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val ri = Stats.chiSquareIndependence(indep, "a", "b").collect()(0)
    assert(ri.getAs[Double]("chi2") == 0.0)
    assert(ri.getAs[Double]("cramers_v") == 0.0)
    assert(ri.getAs[Long]("dof") == 1L)
    // perfectly dependent: b determined by a
    val dep = (for { a <- Seq("x", "y"); _ <- 1 to 7 }
      yield (a, if (a == "x") "p" else "q")).toDF("a", "b")
    val rd = Stats.chiSquareIndependence(dep, "a", "b").collect()(0)
    assert(rd.getAs[Double]("cramers_v") == 1.0, rd.toString)
    assert(rd.getAs[Long]("n_rows") == 14L)
  }

  test("mutualInformation: 0 on independence, NMI 1 on determinism, brute parity") {
    // perfectly independent 2x2 uniform: MI = 0, NMI = 0
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val ri = Stats.mutualInformation(indep, "a", "b").collect()(0)
    assert(ri.getAs[Double]("mi") == 0.0, ri.toString)
    assert(ri.getAs[Double]("nmi") == 0.0, ri.toString)
    // b determined by a, 50/50: H(A)=H(B)=H(AB)=1 bit -> MI=1, NMI=1
    val dep = (for { a <- Seq("x", "y"); _ <- 1 to 7 }
      yield (a, if (a == "x") "p" else "q")).toDF("a", "b")
    val rd = Stats.mutualInformation(dep, "a", "b").collect()(0)
    assert(rd.getAs[Long]("n_rows") == 14L)
    assert(rd.getAs[Double]("h_a") == 1.0 && rd.getAs[Double]("h_ab") == 1.0)
    assert(rd.getAs[Double]("mi") == 1.0 && rd.getAs[Double]("nmi") == 1.0)
    // constant column: H(A)=0 -> MI=0, NMI NULL (undefined, not 0/0)
    val const = Seq(("x", "p"), ("x", "q"), ("x", "p")).toDF("a", "b")
    val rc = Stats.mutualInformation(const, "a", "b").collect()(0)
    assert(rc.getAs[Double]("mi") == 0.0)
    assert(rc.isNullAt(rc.fieldIndex("nmi")), rc.toString)
    // brute parity on a random joint distribution (nulls excluded)
    val rnd = new scala.util.Random(606)
    val rows = Seq.fill(400)(
      (s"a${rnd.nextInt(4)}", if (rnd.nextInt(10) == 0) null else s"b${rnd.nextInt(3)}")
    )
    val rb = Stats
      .mutualInformation(rows.toDF("a", "b"), "a", "b")
      .collect()(0)
    val clean = rows.filter(_._2 != null)
    val n = clean.size.toDouble
    def h(groups: Map[_, Int]): Double =
      -groups.values.map(c => c / n * (math.log(c / n) / math.log(2.0))).sum
    val miBrute = h(clean.groupBy(_._1).view.mapValues(_.size).toMap) +
      h(clean.groupBy(_._2).view.mapValues(_.size).toMap) -
      h(clean.groupBy(identity).view.mapValues(_.size).toMap)
    assert(rb.getAs[Long]("n_rows") == clean.size.toLong)
    assert(math.abs(rb.getAs[Double]("mi") - miBrute) < 1e-5, rb.toString)
  }

  test("chiSquareIndependence: degenerate 1xN table has dof 0 and NULL cramers_v") {
    val deg = Seq(("x", "p"), ("x", "q"), ("x", "p"), ("x", "q"))
      .toDF("a", "b")
    val r = Stats.chiSquareIndependence(deg, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_categories_a") == 1L)
    assert(r.getAs[Long]("dof") == 0L)
    assert(r.getAs[Double]("chi2") == 0.0)
    assert(r.isNullAt(r.fieldIndex("cramers_v")), r.toString)
  }

  test("collocations PMI is invariant under exact corpus duplication") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val tripled = docs
      .unionByName(docs.withColumn("doc_id", col("doc_id") + 100000L))
      .unionByName(docs.withColumn("doc_id", col("doc_id") + 200000L))
    def key(df: org.apache.spark.sql.DataFrame) = TextAnalysis
      .collocations(df, "text", minCount = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    val base = key(docs)
    val amp = key(tripled)
    // every pair's PMI is EXACTLY unchanged (all counts scale by 3);
    // pairs can only be added at the minCount boundary, never lost
    base.foreach { case (p, pmi) =>
      assert(amp.contains(p) && amp(p) == pmi, s"$p: ${amp.get(p)} vs $pmi")
    }
  }

  test("triangleCount: exact on a known graph, robust to dup/reversed/self edges") {
    // K4 on {1,2,3,4} (4 triangles) + pendant 5-1 + isolated-pair 6-7
    val base = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (6L, 7L)
    )
    // noise: reversed duplicates and a self-loop must not change anything
    val edges = (base ++ base.map(_.swap) ++ Seq((2L, 2L)))
      .toDF("src", "dst")
    val row = graft.operators.Graphs.triangleCount(edges, "src", "dst").collect()(0)
    assert(row.getAs[Long]("n_triangles") == 4L, row.toString)
    assert(row.getAs[Long]("n_edges") == 8L)
    assert(row.getAs[Long]("n_vertices") == 7L)
    // triangle-free graph
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(graft.operators.Graphs.triangleCount(path, "src", "dst")
      .collect()(0).getAs[Long]("n_triangles") == 0L)
  }

  test("linkageScore: FS weights sum per agreement pattern, null fields neutral") {
    val pairs = Seq(
      (1L, 2L, Some(true), Some(true)),   // both agree
      (3L, 4L, Some(true), Some(false)),  // mixed
      (5L, 6L, Some(false), Some(false)), // both disagree
      (7L, 8L, None, Some(true))          // missing field -> 0 contribution
    ).toDF("id_a", "id_b", "f1", "f2")
    val fields = Seq(("f1", 0.9, 0.1), ("f2", 0.8, 0.2))
    val w1a = math.log(0.9 / 0.1); val w1d = math.log(0.1 / 0.9)
    val w2a = math.log(0.8 / 0.2); val w2d = math.log(0.2 / 0.8)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Dedup.linkageScore(pairs, fields)
      .collect().map(r => r.getAs[Long]("id_a") -> r.getAs[Double]("match_weight")).toMap
    assert(got(1L) == r6(w1a + w2a))
    assert(got(3L) == r6(w1a + w2d))
    assert(got(5L) == r6(w1d + w2d))
    assert(got(7L) == r6(0.0 + w2a))
    intercept[IllegalArgumentException] { Dedup.linkageScore(pairs, Seq()) }
    intercept[IllegalArgumentException] {
      Dedup.linkageScore(pairs, Seq(("f1", 0.1, 0.9))) // m <= u
    }
  }

  test("madOutliers flags planted extremes, nulls and constant groups are safe") {
    val df = Seq(
      (1L, "a", Some(10.0)), (2L, "a", Some(11.0)), (3L, "a", Some(9.0)),
      (4L, "a", Some(10.5)), (5L, "a", Some(500.0)), // planted outlier
      (6L, "a", None),                               // null passes through
      (7L, "b", Some(7.0)), (8L, "b", Some(7.0)), (9L, "b", Some(7.0)) // MAD=0
    ).toDF("id", "grp", "v")
    val got = Stats.madOutliers(df, "v", Seq("grp"))
      .collect()
      .map(r => r.getAs[Long]("id") -> (Option(r.getAs[java.lang.Double]("robust_z")),
        r.getBoolean(r.fieldIndex("is_outlier"))))
      .toMap
    assert(got(5L)._2, "planted extreme must flag")
    assert(got(5L)._1.exists(_ > 100), got(5L).toString)
    assert(Seq(1L, 2L, 3L, 4L).forall(!got(_)._2), "inliers must not flag")
    assert(got(6L)._1.isEmpty && !got(6L)._2, "null value -> null z, no flag")
    // constant group: MAD collapses, robust_z null, nothing flags
    assert(Seq(7L, 8L, 9L).forall(i => got(i)._1.isEmpty && !got(i)._2))
    intercept[IllegalArgumentException] { Stats.madOutliers(df, "v", Seq()) }
  }

  test("zipfFit recovers slope -1 on an exact power-law vocabulary") {
    // counts ~ 120/rank: a textbook Zipf corpus
    val words = (1 to 8).flatMap(r => Seq.fill(120 / r)(s"w$r"))
    val df = Seq((1L, words.mkString(" "))).toDF("id", "text")
    val row = TextAnalysis.zipfFit(df, "text", topN = 8).collect()(0)
    assert(row.getAs[Long]("n_ranks") == 8L)
    val slope = row.getAs[Double]("slope")
    val r2 = row.getAs[Double]("r2")
    assert(slope < -0.9 && slope > -1.1, s"slope $slope")
    assert(r2 > 0.99, s"r2 $r2")
    // topN binds the rank count
    val row3 = TextAnalysis.zipfFit(df, "text", topN = 3).collect()(0)
    assert(row3.getAs[Long]("n_ranks") == 3L)
    intercept[IllegalArgumentException] { TextAnalysis.zipfFit(df, "text", 1) }
  }

  test("collocations: PMI from unfiltered totals, minCount gates output") {
    val df = Seq(
      (1L, "new york new york is big"),
      (2L, "new york again"),
      (3L, "big apple")
    ).toDF("id", "text")
    val got = TextAnalysis.collocations(df, "text", minCount = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // "new york" occurs 3x; every other pair is rarer and filtered
    assert(got.keySet == Set(("new", "york")), got.toString)
    val (n, pmi) = got(("new", "york"))
    assert(n == 3L)
    // tokens: 6+3+2=11 total; bigrams: 5+2+1=8 total (UNFILTERED mass);
    // c(new)=3, c(york)=3
    val expected = math.log((3.0 / 8.0) / ((3.0 / 11.0) * (3.0 / 11.0)))
    assert(math.abs(pmi - expected) < 1e-6, s"pmi $pmi vs $expected")
  }

  test("temporalSplit: boundary rows embargo at cutoff, test at cutoff+gap") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-19 23:59:59")),
      (2L, ts("2024-01-20 00:00:00")), // exactly at cutoff -> embargo
      (3L, ts("2024-01-20 12:00:00")),
      (4L, ts("2024-01-21 00:00:00")), // exactly at cutoff+1d -> test
      (5L, ts("2024-01-22 00:00:00"))
    ).toDF("id", "ts")
    val cut = ts("2024-01-20 00:00:00")
    val got = Splits.temporalSplit(df, "ts", cut, 86400L)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(got == Map(1L -> "train", 2L -> "embargo", 3L -> "embargo",
      4L -> "test", 5L -> "test"), got.toString)
    // zero embargo: the cutoff row goes straight to test
    val z = Splits.temporalSplit(df, "ts", cut, 0L)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(z(2L) == "test" && z(1L) == "train")
    intercept[IllegalArgumentException] {
      Splits.temporalSplit(df, "ts", cut, -1L)
    }
  }

  test("asOfJoin picks the latest right row at-or-before each left row") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val trades = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 10:05:00")),
      (3L, 20L, ts("2024-01-01 10:00:00")) // no quote for key 20
    ).toDF("trade_id", "k", "t")
    val quotes = Seq(
      (10L, ts("2024-01-01 09:59:00"), 1.0),
      (10L, ts("2024-01-01 10:05:00"), 2.0), // equal ts: inclusive match
      (10L, ts("2024-01-01 10:06:00"), 3.0)  // after: never matched
    ).toDF("k", "qt", "px")
    val got = graft.operators.Joins
      .asOfJoin(trades, quotes, "k", "t", "qt", Seq("px"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None))
  }

  test("asOfJoinTolerant nulls stale matches and reports match age") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val trades = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // quote 30s old -> fresh
      (2L, 10L, ts("2024-01-01 11:00:00")), // quote 1h01m old -> stale
      (3L, 20L, ts("2024-01-01 10:00:00"))  // no quote at all
    ).toDF("trade_id", "k", "t")
    val quotes = Seq((10L, ts("2024-01-01 09:59:30"), 1.5)).toDF("k", "qt", "px")
    val got = graft.operators.Joins
      .asOfJoinTolerant(trades, quotes, "k", "t", "qt", Seq("px"),
        toleranceSeconds = 3600L)
      .collect()
      .map { r =>
        r.getLong(0) -> (
          Option(r.getAs[java.lang.Double]("asof_px")),
          Option(r.getAs[java.lang.Double]("asof_age_seconds"))
        )
      }
      .toMap
    assert(got(1L) == ((Some(1.5), Some(30.0))), got(1L).toString)
    assert(got(2L) == ((None, None)), "stale match must null out")
    assert(got(3L) == ((None, None)))
    intercept[IllegalArgumentException] {
      graft.operators.Joins.asOfJoinTolerant(
        trades, quotes, "k", "t", "qt", Seq("px"), 0L)
    }
  }

  test("stratifiedHashSample applies per-stratum rates deterministically") {
    import graft.operators.Splits
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sampled = Splits.stratifiedHashSample(
      docs, "doc_id", "lang", Seq("en" -> 1.0), defaultFraction = 0.0
    )
    // rate 1.0 keeps every 'en' doc, rate 0.0 drops every other language
    val en = docs.filter(col("lang") === "en").count()
    assert(sampled.count() == en)
    assert(sampled.filter(col("lang") =!= "en").count() == 0)
    // determinism: identical output on rerun
    val again = Splits.stratifiedHashSample(
      docs, "doc_id", "lang", Seq("en" -> 1.0), defaultFraction = 0.0
    )
    assert(sampled.exceptAll(again).isEmpty)
  }

  test("rangeJoin matches exact containment incl. boundaries and multi-bin spans") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val facts = Seq(
      (1L, ts("2024-01-01 10:00:00")), // == start: included
      (2L, ts("2024-01-01 10:36:59")), // inside, last second
      (3L, ts("2024-01-01 10:37:00")), // == end: excluded
      (4L, ts("2024-01-01 11:59:00")), // inside second interval (spans 3 bins)
      (5L, ts("2024-01-01 09:59:59"))  // before everything
    ).toDF("event_id", "ts")
    val intervals = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:37:00")),
      (20L, ts("2024-01-01 11:50:00"), ts("2024-01-01 12:20:00"))
    ).toDF("iv_id", "w_start", "w_end")
    val got = graft.operators.Joins
      .rangeJoin(facts, "ts", intervals, "w_start", "w_end", binSeconds = 900)
      .select("event_id", "iv_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == Set((1L, 10L), (2L, 10L), (4L, 20L)))
  }

  test("rangeJoin handles fractional-second interval ends (microsecond bins)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // interval ends mid-second just after a bin boundary; the fact sits
    // between the whole second and the true exclusive end — second-
    // granularity binning would drop it
    val facts = Seq((1L, ts("2024-01-01 10:15:00.2"))).toDF("event_id", "ts")
    val intervals = Seq(
      (10L, ts("2024-01-01 10:10:00"), ts("2024-01-01 10:15:00.5"))
    ).toDF("iv_id", "w_start", "w_end")
    val got = graft.operators.Joins
      .rangeJoin(facts, "ts", intervals, "w_start", "w_end", binSeconds = 900)
      .count()
    assert(got == 1, "fact inside the fractional-second tail was dropped")
  }

  test("saltedJoin spreads a hot key across multiple partitions") {
    // 90% of rows share grp=0; after salting, no single reducer may hold
    // the hot key. AQE is disabled so its small-data partition coalescing
    // doesn't collapse the spread, and auto-broadcast is disabled to force
    // the big-big shuffle join that salting exists for (a broadcastable
    // small side never shuffles the skewed side in the first place).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(
          when(col("l_orderkey") % 100 < 90, lit(0L))
            .otherwise(col("l_orderkey") % 100).as("grp"),
          col("l_quantity")
        )
      val dim = spark.range(100).select(col("id").as("grp"))
      val joined = graft.operators.Joins.saltedJoin(li, dim, Seq("grp"), 8)
      val hotParts = joined
        .filter(col("grp") === 0L)
        .select(spark_partition_id().as("p"))
        .distinct()
        .count()
      assert(hotParts > 1, s"hot key landed in $hotParts partition(s)")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("saltedJoin returns exactly the rows of the plain join") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val plain = li.join(o, Seq("l_orderkey"))
    val salted = graft.operators.Joins.saltedJoin(li, o, Seq("l_orderkey"), 4)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("tfIdfTopTerms ranks by hand-computed tf*ln(N/df)") {
    val df = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry durian")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .tfIdfTopTerms(df, "doc_id", "text", docCount = 3, n = 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(4)))
      .toMap
    // doc 1: apple tf=2 df=1 -> 2*ln(3); doc 3: durian tf=1 df=1 -> ln(3)
    assert(got(1L)._1 == "apple")
    assert(math.abs(got(1L)._2 - math.round(2 * math.log(3.0) * 1e6) / 1e6) < 1e-9)
    assert(got(3L)._1 == "durian")
    val top = TextAnalysis.topTerms(df, "doc_id", "text", 2).collect()
    // banana and cherry tie at doc_freq 2; banana wins the name tie-break
    assert(top(0).getString(0) == "banana" && top(1).getString(0) == "cherry")
  }

  test("langId picks the language with most marker hits") {
    val df = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "el perro de la casa que ladra y los gatos"),
      (3L, "xyz abc nothing matching"),
      (4L, "il gatto che dorme di giorno con una coperta per terra"),
      (5L, "het huis een hond van niet zijn voor"),
      (6L, "och att det som på för en dag"),
      (7L, "yang dan di itu dengan untuk kita")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .langId(df, "text")
      .select("doc_id", "lang_pred")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got(1L) == "en")
    assert(got(2L) == "es")
    assert(got(3L) == "unknown")
    assert(got(4L) == "it")
    assert(got(5L) == "nl")
    assert(got(6L) == "sv")
    assert(got(7L) == "id")
  }

  test("langId falls back to script coverage for script-exclusive languages") {
    val df = Seq(
      (1L, "これは日本語のテキストです"), // kana-rich -> ja (before zh)
      (2L, "这是一段中文文本没有假名"), // pure Han -> zh
      (3L, "한국어 텍스트 입니다"), // hangul -> ko
      (4L, "это русский текст без маркеров"), // cyrillic -> ru
      (5L, "هذا نص عربي"), // arabic -> ar
      (6L, "यह हिंदी पाठ है"), // devanagari -> hi
      (7L, "αυτό είναι ελληνικό κείμενο"), // greek -> el
      (8L, "זהו טקסט בעברית"), // hebrew -> he
      (9L, "นี่คือข้อความภาษาไทย"), // thai -> th
      // ONE stray CJK char inside Latin junk: coverage < 20%, stays unknown
      (10L, "qqq zzz 中 xxx yyy junk tokens"),
      // markers beat scripts: an English sentence with a CJK quote
      (11L, "the story of the 中文 sign and the door"),
      (12L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .langId(df, "text")
      .select("doc_id", "lang_pred")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got(1L) == "ja")
    assert(got(2L) == "zh")
    assert(got(3L) == "ko")
    assert(got(4L) == "ru")
    assert(got(5L) == "ar")
    assert(got(6L) == "hi")
    assert(got(7L) == "el")
    assert(got(8L) == "he")
    assert(got(9L) == "th")
    assert(got(10L) == "unknown")
    assert(got(11L) == "en")
    assert(got(12L) == "unknown")
  }

  test("blockedSpans: fused one-pass count equals the shingle-HOF form") {
    val phrases = Seq("Table Hash", "big order scan", "window", "the the")
    // corpus sweep + edge fixtures: double spaces (a phrase must NOT match
    // across them, exactly like the shingle form), overlap, repetition
    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (100001L, "table hash big order scan table hash"),
        (100002L, "big  order scan"), // double space: no match
        (100003L, "the the the"),     // overlapping spans count at 1 and 2
        (100004L, "window window window"),
        (100005L, null.asInstanceOf[String])
      ).toDF("doc_id", "text"))
    val rows = docs
      .select(
        col("doc_id"),
        graft.operators.TextAnalysis
          .blockedSpanCountHof(col("text"), phrases).as("hof"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.plans.BlockedSpansExpr(
            org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
            phrases)).as("fused")
      )
      .collect()
    rows.foreach { r =>
      val hof = if (r.isNullAt(1)) null else Integer.valueOf(r.getInt(1))
      val fused = if (r.isNullAt(2)) null else Integer.valueOf(r.getInt(2))
      // NULL text: HOF yields the legacy size(NULL) sentinel sum, the
      // native form yields NULL — both are gated by the text IS NULL
      // guards in every public caller, so parity is over non-null text
      if (!r.isNullAt(1) && hof.intValue() >= 0)
        assert(hof == fused, s"diverged on doc ${r.getLong(0)}: $hof vs $fused")
    }
    val planted = rows.filter(_.getLong(0) >= 100001L).map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) -999 else r.getInt(2))).toMap
    assert(planted(100001L) == 3) // "table hash" x2 + "big order scan" x1
    assert(planted(100002L) == 0) // the double space breaks the shingle
    assert(planted(100003L) == 2) // overlapping "the the" at positions 0, 1
    assert(planted(100004L) == 3)
    assert(planted(100005L) == -999) // NULL text -> NULL count
  }

  test("scriptRangeCounts: fused one-pass counts equal the 9 regex scans") {
    // the fusion that replaced langId's per-script regexp_replace passes
    // must count EXACTLY like them — code points, surrogate pairs once,
    // multi-range groups (ko) included
    val texts = Seq(
      "これは日本語のテキストです with latin tail",
      "汉字 and ひらがな and 한글 jamo 가 mixed",
      "это русский текст", "هذا نص عربي", "यह हिंदी",
      "ελληνικό", "עברית", "ไทย",
      "astral 𝄞 emoji 🎉 outside every range",
      "plain ascii only", ""
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val fused = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.ScriptRangeCountsExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
        TextAnalysis.ScriptLangs.map(_._2)))
    val regexCols = TextAnalysis.ScriptLangs.map { case (_, ranges) =>
      (length(col("text")) -
        length(regexp_replace(col("text"), s"[$ranges]", ""))).cast("int")
    }
    val rows = df
      .select(col("id"), fused.as("fused"), array(regexCols: _*).as("rx"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"diverged on id ${r.getLong(0)}: ${r.getSeq[Int](1)} vs ${r.getSeq[Int](2)}")
    }
  }

  test("qualityScore computes ratios and composite") {
    val df = Seq((1L, "the cat sat on. the mat!")).toDF("doc_id", "text")
    val row = TextAnalysis.qualityScore(df, "text").collect()(0)
    assert(row.getAs[Int]("n_chars_calc") == 24)
    assert(row.getAs[Int]("n_tokens") == 6)
    assert(row.getAs[Int]("punct_count") == 2)
    // 'the' appears twice => ratio 2/6
    assert(math.abs(row.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-12)
  }

  test("tokenCounts: whitespace vs bpe-ish regex") {
    val df = Seq((1L, "hello world42 x!y")).toDF("doc_id", "text")
    val row = TextAnalysis.tokenCounts(df, "text").collect()(0)
    assert(row.getAs[Int]("ws_tokens") == 3)
    // hello | world | 42 | x | ! | y
    assert(row.getAs[Int]("bpe_ish_tokens") == 6)
  }

  test("fingerprints stable across canonicalization") {
    val df = Seq(
      (1L, "Hello,  World! one two three"),
      (2L, "hello world one two  three")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .fingerprints(df, "text")
      .select("doc_id", "fp_md5", "fp_min_shingle")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(got(1L) == got(2L)) // canonical forms coincide
  }

  test("sessionize splits on gap and aggregates sessions") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 10L, ts("2024-01-01 10:10:00"), 2.0),
      (3L, 10L, ts("2024-01-01 11:30:00"), 3.0), // > 30min gap => new session
      (4L, 20L, ts("2024-01-01 09:00:00"), 4.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val got = Sessionize
      .sessionize(df, gapSeconds = 1800)
      .orderBy("user_id", "session_id")
      .collect()
    assert(got.length == 3)
    val s1 = got(0)
    assert(s1.getAs[Long]("user_id") == 10L)
    assert(s1.getAs[Long]("n_events") == 2L)
    assert(s1.getAs[Double]("total_value") == 3.0)
    assert(got(1).getAs[Long]("n_events") == 1L)
    assert(got(2).getAs[Long]("user_id") == 20L)
  }

  test("frequentPaths counts in-session runs and never crosses a session boundary") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      // user 10, session 1: A B C (one ABC path)
      (1L, 10L, ts("2024-01-01 10:00:00"), "A", 0.0),
      (2L, 10L, ts("2024-01-01 10:05:00"), "B", 0.0),
      (3L, 10L, ts("2024-01-01 10:10:00"), "C", 0.0),
      // user 10, session 2 (gap > 30min): B C — too short for len-3, and
      // C>B>C across the boundary must NOT count
      (4L, 10L, ts("2024-01-01 11:00:00"), "B", 0.0),
      (5L, 10L, ts("2024-01-01 11:05:00"), "C", 0.0),
      // user 20: A B C again (second session containing ABC)
      (6L, 20L, ts("2024-01-01 09:00:00"), "A", 0.0),
      (7L, 20L, ts("2024-01-01 09:01:00"), "B", 0.0),
      (8L, 20L, ts("2024-01-01 09:02:00"), "C", 0.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Sessionize
      .frequentPaths(df, gapSeconds = 1800, pathLen = 3)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map("A>B>C" -> ((2L, 2L))), got.toString)
  }

  test("frequentPaths excludes NULL-typed events without shortening paths") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // A, NULL, B, C in one session: the NULL row keeps its place in the
    // session clock but must not silently vanish inside a concat_ws chain
    // (which would fabricate A>B>C with the wrong adjacency) — after the
    // fix the typed events A B C are re-adjacent by construction, and a
    // NULL must never be conflated with a session boundary.
    val df = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), Some("A"), 0.0),
      (2L, 10L, ts("2024-01-01 10:05:00"), None: Option[String], 0.0),
      (3L, 10L, ts("2024-01-01 10:10:00"), Some("B"), 0.0),
      (4L, 10L, ts("2024-01-01 10:15:00"), Some("C"), 0.0),
      // session 2: NULL then B then C — only two typed events, no len-3 path
      (5L, 10L, ts("2024-01-01 12:00:00"), None: Option[String], 0.0),
      (6L, 10L, ts("2024-01-01 12:05:00"), Some("B"), 0.0),
      (7L, 10L, ts("2024-01-01 12:10:00"), Some("C"), 0.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Sessionize
      .frequentPaths(df, gapSeconds = 1800, pathLen = 3)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map("A>B>C" -> ((1L, 1L))), got.toString)
  }

  test("eventTransitions: counts per adjacency, probabilities sum to 1 per from") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "A", 0.0),
      (2L, 10L, ts("2024-01-01 10:05:00"), "B", 0.0),
      (3L, 10L, ts("2024-01-01 10:10:00"), "A", 0.0),
      (4L, 10L, ts("2024-01-01 10:15:00"), "C", 0.0),
      // new session: A->B here must not join the same-user tally across gap
      (5L, 10L, ts("2024-01-01 12:00:00"), "A", 0.0),
      (6L, 10L, ts("2024-01-01 12:01:00"), "B", 0.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val rows = Sessionize
      .eventTransitions(df, gapSeconds = 1800)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows(("A", "B"))._1 == 2L)
    assert(rows(("A", "C"))._1 == 1L)
    assert(rows(("B", "A"))._1 == 1L)
    assert(math.abs(rows(("A", "B"))._2 - 0.666667) < 1e-6)
    // per-from probabilities total 1 (up to the 6-decimal rounding)
    val byFrom = rows.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    byFrom.foreach { case (f, p) =>
      assert(math.abs(p - 1.0) < 1e-5, s"P(.|$f) sums to $p")
    }
  }

  test("attributeConversions credits the right touch per model, (none) without one") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      // user 10, one session: view -> click -> purchase
      (1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),
      (2L, 10L, ts("2024-01-01 10:05:00"), "click", 0.0),
      (3L, 10L, ts("2024-01-01 10:10:00"), "purchase", 9.0),
      // user 10, NEW session (gap): purchase with no touch — the view at
      // 10:00 must NOT leak across the session boundary
      (4L, 10L, ts("2024-01-01 12:00:00"), "purchase", 5.0),
      // user 20: touch AFTER the purchase never counts
      (5L, 20L, ts("2024-01-01 09:00:00"), "purchase", 3.0),
      (6L, 20L, ts("2024-01-01 09:01:00"), "view", 0.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    def run(model: String) = Sessionize
      .attributeConversions(df, 1800, "purchase", Seq("view", "click"), model)
      .collect()
      .map(r => r.getAs[Long]("conversion_id") -> r.getAs[String]("touch_type"))
      .toMap
    val lastT = run("last_touch")
    assert(lastT == Map(3L -> "click", 4L -> "(none)", 5L -> "(none)"), lastT.toString)
    val firstT = run("first_touch")
    assert(firstT(3L) == "view", firstT.toString)
    intercept[IllegalArgumentException] {
      Sessionize.attributeConversions(df, 1800, "purchase", Seq("purchase"))
    }
    intercept[IllegalArgumentException] {
      Sessionize.attributeConversions(df, 1800, "purchase", Seq("view"), "u_shaped")
    }
  }

  test("asOfPrior finds last strictly-prior event of the other type") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),
      (2L, 10L, ts("2024-01-01 10:05:00"), "purchase", 5.0),
      (3L, 10L, ts("2024-01-01 10:06:00"), "purchase", 6.0),
      (4L, 20L, ts("2024-01-01 10:00:00"), "purchase", 7.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Sessionize
      .asOfPrior(df, "purchase", "view")
      .select("event_id", "last_prior_ts")
      .orderBy("event_id")
      .collect()
    assert(got(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
    assert(got(1).getTimestamp(1) == ts("2024-01-01 10:00:00"))
    assert(got(2).isNullAt(1)) // user 20 never viewed
  }

  test("tumbling window aggregates hour buckets") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, 10L, ts("2024-01-01 10:05:00"), 1.5),
      (2L, 11L, ts("2024-01-01 10:55:00"), 2.5),
      (3L, 10L, ts("2024-01-01 11:05:00"), 3.5)
    ).toDF("event_id", "user_id", "ts", "value")
    val got = Sessionize
      .tumblingWindowAgg(df, "1 hour")
      .orderBy("window_start")
      .collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("n_events") == 2L)
    assert(got(0).getAs[Long]("n_users") == 2L)
    assert(got(0).getAs[Double]("total_value") == 4.0)
  }

  test("embedding dedup pairs finds exact duplicates via LSH buckets") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (3L, Seq(-1.0f, 5.0f, -3.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val planes = Similarity.randomHyperplanes(4, 4)
    val pairs = Dedup
      .embeddingDedupPairs(df, "vec_id", "embedding", planes, 0.99)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.length == 1)
  }

  test("mortonCode interleaves bits and zorderBy preserves the row multiset") {
    import graft.operators.Layout
    // morton(5, 3): spread(0b101)=0b10001=17, spread(0b011)=0b101=5 -> 17|10
    val got = spark
      .range(1)
      .select(
        Layout.mortonCode(lit(5L), lit(3L)).as("m1"),
        Layout.mortonCode(lit(0xffffL), lit(0L)).as("m2"),
        Layout.mortonCode(lit(0L), lit(0xffffL)).as("m3"),
        // masking: only the low 16 bits participate
        Layout.mortonCode(lit(0x10005L), lit(3L)).as("m4")
      )
      .head()
    assert(got.getLong(0) == 27L)
    assert(got.getLong(1) == 0x55555555L)
    assert(got.getLong(2) == 0xaaaaaaaaL)
    assert(got.getLong(3) == 27L)

    val df = Seq((3L, 7L, "a"), (1L, 1L, "b"), (500L, 2L, "c"), (2L, 300L, "d"))
      .toDF("x", "y", "tag")
    val z = Layout.zorderBy(df, "x", "y", numPartitions = 2)
    assert(z.rdd.getNumPartitions == 2)
    assert(
      z.collect().map(_.getString(2)).sorted.toSeq == Seq("a", "b", "c", "d")
    )
    // within each partition rows are sorted by their morton code
    val codes = z
      .select(graft.operators.Layout.mortonCode(col("x"), col("y")).as("m"))
      .withColumn("p", spark_partition_id())
      .collect()
      .map(r => (r.getInt(1), r.getLong(0)))
    codes.groupBy(_._1).values.foreach { part =>
      val ms = part.map(_._2).toSeq
      assert(ms == ms.sorted)
    }
  }

  test("mortonCode property: monotone under coordinate dominance") {
    import graft.operators.Layout
    // if x1 <= x2 and y1 <= y2 then morton(x1,y1) <= morton(x2,y2):
    // the property that makes min/max file stats prune rectangles
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(300) {
      val x1 = rnd.nextInt(0x10000); val y1 = rnd.nextInt(0x10000)
      val x2 = x1 + rnd.nextInt(0x10000 - x1); val y2 = y1 + rnd.nextInt(0x10000 - y1)
      (x1.toLong, y1.toLong, x2.toLong, y2.toLong)
    }
    val bad = cases
      .toDF("x1", "y1", "x2", "y2")
      .filter(
        Layout.mortonCode(col("x1"), col("y1")) >
          Layout.mortonCode(col("x2"), col("y2"))
      )
      .count()
    assert(bad == 0L)
  }

  test("hilbertIndex walks the base quadrant order and never jumps") {
    import graft.operators.Layout
    // bits=1 base case: the U-shaped walk (0,0) -> (1,0) -> (1,1) -> (0,1)
    val base = Seq((0L, 0L), (1L, 0L), (1L, 1L), (0L, 1L))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbertIndex(col("x"), col("y"), bits = 1).as("h"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(base((0L, 0L)) == 0L && base((1L, 0L)) == 3L)
    assert(base((1L, 1L)) == 2L && base((0L, 1L)) == 1L)
    // the Hilbert property Z-order lacks: over the full 8x8 grid,
    // consecutive indices are ALWAYS Manhattan-adjacent cells (Morton
    // jumps at every quadrant seam)
    val grid = (for { x <- 0 until 8; y <- 0 until 8 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbertIndex(col("x"), col("y"), bits = 3).as("h"))
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(grid.map(_._1).toSeq == (0L until 64L), "indices must be a permutation")
    grid.sliding(2).foreach { case Array((_, (x1, y1)), (h2, (x2, y2))) =>
      assert(
        math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at h=$h2: ($x1,$y1) -> ($x2,$y2)"
      )
    }
    // nulls propagate, wider values mask like Morton
    val edge = Seq((Some(5L), Some(3L)), (None, Some(1L)))
      .toDF("x", "y")
      .select(Layout.hilbertIndex(col("x"), col("y"), bits = 16).as("h"))
      .collect()
    assert(!edge(0).isNullAt(0) && edge(1).isNullAt(0))
    val masked = Seq((0x10005L, 3L)).toDF("x", "y")
      .select(Layout.hilbertIndex(col("x"), col("y")).as("h")).head().getLong(0)
    val plain = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.hilbertIndex(col("x"), col("y")).as("h")).head().getLong(0)
    assert(masked == plain)
  }

  test("hilbertBy preserves the row multiset and orders partitions by the index") {
    import graft.operators.Layout
    val df = spark.read.parquet(s"$sfDir/part.parquet").select("p_partkey", "p_size")
    val h = Layout.hilbertBy(df, "p_partkey", "p_size", numPartitions = 2)
    assert(
      h.count() == df.count() &&
        h.select("p_partkey").distinct().count() == df.select("p_partkey").distinct().count()
    )
    // within each partition the hilbert key must be non-decreasing
    val ordered = h
      .select(
        org.apache.spark.sql.functions.spark_partition_id().as("p"),
        Layout.hilbertIndex(col("p_partkey"), col("p_size")).as("hidx")
      )
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    ordered.groupBy(_._1).values.foreach { rows =>
      val ks = rows.map(_._2).toSeq
      assert(ks == ks.sorted, "partition not sorted by hilbert index")
    }
  }

  test("groupSample takes n deterministic rows per group") {
    import graft.operators.Splits
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("id", "grp")
    val s1 = Splits.groupSample(df, Seq("grp"), "id", 5)
    assert(s1.groupBy("grp").count().collect().forall(_.getLong(1) == 5L))
    val s2 = Splits.groupSample(df, Seq("grp"), "id", 5)
    assert(s1.collect().map(_.getLong(0)).sorted.sameElements(s2.collect().map(_.getLong(0)).sorted))
    // n larger than the group returns the whole group
    val all = Splits.groupSample(df.filter(col("id") <= 3), Seq("grp"), "id", 10)
    assert(all.count() == 3)
  }

  test("kFoldAssign is leak-free per key and covers all folds") {
    import graft.operators.Splits
    val df = (1L to 500L).flatMap(k => Seq((k, "a"), (k, "b"))).toDF("key", "row")
    val folds = Splits.kFoldAssign(df, "key", k = 5)
    // every row of a key gets the same fold
    assert(folds.groupBy("key").agg(countDistinct("fold").as("nf"))
      .filter(col("nf") > 1).count() == 0)
    val sizes = folds.groupBy("fold").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set(0, 1, 2, 3, 4))
    assert(sizes.values.forall(n => n > 100 && n < 300), sizes.toString)
    intercept[IllegalArgumentException] { Splits.kFoldAssign(df, "key", 1) }
  }

  test("winsorize and equiDepthBins approx modes stay close to exact") {
    import graft.operators.Stats
    val df = (1 to 20000).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val exactW = Stats.winsorize(df, Seq("grp"), "v", exact = true)
      .agg(sum("v_wins")).head().getDouble(0)
    // exact = false IS the default (the 100 TB path); spelled out here for
    // the exact-vs-sketch contrast
    val approxW = Stats.winsorize(df, Seq("grp"), "v", exact = false)
      .agg(sum("v_wins")).head().getDouble(0)
    assert(math.abs(exactW - approxW) / exactW < 0.01)
    val exactB = Stats.equiDepthBins(df, "v", 4, exact = true).groupBy("v_bin").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val approxB = Stats.equiDepthBins(df, "v", 4, exact = false).groupBy("v_bin").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(approxB.keySet == exactB.keySet)
    approxB.foreach { case (b, n) =>
      assert(math.abs(n - exactB(b)).toDouble / exactB(b) < 0.05, s"bin $b: $n vs ${exactB(b)}")
    }
  }

  test("corpusReport computes dup fraction and token means per source") {
    val df = Seq(
      (1L, "a b c", "s1"),     // 3 tokens
      (2L, "a b c", "s1"),     // exact dup of 1
      (3L, "d e", "s1"),       // 2 tokens
      (4L, null.asInstanceOf[String], "s1"),
      (5L, "x", "s2")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis
      .corpusReport(df, "text", "source")
      .orderBy("source")
      .collect()
    val s1 = got(0)
    assert(s1.getAs[Long]("n_docs") == 4L)
    assert(s1.getAs[Long]("n_null_text") == 1L)
    assert(s1.getAs[Long]("n_unique_texts") == 2L)
    assert(s1.getAs[Long]("total_tokens") == 8L)
    assert(math.abs(s1.getAs[Double]("dup_fraction") - (1.0 - 2.0 / 3)) < 1e-6)
    assert(math.abs(s1.getAs[Double]("avg_tokens") - 8.0 / 3) < 1e-6)
    val s2 = got(1)
    assert(s2.getAs[Double]("dup_fraction") == 0.0)
  }

  test("tfidfCosinePairs: identical docs score 1, disjoint docs are absent") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"), // same bag -> cosine 1
      (3L, "epsilon zeta eta theta"), // disjoint from 1/2
      (4L, "alpha beta gamma iota")   // strong overlap with 1
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis
      .tfidfCosinePairs(df, "doc_id", "text", docCount = 4, threshold = 0.1,
        maxDfFraction = 1.0)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    assert(pairs((1L, 4L)) > 0.1 && pairs((1L, 4L)) < 1.0)
    // ubiquitous-term pruning: df=4 terms are dropped from the index
    val pruned = TextAnalysis
      .tfidfCosinePairs(
        df.withColumn("text", concat(col("text"), lit(" common"))),
        "doc_id", "text", docCount = 4, threshold = 0.01, maxDfFraction = 0.9
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!pruned.contains((1L, 3L)), "all-docs term must not link disjoint docs")
  }

  test("nearestJoin picks the closer side; backward wins ties") {
    import graft.operators.Joins
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // nearer forward (10:00:30)
      (2L, 10L, ts("2024-01-01 11:00:00")), // nearer backward (10:59:00)
      (3L, 10L, ts("2024-01-01 12:00:00")), // equidistant -> backward wins
      (4L, 99L, ts("2024-01-01 10:00:00"))  // no right rows -> nulls
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:58:00"), "b1"),
      (10L, ts("2024-01-01 10:00:30"), "f1"),
      (10L, ts("2024-01-01 10:59:00"), "b2"),
      (10L, ts("2024-01-01 11:58:00"), "b3"),
      (10L, ts("2024-01-01 12:02:00"), "f3")
    ).toDF("user_id", "ts", "value")
    val got = Joins
      .nearestJoin(left, right, "user_id", "ts", "ts", "value")
      .orderBy("event_id")
      .collect()
      .map(r => (Option(r.getAs[String]("near_value")), Option(r.getAs[Any]("near_dist_us"))))
    assert(got(0) == ((Some("f1"), Some(30000000L))))
    assert(got(1) == ((Some("b2"), Some(60000000L))))
    assert(got(2) == ((Some("b3"), Some(120000000L)))) // tie -> backward
    assert(got(3) == ((None, None)))
  }

  test("retentionMatrix builds the cohort triangle") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      // cohort day 0: u1 returns on day 1 and 2; u2 only day 0
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 09:00:00")),
      (1L, ts("2024-01-03 09:00:00")), (2L, ts("2024-01-01 23:00:00")),
      // cohort day 1: u3, returns day 2
      (3L, ts("2024-01-02 01:00:00")), (3L, ts("2024-01-03 01:00:00"))
    ).toDF("user_id", "ts")
    val got = Sessionize
      .retentionMatrix(df, "user_id", "ts", bucketSeconds = 86400L)
      .orderBy("cohort_start", "offset")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // day-0 cohort (2 users): offsets 0/1/2 with 2/1/1 active
    assert(got.take(3).toSeq == Seq(
      (0L, 2L, 2L, 1.0), (1L, 1L, 2L, 0.5), (2L, 1L, 2L, 0.5)
    ))
    // day-1 cohort (1 user): offsets 0/1
    assert(got.drop(3).toSeq == Seq((0L, 1L, 1L, 1.0), (1L, 1L, 1L, 1.0)))
  }

  test("contentOverlap reports shared-content fractions") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val b = Seq((5L, "y"), (6L, "z"), (7L, "w"), (8L, "w")).toDF("id", "text")
    val r = Dedup.contentOverlap(a, b, "text").head()
    assert(r.getAs[Long]("n_a") == 3L)
    assert(r.getAs[Long]("n_b") == 3L) // w deduped
    assert(r.getAs[Long]("n_shared") == 2L)
    assert(math.abs(r.getAs[Double]("jaccard") - 0.5) < 1e-9) // 2 / (3+3-2)
    assert(math.abs(r.getAs[Double]("containment_a") - 2.0 / 3) < 1e-6)
  }

  test("funnel requires strictly ordered step progression") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      // u1 completes A -> B -> C in order
      (10L, "A", ts("2024-01-01 10:00:00")),
      (10L, "B", ts("2024-01-01 10:05:00")),
      (10L, "C", ts("2024-01-01 10:10:00")),
      // u2: B precedes the first A -> funnel stalls at A (later B counts)
      (11L, "B", ts("2024-01-01 09:00:00")),
      (11L, "A", ts("2024-01-01 09:30:00")),
      (11L, "C", ts("2024-01-01 09:40:00")), // C before any qualifying B
      (11L, "B", ts("2024-01-01 09:50:00")),
      // u3 never starts
      (12L, "C", ts("2024-01-01 08:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val got = Sessionize
      .funnel(df, "user_id", "ts", "event_type", Seq("A", "B", "C"))
      .orderBy("user_id")
      .collect()
    assert(got(0).getAs[Int]("n_steps") == 3)
    assert(got(0).getAs[java.sql.Timestamp]("step_2_ts") == ts("2024-01-01 10:10:00"))
    // u2: A at 9:30, qualifying B at 9:50, no C after that
    assert(got(1).getAs[Int]("n_steps") == 2)
    assert(got(1).getAs[java.sql.Timestamp]("step_1_ts") == ts("2024-01-01 09:50:00"))
    assert(got(1).isNullAt(got(1).fieldIndex("step_2_ts")))
    assert(got(2).getAs[Int]("n_steps") == 0)
    intercept[IllegalArgumentException] {
      Sessionize.funnel(df, "user_id", "ts", "event_type", Seq("A", "A"))
    }
  }

  test("rollingStats aggregates the trailing n-row frame per key") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 10L, ts("2024-01-01 10:01:00"), 2.0),
      (3L, 10L, ts("2024-01-01 10:02:00"), 3.0),
      (4L, 10L, ts("2024-01-01 10:03:00"), 4.0),
      (5L, 11L, ts("2024-01-01 10:00:00"), 9.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val got = Sessionize
      .rollingStats(df, "user_id", "ts", "value", n = 3, tieCol = "event_id")
      .orderBy("event_id")
      .collect()
      .map(r => (r.getAs[Long]("roll_n"), r.getAs[Double]("roll_sum"), r.getAs[Double]("roll_avg")))
    assert(got(0) == ((1L, 1.0, 1.0)))
    assert(got(1) == ((2L, 3.0, 1.5)))
    assert(got(2) == ((3L, 6.0, 2.0)))
    assert(got(3) == ((3L, 9.0, 3.0))) // frame slides: rows 2,3,4
    assert(got(4) == ((1L, 9.0, 9.0))) // other key unaffected
  }

  test("equiDepthBins splits into near-equal quantile bins") {
    import graft.operators.Stats
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val binned = Stats.equiDepthBins(df, "v", 4)
    val sizes = binned
      .groupBy("v_bin")
      .count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    assert(sizes.keySet == Set(1, 2, 3, 4))
    assert(sizes.values.forall(n => n >= 24 && n <= 26), sizes.toString)
    // monotone: higher values never land in lower bins
    val rows = binned.collect().map(r => (r.getDouble(0), r.getInt(1)))
    assert(rows.sortBy(_._1).map(_._2).sliding(2).forall(p => p.head <= p.last))
    intercept[IllegalArgumentException] { Stats.equiDepthBins(df, "v", 1) }
  }

  test("keySkewReport flags the hot key") {
    import graft.operators.Stats
    val df = (Seq.fill(8)("hot") ++ Seq("a", "b", "c", "d")).toDF("k")
    val r = Stats.keySkewReport(df, Seq("k")).head()
    assert(r.getAs[Long]("n_rows") == 12L)
    assert(r.getAs[Long]("n_keys") == 5L)
    assert(r.getAs[Long]("max_count") == 8L)
    assert(r.getAs[String]("top_key") == "hot")
    // max/avg = 8 / (12/5)
    assert(math.abs(r.getAs[Double]("skew_ratio") - 8.0 / 2.4) < 1e-6)
    assert(math.abs(r.getAs[Double]("top_fraction") - 8.0 / 12) < 1e-6)
  }

  test("incremental minhash dedup drops corpus dups and in-batch dups only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "dog lazy the over jumps fox brown quick the"), // dup of corpus 1
      (11L, "a genuinely novel document about distributed joins"),
      (12L, "novel document about distributed joins a genuinely"), // dup of 11
      (13L, "entirely fresh text mentioning watermarks and state")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(corpus, "doc_id", "text", 1, 16)
    val kept = Dedup
      .dedupNearMinHashIncremental(batch, "doc_id", "text", sigs, threshold = 0.9)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    assert(kept.toSeq == Seq(11L, 13L))
  }

  test("incremental simhash dedup: exact and near corpus dups, in-batch dup, survivor") {
    val near = "the river runs past the old mill where the miller once ground " +
      "wheat for the whole valley and the children played by the water " +
      "every summer afternoon"
    val other = "completely different content about spark engines and query planners"
    val corpus = Seq((1L, near), (2L, other)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, other.split(" ").reverse.mkString(" ")), // same tokens as corpus 2
      (11L, near.replaceFirst("river", "brook")), // one word off corpus 1
      (12L, "a genuinely novel document about distributed joins and watermarks"),
      (13L, "watermarks and joins distributed about document novel genuinely a"),
      (14L, "entirely fresh text mentioning state stores and checkpoints")
    ).toDF("doc_id", "text")
    val corpusSigs = Dedup.simHashSignatures(corpus, "doc_id", "text")
    // doc 11 is a NEAR match: within maxHamming of corpus 1, not identical
    val sig = Dedup.simHashSignatures(corpus.union(batch), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = java.lang.Long.bitCount(sig(11L) ^ sig(1L))
    assert(d >= 1 && d <= 3, s"doc 11 is $d bits from corpus doc 1")
    val kept = Dedup
      .dedupNearSimHashIncremental(batch, "doc_id", "text", corpusSigs, maxHamming = 3)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    assert(kept.toSeq == Seq(12L, 14L))
  }

  test("heavyHitters returns per-group top values by frequency") {
    import graft.operators.TopN
    val df = Seq(
      ("u1", "view"), ("u1", "view"), ("u1", "click"), ("u1", "buy"), ("u1", "buy"), ("u1", "buy"),
      ("u2", "view")
    ).toDF("user", "ev")
    val got = TopN
      .heavyHitters(df, Seq("user"), "ev", 2)
      .orderBy("user", "rank")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq(
      ("u1", "buy", 3L, 1), ("u1", "view", 2L, 2), ("u2", "view", 1L, 1)
    ))
  }

  test("chunkText windows overlap and cover every token") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, (1 to 12).map(i => s"w$i").mkString(" ")), // 12 tokens
      (2L, "solo"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .chunkText(df, "doc_id", "text", chunkTokens = 5, overlapTokens = 2)
      .orderBy("doc_id", "chunk_id")
      .collect()
    // doc 1: starts 0,3,6,9 -> 4 chunks; doc 2: one chunk; doc 3: none
    assert(got.length == 5)
    val c1 = got.filter(_.getLong(0) == 1L)
    assert(c1.map(_.getString(2)).toSeq == Seq(
      "w1 w2 w3 w4 w5", "w4 w5 w6 w7 w8", "w7 w8 w9 w10 w11", "w10 w11 w12"
    ))
    assert(c1.map(_.getInt(3)).toSeq == Seq(5, 5, 5, 3))
    assert(got.filter(_.getLong(0) == 2L).head.getString(2) == "solo")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkText(df, "doc_id", "text", 3, 3)
    }
  }

  test("bigramLogProb scores corpus-typical transitions near zero") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "a b a b"),   // bigrams: ab, ba, ab
      (2L, "a b"),       // ab
      (3L, "a c"),       // ac
      (4L, "x")          // no bigrams -> dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .bigramLogProb(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    // model: c(a,b)=3, c(b,a)=1, c(a,c)=1; ctx(a)=4, ctx(b)=1
    val lpAB = math.log(3.0 / 4.0)
    val lpBA = math.log(1.0 / 1.0)
    val lpAC = math.log(1.0 / 4.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == 3 && math.abs(got(1L)._2 - r6((2 * lpAB + lpBA) / 3)) < 1e-9)
    assert(got(2L) == ((1, r6(lpAB))))
    assert(got(3L) == ((1, r6(lpAC))))
  }

  test("standardize with groupCols scales within each group") {
    import graft.operators.Stats
    val df = Seq(
      ("g1", 1.0), ("g1", 2.0), ("g1", 3.0),
      ("g2", 100.0), ("g2", 200.0), ("g2", 300.0)
    ).toDF("grp", "x")
    val z = Stats.standardize(df, Seq("x"), groupCols = Seq("grp"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // both groups standardize to the same shape despite 100x scale
    val g1 = z.filter(_._1 == "g1").sortBy(_._2).map(_._3)
    val g2 = z.filter(_._1 == "g2").sortBy(_._2).map(_._3)
    assert(g1.zip(g2).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(math.abs(g1.sum) < 1e-9)
  }

  test("standardize yields zero-mean unit-variance columns; constant -> null") {
    import graft.operators.Stats
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
      .map(v => (v, 7.5))
      .toDF("x", "const")
    val z = Stats.standardize(df, Seq("x", "const")).collect()
    val xs = z.map(_.getDouble(2))
    assert(math.abs(xs.sum) < 1e-9)
    // sample stddev of 1..5 is sqrt(2.5); z of 5 = 2/sqrt(2.5)
    assert(math.abs(xs.max - 2.0 / math.sqrt(2.5)) < 1e-6)
    assert(z.forall(_.isNullAt(3)), "constant column must standardize to null")
    intercept[IllegalArgumentException] { Stats.standardize(df, Seq("nope")) }
  }

  test("randomProjection matches a brute-force JL sketch") {
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, Seq(0.5f, -1.25f, 2.0f)),
      (2L, Seq(-0.1f, 0.0f, 3.5f))
    )
    val got = Similarity
      .randomProjection(vecs.toDF("id", "emb"), "id", "emb", inDims = 3, outDims = 2)
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    assert(got.size == 4)
    def sign(i: Int, j: Int): Int = {
      val digest = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8"))
      val hexDigit = (digest(0) >> 4) & 0xf
      1 - 2 * (hexDigit % 2)
    }
    for {
      (id, emb) <- vecs
      j <- 0 until 2
    } {
      val expected = emb.zipWithIndex.map { case (v, i) =>
        math.floor(v.toDouble * 1e7).toLong * sign(i, j)
      }.sum / 1e7
      assert(got((id, j)) == expected, s"id=$id dim=$j")
    }
  }

  test("mining paths: representativesOnly caps a giant cluster at O(cluster)") {
    import graft.operators.Dedup
    val k = 40
    // one identical cluster: exhaustive mining is quadratic (k*(k-1)/2
    // pairs), the representatives knob pins every pair to the bucket
    // minimum (k-1 pairs) — the same escape the dedup paths already have
    val docs = (1L to k).map(i => (i, "identical cluster member text"))
      .toDF("id", "text")
    assert(
      Dedup.simHashCandidatePairs(docs, "id", "text").count() == k * (k - 1) / 2
    )
    val simReps = Dedup
      .simHashCandidatePairs(docs, "id", "text", representativesOnly = true)
      .collect()
    assert(simReps.length == k - 1, s"got ${simReps.length} pairs")
    assert(simReps.forall(r => r.getLong(0) == 1L && r.getInt(2) == 0))

    val names = (1L to k).map(i => (i, "samename")).toDF("id", "name")
    assert(
      Dedup.fuzzyStringPairs(names, "id", "name").count() == k * (k - 1) / 2
    )
    val fuzzReps = Dedup
      .fuzzyStringPairs(names, "id", "name", representativesOnly = true)
      .collect()
    assert(fuzzReps.length == k - 1, s"got ${fuzzReps.length} pairs")
    assert(fuzzReps.forall(r => r.getLong(0) == 1L && r.getInt(2) == 0))
  }

  test("equiDepthBins gives NULL values a NULL bin, not bin 1") {
    import graft.operators.Stats
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None).toDF("v")
    val binned = Stats.equiDepthBins(df, "v", 2, exact = true)
    assert(binned.filter(col("v").isNull).select("v_bin").head().isNullAt(0))
    assert(binned.filter(col("v").isNotNull && col("v_bin").isNull).count() == 0)
  }

  test("extractHtmlText strips structure, decodes entities, collapses space") {
    val cases = Seq(
      // comments, script/style bodies, tags, whitespace collapse
      (1L, "<p>Hello <b>world</b></p>\n<!-- c --> <br/>bye", "Hello world bye"),
      (2L, "<script>var a = 1 < 2; s = \"</p>\";</script>after", "after"),
      (3L, "<style>p { color: red }</style>text", "text"),
      (4L, "<SCRIPT>upper</SCRIPT>kept", "kept"), // (?i) on block tags
      // entities: named, numeric, and the &amp;lt; no-double-decode case
      (5L, "a &amp; b &lt;x&gt; &quot;q&quot; &apos;y&apos;&#39;z&#39; &nbsp;w", "a & b <x> \"q\" 'y''z' w"),
      (6L, "stay: &amp;lt; &eacute;", "stay: &lt; é"),
      // full-table typography: named, hex (case-blind), leading-zero
      // decimal; HTML5-only names and out-of-table numerics verbatim
      (10L, "a&mdash;b &rsquo;tis&hellip; it&#x2019;s &#X2014; caf&#0233;",
        "a—b ’tis… it’s — café"),
      (11L, "&nleq; &#x1F4A9; &fake; &#00000000000000000000000000233; &lt",
        "&nleq; &#x1F4A9; &fake; &#00000000000000000000000000233; &lt"),
      // case-SENSITIVE names (HTML4: Eacute != eacute), && re-scan
      (12L, "&Eacute;&eacute; &&gt; &EACUTE;", "Éé &> &EACUTE;"),
      (7L, "<div><ul><li>one</li><li>two</li></ul></div>", "one two"),
      (8L, "   \t\n  ", ""), // all-whitespace -> empty
      (9L, "<html><body><!-- only markup --></body></html>", "")
    )
    val got = graft.operators.TextAnalysis
      .extractHtmlText(
        cases.map(c => (c._1, c._2)).toDF("id", "html"), "html", "out")
      .select("id", "out")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    cases.foreach { case (id, html, want) =>
      assert(got(id) == want, s"id=$id html=$html got='${got(id)}'")
    }
    // NULL html -> NULL text
    val n = graft.operators.TextAnalysis
      .extractHtmlText(
        Seq(1).toDF("x").select(lit(null).cast("string").as("html")),
        "html", "out")
      .select("out").collect().head
    assert(n.isNullAt(0))
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis
        .extractHtmlText(Seq((1, "a", "b")).toDF("id", "html", "out"), "html", "out")
    }
  }

  test("native entity decode equals the shared regex stage chain on entity soup") {
    // THE parity that makes the oracle exact: the DuckDB side folds
    // HtmlEntities.Stages verbatim, the Spark side runs the one-pass
    // scanner — so fold the SAME stages through Spark's regexp_replace
    // and demand equality on adversarial soup (valid/invalid names,
    // case variants, zero-padded decimals, hex case, truncations,
    // adjacent/nested ampersands, out-of-table numerics).
    val rnd = new scala.util.Random(42)
    val names = graft.plans.HtmlEntities.Named.map(_._1)
    val cps = graft.plans.HtmlEntities.Named.map(_._2)
    def piece(): String = rnd.nextInt(14) match {
      case 0 => s"&${names(rnd.nextInt(names.size))};"
      case 1 =>
        val cp = cps(rnd.nextInt(cps.size))
        s"&#${"0" * rnd.nextInt(27)}$cp;"
      case 2 =>
        val cp = cps(rnd.nextInt(cps.size))
        val h = Integer.toHexString(cp)
        val hh = if (rnd.nextBoolean()) h.toUpperCase else h
        s"&#${if (rnd.nextBoolean()) "x" else "X"}${"0" * rnd.nextInt(27)}$hh;"
      case 3 => s"&${names(rnd.nextInt(names.size))}" // missing ;
      case 4 => "&"
      case 5 => "&;"
      case 6 => s"&amp;${names(rnd.nextInt(names.size))};" // no double decode
      case 7 => s"&#${rnd.nextInt(200000)};" // mostly out of table
      case 8 => s"&#x${Integer.toHexString(rnd.nextInt(200000))};"
      case 9 => s"&${names(rnd.nextInt(names.size)).toUpperCase};"
      case 10 => s"&bogus${rnd.nextInt(10)};"
      case 11 => "plain text "
      case 12 => s"&&${names(rnd.nextInt(names.size))};"
      case 13 => s"&#${"0" * (20 + rnd.nextInt(12))};" // all zeros
    }
    val docs = (0 until 300).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(12))).map(_ => piece()).mkString)
    }
    val df = docs.toDF("id", "s")
    val chain = graft.plans.HtmlEntities.Stages.foldLeft(col("s")) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    val mismatches = df
      .select(
        col("id"),
        col("s"),
        chain.as("chain"),
        graft.operators.TextAnalysis.decodeHtmlEntities(col("s")).as("native")
      )
      .filter(col("chain") =!= col("native"))
      .collect()
    assert(
      mismatches.isEmpty,
      mismatches.take(5).map(r => s"'${r.getString(1)}': chain='${r.getString(2)}' native='${r.getString(3)}'").mkString("\n")
    )
    // every table entry round-trips through all three written forms
    val all = graft.plans.HtmlEntities.Named.map { case (n, cp) =>
      (s"&$n;&#$cp;&#x${Integer.toHexString(cp)};",
        graft.plans.HtmlEntities.replacement(cp) * 3)
    }.toDF("s", "want")
    val bad = all
      .select(
        col("want"),
        graft.operators.TextAnalysis.decodeHtmlEntities(col("s")).as("got")
      )
      .filter(col("want") =!= col("got"))
      .count()
    assert(bad == 0L, s"$bad entities failed the three-form round trip")
  }

  test("maskPii masks every detected occurrence; piiReport counts them") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "reach me at jane.doe+x@sub.example.co.uk today"),
      (2L, "server 192.168.0.1 and 10.0.0.255 up"),
      (3L, "call (555) 123-4567 or 555-123-4567 now"),
      (4L, "all three: a@b.io 1.2.3.4 555-123-4567"),
      (5L, "clean text, no pii at all"),
      (6L, "version 1.2.3 is not an ip; 12345-678 not a phone"),
      // a phone-shaped tail inside a longer digit run must NOT match
      // (leading \b after the optional paren)
      (7L, "ticket 1555-123-4567 open")
    ).toDF("id", "t")
    val rep = TextAnalysis.piiReport(df, "id", "t")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
    assert(rep(1L) == ((1, 0, 0, 1)))
    assert(rep(2L) == ((0, 2, 0, 2)))
    assert(rep(3L) == ((0, 0, 2, 2)))
    assert(rep(4L) == ((1, 1, 1, 3)))
    assert(rep(5L) == ((0, 0, 0, 0)))
    assert(rep(6L) == ((0, 0, 0, 0)), s"false positives: ${rep(6L)}")
    assert(rep(7L) == ((0, 0, 0, 0)), s"mid-digit-run phone match: ${rep(7L)}")
    // masking removes exactly what the report detects: re-reporting the
    // masked text must count zero for every kind
    val masked = TextAnalysis.maskPii(df, "t")
    assert(masked.filter(col("masked").contains("<<EMAIL>>")).count() == 2)
    val post = TextAnalysis.piiReport(masked, "id", "masked")
      .agg(sum("n_pii")).collect().head.getLong(0)
    assert(post == 0L, s"masked text still reports $post PII occurrences")
    // NULL text -> zero counts, NULL masked
    val n = TextAnalysis.piiReport(
      Seq(9L).toDF("id").select(col("id"), lit(null).cast("string").as("t")),
      "id", "t").collect().head
    assert(n.getInt(4) == 0)
  }

  test("gopherQualityFlags trips each rule independently") {
    import graft.operators.TextAnalysis
    val good = "the and quick brown foxes jumped over lazy dogs while " +
      "seven wizards brewed strong coffee during rainy autumn evenings " +
      "near quiet rivers flowing south" // 24 tokens, 2 stopwords, clean
    val docs = Seq(
      (1L, good),                                        // all rules pass
      (2L, "the and tiny"),                              // word count < 20
      (3L, ("abcdefghijklmnop " * 25).trim),             // mean len 16 > 10
      (4L, good + " ab#cd ef#gh ij#kl"),                 // 3 '#' / 27 > 0.1
      (5L, good + " 111 222 333 444 555 666 777"),       // alpha 24/31 < 0.8
      (6L, good.split(" ").drop(2).mkString(" ") +       // no stopwords,
        " tomorrow yesterday morning evening")           // still >= 20 toks
    ).toDF("doc_id", "text")
    val flags = Seq(
      "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "alpha_ratio_ok", "stopword_ok"
    )
    val got = TextAnalysis
      .gopherQualityFlags(docs, "text", minTokens = 20)
      .orderBy("doc_id")
      .collect()
      .map(r => r.getLong(0) ->
        (flags.map(f => f -> r.getAs[Boolean](f)).toMap, r.getAs[Boolean]("gopher_keep")))
      .toMap
    val expectedFalse = Map(
      1L -> Set.empty[String],
      2L -> Set("word_count_ok"),
      3L -> Set("mean_word_len_ok", "stopword_ok"),
      4L -> Set("symbol_ratio_ok"),
      5L -> Set("alpha_ratio_ok"),
      6L -> Set("stopword_ok")
    )
    expectedFalse.foreach { case (id, falseSet) =>
      val (fl, keep) = got(id)
      flags.foreach { f =>
        assert(fl(f) == !falseSet.contains(f), s"doc $id flag $f")
      }
      assert(keep == falseSet.isEmpty, s"doc $id gopher_keep")
    }
  }

  test("kmeansCluster separates planted clusters and is partition-invariant") {
    // two tight planted clusters around (0,0,..) and (10,10,..)
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 0.0f else 10.0f
      (i.toLong, Seq.fill(4)(base + (i % 5) * 0.01f))
    }
    val df = vecs.toDF("id", "vec")
    val got = Similarity
      .kmeansCluster(df, "id", "vec", k = 2, rounds = 2)
      .select("id", "cluster")
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    val evens = (0 until 20 by 2).map(i => got(i.toLong)).toSet
    val odds = (1 until 20 by 2).map(i => got(i.toLong)).toSet
    assert(evens.size == 1 && odds.size == 1 && evens != odds,
      s"planted clusters not separated: $got")
    // the model is integer-sum based, so partitioning cannot change it
    val rep = Similarity
      .kmeansCluster(df.repartition(7), "id", "vec", k = 2, rounds = 2)
      .select("id", "cluster")
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    assert(rep == got)
    // k > points: empty clusters keep their seed centroid, nothing crashes
    val tiny = Similarity
      .kmeansCluster(df.limit(3), "id", "vec", k = 8, rounds = 2)
      .select("cluster")
      .collect()
    assert(tiny.length == 3)
  }

  // The k-means update before the shared Lloyd core: posexplode the
  // assigned vectors and sum floor(e * 1e6) as decimal(38,0) per (cluster,
  // position). Kept here as the reference the exact map-side centroid sums
  // must reproduce bit for bit; `width` pads updated centroids the way PQ
  // does.
  private def kmeansTrainReference(
      df: org.apache.spark.sql.DataFrame,
      k: Int,
      rounds: Int,
      width: Option[Int] = None
  ): Seq[Seq[Float]] = {
    val src = df.filter(col("vec").isNotNull)
    var centroids: Seq[Seq[Float]] = src
      .withColumn("__h", TextFunctions.md5Prefix60(col("id").cast("string")))
      .orderBy(col("__h"), col("id"))
      .limit(k)
      .select(col("vec"))
      .collect()
      .map(_.getSeq[Float](0).toSeq)
      .toSeq
    for (_ <- 1 to rounds) {
      val upd = src
        .withColumn("__cl",
          VectorFunctions.nearestCentroid(col("vec"), centroids).getField("cluster"))
        .select(col("__cl"), posexplode(col("vec")).as(Seq("__pos", "__e")))
        .groupBy(col("__cl"), col("__pos"))
        .agg(
          sum(floor(col("__e").cast("double") * lit(1000000.0)).cast("decimal(38,0)"))
            .as("__s"),
          count(lit(1)).as("__n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cl, rows) =>
          val v = new Array[Float](width.getOrElse(rows.map(_.getInt(1)).max + 1))
          rows.foreach { r =>
            v(r.getInt(1)) =
              (r.getDecimal(2).doubleValue() / 1000000.0 / r.getLong(3).toDouble).toFloat
          }
          cl -> v.toSeq
        }
      centroids = centroids.zipWithIndex.map { case (old, c) => upd.getOrElse(c, old) }
    }
    centroids
  }

  test("k-means and PQ centroid sums equal the posexplode + decimal update") {
    // the floor(e * 1e6) term matches Spark's floor(double) -> long,
    // NaN and saturation included
    val specials = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MaxValue, -Float.MaxValue, Float.MinPositiveValue,
      -Float.MinPositiveValue, 0.0f, -0.0f, 1e-7f, -1e-7f, 0.1f, -2.5e-6f,
      123.456f, 1e13f, -1e13f)
    val sparkFloors = specials.zipWithIndex.toDF("e", "i")
      .select(col("i"), floor(col("e").cast("double") * lit(1000000.0)))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    specials.zipWithIndex.foreach { case (e, i) =>
      assert(graft.operators.CentroidSums.micros(e) == sparkFloors(i), s"floor term of $e")
    }
    // ragged lengths (2, 4, 6) and negative values, over 4 partitions; the
    // four identical huge rows share a cluster and each saturates
    // floor(e * 1e6) at a long bound, so two of them overflow a long sum:
    // inside the first and the last partition (rows 2, 3 and 30, 31), and
    // again where those two partials merge
    val huge = Seq(1e13f, -2e13f, 3e13f, 1.0f)
    val rows = (0 until 32).map { i =>
      val v =
        if (Set(2, 3, 30, 31).contains(i)) huge
        else if (i % 2 == 0) Seq.tabulate(2 + 2 * (i % 3))(d => 1.0f + 0.1f * d + 0.01f * i)
        else Seq.tabulate(2 + 2 * (i % 3))(d => -5.0f - 0.3f * d + 0.02f * i)
      (i.toLong, v)
    }
    val df = spark.sparkContext.parallelize(rows, 4).toDF("id", "vec")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val km = Similarity.kmeansTrain(df, "id", "vec", k = 3, rounds = 2)
    assert(km == kmeansTrainReference(df, 3, 2))
    // the planted cases held: round 2 put the huge rows in one cluster and
    // rows of different lengths in a shared cluster
    val round2 = Similarity
      .kmeansAssign(df, "vec", kmeansTrainReference(df, 3, 1))
      .select(col("id"), size(col("vec")), col("cluster"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(Set(2L, 3L, 30L, 31L).map(id => round2.find(_._1 == id).get._3).size == 1)
    assert(round2.groupBy(_._3).values.exists(_.map(_._2).distinct.length > 1))
    // PQ subspace s is the reference k-means over slice s
    val pq = Similarity.pqTrain(df, "id", "vec", numSubspaces = 2, k = 3, rounds = 2)
    val sub = pq.head.head.length
    pq.zipWithIndex.foreach { case (book, s) =>
      val sliced = df.select(col("id"), slice(col("vec"), s * sub + 1, sub).as("vec"))
      assert(book == kmeansTrainReference(sliced, 3, 2, Some(sub)), s"subspace $s")
    }
    assert(sc.getPersistentRDDs.keySet == before, "training must release its input")
  }

  test("kmeansTrain rejects a null embedding element and releases its input") {
    // a MIXED null/non-null element position must fail loudly, not bias
    // the centroid mean
    val dirty = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Seq(1.0f, 2.0f, 3.0f, 4.0f))
    ).toDF("vec_id", "embedding")
      .union(
        Seq(3L).toDF("vec_id").select(
          col("vec_id"),
          array(lit(1.0f), lit(null).cast("float"), lit(3.0f), lit(4.0f))
            .as("embedding")
        )
      )
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      Similarity.kmeansTrain(dirty, "vec_id", "embedding", k = 1, rounds = 1)
    }
    assert(ex.getMessage.contains("null embedding element in cluster 0 dim 1"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("semDeDup keeps the centroid-farthest (or closest) member per pair") {
    // colinear trio (cosine 1.0 pairwise, distinct centroid distances)
    // plus one orthogonal singleton that must always survive
    val df = Seq(
      (0L, Seq(10.0f, 0.0f)),   // mid distance from the colinear centroid
      (1L, Seq(13.0f, 0.0f)),   // farthest
      (2L, Seq(10.5f, 0.0f)),   // closest
      (3L, Seq(0.0f, 10.0f))    // orthogonal singleton
    ).toDF("id", "vec")
    def survivors(keepFarthest: Boolean) = Dedup
      .semDeDup(df, "id", "vec", k = 2, rounds = 2,
        threshold = 0.99, keepFarthest = keepFarthest)
      .select("id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(survivors(keepFarthest = true) == Set(1L, 3L))
    assert(survivors(keepFarthest = false) == Set(2L, 3L))
    intercept[IllegalArgumentException] {
      Dedup.semDeDup(df, "id", "vec", k = 2, threshold = 1.5)
    }
  }

  test("quantileBuckets labels per-group tertiles with boundary ties down") {
    import graft.operators.Stats
    val df: Seq[(String, Option[Double])] =
      (1 to 9).map(i => ("g1", Option(i.toDouble))) ++
        Seq(("g2", Option(100.0)), ("g2", Option(200.0)),
          ("g2", Option(300.0)), ("g2", Option.empty[Double]))
    val in = df.toDF("g", "v")
    val got = Stats
      .quantileBuckets(
        in, Seq("g"), "v",
        probs = Seq(1.0 / 3, 2.0 / 3),
        labels = Seq("tail", "middle", "head")
      )
      .collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getString(2)))
    // g1: 1..9 -> tertile boundaries ~3.67/6.33; exact-boundary goes DOWN
    val g1 = got.filter(_._1 == "g1").map { case (_, v, b) => (v.get, b) }.toMap
    assert(Seq(1.0, 2.0, 3.0).forall(g1(_) == "tail"))
    assert(Seq(4.0, 5.0, 6.0).forall(g1(_) == "middle"))
    assert(Seq(7.0, 8.0, 9.0).forall(g1(_) == "head"))
    val g2 = got.filter(_._1 == "g2")
    assert(g2.collect { case (_, None, b) => b }.forall(_ == null))
    assert(g2.collect { case (_, Some(100.0), b) => b }.head == "tail")
    assert(g2.collect { case (_, Some(300.0), b) => b }.head == "head")
    intercept[IllegalArgumentException] {
      Stats.quantileBuckets(in, Seq("g"), "v", Seq(0.5), Seq("a", "b", "c"))
    }
    // a NULL group key is its own group — rows must NOT be dropped
    val withNullGroup = in.union(
      Seq((Option.empty[String], Option(1.0)), (Option.empty[String], Option(9.0)))
        .toDF("g", "v")
    )
    val ng = Stats
      .quantileBuckets(
        withNullGroup, Seq("g"), "v",
        probs = Seq(1.0 / 3, 2.0 / 3),
        labels = Seq("tail", "middle", "head")
      )
    assert(ng.count() == withNullGroup.count(), "null-group rows were dropped")
    val nullGroupBuckets = ng
      .filter(col("g").isNull)
      .select("v", "bucket")
      .collect()
      .map(r => r.getDouble(0) -> r.getString(1))
      .toMap
    assert(nullGroupBuckets == Map(1.0 -> "tail", 9.0 -> "head"))
  }

  test("IVF disk index probes with partition pruning and matches in-memory search") {
    val emb = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val centroids = Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivf")
      .toString + "/idx"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, path)
    // cell directories really are the layout (partitioned write)
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("cell="))
    assert(dirs.nonEmpty, "expected cell=N partition directories")
    val queries = emb.filter(col("vec_id") < 3)
    val probe = Similarity.probeIvfIndex(
      spark, path, queries, "vec_id", "embedding", centroids, k = 5, nProbe = 3)
    // the probe scan must prune to the probed cells at the source
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell partition pruning:\n$plan")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val expected = Similarity.ivfTopKWithCentroids(
      emb, queries, "vec_id", "embedding", k = 5, centroids, nProbe = 3)
    assert(canon(probe) == canon(expected))
  }

  test("IVF-PQ disk index probes with partition pruning and equals in-memory search") {
    val e = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val coarse = e.filter(col("vec_id") % 12 === 0).orderBy("vec_id")
      .limit(4).select("embedding")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0).toSeq).toSeq
    val cbs = Similarity.ivfPqTrain(e, "vec_id", "embedding", coarse, 8, 16, 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfpq")
      .toString + "/idx"
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", coarse, cbs, path)
    // cell directories really are the layout, and the files hold CODES
    // only — no float vectors at rest
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("cell="))
    assert(dirs.nonEmpty, "expected cell=N partition directories")
    val stored = spark.read.parquet(path)
    assert(stored.columns.sorted.toSeq == Seq("cell", "pq_codes", "vec_id"),
      s"at-rest schema must be codes-only, got ${stored.columns.mkString(",")}")
    val queries = e.filter(col("vec_id") < 3)
    val probe = Similarity.probeIvfPqIndex(
      spark, path, queries, "vec_id", "vec_id", "embedding",
      coarse, cbs, k = 5, nProbe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell partition pruning:\n$plan")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "adc_dist", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val expected = Similarity.ivfPqTopK(
      Similarity.ivfPqIndex(e, "vec_id", "embedding", coarse, cbs),
      "vec_id", queries, "vec_id", "embedding", coarse, cbs,
      k = 5, nProbe = 2)
    assert(canon(probe) == canon(expected),
      "disk probe must EXACTLY equal the in-memory IVF-PQ search")
  }

  test("thresholdSweep computes exact confusion counts and P/R/F1") {
    import graft.operators.Stats
    // scores: positives at 0.9/0.7/0.2, negatives at 0.8/0.1; null excluded
    val df: Seq[(Option[Double], Option[Boolean])] = Seq(
      (Option(0.9), Option(true)),
      (Option(0.7), Option(true)),
      (Option(0.2), Option(true)),
      (Option(0.8), Option(false)),
      (Option(0.1), Option(false)),
      (Option.empty[Double], Option(true)),
      (Option(0.5), Option.empty[Boolean])
    )
    val got = Stats
      .thresholdSweep(df.toDF("s", "l"), "s", "l", Seq(0.5, 0.75))
      .orderBy("threshold")
      .collect()
      .map(r => (r.getDouble(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)), (Option(r.get(5)), Option(r.get(6)))))
    // t=0.5: predicted pos = {0.9,0.7,0.8} -> tp=2 fp=1 fn=1 tn=1
    assert(got(0)._1 == 0.5 && got(0)._2 == ((2L, 1L, 1L, 1L)))
    assert(got(0)._3 == ((Some(0.666667), Some(0.666667))))
    // t=0.75: predicted pos = {0.9,0.8} -> tp=1 fp=1 fn=2 tn=1
    assert(got(1)._1 == 0.75 && got(1)._2 == ((1L, 1L, 2L, 1L)))
    assert(got(1)._3 == ((Some(0.5), Some(0.333333))))
    // degenerate: nothing predicted positive -> precision and f1 NULL
    val z = Stats
      .thresholdSweep(df.toDF("s", "l"), "s", "l", Seq(0.95))
      .collect()
      .head
    assert(z.getLong(1) == 0L && z.get(7) == null)
    intercept[IllegalArgumentException] {
      Stats.thresholdSweep(df.toDF("s", "l"), "s", "l", Seq(0.9, 0.1))
    }
  }

  test("charEntropy: uniform text = log2(alphabet), constant text = 0") {
    val df = Seq(
      (1L, "abab"),      // p(a)=p(b)=.5 -> 1 bit
      (2L, "aaaa"),      // constant -> 0
      (3L, "abcd"),      // 4 uniform chars -> 2 bits
      (4L, null.asInstanceOf[String]),
      (5L, "")
    ).toDF("id", "text")
    val got = TextAnalysis
      .charEntropy(df, "id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(got(1L) == ((4, 1.0)))
    assert(got(2L) == ((4, 0.0)))
    assert(got(3L) == ((4, 2.0)))
    assert(!got.contains(4L) && !got.contains(5L))
  }

  test("charEntropy: exact decimal-half sums round HALF_UP in decimal") {
    // Regression for the sf0.1 oracle-gate catch: this character
    // distribution's 9-decimal per-term sum is EXACTLY 4.1312275 — a
    // perfect half at the 6-decimal boundary. The nearest double to
    // 4.1312275 sits BELOW the half, so rounding the cast double (the old
    // code) gives 4.131227 in engines that round the binary value and
    // 4.131228 in engines that round the shortest decimal string —
    // engine-divergent. Rounding the DECIMAL sum first is exact HALF_UP:
    // 4.131228 everywhere. (~1/1000 docs hit such a half at corpus scale.)
    val counts = Seq(
      ' ' -> 74, 'a' -> 33, 'b' -> 6, 'c' -> 21, 'd' -> 9, 'e' -> 34,
      'f' -> 6, 'g' -> 6, 'h' -> 10, 'i' -> 16, 'j' -> 2, 'k' -> 5,
      'l' -> 27, 'm' -> 20, 'n' -> 17, 'o' -> 25, 'p' -> 7, 'q' -> 1,
      'r' -> 35, 's' -> 26, 't' -> 31, 'u' -> 10, 'v' -> 5, 'w' -> 9,
      'y' -> 2
    )
    val text = counts.map { case (c, k) => c.toString * k }.mkString
    assert(text.length == 437)
    val row = TextAnalysis
      .charEntropy(Seq((1L, text)).toDF("id", "text"), "id", "text")
      .collect()(0)
    assert(row.getInt(1) == 437)
    assert(row.getDouble(2) == 4.131228, s"got ${row.getDouble(2)}")
  }

  test("mixtureAllocation caps, redistributes once, all-integer") {
    import spark.implicits._
    val avail = Seq(("a", 1000L), ("b", 10000L), ("c", 10000L))
      .toDF("source", "tokens")
    // budget 10000 at .5/.3/.2: a wants 5000 but caps at 1000; leftover
    // 4000 redistributes over b (300000ppm) and c (200000ppm)
    val got = Splits
      .mixtureAllocation(
        avail, "source", "tokens",
        Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2),
        totalBudget = 10000L
      )
      .orderBy("source")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(got(0) == (("a", 1000L, 500000L, 1000L, 1.0, true)))
    // b: want 3000 + extra floor(4000*300000/500000)=2400 -> 5400
    assert(got(1) == (("b", 10000L, 300000L, 5400L, 0.54, false)))
    // c: want 2000 + extra floor(4000*200000/500000)=1600 -> 3600
    assert(got(2) == (("c", 10000L, 200000L, 3600L, 0.36, false)))
    // a source with no data allocates 0 and reports epochs 0
    val missing = Splits
      .mixtureAllocation(
        avail.filter(col("source") =!= "a"), "source", "tokens",
        Seq("a" -> 1.0), totalBudget = 100L
      )
      .collect()
      .head
    assert(missing.getLong(3) == 0L && missing.getDouble(4) == 0.0
      && missing.getBoolean(5))
    intercept[IllegalArgumentException] {
      Splits.mixtureAllocation(avail, "source", "tokens",
        Seq("a" -> -1.0), 100L)
    }
  }

  test("giniCoefficient: exact textbook cases, tie- and partition-invariant") {
    import graft.operators.Stats
    // perfectly even -> 0
    val even = Seq(10.0, 10.0, 10.0, 10.0).toDF("x")
    assert(Stats.giniCoefficient(even, "x").collect().head.getDouble(1) == 0.0)
    // one owner of everything among n=4 -> (n-1)/n = 0.75
    val one = Seq(0.0, 0.0, 0.0, 100.0).toDF("x")
    val r1 = Stats.giniCoefficient(one, "x").collect().head
    assert(r1.getLong(0) == 4L && r1.getDouble(1) == 0.75)
    // hand case [1,2,3,4]: G = (2*(1+4+9+16) - 5*10) / (4*10) = 0.25
    val hand = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    assert(Stats.giniCoefficient(hand, "x").collect().head.getDouble(1) == 0.25)
    // ties + partitioning cannot change the integer rank sums
    val tied = Seq(1.0, 1.0, 2.0, 2.0, 4.0).toDF("x")
    val a = Stats.giniCoefficient(tied, "x").collect().head.getDouble(1)
    val b = Stats
      .giniCoefficient(tied.repartition(7), "x")
      .collect().head.getDouble(1)
    assert(a == b)
    // per-group: each group computed independently
    val grouped = Seq(("a", 5.0), ("a", 5.0), ("b", 0.0), ("b", 10.0))
      .toDF("g", "x")
    val byG = Stats
      .giniCoefficient(grouped, "x", groupCols = Seq("g"))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(2))
      .toMap
    assert(byG("a") == 0.0 && byG("b") == 0.5)
    // all-zero mass -> NULL gini (undefined)
    val zeros = Seq(0.0, 0.0).toDF("x")
    assert(Stats.giniCoefficient(zeros, "x").collect().head.isNullAt(1))
  }

  test("aucRoc computes exact tie-aware AUC, NULL on single-class input") {
    import graft.operators.Stats
    // scores: pos {0.9, 0.5, 0.3}, neg {0.5, 0.1} — one tie at 0.5.
    // pairwise: (0.9 beats both) 2 + (0.5 vs 0.5 tie) 0.5 + (0.5>0.1) 1
    //         + (0.3<0.5) 0 + (0.3>0.1) 1 = 4.5 of 6 -> AUC 0.75
    val df = Seq(
      (0.9, true), (0.5, true), (0.3, true), (0.5, false), (0.1, false)
    ).toDF("s", "l")
    val r = Stats.aucRoc(df, "s", "l").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.75)
    // perfect separation -> 1.0; reversed labels -> 0.0
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false)).toDF("s", "l")
    assert(Stats.aucRoc(perfect, "s", "l").collect().head.getDouble(2) == 1.0)
    val inverted = Seq((0.9, false), (0.2, true)).toDF("s", "l")
    assert(Stats.aucRoc(inverted, "s", "l").collect().head.getDouble(2) == 0.0)
    // single class -> NULL auc
    val oneClass = Seq((0.9, true), (0.2, true)).toDF("s", "l")
    assert(Stats.aucRoc(oneClass, "s", "l").collect().head.isNullAt(2))
    // partition-invariant (integer rank sums)
    val rep = Stats.aucRoc(df.repartition(5), "s", "l").collect().head
    assert(rep.getDouble(2) == 0.75)
  }

  test("corpusEntropy: hand-computed H1/H2, redundancy ordering, empty corpus") {
    import graft.operators.TextAnalysis
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    def h(counts: Seq[Long]): Double = {
      val n = counts.sum.toDouble
      r(
        counts
          .map(c => r(-(c / n) * (math.log(c / n) / math.log(2.0)), 9))
          .sum
          .toDouble,
        6
      ).toDouble
    }
    // "a b a b" + "a b": unigrams a:3 b:3 -> H1 = 1 bit;
    // bigrams (a,b):3 (b,a):1 -> H2 = 0.811278; cond goes NEGATIVE here —
    // the documented plug-in small-sample behavior (maximal redundancy)
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("id", "text")
    val row = TextAnalysis.corpusEntropy(docs, "text").collect().head
    assert(row.getLong(0) == 6L && row.getLong(1) == 2L)
    assert(row.getDouble(2) == h(Seq(3L, 3L)))
    assert(row.getLong(3) == 4L && row.getLong(4) == 2L)
    assert(row.getDouble(5) == h(Seq(3L, 1L)))
    assert(row.getDouble(6) <= 0.0)
    // a templated corpus must score LOWER conditional entropy than a
    // diverse one with the same unigram profile size
    val templated = (1 to 40).map(i => (i.toLong, "click here to accept cookies"))
    val rnd = new scala.util.Random(9)
    val words = Vector("click", "here", "to", "accept", "cookies")
    val diverse = (1 to 40).map(i =>
      (i.toLong, Seq.fill(5)(words(rnd.nextInt(5))).mkString(" ")))
    def cond(rows: Seq[(Long, String)]) = TextAnalysis
      .corpusEntropy(rows.toDF("id", "text"), "text")
      .collect().head.getDouble(6)
    assert(cond(templated) < cond(diverse),
      s"templated ${cond(templated)} should be below diverse ${cond(diverse)}")
    // empty corpus still reports its row, with NULL entropies
    val empty = TextAnalysis
      .corpusEntropy(docs.filter(col("id") > 100), "text")
      .collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(2) && empty.isNullAt(6))
  }

  test("cohenKappa: textbook example, perfect/chance/degenerate cases, nulls") {
    import graft.operators.Stats
    // the classic 50-item example: 20 yes/yes, 15 no/no, 5 yes/no,
    // 10 no/yes -> po = 0.7, pe = 0.5, kappa = 0.4 (exact integers:
    // (35*50 - 1250) / (2500 - 1250))
    val classic = (
      Seq.fill(20)(("yes", "yes")) ++ Seq.fill(15)(("no", "no")) ++
        Seq.fill(5)(("yes", "no")) ++ Seq.fill(10)(("no", "yes"))
    ).toDF("r1", "r2")
    val r = Stats.cohenKappa(classic, "r1", "r2").collect().head
    assert(r.getLong(0) == 50L)
    assert(r.getDouble(1) == 0.7 && r.getDouble(2) == 0.5)
    assert(r.getDouble(3) == 0.4)
    // perfect agreement -> 1; pure-chance square -> 0
    val perfect = Seq(("x", "x"), ("y", "y")).toDF("r1", "r2")
    assert(Stats.cohenKappa(perfect, "r1", "r2").collect().head.getDouble(3) == 1.0)
    val chance = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")).toDF("r1", "r2")
    assert(Stats.cohenKappa(chance, "r1", "r2").collect().head.getDouble(3) == 0.0)
    // both raters constant -> pe = 1, kappa undefined (NULL); null rows drop
    val const = Seq[(String, String)](("x", "x"), ("x", "x"))
      .toDF("r1", "r2")
      .unionByName(Seq[(String, String)]((null, "x")).toDF("r1", "r2"))
    val c = Stats.cohenKappa(const, "r1", "r2").collect().head
    assert(c.getLong(0) == 2L && c.isNullAt(3))
  }

  test("ksTwoSample: hand-computed D and sup location, empty side, brute parity") {
    import graft.operators.Stats
    // A = {1,2,3}, B = {2,3,4}: |F_a - F_b| = 1/3 at v in {1,2,3};
    // tie resolves to the SMALLEST value
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(2.0, 3.0, 4.0).toDF("v")
    val r = Stats.ksTwoSample(a, b, "v").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 0.333333)
    assert(r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 0.408248) // D * sqrt(9/6)
    // disjoint supports -> D = 1 at the top of the lower sample
    val lo = Seq(1.0, 2.0).toDF("v")
    val hi = Seq(10.0, 11.0).toDF("v")
    val r2 = Stats.ksTwoSample(lo, hi, "v").collect().head
    assert(r2.getDouble(2) == 1.0 && r2.getDouble(3) == 2.0)
    // empty side -> NULL stats, counts still reported
    val r3 = Stats.ksTwoSample(lo, lo.filter(col("v") > 100), "v").collect().head
    assert(r3.getLong(0) == 2L && r3.getLong(1) == 0L && r3.isNullAt(2))
    // seeded-random brute parity on duplicate-heavy integer grids
    val rnd = new scala.util.Random(17)
    val xs = (1 to 120).map(_ => rnd.nextInt(12).toDouble)
    val ys = (1 to 80).map(_ => (rnd.nextInt(12) + rnd.nextInt(3)).toDouble)
    val got = Stats
      .ksTwoSample(xs.toDF("v"), ys.toDF("v"), "v")
      .collect()
      .head
    val vs = (xs ++ ys).distinct.sorted
    val brute = vs.map { t =>
      val fa = xs.count(_ <= t).toLong * ys.size
      val fb = ys.count(_ <= t).toLong * xs.size
      (math.abs(fa - fb), t)
    }
    val mx = brute.map(_._1).max
    val atv = brute.filter(_._1 == mx).map(_._2).min
    assert(got.getDouble(2) ==
      BigDecimal(mx.toDouble / (xs.size.toLong * ys.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.getDouble(3) == atv)
  }

  test("calibrationBins: hand-computed bins, telescoped ECE, clamping, nulls") {
    import graft.operators.Stats
    val df = Seq[(java.lang.Double, java.lang.Boolean)](
      (0.05, false), (0.15, true), (0.15, false),
      (0.95, true), (0.95, true), (1.0, true), // 1.0 takes the last bin
      (-0.5, false),                           // clamps to 0 -> bin 0
      (1.7, true),                             // clamps to 1 -> bin 9
      (null, true), (0.4, null)                // excluded
    ).toDF("score", "label")
    val rows = Stats
      .calibrationBins(df, "score", "label", bins = 10)
      .collect()
      .map(r => r.getInt(0) -> r)
      .toMap
    assert(rows.keySet == Set(0, 1, 9))
    // bin 0: {0.05, 0.0} pos 0 -> mean .025, frac 0, gap .025
    assert(rows(0).getLong(3) == 2L)
    assert(rows(0).getDouble(4) == 0.025 && rows(0).getDouble(5) == 0.0)
    assert(rows(0).getDouble(6) == 0.025)
    // bin 1: {0.15, 0.15} pos 1 -> mean .15, frac .5, gap .35
    assert(rows(1).getLong(3) == 2L)
    assert(rows(1).getDouble(4) == 0.15 && rows(1).getDouble(5) == 0.5)
    assert(rows(1).getDouble(6) == 0.35)
    // bin 9: {0.95, 0.95, 1.0, 1.0} pos 4 -> mean .975, frac 1, gap .025
    assert(rows(9).getLong(3) == 4L)
    assert(rows(9).getDouble(4) == 0.975 && rows(9).getDouble(5) == 1.0)
    assert(rows(9).getDouble(6) == 0.025)
    // ece = (|0.05-0| + |0.3-1| + |3.9-4|) / 8 = 0.85/8 = 0.10625,
    // identical on every row (exact decimal numerator, no float folds)
    rows.values.foreach(r => assert(r.getDouble(7) == 0.10625))
    // bin edges
    assert(rows(9).getDouble(1) == 0.9 && rows(9).getDouble(2) == 1.0)
    // partition-invariant (decimal sums)
    val rep = Stats
      .calibrationBins(df.repartition(7), "score", "label", bins = 10)
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(7))
      .toMap
    assert(rep.values.toSet == Set(0.10625))
  }

  test("aucRoc equals the brute-force pairwise win rate on seeded random data") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(42)
    val data = (1 to 200).map { _ =>
      // coarse scores force plenty of ties across and within classes
      (math.round(rnd.nextDouble() * 20) / 20.0, rnd.nextBoolean())
    }
    val pos = data.filter(_._2).map(_._1)
    val neg = data.filterNot(_._2).map(_._1)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val expected = wins / (pos.size * neg.size)
    val got = Stats
      .aucRoc(data.toDF("s", "l"), "s", "l")
      .collect()
      .head
    assert(got.getLong(0) == pos.size && got.getLong(1) == neg.size)
    // got is rounded to 6 decimals; compare within half an ulp of that
    assert(math.abs(got.getDouble(2) - expected) < 5e-7,
      s"auc ${got.getDouble(2)} != brute force $expected")
  }

  test("correlationMatrix is pairwise-complete and exact on known data") {
    import graft.operators.Stats
    val df = Seq(
      (1.0, Option(2.0), Option(1.0)),
      (2.0, Option(4.0), Option.empty[Double]),
      (3.0, Option(6.0), Option(3.0)),
      (4.0, Option.empty[Double], Option(4.0))
    ).toDF("a", "b", "c")
    val got = Stats
      .correlationMatrix(df, Seq("a", "b", "c"))
      .orderBy("col_a", "col_b")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // each pair sees only its own complete rows; all three are perfectly
    // linear on those rows, so corr = 1 but the n's differ per pair
    assert(got(("a", "b")) == ((3L, 1.0)))
    assert(got(("a", "c")) == ((3L, 1.0)))
    assert(got(("b", "c")) == ((2L, 1.0)))
    intercept[IllegalArgumentException] {
      Stats.correlationMatrix(df, Seq("a"))
    }
    // complete-case mode drops any row with a null in ANY column, so every
    // pair shares one n (the 2 fully-complete rows here)
    val cc = Stats
      .correlationMatrix(df, Seq("a", "b", "c"), completeCase = true)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(cc.values.toSet == Set(2L))
  }

  test("correlationMatrix complete-case matches pairwise on null-free data") {
    import graft.operators.Stats
    val df = Seq(
      (1.0, 5.0, -2.0),
      (2.0, 3.0, 0.5),
      (3.0, 8.0, 1.25),
      (4.0, 1.0, 7.0),
      (5.0, 9.0, -3.5)
    ).toDF("a", "b", "c")
    def rows(complete: Boolean) = Stats
      .correlationMatrix(df, Seq("a", "b", "c"), completeCase = complete)
      .orderBy("col_a", "col_b")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(rows(complete = true) == rows(complete = false))
  }

  test("standardize uses per-column non-null counts (no null bias)") {
    import graft.operators.Stats
    val df = Seq(
      (1.0, Option(10.0)),
      (2.0, Option.empty[Double]),
      (3.0, Option(20.0))
    ).toDF("a", "b")
    val got = Stats.standardize(df, Seq("a", "b"))
      .orderBy("a")
      .collect()
      .map(r => (r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // a: 1,2,3 -> mean 2, sample std 1 -> z = -1, 0, 1
    assert(got.map(_._1).toSeq == Seq(-1.0, 0.0, 1.0))
    // b: two non-null values 10, 20 -> n=2, mean 15, std sqrt(50);
    // a count(*)-based n=3 would bias the moments. Null rows stay null.
    assert(got(0)._2.contains(-0.707107) && got(2)._2.contains(0.707107))
    assert(got(1)._2.isEmpty)
  }

  test("bm25Scores ranks rare-term docs above common-term docs") {
    val df = Seq(
      (1L, "alpha beta beta"),
      (2L, "alpha gamma gamma gamma"),
      (3L, "alpha alpha alpha alpha"),
      (4L, "delta epsilon zeta eta")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .bm25Scores(df, "doc_id", "text", Seq("beta", "alpha", "missing"))
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // doc 4 matches nothing -> present with score 0
    assert(got(3)._3 == 0 && got(3)._4 == 0.0)
    // doc lengths
    assert(got.map(_._2).toSeq == Seq(3, 4, 4, 4))
    // 'beta' appears only in doc 1 (df=1, high idf); 'alpha' in 3 of 4
    // docs (low idf): doc 1's two beta hits must dominate doc 3's four
    // alpha hits
    assert(got(0)._3 == 2 && got(2)._3 == 1)
    assert(got(0)._4 > got(2)._4, s"${got(0)._4} <= ${got(2)._4}")
    // hand-check doc 3: tf=4, dl=4, avgdl=15/4, df(alpha)=3, N=4
    // idf = ln(1 + (4-3+0.5)/3.5); tfNorm = 4*2.2/(4+1.2*(0.25+0.75*4/3.75))
    val idf = math.log(1 + 1.5 / 3.5)
    val tfNorm = 4 * 2.2 / (4 + 1.2 * (0.25 + 0.75 * 4 / 3.75))
    assert(
      math.abs(got(2)._4 - math.rint(idf * tfNorm * 1e6) / 1e6) < 1e-9,
      s"${got(2)._4}"
    )
  }

  test("stripBoilerplate removes cross-doc units, keeps order, empties fully-boilerplate docs") {
    val df = Seq(
      (1L, "HEADER alpha beta HEADER"),
      (2L, "HEADER gamma HEADER"),
      (3L, "HEADER delta"),
      (4L, "HEADER"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // HEADER is in 4 docs > maxDocs=3 -> stripped everywhere; everything
    // else is unique and survives in original order
    val got = TextAnalysis
      .stripBoilerplate(df, "doc_id", "text", maxDocs = 3, delimiter = " ")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq(
      (1L, "alpha beta", 4, 2),
      (2L, "gamma", 3, 2),
      (3L, "delta", 2, 1),
      (4L, "", 1, 1)
    ))
    // threshold above every unit's doc count -> nothing removed
    val none = TextAnalysis
      .stripBoilerplate(df, "doc_id", "text", maxDocs = 10, delimiter = " ")
      .filter(col("n_removed") > 0)
      .count()
    assert(none == 0)
  }

  test("normalizeUnicode canonicalizes accents and (NFKC) ligatures") {
    import graft.functions.TextFunctions.normalizeUnicode
    val df = Seq(
      (1L, "cafe\u0301"),  // decomposed e + combining acute
      (2L, "caf\u00e9"),   // precomposed
      (3L, "ﬁnal"),        // fi ligature
      (4L, null.asInstanceOf[String])
    ).toDF("id", "s")
    val got = df
      .select(
        col("id"),
        normalizeUnicode(col("s")).as("nfc"),
        normalizeUnicode(col("s"), "NFKC").as("nfkc")
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    // both accent spellings collapse to the precomposed form
    assert(byId(1L)._1 == "caf\u00e9" && byId(2L)._1 == "caf\u00e9")
    // NFC preserves the ligature, NFKC folds it
    assert(byId(3L)._1 == "ﬁnal" && byId(3L)._2 == "final")
    // null propagates
    assert(byId(4L) == ((null, null)))
    intercept[IllegalArgumentException] {
      normalizeUnicode(col("s"), "NFX")
    }
    // the dedup payoff: fingerprints of the two spellings now agree
    val fps = df
      .filter(col("id") <= 2)
      .select(md5(normalizeUnicode(col("s"))).as("fp"))
      .collect()
      .map(_.getString(0))
      .toSet
    assert(fps.size == 1, "unicode-equivalent texts must fingerprint identically")
  }

  test("dedupNearMinHashKeepBest retains the highest-scored cluster member") {
    val df = Seq(
      // exact-dup trio: id 2 has the best score -> 1 and 3 drop
      (1L, "the quick brown fox jumps over dog", 10.0),
      (2L, "dog over jumps fox brown quick the", 99.0),
      (3L, "the quick brown fox jumps over dog", 50.0),
      // singleton survives regardless of score
      (4L, "completely different content entirely here", 1.0)
    ).toDF("doc_id", "text", "score")
    val kept = Dedup
      .dedupNearMinHashKeepBest(df, "doc_id", "text", "score", threshold = 0.9)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(kept == Set(2L, 4L), s"expected best-of-cluster winners, got $kept")
    // min-id policy would have kept 1; keep-best must differ here
    val minId = Dedup
      .dedupNearMinHash(df, "doc_id", "text", threshold = 0.9, transitive = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L))
  }

  test("selectByTokenBudget equals the global running-sum selection, ties included") {
    import graft.operators.Splits
    // scores with heavy ties so the within-score ordering matters; brute
    // force = sort by (score desc, id), take while cum <= budget
    val rows = Seq(
      (1L, 10.0, 50), (2L, 10.0, 60), (3L, 10.0, 70),
      (4L, 5.0, 40), (5L, 5.0, 40), (6L, 1.0, 100)
    )
    val df = rows.toDF("id", "score", "tok")
    def brute(budget: Long) = rows
      .sortBy { case (id, s, _) => (-s, id) }
      .scanLeft((0L, 0L)) { case ((_, cum), (id, _, t)) => (id, cum + t) }
      .tail
      .takeWhile(_._2 <= budget)
      .map(_._1)
      .toSet
    for (budget <- Seq(50L, 110L, 180L, 220L, 260L, 360L)) {
      val got = Splits
        .selectByTokenBudget(df, "id", "score", "tok", budget)
        .select("id")
        .collect()
        .map(_.getLong(0))
        .toSet
      assert(got == brute(budget), s"budget $budget: $got vs ${brute(budget)}")
    }
    // cum_tokens reported inclusively
    val cums = Splits
      .selectByTokenBudget(df, "id", "score", "tok", 180L)
      .select("id", "cum_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(cums == Map(1L -> 50L, 2L -> 110L, 3L -> 180L))
  }

  test("categoricalStabilityIndex: zero on same mix, alarms on category swap") {
    import graft.operators.Stats
    val ref = (Seq.fill(80)("en") ++ Seq.fill(20)("fr")).toDF("lang")
    val same = Stats.categoricalStabilityIndex(ref, ref, "lang").head()
    assert(same.getLong(0) == 100L && same.getLong(1) == 100L)
    assert(same.getInt(2) == 2 && same.getDouble(3) == 0.0)
    // swapped mix + a novel category -> large index, union of categories
    val cur = (Seq.fill(20)("en") ++ Seq.fill(70)("fr") ++ Seq.fill(10)("de")).toDF("lang")
    val drift = Stats.categoricalStabilityIndex(ref, cur, "lang").head()
    assert(drift.getInt(2) == 3, "category union must include the novel value")
    assert(drift.getDouble(3) > 0.25, s"expected alarm, got ${drift.getDouble(3)}")
  }

  test("populationStabilityIndex: zero on identical data, large on a shift") {
    import graft.operators.Stats
    val ref = (1 to 1000).map(i => i.toDouble % 100).toDF("v")
    // identical distribution -> PSI exactly 0 (every p == q)
    val same = Stats
      .populationStabilityIndex(ref, ref, "v", lo = 0, hi = 100, nBins = 10)
      .head()
    assert(same.getLong(0) == 1000L && same.getLong(1) == 1000L)
    assert(same.getDouble(2) == 0.0)
    // hard shift into disjoint bins -> PSI far above the 0.25 alarm bar
    val shifted = (1 to 1000).map(i => 50.0 + i % 50).toDF("v")
    val drift = Stats
      .populationStabilityIndex(ref, shifted, "v", lo = 0, hi = 100, nBins = 10)
      .head()
      .getDouble(2)
    assert(drift > 0.25, s"expected drift alarm, psi = $drift")
    // nulls are ignored, not binned
    val withNulls = (1 to 1000).map(i => Some(i.toDouble % 100)) ++ Seq.fill(100)(Option.empty[Double])
    val n = Stats
      .populationStabilityIndex(withNulls.toDF("v"), ref, "v", 0, 100, 10)
      .head()
    assert(n.getLong(0) == 1000L && n.getDouble(2) == 0.0)
  }

  test("intervalOverlapJoin: exactly-once pairs across shared bins, exclusive ends") {
    import graft.operators.Joins
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    // left interval spans 3 hours (multiple 1h bins); rights overlap it in
    // different bins — each pair must appear exactly once
    val l = Seq((1L, ts(0), ts(180)), (2L, ts(300), ts(330))).toDF("l_id", "l_start", "l_end")
    val r = Seq(
      (10L, ts(30), ts(90)),    // overlaps l1 across bins 0-1
      (11L, ts(170), ts(200)),  // overlaps l1 tail
      (12L, ts(180), ts(240)),  // touches l1's exclusive end -> NO overlap
      (13L, ts(310), ts(320))   // inside l2
    ).toDF("r_id", "r_start", "r_end")
    val got = Joins
      .intervalOverlapJoin(l, "l_start", "l_end", r, "r_start", "r_end", binSeconds = 3600)
      .select("l_id", "r_id")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1)))
      .sorted
    assert(got.toSeq == Seq((1L, 10L), (1L, 11L), (2L, 13L)), got.mkString(","))
  }

  test("weightedSample prefers heavy rows, excludes non-positive weights, is stable") {
    import graft.operators.Splits
    val df = ((1 to 50).map(i => (i.toLong, 1000.0)) ++
      (51 to 100).map(i => (i.toLong, 0.0001)) ++
      Seq((101L, 0.0), (102L, -1.0))).toDF("id", "w")
    val got = Splits.weightedSample(df, "id", "w", k = 20)
      .select("id").collect().map(_.getLong(0)).toSet
    // weight ratio 10^7: heavy rows crowd out light ones
    assert(got.forall(_ <= 50L), s"light/zero-weight rows sampled: $got")
    assert(got.size == 20)
    val again = Splits.weightedSample(df, "id", "w", k = 20)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == again, "sample must be deterministic")
    // independent draw under a different salt
    val salted = Splits.weightedSample(df, "id", "w", k = 20, salt = "v2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(salted != got, "salt must re-key the draw")
  }

  test("weightedSample does not degenerate under large weights (>= 1e5)") {
    import graft.operators.Splits
    // All weights huge and equal: round(u^(1/w), 6) collapses every score
    // to 1.000000, so a rounded-power ordering would degenerate to the
    // id-ascending tiebreak (ids 1..k). The log-domain key ln(u)/w must
    // instead rank by u — verify against a brute-force Efraimidis-Spirakis
    // computed from the same md5 buckets.
    val df = (1 to 200).map(i => (i.toLong, 1.0e6)).toDF("id", "w")
    val buckets = df
      .select(col("id"), Splits.hashBucket(col("id")).as("b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def esKey(id: Long, w: Double): Double =
      BigDecimal(math.log((buckets(id) + 0.5) / Splits.Buckets.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble / w
    val expect = (1 to 200)
      .map(i => i.toLong -> esKey(i.toLong, 1.0e6))
      .sortBy { case (id, k) => (-k, id) }
      .take(20).map(_._1).toSet
    val got = Splits.weightedSample(df, "id", "w", k = 20)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == expect, s"got $got\nexpect $expect")
    assert(got != (1 to 20).map(_.toLong).toSet,
      "selection must not collapse to the smallest keys")
    // and mixed huge weights still favor the heavier rows proportionally:
    // w=1e8 vs w=1e5 (1000x) — the heavy half must dominate the sample
    val mixed = ((1 to 100).map(i => (i.toLong, 1.0e8)) ++
      (101 to 200).map(i => (i.toLong, 1.0e5))).toDF("id", "w")
    val heavyShare = Splits.weightedSample(mixed, "id", "w", k = 30)
      .select("id").collect().map(_.getLong(0)).count(_ <= 100L)
    assert(heavyShare >= 25, s"heavy rows underrepresented: $heavyShare/30")
  }

  test("selectByTokenBudget quantizes continuous scores instead of broadcasting them all") {
    import graft.operators.Splits
    // 500 all-unique irrational-ish scores (> 6 decimals each): without
    // quantization the distinct-score prefix table would be corpus-sized.
    // After round(score, 6) the selection must equal the brute-force
    // (rounded score desc, id asc) running-sum selection.
    val rows = (1 to 500).map { i =>
      (i.toLong, math.sqrt(i.toDouble) + 1e-9 * i, 10)
    }
    val df = rows.toDF("id", "score", "tok")
    val expect = rows
      .map { case (id, s, t) =>
        (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, t)
      }
      .sortBy { case (id, s, _) => (-s, id) }
      .scanLeft((0L, 0L)) { case ((_, cum), (id, _, t)) => (id, cum + t) }
      .tail.takeWhile(_._2 <= 730L).map(_._1).toSet
    val got = Splits
      .selectByTokenBudget(df, "id", "score", "tok", tokenBudget = 730L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == expect, s"got ${got.size} rows vs expected ${expect.size}")
    // coarser quantization merges scores: ids tie-break ascending within
    // a shared bucket, so the selection becomes a plain id prefix
    val coarse = Splits
      .selectByTokenBudget(df, "id", "score", "tok", 100L, scoreDecimals = 0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(coarse.nonEmpty)
  }

  test("semantic decontamination flags eval members and near-paraphrases, spares the rest") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val train = Seq(
      (1L, v(1, 0, 0, 0)),          // exactly an eval vector
      (2L, v(0.98, 0.199, 0, 0)),   // near-paraphrase of eval (cos ~0.98)
      (3L, v(0, 0, 1, 0)),          // orthogonal — clean
      (4L, null.asInstanceOf[Array[Float]]) // null embedding — never flagged
    ).toDF("id", "vec")
    val eval = Seq((100L, v(1, 0, 0, 0))).toDF("id", "vec")
    val rep = Decontam
      .semanticContaminationReport(train, eval, "id", "vec", threshold = 0.95)
      .select("id", "max_eval_cosine", "contaminated")
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getBoolean(2))))
      .toMap
    assert(rep(1L) == ((Some(1.0), true)), s"${rep(1L)}")
    assert(rep(2L)._2 && rep(2L)._1.get.asInstanceOf[Double] > 0.97)
    assert(rep(3L) == ((Some(0.0), false)))
    assert(rep(4L) == ((None, false)), "null embedding must not be flagged")
    val kept = Decontam
      .semanticDecontaminate(train, eval, "id", "vec", threshold = 0.95)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L), s"$kept")
    // scale shape: eval side broadcast, corpus never shuffled for scoring
    val plan = Decontam
      .semanticDecontaminate(train, eval, "id", "vec")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"eval side must broadcast:\n$plan")
  }

  test("DSIR importance weights prefer target-like documents and drive selection") {
    // corpus: 40 "prose" docs + 10 "code-like" docs; target looks code-like
    val corpus = ((1 to 40).map(i =>
      (i.toLong, s"the quick brown fox number $i jumps over the lazy dog")
    ) ++ (41 to 50).map(i =>
      (i.toLong, s"spark shuffle partition executor codegen stage $i task")
    )).toDF("doc_id", "text")
    val target = Seq(
      (900L, "spark executor shuffle codegen partition"),
      (901L, "partition stage task spark shuffle")
    ).toDF("doc_id", "text")
    val w = TextAnalysis
      .dsirLogWeights(corpus, target, "doc_id", "text", numBuckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size == 50)
    val prose = (1 to 40).map(i => w(i.toLong))
    val codey = (41 to 50).map(i => w(i.toLong))
    assert(codey.min > prose.max,
      s"target-like docs must outscore all prose: ${codey.min} vs ${prose.max}")
    // selection: the 10 code-like docs dominate a k=10 importance sample
    val picked = TextAnalysis
      .dsirResample(corpus, target, "doc_id", "text", k = 10, numBuckets = 1024)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked.count(_ > 40L) >= 9, s"selection must favor target-like docs: $picked")
    // deterministic; salt re-keys the draw
    val again = TextAnalysis
      .dsirResample(corpus, target, "doc_id", "text", k = 10, numBuckets = 1024)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked == again)
  }

  test("unigramLM learns planted pieces; Viterbi reconstructs every word") {
    // corpus dominated by the piece "ab": the learner must keep it
    val docs = Seq(
      (1L, "abab abab abab ababab cd cd"),
      (2L, "abcd abcd ab ab ab")
    ).toDF("doc_id", "text")
    val model = TextAnalysis
      .unigramLM(docs, "text", vocabSize = 6, maxPieceLen = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val pieces = model.map(_._1).toSet
    // all single characters present; the dominant bigram survives pruning
    assert(Set("a", "b", "c", "d").subsetOf(pieces), s"$pieces")
    assert(pieces.contains("ab"), s"'ab' pruned: $pieces")
    assert(model.forall(_._3 <= 0.0), "logprobs must be <= 0")
    // Viterbi under the final model reconstructs every dictionary word
    val probs = model.map(m => m._1 -> m._3).toMap
    Seq("abab", "ababab", "cd", "abcd", "ab").foreach { w =>
      val seg = TextAnalysis.unigramSegmentWord(w, probs, maxPieceLen = 4)
      assert(seg.mkString == w, s"$w -> $seg")
    }
    // deterministic: the model is partition-invariant
    val rep = TextAnalysis
      .unigramLM(docs.repartition(7), "text", vocabSize = 6, maxPieceLen = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rep.toSeq == model.toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.unigramLM(docs, "text", vocabSize = 0)
    }
  }

  test("unigramTokenCounts sums dictionary segmentations per document") {
    val docs = Seq(
      (1L, "abab abab abab ababab cd cd"),
      (2L, "abcd abcd ab ab ab"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val model = TextAnalysis.unigramLM(docs, "text", vocabSize = 6, maxPieceLen = 4)
    val probs = model.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    def segLen(w: String) =
      TextAnalysis.unigramSegmentWord(w, probs, maxPieceLen = 4).length
    val got = TextAnalysis
      .unigramTokenCounts(docs, "doc_id", "text", model, maxPieceLen = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    // doc 1: words abab x3, ababab, cd x2
    assert(got(1L) ==
      ((6, 3 * segLen("abab") + segLen("ababab") + 2 * segLen("cd"))))
    assert(got(2L) == ((5, 2 * segLen("abcd") + 3 * segLen("ab"))))
    assert(!got.contains(3L), "null-text docs are excluded")
  }

  test("fixed unigram vocab: planted exact-score ties resolve to the longer piece") {
    // q_unigram_apply's oracle contract: dyadic logprobs make row = r+o+w,
    // join = jo+in and table = ta+ble EXACT score ties, and the DP must
    // pick the single longer piece each time
    val probs = graft.QueryShared.UnigramFixedVocab.toMap
    assert(TextAnalysis.unigramSegmentWord("row", probs, 8) == Vector("row"))
    assert(TextAnalysis.unigramSegmentWord("join", probs, 8) == Vector("join"))
    assert(TextAnalysis.unigramSegmentWord("table", probs, 8) == Vector("table"))
    // and non-tied words really do split
    assert(TextAnalysis.unigramSegmentWord("customer", probs, 8) ==
      Vector("cust", "omer"))
    assert(TextAnalysis.unigramSegmentWord("window", probs, 8) ==
      Vector("win", "dow"))
  }

  test("bpeMerges learns the classic merge sequence on a planted dictionary") {
    // Sennrich-style toy corpus: {low x5, lowest x2}. Symbol pairs round 1
    // (weighted): (l,o)=7, (o,w)=7, (w,</w>)=5, (w,e)=2, (e,s)=2, (s,t)=2,
    // (t,</w>)=2. Tie (l,o) vs (o,w) breaks lexicographically -> (l,o).
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lowest lowest")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .bpeMerges(docs, "text", numMerges = 3)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.length == 3)
    assert(got(0) == ((0, "l", "o", 7L)), s"${got.mkString(";")}")
    // round 2: (lo,w)=7 dominates
    assert(got(1) == ((1, "lo", "w", 7L)), s"${got.mkString(";")}")
    // round 3: (low,</w>)=5 beats the 2-weight pairs
    assert(got(2) == ((2, "low", "</w>", 5L)), s"${got.mkString(";")}")
    // exhaustion: a single repeated word runs out of pairs and stops early
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // pairs: (a,b)=1? no — dictionary is word-frequency based: word "ab" n=2
    // round1 (a,b)=2; round2 (ab,</w>)=2; round3: no pairs left -> stop
    val short = TextAnalysis.bpeMerges(tiny, "text", numMerges = 10).collect()
    assert(short.length == 2, s"expected exhaustion at 2 merges, got ${short.length}")
  }

  test("bbpe pretok: category split + hand-verified byte merge sequence") {
    // the GPT-2-style pre-tokenizer: contractions split off, categories
    // never mix
    val pt = Seq((1L, "Don't stop, it's 42x!"))
      .toDF("id", "t")
      .select(TextAnalysis.bbpePretokens(col("t")))
      .collect()(0)
      .getSeq[String](0)
    assert(pt == Seq("don", "'t", "stop", ",", "it", "'s", "42", "x", "!"), s"$pt")

    // corpus: don x3, 't x3, it, 's, x, 1, ! — hand-computed byte pairs:
    // round 0: (74,</w>) = 3('t) + 1(it) = 4 wins outright
    // round 1: max 3 tie among (27,74</w>), (64,6f), (6e,</w>), (6f,6e):
    //          "27" is lexicographically smallest -> 't fully merges
    // round 2: (64,6f) beats (6e,</w>)/(6f,6e) lexicographically
    // round 3: (646f,6e): "646f" < "6e" (char 2: '4' < 'e')
    val docs = Seq(
      (1L, "don't don't don't"),
      (2L, "it's x1!")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .bbpeMergesPretok(docs, "text", numMerges = 4)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0, "74", "</w>", 4L),
      (1, "27", "74</w>", 3L),
      (2, "64", "6f", 3L),
      (3, "646f", "6e", 3L)
    ), s"${got.mkString(";")}")
    // no learned rule crosses the n|' category boundary (6e27) — the
    // whole point of pre-tokenizing before merge learning
    assert(!got.exists { case (_, a, b, _) => (a + b).contains("6e27") })

    // train→apply: don -> 646f6e + </w> (2 pieces), 't -> 1 piece,
    // it -> 69 + 74</w> (2), 's -> 3, x/1/! -> 2 each
    val merges = TextAnalysis.bbpeMergesPretok(docs, "text", numMerges = 4)
    val counts = TextAnalysis
      .bbpePretokTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(
      counts.toSeq == Seq((1L, 6, 9), (2L, 5, 11)),
      s"${counts.mkString(";")}"
    )
  }

  test("bpeEncodeTable and bpeTokenCounts apply merges Sennrich-style") {
    // merges learned on {low x5, lowest x2}: (l,o), (lo,w), (low,</w>)
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lowest lowest")
    ).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(docs, "text", numMerges = 3)
    val enc = TextAnalysis
      .bpeEncodeTable(docs, "text", merges)
      .collect()
      .map(r => r.getString(0) -> (r.getSeq[String](1), r.getInt(2)))
      .toMap
    // "low" merges all the way to one piece; "lowest" stalls after "low"
    assert(enc("low") == ((Seq("low</w>"), 1)), s"$enc")
    assert(enc("lowest") == ((Seq("low", "e", "s", "t", "</w>"), 5)), s"$enc")
    // unseen word: merges still apply wherever their pairs occur
    val slow = TextAnalysis.bpeEncodeWord(
      "slow",
      Map(("l", "o") -> 0, ("lo", "w") -> 1, ("low", "</w>") -> 2)
    )
    assert(slow == Vector("s", "low</w>"), s"$slow")
    val counts = TextAnalysis
      .bpeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(
      counts.toSeq == Seq((1L, 5, 5), (2L, 2, 10)),
      s"${counts.mkString(";")}"
    )
  }

  test("MinShingleMd5Expr is bit-identical to the composed HOF fingerprint") {
    import graft.functions.TextFunctions.{canonicalText, minShingleFingerprint, shingles}
    val rnd = new scala.util.Random(909)
    val words = Seq("alpha", "beta", "g", "77", "Mixed", "Caé", "x-y.z", "")
    val texts = (1 to 60).map { _ =>
      (1 to rnd.nextInt(8))
        .map(_ => words(rnd.nextInt(words.length)))
        .mkString(sep = if (rnd.nextBoolean()) " " else "   ")
    } ++ Seq("", "   ", "one two", "one two three four", null)
    for (k <- Seq(1, 2, 3)) {
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val hof = array_min(
        transform(shingles(canonicalText(col("text")), k), s => md5(s))
      )
      val rows = df
        .select(
          col("id"),
          minShingleFingerprint(col("text"), k).as("native"),
          hof.as("composed")
        )
        .collect()
      rows.foreach { r =>
        assert(
          r.get(1) == r.get(2),
          s"k=$k id=${r.get(0)}: native=${r.get(1)} composed=${r.get(2)}"
        )
      }
      // non-degenerate coverage: some nulls (short texts) and some values
      assert(rows.exists(_.get(1) == null) && rows.exists(_.get(1) != null))
    }
  }

  test("GramHashesExpr matches the composed slice+md5 form") {
    import org.apache.spark.sql.GraftSqlBridge
    val rnd = new scala.util.Random(4242)
    val toksCol = split(lower(col("text")), " ")
    val texts = (1 to 50).map { _ =>
      (1 to rnd.nextInt(14))
        .map(_ => Seq("aa", "b", "ccc", "Dd", "")(rnd.nextInt(5)))
        .mkString(" ")
    } ++ Seq("", "one two three four five six seven eight nine ten")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (k <- Seq(2, 8)) {
      val composed = when(
        size(toksCol) >= k,
        transform(
          sequence(lit(0), size(toksCol) - k),
          i => md5(array_join(slice(toksCol, i + 1, lit(k)), " "))
        )
      ).otherwise(array().cast("array<string>"))
      val native = GraftSqlBridge.column(
        graft.plans.GramHashesExpr(GraftSqlBridge.expression(toksCol), k)
      )
      df.select(col("id"), native.as("n"), composed.as("c"))
        .collect()
        .foreach { r =>
          assert(
            r.getSeq[String](1) == r.getSeq[String](2),
            s"k=$k id=${r.get(0)}"
          )
        }
    }
  }

  test("CharCountsExpr matches the explode-every-char form, surrogates whole") {
    import org.apache.spark.sql.GraftSqlBridge
    // "a😀b😀" — the emoji is a surrogate PAIR: regex empty-split keeps it
    // whole (code-point semantics), so the native loop must too
    val df = Seq(
      (1L, "hello world"),
      (2L, "aaa  bb"),
      (3L, "a😀b😀"),
      (4L, "x")
    ).toDF("id", "text")
    val native = GraftSqlBridge.column(
      graft.plans.CharCountsExpr(GraftSqlBridge.expression(col("text")))
    )
    val got = df
      .select(col("id"), explode(native).as("__e"))
      .select(col("id"), col("__e.ch"), col("__e.c"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getInt(2))
      .toMap
    val want = df
      .select(
        col("id"),
        explode(filter(split(col("text"), ""), s => length(s) > 0)).as("__ch")
      )
      .groupBy("id", "__ch")
      .count()
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2).toInt)
      .toMap
    assert(got == want, s"native=$got composed=$want")
    assert(got((3L, "😀")) == 2, "surrogate pair must stay one char")
    // charEntropy end-to-end stays deterministic on the tiny case
    val h = TextAnalysis
      .charEntropy(df, "id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(h(4L) == ((1, 0.0)), h.toString)
    assert(h(1L)._1 == 11)
  }

  test("wordpieceTrain replays the hand-traced likelihood-gain sequence") {
    // {low x5, lowest x2}: symbols l:7 ##o:7 ##w:7 ##e:2 ##s:2 ##t:2,
    // N=27. score_q = (c_ab * N * 65536) div (ca * cb). Round 0: the
    // chain pairs (l,##o)/(##o,##w)/(##w,##e) all quantize to 252781 but
    // (##e,##s) and (##s,##t) hit 884736; tie breaks to ##e < ##s.
    // Rounds 2-4 are three-way and two-way QUANTIZED ties (identical
    // true scores), exercising the lexicographic tie-break; round 5
    // exhausts after the last pair merges.
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lowest lowest")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .wordpieceTrain(docs, "text", numMerges = 10)
      .collect()
      .map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4), r.getLong(5))
      )
    val want = Seq(
      (0, "##e", "##s", "##es", 884736L, 2L),
      (1, "##es", "##t", "##est", 819200L, 2L),
      (2, "##o", "##w", "##ow", 215332L, 7L),
      (3, "##ow", "##est", "##owest", 149796L, 2L),
      (4, "l", "##ow", "low", 131072L, 5L),
      (5, "l", "##owest", "lowest", 294912L, 2L)
    )
    assert(got.toSeq == want, s"${got.mkString(";")}")
  }

  test("wordpieceEncodeWord is greedy longest-match with whole-word [UNK]") {
    val vocab = Set("h", "s", "##a", "##sh", "##as", "hash", "ha")
    // longest FIRST piece wins: "hash" whole-word beats "ha"+...
    assert(TextAnalysis.wordpieceEncodeWord("hash", vocab) == Vector("hash"))
    // greedy longest at each position: "hashs" -> hash? no ("hash" then
    // "##s" missing -> the greedy path fails and the WHOLE word is [UNK],
    // even though ha+##as+... also dies; h+##as+##... dies too
    assert(
      TextAnalysis.wordpieceEncodeWord("hashs", vocab) == Vector("[UNK]")
    )
    // multi-piece: "has" -> "ha" + "##s"? vocab has no "##s": fails;
    // greedy tries "has"(no), "ha"(yes) then "##s"(no) -> [UNK]
    assert(TextAnalysis.wordpieceEncodeWord("has", vocab) == Vector("[UNK]"))
    // "sash" -> "s" + "##as"? longest at pos1 is "##ash"? absent; "##as"
    // (len 2) beats "##a": s + ##as + ... pos 3 "h": "##h" absent -> [UNK]
    assert(TextAnalysis.wordpieceEncodeWord("sash", vocab) == Vector("[UNK]"))
    // successful multi-piece: "sa" -> s + ##a
    assert(
      TextAnalysis.wordpieceEncodeWord("sa", vocab) == Vector("s", "##a")
    )
    // and the longest-match preference: "sas" -> s + ##as (not ##a + ...)
    assert(
      TextAnalysis.wordpieceEncodeWord("sas", vocab) == Vector("s", "##as")
    )
  }

  test("wordpiece vocab + token counts: train->apply round trip") {
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lowest lowest")
    ).toDF("doc_id", "text")
    val merges = TextAnalysis.wordpieceTrain(docs, "text", numMerges = 10)
    val vocab = TextAnalysis.wordpieceVocab(docs, "text", merges)
    val pieces = vocab.collect().map(_.getString(0)).toSet
    // alphabet + one piece per merge
    assert(
      pieces == Set("l", "##o", "##w", "##e", "##s", "##t",
        "##es", "##est", "##ow", "##owest", "low", "lowest"),
      s"$pieces"
    )
    val enc = TextAnalysis
      .wordpieceEncodeTable(docs, "text", vocab)
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[String](1), r.getInt(2), r.getBoolean(3))))
      .toMap
    assert(enc("low") == ((Seq("low"), 1, false)), s"$enc")
    assert(enc("lowest") == ((Seq("lowest"), 1, false)), s"$enc")
    // trained alphabet covers every corpus char -> zero [UNK] by
    // construction; an out-of-alphabet word under the same vocab is [UNK]
    assert(
      TextAnalysis.wordpieceEncodeWord("slow", pieces) == Vector("[UNK]")
    )
    val counts = TextAnalysis
      .wordpieceTokenCounts(docs, "doc_id", "text", vocab)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(
      counts.toSeq == Seq((1L, 5, 5, 0), (2L, 2, 2, 0)),
      s"${counts.mkString(";")}"
    )
  }

  test("bpeEncodeWord property: pieces always reconstruct the word") {
    // whatever the merge table, BPE only ever glues adjacent symbols —
    // concatenating the pieces must reproduce the characters + </w>
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    (1 to 200).foreach { _ =>
      val word = (1 to (1 + rnd.nextInt(10)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      // random merge table over plausible symbol pairs (incl. multi-char
      // lefts from earlier merges and the </w> marker)
      val syms = Seq("a", "b", "c", "d", "ab", "bc", "cd", "abc", "</w>")
      val ranks = (0 until (1 + rnd.nextInt(8)))
        .map(r => (syms(rnd.nextInt(syms.length)), syms(rnd.nextInt(syms.length))) -> r)
        .toMap
      val pieces = TextAnalysis.bpeEncodeWord(word, ranks)
      assert(
        pieces.mkString == word + "</w>",
        s"word=$word ranks=$ranks pieces=$pieces"
      )
      assert(pieces == TextAnalysis.bpeEncodeWord(word, ranks), "deterministic")
    }
  }

  test("bbpeEncodeWord: byte pieces reconstruct any Unicode word's UTF-8 bytes") {
    def hexOf(w: String): String = w
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x").mkString
    // non-ASCII round-trip: multi-byte code points start split across
    // symbols and reassemble losslessly whatever the merge table
    val words = Seq(
      "caf\u00e9", "z\u00fcrich", "\u65e5\u672c", "na\u00efve", "ascii", "x'y")
    val ranks = Map(("63", "61") -> 0, ("6361", "66") -> 1,
      ("c3", "a9") -> 2, ("e6", "97") -> 3, ("65", "</w>") -> 4)
    words.foreach { w =>
      val pieces = graft.operators.TextAnalysis.bbpeEncodeWord(w, ranks)
      assert(pieces.mkString == hexOf(w) + "</w>",
        s"word=$w pieces=$pieces")
      assert(pieces.last.endsWith("</w>"))
    }
    // with the (63,61)(6361,66)(c3,a9) cascade, café encodes to exactly
    // [caf-bytes, é-bytes, marker]
    assert(graft.operators.TextAnalysis.bbpeEncodeWord("caf\u00e9", ranks)
      == Vector("636166", "c3a9", "</w>"))
    // bbpeMerges' Spark-side byte alphabet agrees with the driver-side
    // encoder's: train one merge on a single repeated non-ASCII word and
    // the winning pair must be byte symbols from hexOf
    val one = Seq((1L, "caf\u00e9 caf\u00e9 caf\u00e9")).toDF("id", "t")
    val m = graft.operators.TextAnalysis.bbpeMerges(one, "t", numMerges = 1)
      .collect().head
    val (l, r) = (m.getString(1), m.getString(2))
    assert(hexOf("caf\u00e9").contains(l + r) || (l + r).endsWith("</w>"),
      s"merge ($l,$r) not a byte pair of the word")
  }

  test("runChecks counts each violation type; order follows the check list") {
    import graft.operators.Checks
    import graft.operators.Checks._
    val dim = Seq(1L, 2L, 3L).toDF("ref_id")
    val df = Seq(
      (Some(1L), Some(0.02), "A", "good1"),
      (Some(1L), Some(0.02), "A", "good1"),   // dup key (1, 0.02...) by k column below
      (None, Some(0.5), "X", "bad value"),    // null key, out of range, bad flag, regex fail
      (Some(2L), None, "N", "good2"),
      (Some(9L), Some(0.01), "R", "good3")    // 9 not in dim
    ).toDF("k", "disc", "flag", "name")
    val got = Checks
      .runChecks(
        df,
        Seq(
          NotNull("k"),
          InRange("disc", 0.0, 0.1),
          AcceptedValues("flag", Seq("A", "N", "R")),
          MatchesRegex("name", "^good[0-9]$"),
          Unique(Seq("k")),
          ReferencedIn("k", dim, "ref_id")
        )
      )
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(_._1).toSeq == Seq(
      "not_null:k", "in_range:disc", "accepted_values:flag",
      "matches_regex:name", "unique:k", "referenced_in:k"
    ), "report must follow the check order")
    val byCheck = got.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byCheck("not_null:k") == ((1L, false)))
    assert(byCheck("in_range:disc") == ((1L, false)))  // null disc passes
    assert(byCheck("accepted_values:flag") == ((1L, false)))
    assert(byCheck("matches_regex:name") == ((1L, false)))
    // both rows of the duplicated key count
    assert(byCheck("unique:k") == ((2L, false)))
    // null key passes referential check; 9 fails
    assert(byCheck("referenced_in:k") == ((1L, false)))
    // all-green contract
    val clean = Checks.runChecks(dim, Seq(NotNull("ref_id"), Unique(Seq("ref_id"))))
    assert(clean.collect().forall(_.getBoolean(2)))
  }

  test("runChecks on an EMPTY table reports 0 violations / passed, not NULL") {
    import graft.operators.Checks
    import graft.operators.Checks._
    val dim = Seq(1L).toDF("ref_id")
    val empty = Seq((Option.empty[Long], Option.empty[Double], "x"))
      .toDF("k", "disc", "flag")
      .filter(lit(false))
    val got = Checks
      .runChecks(
        empty,
        Seq(
          NotNull("k"), InRange("disc", 0.0, 1.0),
          AcceptedValues("flag", Seq("x")), MatchesRegex("flag", "^x$"),
          Unique(Seq("k")), ReferencedIn("k", dim, "ref_id")
        )
      )
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == 6)
    assert(got.forall { case (_, n, passed) => n == 0L && passed },
      s"empty batch must gate green: ${got.mkString(";")}")
  }

  test("intervalOverlapJoin drops empty and inverted intervals (half-open semantics)") {
    import graft.operators.Joins
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val l = Seq(
      (1L, ts(0), ts(120)),   // real interval
      (2L, ts(30), ts(30)),   // EMPTY [t,t): overlaps nothing
      (3L, ts(200), ts(100))  // INVERTED: dropped, not exploded backwards
    ).toDF("l_id", "l_start", "l_end")
    val r = Seq((10L, ts(0), ts(240))).toDF("r_id", "r_start", "r_end")
    val got = Joins
      .intervalOverlapJoin(l, "l_start", "l_end", r, "r_start", "r_end", binSeconds = 3600)
      .select("l_id", "r_id")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1)))
      .toSet
    assert(got == Set((1L, 10L)),
      s"empty/inverted intervals must not match a covering interval: $got")
    // and on the right side too
    val r2 = Seq((20L, ts(60), ts(60)), (21L, ts(10), ts(20))).toDF("r_id", "r_start", "r_end")
    val got2 = Joins
      .intervalOverlapJoin(l, "l_start", "l_end", r2, "r_start", "r_end", binSeconds = 3600)
      .select("l_id", "r_id")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1)))
      .toSet
    assert(got2 == Set((1L, 21L)), s"got $got2")
  }

  test("minHashRecallReport: perfect recall on exact dups, sane count algebra") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),   // same token set as 1 -> true pair, same sig
      (3L, "epsilon zeta eta theta"),
      (4L, "theta eta zeta epsilon"),   // same token set as 3
      (5L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val r = Dedup
      .minHashRecallReport(df, "doc_id", "text", threshold = 0.9)
      .head()
    val (nDocs, nTrue, nCand, nHit) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nDocs == 5L)
    assert(nTrue == 2L, s"expected the two identical-set pairs, got $nTrue")
    // identical token sets => identical signatures => all bands collide:
    // every true pair must be a candidate
    assert(nHit == nTrue, s"recall must be 1.0 on exact dups: $nHit/$nTrue")
    assert(r.getDouble(4) == 1.0)
    assert(nHit <= nCand && r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    // sampling keeps the report well-formed on a subset
    val sampledReport = Dedup
      .minHashRecallReport(df, "doc_id", "text", sampleFraction = 0.5)
      .head()
    assert(sampledReport.getLong(0) <= 5L)
  }

  test("minHashRecallReport: maxSampleDocs caps the audit set scale-invariantly") {
    val small = (1 to 20).map(i => (i.toLong, s"w$i x$i y$i z$i")).toDF("doc_id", "text")
    // loose cap (>= corpus): byte-identical to the uncapped report
    val uncapped = Dedup.minHashRecallReport(small, "doc_id", "text").head()
    val loose = Dedup
      .minHashRecallReport(small, "doc_id", "text", maxSampleDocs = 100)
      .head()
    assert(loose == uncapped)
    // binding cap: n_docs lands near the cap (hash-bucket sampling is
    // binomial around maxSampleDocs, never above ceil-threshold expectation)
    val big = (1 to 400).map(i => (i.toLong, s"w$i x$i y$i z$i")).toDF("doc_id", "text")
    val capped = Dedup
      .minHashRecallReport(big, "doc_id", "text", maxSampleDocs = 50)
      .head()
    val nDocs = capped.getLong(0)
    assert(nDocs < 120L && nDocs > 10L, s"cap not binding: $nDocs of 400")
    // deterministic: same call, same sample
    val again = Dedup
      .minHashRecallReport(big, "doc_id", "text", maxSampleDocs = 50)
      .head()
    assert(again == capped)
  }

  test("diversifiedTopK trades relevance against redundancy; lambda=1 is plain top-k") {
    import graft.operators.Similarity
    def v(parts: Float*): Array[Float] = parts.toArray
    // ids 1,2: near-identical vectors with the two best scores;
    // id 3: orthogonal with a slightly lower score
    val df = Seq(
      (1L, v(1f, 0f, 0f), 10.0),
      (2L, v(0.999f, 0.04f, 0f), 9.9),
      (3L, v(0f, 1f, 0f), 9.0),
      (4L, v(0f, 0f, 1f), 1.0)
    ).toDF("id", "vec", "score")
    // strong diversity pressure: the redundant 2 must lose to orthogonal 3
    val diverse = Similarity
      .diversifiedTopK(df, "id", "vec", "score", k = 2, lambda = 0.05)
      .orderBy("rank")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(diverse.toSeq == Seq((1L, 0), (3L, 1)), diverse.mkString(","))
    // lambda = 1: pure score ranking, redundancy ignored
    val pure = Similarity
      .diversifiedTopK(df, "id", "vec", "score", k = 2, lambda = 1.0)
      .orderBy("rank")
      .collect()
      .map(_.getLong(0))
    assert(pure.toSeq == Seq(1L, 2L))
    // k beyond the row count stops at the rows available
    assert(
      Similarity.diversifiedTopK(df, "id", "vec", "score", k = 10).count() == 4L
    )
  }

  test("kCenterSample picks one point per planted cluster, farthest first") {
    // three tight clusters at distance >> intra-cluster spread; k=3 must
    // return one member of each before densifying any
    def v(base: Float, jitter: Float) = Array.fill(8)(base) :+ jitter
    val rows = Seq(
      (10L, v(0f, 0.1f)), (11L, v(0f, 0.2f)),        // cluster A (has min id -> seed)
      (20L, v(5f, 0.1f)), (21L, v(5f, 0.3f)),        // cluster B
      (30L, v(-5f, 0.2f)), (31L, v(-5f, 0.4f))       // cluster C
    )
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .kCenterSample(df, "vec_id", "embedding", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .sortBy(_._2)
    assert(got(0) == ((10L, 0)), s"seed must be the min id: ${got.mkString(",")}")
    val clusters = got.map(_._1 / 10L).toSet
    assert(clusters == Set(1L, 2L, 3L), s"one per cluster expected: ${got.mkString(",")}")
    // deterministic on re-run
    val again = graft.operators.Similarity
      .kCenterSample(df, "vec_id", "embedding", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .sortBy(_._2)
    assert(got.toSeq == again.toSeq)
    // k exceeding the DISTINCT-vector count stops early instead of
    // repeating (identical vectors collapse: distance 0 to a chosen
    // center means they can never be a new center)
    val dup = Seq(
      (1L, v(0f, 0f)), (2L, v(1f, 0f)), (3L, v(0f, 0f))
    ).toDF("vec_id", "embedding")
    val short = graft.operators.Similarity
      .kCenterSample(dup, "vec_id", "embedding", k = 4)
      .count()
    assert(short == 2L, s"expected early stop at 2 distinct vectors, got $short")
  }

  test("hllSketchTable merges exactly like a full rebuild; small cardinalities exact") {
    import graft.operators.Stats
    val a = (1 to 500).map(i => ("g", s"v${i % 37}")).toDF("grp", "v")
    val b = (1 to 500).map(i => ("g", s"v${i % 53 + 20}")).toDF("grp", "v")
    // merge(sketch(A), sketch(B)) must estimate the same as sketch(A union B)
    val merged = Stats
      .hllEstimate(
        Stats.hllMergeSketches(
          Seq(
            Stats.hllSketchTable(a, Seq("grp"), "v"),
            Stats.hllSketchTable(b, Seq("grp"), "v")
          ),
          Seq("grp")
        ),
        Seq("grp")
      )
      .head()
      .getLong(1)
    val rebuilt = Stats
      .hllEstimate(
        Stats.hllSketchTable(a.unionByName(b), Seq("grp"), "v"),
        Seq("grp")
      )
      .head()
      .getLong(1)
    assert(merged == rebuilt, s"$merged vs $rebuilt")
    // sparse-mode exactness: |{v0..v36} union {v20..v72}| = 73
    assert(merged == 73L, s"$merged")
    // beyond sparse mode the estimate stays within ~3% at lgK=12
    val big = (1 to 50000).map(i => ("g", s"u$i")).toDF("grp", "v")
    val est = Stats
      .hllEstimate(Stats.hllSketchTable(big, Seq("grp"), "v"), Seq("grp"))
      .head()
      .getLong(1)
    assert(math.abs(est - 50000L) <= 1500, s"estimate $est off by >3%")
  }

  test("domainReweight: excess-loss upweighting, clamp, priors, smoothing, nulls") {
    import graft.operators.Splits
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val df = Seq[(String, java.lang.Double, java.lang.Double)](
      ("A", 2.0, 1.0), ("A", 2.0, 1.0),   // excess +1 per row
      ("B", 0.5, 1.0), ("B", 0.5, 1.0),   // under reference -> me clamps to 0
      (null, 9.0, 1.0), ("A", null, 1.0)  // excluded
    ).toDF("dom", "loss", "ref")
    val rows = Splits
      .domainReweight(df, "dom", "loss", "ref", eta = 1.0)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    assert(rows.keySet == Set("A", "B"))
    assert(rows("A").getLong(1) == 2L && rows("B").getLong(1) == 2L)
    assert(rows("A").getDouble(2) == 1.0 && rows("B").getDouble(2) == 0.0)
    assert(rows("A").getDouble(3) == 0.5 && rows("B").getDouble(3) == 0.5)
    // replay the operator's exact arithmetic: round-6 exp weights over
    // decimal renormalization
    val mwA = r6(0.5 * math.exp(1.0))
    val mwB = r6(0.5 * math.exp(0.0))
    assert(rows("A").getDouble(4) == r6(mwA / (mwA + mwB)))
    assert(rows("B").getDouble(4) == r6(mwB / (mwA + mwB)))
    assert(rows("A").getDouble(4) > rows("B").getDouble(4))
    assert(math.abs(rows("A").getDouble(4) + rows("B").getDouble(4) - 1.0) < 2e-6)
    // smoothing pulls toward uniform: w = (1-s)*w' + s/K
    val sm = Splits
      .domainReweight(df, "dom", "loss", "ref", eta = 1.0, smoothing = 0.5)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(4))
      .toMap
    assert(sm("A") == r6(0.5 * (mwA / (mwA + mwB)) + 0.25))
    // explicit priors iterate the update; absent domains fall back to
    // their natural share
    val spark2 = df.sparkSession
    import spark2.implicits._
    val pri = Seq(("A", 0.2)).toDF("dom", "prior")
    val it = Splits
      .domainReweight(df, "dom", "loss", "ref", eta = 1.0, priors = Some(pri))
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    assert(it("A").getDouble(3) == 0.2 && it("B").getDouble(3) == 0.5)
    val mwA2 = r6(0.2 * math.exp(1.0))
    assert(it("A").getDouble(4) == r6(mwA2 / (mwA2 + mwB)))
    // pathological excess (summed loss instead of per-token): the exp
    // argument caps at 40, so the hardest domain SATURATES toward 1
    // instead of overflowing the decimal cast to NULL and silently
    // dropping out of the renormalization
    val wild = Seq[(String, java.lang.Double, java.lang.Double)](
      ("A", 1e6, 0.0), ("B", 0.0, 0.0)
    ).toDF("dom", "loss", "ref")
    val sat = Splits
      .domainReweight(wild, "dom", "loss", "ref", eta = 1.0)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(4))
      .toMap
    assert(sat("A") > 0.999999 && sat("B") >= 0.0)
    assert(math.abs(sat("A") + sat("B") - 1.0) < 2e-6)
  }

  test("temperatureMixture flattens toward rare sources; weights realize the mixture") {
    import graft.operators.Splits
    val df = (1 to 90).map(i => (i.toLong, "big")) ++ (91 to 100).map(i => (i.toLong, "small"))
    val d = df.toDF("id", "src")
    val mix = Splits.temperatureMixture(d, "src", alpha = 0.5)
      .orderBy("source")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val big = mix.find(_._1 == "big").get
    val small = mix.find(_._1 == "small").get
    assert(big._2 == 90L && small._2 == 10L)
    assert(big._3 == 0.9 && small._3 == 0.1)
    // sqrt weighting: 9.486833/(9.486833+3.162278) ~= 0.75 for big
    assert(math.abs(big._4 - 0.75) < 0.01 && math.abs(small._4 - 0.25) < 0.01)
    // weight = temp_share / natural_share: big downsampled, small upsampled
    assert(big._5 < 1.0 && small._5 > 1.0)
    assert(math.abs(small._5 - 2.5) < 0.1, s"${small._5}")

    // alpha = 1 keeps the natural mixture: every weight exactly 1
    val natural = Splits.temperatureMixture(d, "src", alpha = 1.0)
      .select("weight").collect().map(_.getDouble(0))
    assert(natural.forall(_ == 1.0))

    // applying the alpha=0.5 weights realizes the mixture within hash noise
    val applied = Splits.weightedRepeatByTable(
      d, "id", "src", Splits.temperatureMixture(d, "src", alpha = 0.5)
    )
    val counts = applied.groupBy("src").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(math.abs(counts("big") - 90 * big._5) <= 9, s"${counts("big")}")
    assert(math.abs(counts("small") - 10 * small._5) <= 3, s"${counts("small")}")
    // strata missing from the weight table fall back to defaultWeight = 1
    val fallback = Splits.weightedRepeatByTable(
      d, "id", "src",
      Splits.temperatureMixture(d.filter(col("src") === "big"), "src", 0.5)
        .filter(col("source") === "big")
    )
    assert(fallback.filter(col("src") === "small").count() == 10L)
  }
}
