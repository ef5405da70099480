package graft

import graft.operators.{Graphs, Joins, Layout}
import org.apache.spark.sql.functions._

/** Seeded-random brute-force cross-checks: each test generates adversarial
  * random inputs with a FIXED seed (reproducible failures) and compares an
  * operator's full output against a naive driver-side reference
  * implementation. Example-based tests pin the documented semantics; these
  * pin the semantics on the boundary soup examples never cover — duplicate
  * timestamps, intervals that end exactly on a bin edge, empty/inverted
  * intervals, self-loops, multi-hop components.
  */
class RandomizedSpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoin equals the brute-force latest-at-or-before scan on random data") {
    val rnd = new scala.util.Random(1234)
    // deliberately duplicate-heavy: few keys, coarse time grid so left/right
    // collisions and exact-tie (lt == rt) inclusivity are exercised; right
    // rows unique per (k, rt) — the documented determinism contract (the
    // union-merge last() is unspecified across identical right timestamps)
    val lefts = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(200).toLong * 1000L))
    val rights = rnd
      .shuffle((0 until 5).flatMap(k => (0 until 200).map(t => (k.toLong, t.toLong * 1000L))))
      .take(250)
      .map { case (k, rt) => (k, rt, rnd.nextDouble()) }
    val got = Joins
      .asOfJoin(
        lefts.toDF("id", "k", "t"),
        rights.toDF("k", "rt", "v"),
        "k", "t", "rt", Seq("v")
      )
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    val byKey = rights.groupBy(_._1)
    val want = lefts.map { case (id, k, t) =>
      val m = byKey
        .getOrElse(k, Seq.empty)
        .filter(_._2 <= t)
        .sortBy(_._2)
        .lastOption
        .map(_._3)
      id -> m
    }.toMap
    assert(got == want)
  }

  test("rangeJoin equals the brute-force theta join on random intervals") {
    val rnd = new scala.util.Random(77)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L) // millis ctor
    // facts on a fine grid; intervals of wildly mixed widths incl. empty
    // (s == e) and inverted (e < s) ones, with ends landing exactly on bin
    // edges — the operator must drop degenerate intervals and never double
    // count a multi-bin pair
    val facts = (1 to 200).map(i => (i.toLong, ts(rnd.nextInt(100000).toLong * 1000L)))
    val intervals = (1 to 120).map { j =>
      val s = rnd.nextInt(100000).toLong * 1000L
      val w = rnd.nextInt(5) match {
        case 0 => 0L                                   // empty
        case 1 => -(rnd.nextInt(10000).toLong * 1000L) // inverted
        case _ => rnd.nextInt(30000).toLong * 1000L
      }
      (j.toLong, ts(s), ts(s + w))
    }
    for (binSeconds <- Seq(1L, 7L, 3600L)) {
      val got = Joins
        .rangeJoin(
          facts.toDF("fid", "ft"),
          "ft",
          intervals.toDF("iid", "s", "e"),
          "s", "e",
          binSeconds = binSeconds
        )
        .select("fid", "iid")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sorted
        .toSeq
      val want = (for {
        (fid, ft) <- facts
        (iid, s, e) <- intervals
        if ft.getTime >= s.getTime && ft.getTime < e.getTime
      } yield (fid, iid)).sorted
      assert(got == want, s"binSeconds=$binSeconds: ${got.size} vs ${want.size}")
    }
  }

  test("connectedComponentsByMinLabel equals brute-force union-find on random graphs") {
    for (seed <- Seq(5, 6, 7)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = (1 to 45).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) // incl. self-loops
      val got = Graphs
        .connectedComponentsByMinLabel(edges.toDF("a", "b"), "a", "b")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      // union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = nodes
        .groupBy(find)
        .values
        .flatMap { members => val m = members.min; members.map(_ -> m) }
        .toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("labelPropagation equals the brute synchronous most-frequent/min-label replay") {
    for (seed <- Seq(21, 22, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      // dense-ish with duplicates and self-loops: ties on neighbor-label
      // counts are common, exercising the min-label tie-break every round
      val edges = (1 to 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val rounds = 3
      val got = Graphs
        .labelPropagation(edges.toDF("a", "b"), "a", "b", rounds)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      // driver replay: symmetrize, drop self-loops, dedup; sync rounds
      val und = edges
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter { case (a, b) => a != b }
        .distinct
      val adj = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var labels: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
      (1 to rounds).foreach { _ =>
        labels = adj.map { case (v, nbrs) =>
          val counts = nbrs.map(labels).groupBy(identity)
            .map { case (l, ls) => l -> ls.size }
          // most frequent, ties to the smallest label
          v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      assert(got == labels, s"seed=$seed")
    }
  }

  test("intervalOverlapJoin equals brute-force overlap pairs, each exactly once") {
    val rnd = new scala.util.Random(99)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def mkIntervals(n: Int, idBase: Long) = (1 to n).map { j =>
      val s = rnd.nextInt(50000).toLong
      val w = rnd.nextInt(5) match {
        case 0 => 0L                            // empty -> dropped
        case 1 => -(rnd.nextInt(5000).toLong)   // inverted -> dropped
        case _ => rnd.nextInt(20000).toLong
      }
      (idBase + j, ts(s), ts(s + w))
    }
    val ls = mkIntervals(80, 0L)
    val rs = mkIntervals(80, 1000L)
    for (binSeconds <- Seq(1L, 13L, 3600L)) {
      val got = Joins
        .intervalOverlapJoin(
          ls.toDF("lid", "ls", "le"), "ls", "le",
          rs.toDF("rid", "rs", "re"), "rs", "re",
          binSeconds = binSeconds
        )
        .select("lid", "rid")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sorted
        .toSeq
      val want = (for {
        (lid, s1, e1) <- ls if s1.getTime < e1.getTime
        (rid, s2, e2) <- rs if s2.getTime < e2.getTime
        if s1.getTime < e2.getTime && s2.getTime < e1.getTime
      } yield (lid, rid)).sorted
      // sorted-seq equality catches BOTH missing pairs and a pair emitted
      // from more than one shared bin
      assert(got == want, s"binSeconds=$binSeconds: ${got.size} vs ${want.size}")
    }
  }

  test("nearestJoin equals the brute-force closest-either-side scan, backward wins ties") {
    val rnd = new scala.util.Random(31)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val lefts = (1 to 250).map(i =>
      (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(150).toLong * 1000L))
    val rights = rnd
      .shuffle((0 until 4).flatMap(k => (0 until 150).map(t => (k.toLong, t.toLong * 1000L))))
      .take(180)
      .map { case (k, rt) => (k, rt, rnd.nextDouble()) }
    val got = Joins
      .nearestJoin(
        lefts.map { case (id, k, t) => (id, k, ts(t)) }.toDF("id", "k", "t"),
        rights.map { case (k, rt, v) => (k, ts(rt), v) }.toDF("k", "rt", "v"),
        "k", "t", "rt", "v"
      )
      .select(col("id"), col("near_v"), col("near_dist_us"))
      .collect()
      .map(r =>
        r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getDouble(1), r.getLong(2)))))
      .toMap
    val byKey = rights.groupBy(_._1)
    val want = lefts.map { case (id, k, t) =>
      val cands = byKey.getOrElse(k, Seq.empty)
      val best =
        if (cands.isEmpty) None
        else {
          // min |rt - t|; equidistant back/forward resolves BACKWARD
          val m = cands.map { case (_, rt, v) =>
            (math.abs(rt - t), if (rt <= t) 0 else 1, v)
          }.min
          Some((m._3, m._1 * 1000L)) // dist in micros
        }
      id -> best
    }.toMap
    assert(got == want)
  }

  test("packSequences equals the brute per-shard running token stream") {
    val rnd = new scala.util.Random(8)
    val words = Vector("alpha", "beta", "gamma", "delta")
    val docs = (1 to 200).map { i =>
      val text =
        if (rnd.nextInt(20) == 0) null
        else Seq.fill(1 + rnd.nextInt(9))(words(rnd.nextInt(4))).mkString(" ")
      (i.toLong, rnd.nextInt(5).toString, text)
    }
    val blockTokens = 16
    val got = graft.operators.Splits
      .packSequences(docs.toDF("id", "shard", "text"), "id", "text", "shard", blockTokens)
      .select("id", "n_tokens", "block_id", "block_offset")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = docs
      .filter(_._3 != null)
      .groupBy(_._2)
      .values
      .flatMap { shardDocs =>
        var off = 0L
        shardDocs.sortBy(_._1).map { case (id, _, text) =>
          val n = text.split(" ").length
          val r = id -> ((n, off / blockTokens, off % blockTokens))
          off += n
          r
        }
      }
      .toMap
    assert(got == want)
  }

  test("funnel equals the brute-force greedy earliest-completion walk") {
    val rnd = new scala.util.Random(55)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val types = Vector("view", "cart", "purchase", "click")
    val steps = Seq("view", "cart", "purchase")
    // duplicate timestamps on purpose: a step event at the SAME instant
    // as the prior step's completion must NOT count (strict >)
    val events = (1 to 600).map { i =>
      (i.toLong, rnd.nextInt(30).toLong, ts(rnd.nextInt(40).toLong * 1000L),
        types(rnd.nextInt(4)))
    }
    val got = graft.operators.Sessionize
      .funnel(events.toDF("eid", "k", "t", "typ"), "k", "t", "typ", steps)
      .collect()
      .map(r =>
        r.getLong(0) ->
          ((steps.indices.map(i =>
            if (r.isNullAt(1 + i)) None else Some(r.getTimestamp(1 + i).getTime)
          ), r.getInt(1 + steps.size))))
      .toMap
    val want = events.groupBy(_._2).map { case (k, evs) =>
      var prev: Option[Long] = None
      val hits = steps.map { step =>
        val cand = evs
          .filter(e => e._4 == step && prev.forall(p => e._3.getTime > p))
          .map(_._3.getTime)
        // step 0 has no predecessor; later steps need strictly-after
        val hit = if (cand.isEmpty) None else Some(cand.min)
        prev = if (hit.isDefined) hit else prev
        hit
      }
      // a stalled step stalls everything after it
      val cut = hits.indexWhere(_.isEmpty)
      val fixed = if (cut < 0) hits else hits.take(cut) ++ Seq.fill(steps.size - cut)(None)
      k -> ((fixed, fixed.count(_.isDefined)))
    }
    assert(got == want)
  }

  test("retentionMatrix equals the brute cohort/offset activity counts") {
    val rnd = new scala.util.Random(21)
    def ts(day: Long, sec: Long) = new java.sql.Timestamp((day * 86400L + sec) * 1000L)
    val events = (1 to 800).map { i =>
      (i.toLong, rnd.nextInt(60).toLong, ts(rnd.nextInt(14).toLong, rnd.nextInt(86400).toLong))
    }
    val got = graft.operators.Sessionize
      .retentionMatrix(events.toDF("eid", "u", "t"), "u", "t")
      .collect()
      .map(r =>
        (r.getTimestamp(0).getTime, r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val act = events.map(e => (e._2, e._3.getTime / 86400000L)).distinct
    val firstDay = act.groupBy(_._1).map { case (u, ds) => u -> ds.map(_._2).min }
    val cohortN = firstDay.groupBy(_._2).map { case (d, us) => d -> us.size.toLong }
    val want = act
      .groupBy { case (u, d) => (firstDay(u), d - firstDay(u)) }
      .map { case ((c, off), xs) =>
        val n = xs.size.toLong
        (c * 86400000L, off) -> ((n, cohortN(c), r6(n.toDouble / cohortN(c))))
      }
    assert(got == want)
  }

  test("sessionize equals the brute gap-walk on random duplicate-heavy events") {
    val rnd = new scala.util.Random(44)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // seconds-grid timestamps with duplicates; ties break by event_id
    val events = (1 to 500).map { i =>
      (i.toLong, rnd.nextInt(25).toLong, ts(rnd.nextInt(3000).toLong),
        rnd.nextInt(100).toDouble)
    }
    val gap = 120L
    val got = graft.operators.Sessionize
      .sessionize(events.toDF("event_id", "user_id", "ts", "value"), gap)
      .collect()
      .map(r =>
        (r.getLong(0), r.getLong(1)) ->
          ((r.getTimestamp(2).getTime, r.getTimestamp(3).getTime,
            r.getLong(4), r.getDouble(5))))
      .toMap
    val want = events
      .groupBy(_._2)
      .flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e._3.getTime, e._1))
        var sid = 1L // the operator's running boundary sum starts at 1
        var prevT = Long.MinValue
        val tagged = sorted.map { e =>
          val t = e._3.getTime
          if (prevT != Long.MinValue && t - prevT > gap * 1000L) sid += 1
          prevT = t
          (sid, e)
        }
        tagged.groupBy(_._1).map { case (s, xs) =>
          val times = xs.map(_._2._3.getTime)
          val total = BigDecimal(xs.map(_._2._4).sum)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
          (u, s) -> ((times.min, times.max, xs.size.toLong, total))
        }
      }
    assert(got == want)
  }

  test("rollingStats equals the brute trailing n-row frame per key") {
    val rnd = new scala.util.Random(66)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = (1 to 400).map { i =>
      (i.toLong, rnd.nextInt(15).toLong, ts(rnd.nextInt(200).toLong),
        (rnd.nextInt(10000) / 100.0))
    }
    val n = 4
    val got = graft.operators.Sessionize
      .rollingStats(
        events.toDF("event_id", "k", "t", "v"), "k", "t", "v", n, "event_id")
      .select("event_id", "roll_n", "roll_sum", "roll_min", "roll_max", "roll_avg")
      .collect()
      .map(r =>
        r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5))))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = events
      .groupBy(_._2)
      .flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._3.getTime, e._1)).toIndexedSeq
        sorted.indices.map { i =>
          val frame = sorted.slice(math.max(0, i - n + 1), i + 1).map(_._4)
          val sum = BigDecimal(frame.sum)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
          sorted(i)._1 ->
            ((frame.size.toLong, sum, frame.min, frame.max,
              r6(sum / frame.size)))
        }
      }
    assert(got == want)
  }

  test("winsorize (exact) equals brute interpolated percentile clipping per group") {
    val rnd = new scala.util.Random(12)
    val rows = (1 to 300).map { i =>
      (i.toLong, ('a' + rnd.nextInt(4)).toChar.toString,
        (rnd.nextInt(100000) / 100.0) * (if (rnd.nextInt(10) == 0) 50 else 1))
    }
    val got = graft.operators.Stats
      .winsorize(rows.toDF("id", "g", "v"), Seq("g"), "v",
        pLow = 0.05, pHigh = 0.9, exact = true)
      .select("id", "v_wins")
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Spark's exact percentile: linear interpolation at rank p*(n-1)
    def pct(sorted: IndexedSeq[Double], p: Double): Double = {
      val rank = p * (sorted.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      sorted(lo) + (rank - lo) * (sorted(hi) - sorted(lo))
    }
    val byGroup = rows.groupBy(_._2).map { case (g, xs) =>
      val sorted = xs.map(_._3).sorted.toIndexedSeq
      g -> ((r6(pct(sorted, 0.05)), r6(pct(sorted, 0.9))))
    }
    val want = rows.map { case (id, g, v) =>
      val (lo, hi) = byGroup(g)
      id -> math.min(math.max(v, lo), hi)
    }.toMap
    assert(got == want)
  }

  test("wasserstein1 equals the CDF-integral brute force and the quantile identity") {
    import graft.operators.Stats
    def brute(xs: Seq[Double], ys: Seq[Double]): Double = {
      val grid = (xs ++ ys).distinct.sorted
      val na = xs.size.toDouble
      val nb = ys.size.toDouble
      grid
        .zip(grid.tail)
        .map { case (v, nv) =>
          val fa = xs.count(_ <= v) / na
          val fb = ys.count(_ <= v) / nb
          math.abs(fa - fb) * (nv - v)
        }
        .sum
    }
    def w1(xs: Seq[Double], ys: Seq[Double]): (Long, Long, Option[Double]) = {
      val r = Stats
        .wasserstein1(xs.toDF("v"), ys.toDF("v"), "v")
        .collect()(0)
      (
        if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))
      )
    }
    val rnd = new scala.util.Random(31337)
    for (trial <- 1 to 3) {
      // quarter-unit grid: values exact in double AND on the micro grid,
      // with heavy duplicate collisions across the two samples
      def sample(n: Int, lo: Double, hi: Double): Seq[Double] =
        Seq.fill(n)(lo + math.round(rnd.nextDouble() * (hi - lo) * 4) / 4.0)
      val xs = sample(150 + rnd.nextInt(100), 0, 50)
      val ys = sample(120 + rnd.nextInt(150), -5, 55)
      val (na, nb, got) = w1(xs, ys)
      assert(na == xs.size && nb == ys.size)
      val want = brute(xs, ys)
      assert(
        math.abs(got.get - want) < 2e-6,
        s"trial=$trial got=$got want=$want"
      )
    }
    // equal-size identity: W1 = mean |a_(i) - b_(i)| over sorted samples
    val as = Seq.fill(200)(math.round(rnd.nextDouble() * 400) / 4.0)
    val bs = Seq.fill(200)(math.round(rnd.nextDouble() * 400) / 4.0)
    val viaQuantiles =
      as.sorted.zip(bs.sorted).map { case (x, y) => math.abs(x - y) }.sum / 200
    assert(math.abs(w1(as, bs)._3.get - viaQuantiles) < 2e-6)
    // edges: identical samples -> 0; single shared distinct value -> 0
    // with counts intact; an empty side -> NULL w1
    assert(w1(as, as) == ((200L, 200L, Some(0.0))))
    assert(w1(Seq(3.25, 3.25), Seq(3.25)) == ((2L, 1L, Some(0.0))))
    assert(w1(as, Nil)._3.isEmpty)
  }

  test("wordpieceTrain equals the brute likelihood-gain trainer on random corpora") {
    import graft.operators.TextAnalysis
    // brute reference: the exact published criterion — per round, score
    // every adjacent pair (c_ab * N * 65536) / (ca * cb) in BigInt
    // (truncating division == the operator's DECIMAL div), argmax with
    // (a, b)-ascending tie-break, leftmost non-overlapping fold — over a
    // word dictionary in plain Scala collections
    def brute(
        dict0: Seq[(String, Long)],
        numMerges: Int
    ): Seq[(Int, String, String, String, Long, Long)] = {
      var words: Seq[(Vector[String], Long)] = dict0.map { case (w, n) =>
        (w.head.toString +: w.tail.map(c => "##" + c).toVector, n)
      }
      val out = Seq.newBuilder[(Int, String, String, String, Long, Long)]
      var rank = 0
      var stop = false
      while (rank < numMerges && !stop) {
        val symC = words
          .flatMap { case (ss, n) => ss.map(_ -> n) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        val pairC = words
          .flatMap { case (ss, n) => ss.zip(ss.tail).map(_ -> n) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        if (pairC.isEmpty) stop = true
        else {
          val bigN = BigInt(symC.values.sum)
          val scored = pairC.toSeq.map { case ((a, b), c) =>
            val sq = (BigInt(c) * bigN * 65536) / (BigInt(symC(a)) * symC(b))
            ((a, b), c, sq.toLong)
          }
          // tie-break in UTF-8 BYTE order (== code-point order), matching
          // both the operator's UTF8String orderBy and DuckDB's binary
          // collation — Java's default String ordering is UTF-16
          // code-unit order, which diverges for supplementary-plane
          // symbols vs BMP symbols in [U+E000, U+FFFF]
          val utf8Ord: Ordering[String] = (x: String, y: String) => {
            val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var i = 0
            var r = 0
            val n = math.min(a.length, b.length)
            while (i < n && r == 0) {
              r = (a(i) & 0xff) - (b(i) & 0xff); i += 1
            }
            if (r != 0) r else a.length - b.length
          }
          val ((a, b), c, sq) = scored.minBy { case ((a, b), _, sq) =>
            (-sq, a, b)
          }(Ordering.Tuple3(Ordering.Long, utf8Ord, utf8Ord))
          val merged = a + b.stripPrefix("##")
          out += ((rank, a, b, merged, sq, c))
          words = words.map { case (ss, n) =>
            (
              ss.foldLeft(Vector.empty[String])((acc, x) =>
                if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ merged
                else acc :+ x
              ),
              n
            )
          }
          rank += 1
        }
      }
      out.result()
    }
    for (seed <- Seq(7, 99, 4242)) {
      val rnd = new scala.util.Random(seed)
      // tiny alphabet -> heavy pair collisions, same-symbol runs ("aaaa")
      // exercising the non-overlapping leftmost fold, and quantized ties
      val dict = rnd
        .shuffle(
          (1 to 40).map(_ =>
            (1 to (1 + rnd.nextInt(6)))
              .map(_ => "ab" (rnd.nextInt(2)))
              .mkString
          )
        )
        .distinct
        .map(w => (w, 1L + rnd.nextInt(20)))
      val docs = dict.zipWithIndex.map { case ((w, n), i) =>
        (i.toLong, Seq.fill(n.toInt)(w).mkString(" "))
      }.toDF("doc_id", "text")
      val got = TextAnalysis
        .wordpieceTrain(docs, "text", numMerges = 12)
        .collect()
        .map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
            r.getLong(4), r.getLong(5))
        )
        .toSeq
      val want = brute(dict, 12)
      assert(got == want, s"seed=$seed\n got=$got\nwant=$want")
      // duplication invariance is STRUCTURAL (the N factor cancels the
      // k^2 count scaling): 3 corpus replicas must reproduce the merge
      // sequence AND every quantized score bit-for-bit; the raw
      // pair_count is the one column that (correctly) triples
      val docs3 = docs
        .union(docs.withColumn("doc_id", col("doc_id") + 1000))
        .union(docs.withColumn("doc_id", col("doc_id") + 2000))
      val got3 = TextAnalysis
        .wordpieceTrain(docs3, "text", numMerges = 12)
        .collect()
        .map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
            r.getLong(4), r.getLong(5))
        )
        .toSeq
      assert(
        got3.map(t => (t._1, t._2, t._3, t._4, t._5)) ==
          got.map(t => (t._1, t._2, t._3, t._4, t._5)),
        s"seed=$seed duplication changed the merges or scores"
      )
      assert(
        got3.map(_._6) == got.map(_._6 * 3),
        s"seed=$seed pair counts must scale exactly 3x"
      )
    }
  }

  test("rangedRunningSums equals the brute per-group prefix sums at every parts") {
    // direct gate for the helper that now carries AUC / KS / exact
    // percentiles: random groups x unique-order values x two sum columns,
    // swept across partition counts bracketing the row count (parts=1
    // degenerate slice, parts >> rows so most slices are empty) — each
    // must reproduce the driver-side inclusive prefix sums exactly
    val rnd = new scala.util.Random(2718)
    val groups = Seq("g1", "g2", "g3", "g4")
    val rows = groups.flatMap { g =>
      val nVals = 1 + rnd.nextInt(120) // includes a possible 1-row group
      rnd.shuffle((0 until 400).toList).take(nVals).map { v =>
        (g, v.toDouble, (rnd.nextInt(1000) - 200).toLong, rnd.nextInt(50).toLong)
      }
    }
    val want = rows
      .groupBy(_._1)
      .flatMap { case (g, xs) =>
        val sorted = xs.sortBy(_._2)
        val runA = sorted.scanLeft(0L)(_ + _._3).tail
        val runB = sorted.scanLeft(0L)(_ + _._4).tail
        sorted.indices.map(i => (g, sorted(i)._2) -> ((runA(i), runB(i))))
      }
    for (parts <- Seq(1, 2, 3, 7, 64)) {
      val got = graft.operators.Stats
        .rangedRunningSums(
          rows.toDF("g", "v", "a", "b"), Seq("g"), "v", Seq("a", "b"),
          parts = parts
        )
        .select("g", "v", "__run_a", "__run_b")
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == want.toMap, s"prefix sums diverge at parts=$parts")
    }
    // ungrouped (global order) path, parts within row count
    val uniq = rnd.shuffle((0 until 500).toList).take(200)
      .map(v => (v.toDouble, rnd.nextInt(100).toLong))
    val sortedU = uniq.sortBy(_._1)
    val runU = sortedU.scanLeft(0L)(_ + _._2).tail
    val wantU = sortedU.indices.map(i => sortedU(i)._1 -> runU(i)).toMap
    val gotU = graft.operators.Stats
      .rangedRunningSums(uniq.toDF("v", "a"), Nil, "v", Seq("a"), parts = 32)
      .select("v", "__run_a")
      .collect()
      .map(r => r.getDouble(0) -> r.getLong(1))
      .toMap
    assert(gotU == wantU, "ungrouped prefix sums diverge")
  }

  test("histogram equals the brute clamped fixed-width binning") {
    val rnd = new scala.util.Random(3)
    // values straddle the range so both edge clamps fire
    val xs = (1 to 500).map(_ => rnd.nextDouble() * 140.0 - 20.0)
    val (lo, hi, nBins) = (0.0, 100.0, 7)
    val got = graft.operators.Stats
      .histogram(xs.toDF("v"), "v", lo, hi, nBins)
      .collect()
      .map(r => r.getInt(0) -> r.getLong(3))
      .toMap
    val width = (hi - lo) / nBins
    val want = xs
      .map(v => math.min(nBins - 1, math.max(0, math.floor((v - lo) / width).toInt)))
      .groupBy(identity)
      .map { case (b, vs) => b -> vs.size.toLong }
    assert(got == want)
    assert(got.values.sum == 500L, "clamping must conserve the row count")
  }

  test("spearmanCorrelation equals the brute average-rank Pearson") {
    for (seed <- Seq(11, 77, 505)) {
      val rnd = new scala.util.Random(seed)
      // coarse grids force heavy ties on BOTH sides; b is a noisy monotone
      // function of a so rho is well away from 0 and 1
      val rows = (1 to 400).map { _ =>
        val a = rnd.nextInt(12).toDouble
        val b = a * 3.0 + rnd.nextInt(20).toDouble
        (a, b)
      }
      val got = graft.operators.Stats
        .spearmanCorrelation(rows.toDF("a", "b"), "a", "b")
        .collect()
        .head
      def avgRanks(xs: Seq[Double]): Map[Double, Double] = {
        val sorted = xs.sorted
        sorted.zipWithIndex
          .groupBy(_._1)
          .map { case (v, ps) =>
            v -> (ps.map(_._2 + 1).sum.toDouble / ps.size)
          }
      }
      val ra = avgRanks(rows.map(_._1))
      val rb = avgRanks(rows.map(_._2))
      val xs = rows.map(r => ra(r._1))
      val ys = rows.map(r => rb(r._2))
      val n = rows.size.toDouble
      val mx = xs.sum / n
      val my = ys.sum / n
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum) *
        math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
      val brute = num / den
      assert(got.getLong(0) == rows.size)
      assert(math.abs(got.getDouble(1) - brute) <= 1e-6,
        s"seed $seed: got ${got.getDouble(1)}, brute $brute")
    }
    // constant column -> NULL rho, not a division blowup
    val const = (1 to 50).map(i => (5.0, i.toDouble)).toDF("a", "b")
    val r0 = graft.operators.Stats
      .spearmanCorrelation(const, "a", "b").collect().head
    assert(r0.isNullAt(1))
  }

  test("parseUrls components equal a brute java.net-free reference on random URLs") {
    import graft.operators.Urls
    val rnd = new scala.util.Random(808)
    val schemes = Seq("http", "https", "ftp", "custom+v1.2")
    // suffix mix spans every rule depth: plain TLDs, 2-label (co.uk),
    // 3-label private (github.io is 2-label rule; s3.amazonaws.com is
    // 3-label), and 4-label AWS regional rules
    val suffixes = Seq(
      "com", "org", "co.uk", "com.au", "io", "co.jp",
      "github.io", "blogspot.com", "s3.amazonaws.com",
      "s3.eu-west-1.amazonaws.com", "k12.ca.us"
    )
    val urls = (1 to 400).map { i =>
      val scheme = schemes(rnd.nextInt(schemes.size))
      val labels = (1 to 1 + rnd.nextInt(3))
        .map(_ => s"h${rnd.nextInt(20)}")
        .mkString(".")
      val host = rnd.nextInt(12) match {
        case 0 => s"${rnd.nextInt(256)}.${rnd.nextInt(256)}.0.${rnd.nextInt(256)}"
        case 1 => s"[2001:db8::${rnd.nextInt(16)}]"
        case _ => s"$labels.${suffixes(rnd.nextInt(suffixes.size))}"
      }
      val user = if (rnd.nextInt(4) == 0) s"u${rnd.nextInt(5)}:p${rnd.nextInt(5)}@" else ""
      val port = if (rnd.nextInt(3) == 0) s":${1 + rnd.nextInt(65000)}" else ""
      val path = if (rnd.nextInt(3) > 0) s"/p${rnd.nextInt(9)}/x" else ""
      val query = if (rnd.nextInt(3) == 0) s"?a=${rnd.nextInt(9)}&b=1" else ""
      val frag = if (rnd.nextInt(4) == 0) s"#f${rnd.nextInt(9)}?trap=1" else ""
      val junk = if (rnd.nextInt(10) == 0) s"junk text $i?x=1" else ""
      (i.toLong, if (junk.nonEmpty) junk else s"$scheme://$user$host$port$path$query$frag")
    }
    val got = Urls
      .parseUrls(urls.toDF("id", "url"), "url")
      .select("id", "url_scheme", "url_host", "url_port", "url_path",
        "url_query_string", "url_domain")
      .collect()
      .map(r => r.getLong(0) -> (
        Option(r.getString(1)).orNull, Option(r.getString(2)).orNull,
        if (r.isNullAt(3)) -1 else r.getInt(3),
        Option(r.getString(4)).orNull, Option(r.getString(5)).orNull,
        Option(r.getString(6)).orNull))
      .toMap
    // brute reference: plain string surgery, no regex, no java.net
    val psl = graft.operators.PublicSuffixes.byLabelCount
    urls.foreach { case (id, u) =>
      val want =
        if (!u.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
          (null, null, -1, null, null, null)
        else {
          val afterScheme = u.substring(u.indexOf("://") + 3)
          val scheme = u.substring(0, u.indexOf("://")).toLowerCase
          val authEnd = afterScheme.indexWhere(c => "/?#".contains(c)) match {
            case -1 => afterScheme.length
            case x  => x
          }
          val auth = afterScheme.substring(0, authEnd)
          val hostPort = auth.substring(auth.lastIndexOf('@') + 1)
          val (host, port) =
            if (hostPort.startsWith("[")) {
              val close = hostPort.indexOf(']')
              val h = hostPort.substring(0, close + 1).toLowerCase
              val rest = hostPort.substring(close + 1)
              if (rest.startsWith(":")) (h, rest.substring(1).toInt)
              else (h, -1)
            } else
              hostPort.indexOf(':') match {
                case -1 => (hostPort.toLowerCase, -1)
                case c  => (hostPort.substring(0, c).toLowerCase,
                            hostPort.substring(c + 1).toInt)
              }
          val rest = afterScheme.substring(authEnd)
          val beforeFrag = rest.indexOf('#') match {
            case -1 => rest
            case f  => rest.substring(0, f)
          }
          val path = beforeFrag.indexOf('?') match {
            case -1 => if (beforeFrag.isEmpty) null else beforeFrag
            case q  => if (q == 0) null else beforeFrag.substring(0, q)
          }
          val qs = beforeFrag.indexOf('?') match {
            case -1 => null
            case q  =>
              val v = beforeFrag.substring(q + 1)
              if (v.isEmpty) null else v
          }
          val labels = host.split("\\.")
          val ipLike = host.startsWith("[") ||
            host.matches("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$")
          val domain =
            if (ipLike) host
            else
              (4 to 2 by -1)
                .collectFirst {
                  case k
                      if labels.length >= k + 1 &&
                        psl
                          .getOrElse(k, Set.empty)
                          .contains(labels.takeRight(k).mkString(".")) =>
                    labels.takeRight(k + 1).mkString(".")
                }
                .getOrElse(
                  if (labels.length >= 2) labels.takeRight(2).mkString(".")
                  else host
                )
          (scheme, host, port, path, qs, domain)
        }
      assert(got(id) == want, s"id=$id url=$u got=${got(id)} want=$want")
    }
  }

  test("bloomSemiJoin equals the exact semi-join on random keys") {
    val rnd = new scala.util.Random(2026)
    val left = (1 to 2000).map(i =>
      (i.toLong, rnd.nextInt(300).toLong)
    ) :+ (0L, -1L)
    val right = (1 to 150).map(_ => rnd.nextInt(500).toLong)
    val l = left.toDF("row_id", "k")
      .union(Seq((9999L, 0L)).toDF("row_id", "k")
        .select(col("row_id"), lit(null).cast("long").as("k")))
    val r = right.toDF("k")
      .union(Seq(1).toDF("x").select(lit(null).cast("long").as("k")))
    val got = Joins.bloomSemiJoin(l, r, "k")
      .select("row_id").collect().map(_.getLong(0)).toSet
    val want = left.filter { case (_, k) => right.contains(k) }.map(_._1).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // NULL keys never match; empty right -> empty result
    assert(!got.contains(9999L))
    assert(Joins.bloomSemiJoin(l, r.filter(lit(false)), "k").count() == 0)
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(l, r, "k", fpp = 1.5)
    }
    // mismatched key types are rejected loudly: xxhash64 is
    // type-sensitive, so a coerced probe would silently drop matches
    val rInt = right.map(_.toInt).toDF("k")
    val ex = intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(l, rInt, "k")
    }
    assert(ex.getMessage.contains("same type"))
  }

  // --- dedup/text family brute replays -------------------------------

  /** Driver-side replay of the portable MinHash spec (md5 60-bit prefix
    * seeds, 16 components mod 1e9+7) — an independent implementation of
    * the documented hash contract, shared by the two MinHash tests. */
  private def md5hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  private val MinHashP = 1000000007L

  private def bruteSignature(text: String, numHashes: Int): Vector[Long] = {
    val toks = text.toLowerCase.split(" ", -1).toVector
    (0 until numHashes).map { j =>
      toks.map { t =>
        val h = md5hex(t)
        val a = java.lang.Long.parseLong(h.substring(0, 15), 16)
        val b = java.lang.Long.parseLong(h.substring(15, 30), 16) % MinHashP
        (a + j * b) % MinHashP
      }.min
    }.toVector
  }

  test("dedupNearMinHash equals the brute MinHash replay on random corpora") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(4242)
    val vocab =
      Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    // duplicate-heavy: tiny vocabulary + frequent copy/permute of earlier
    // docs forces exact-signature clusters, near pairs, transitive chains
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs: Seq[(Long, String)] = (1 to 120).map { i =>
      val text =
        if (rnd.nextInt(6) == 0 && i > 1) null // null docs always retained
        else if (rnd.nextInt(3) == 0 && texts.nonEmpty) {
          val base = texts(rnd.nextInt(texts.size)).split(" ").toVector
          val t = rnd.nextInt(3) match {
            case 0 => rnd.shuffle(base).mkString(" ")         // permutation
            case 1 => (base :+ vocab(rnd.nextInt(8))).mkString(" ")
            case _ => base.mkString(" ")                       // exact copy
          }
          t
        } else
          (0 until (3 + rnd.nextInt(5)))
            .map(_ => vocab(rnd.nextInt(8)))
            .mkString(" ")
      if (text != null) texts += text
      (i.toLong, text)
    }
    val df = docs.toDF("doc_id", "text")

    val sigs = docs.collect { case (id, t) if t != null => id -> bruteSignature(t, 16) }
    // band bucket key = the slice CONTENT (lshBands hashes only the slice,
    // not the band index — cross-band equal slices share a bucket)
    val buckets = sigs
      .flatMap { case (id, s) =>
        (0 until 4).map(b => s.slice(b * 4, b * 4 + 4).mkString("|") -> id)
      }
      .groupBy(_._1)
      .values
      .map(_.map(_._2).distinct.sorted)
    val candPairs = buckets
      .filter(_.size > 1)
      .flatMap(ids => ids.tail.map(o => (ids.head, o)))
      .toSet
    val sigOf = sigs.toMap
    def est(x: Long, y: Long): Double =
      sigOf(x).zip(sigOf(y)).count { case (a, b) => a == b } / 16.0
    val exactLosers = sigs
      .groupBy(_._2)
      .values
      .flatMap(g => g.map(_._1).sorted.tail)
      .toSet

    for (threshold <- Seq(0.5, 0.9); transitive <- Seq(false, true)) {
      val qual = candPairs.filter { case (a, b) => est(a, b) >= threshold }
      val nearLosers =
        if (!transitive) qual.map(_._2)
        else {
          // union-find over qualifying pairs; losers = id > component min
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            val p = parent.getOrElseUpdate(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          qual.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          parent.keys.filter(x => find(x) != x).toSet
        }
      val want = docs.map(_._1).toSet -- exactLosers -- nearLosers
      val got = Dedup
        .dedupNearMinHash(
          df, "doc_id", "text", threshold,
          shingleK = 1, numHashes = 16, bands = 4,
          transitive = transitive
        )
        .select("doc_id")
        .collect()
        .map(_.getLong(0))
        .toSet
      assert(
        got == want,
        s"threshold=$threshold transitive=$transitive: " +
          s"extra=${got -- want} missing=${want -- got}"
      )
    }
  }

  test("spanDedup equals the brute L-gram keeper/coverage replay") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(909)
    val vocab = Vector("a", "b", "c", "d", "e")
    val L = 3
    // highly repetitive docs so grams repeat within AND across documents;
    // includes docs shorter than L (no grams -> nothing removable) and
    // exact full-document duplicates
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs: Seq[(Long, String)] = (1 to 60).map { i =>
      val text =
        if (rnd.nextInt(5) == 0 && texts.nonEmpty)
          texts(rnd.nextInt(texts.size)) // exact duplicate
        else
          (0 until (1 + rnd.nextInt(25)))
            .map(_ => vocab(rnd.nextInt(vocab.size)))
            .mkString(" ")
      texts += text
      (i.toLong, text)
    }
    val toksOf = docs.map { case (id, t) =>
      id -> t.toLowerCase.split(" ", -1).toVector
    }.toMap
    // gram occurrences -> keeper (min (id, pos)) -> covered positions
    val occ = docs.flatMap { case (id, _) =>
      val tk = toksOf(id)
      if (tk.size < L) Seq.empty
      else (0 to tk.size - L).map(p => (tk.slice(p, p + L).mkString(" "), id, p))
    }
    val covered = occ
      .groupBy(_._1)
      .values
      .filter(_.size > 1)
      .flatMap { os =>
        val keeper = os.map(o => (o._2, o._3)).min
        os.filter(o => (o._2, o._3) != keeper)
          .flatMap(o => (o._3 until o._3 + L).map(p => (o._2, p)))
      }
      .toSet
    val want = docs.map { case (id, _) =>
      val tk = toksOf(id)
      val kept = tk.indices.filterNot(p => covered((id, p))).map(tk)
      (id, tk.size.toLong, (tk.size - kept.size).toLong,
        md5hex(kept.mkString(" ")))
    }.toSet
    val got = TextAnalysis
      .spanDedup(docs.toDF("doc_id", "text"), "doc_id", "text", spanTokens = L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong, r.getString(3)))
      .toSet
    assert(got == want, s"extra=${got.diff(want)} missing=${want.diff(got)}")
  }

  test("stripBoilerplate equals the brute distinct-doc-frequency filter") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(31337)
    val lines = Vector(
      "copyright footer", "nav menu", "unique insight", "body text",
      "subscribe now", "article content", "fresh paragraph", "data point"
    )
    val docs: Seq[(Long, String)] = (1 to 80).map { i =>
      val n = 1 + rnd.nextInt(6)
      // repeated units WITHIN a doc exercise the distinct-per-doc counting
      val units = (0 until n).map(_ => lines(rnd.nextInt(lines.size)))
      (i.toLong, units.mkString("\n"))
    }
    val n = docs.size.toLong
    for ((maxDocs, frac) <- Seq((10L, 0.0), (5L, 0.25))) {
      val threshold =
        if (frac <= 0) maxDocs
        else {
          val ppm = math.round(frac * 1000000L)
          math.max(maxDocs, (ppm * n + 999999L) / 1000000L)
        }
      val docFreq = docs
        .flatMap { case (id, t) => t.split("\n", -1).distinct.map(_ -> id) }
        .groupBy(_._1)
        .map { case (u, xs) => u -> xs.size.toLong }
      val hot = docFreq.filter(_._2 > threshold).keySet
      val want = docs.map { case (id, t) =>
        val units = t.split("\n", -1).toVector
        val kept = units.filterNot(hot)
        (id, kept.mkString("\n"), units.size, units.size - kept.size)
      }.toSet
      val got = TextAnalysis
        .stripBoilerplate(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          maxDocs = maxDocs, maxDocFraction = frac
        )
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
        .toSet
      assert(
        got == want,
        s"maxDocs=$maxDocs frac=$frac diff=${got.diff(want)} / ${want.diff(got)}"
      )
    }
  }

  test("hilbertIndex is a bijection on the full grid; consecutive codes are grid-adjacent") {
    val bits = 5 // full 32x32 grid = 1024 cells
    val grid = for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)
    val coded = grid
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbertIndex(col("x"), col("y"), bits).as("h"))
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    // bijection: codes are exactly 0..1023
    assert(coded.map(_._1).toSeq == (0L until 1024L))
    // curve property: consecutive indices are 4-neighbors in the grid —
    // this is what buys tighter bounding boxes than Morton (which jumps)
    coded.sliding(2).foreach { case Array((_, (x1, y1)), (h2, (x2, y2))) =>
      assert(
        math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at h=$h2: ($x1,$y1) -> ($x2,$y2)"
      )
    }
  }
}
