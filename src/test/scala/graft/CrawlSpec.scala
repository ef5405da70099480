package graft

import graft.operators.{Dedup, TextAnalysis, Urls}
import org.apache.spark.sql.functions._

/** Crawl-curation tier: URL allow/block gating and SURT keys, n-gram
  * count tables, main-content extraction, line and word gates, mojibake
  * repair, and exact-verified MinHash dedup. */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------- URL allow/block

  private lazy val urlDocs = Seq(
    (1L, "https://www.badsite.com/x"),
    (2L, "https://badsite.com/y"),
    (3L, "https://goodsite.org/z"),
    (4L, "https://blog.goodsite.org/post"),
    (5L, "https://sub.blog.goodsite.org/deep"),
    (6L, "not a url at all"),
    (7L, "https://otherbadsite.com.evil.net/phish") // suffix must NOT match
  ).toDF("id", "url")

  test("filterByDomains: blocklist bans domain + subdomains, keeps null hosts") {
    val kept = Urls
      .filterByDomains(urlDocs, "url", block = Seq("badsite.com"))
      .select("id")
      .collect()
      .map(_.getLong(0))
      .sorted
    assert(kept.toSeq == Seq(3L, 4L, 5L, 6L, 7L)) // 6 unparseable survives
  }

  test("filterByDomains: allowlist + block override, drops unparseable") {
    val kept = Urls
      .filterByDomains(
        urlDocs,
        "url",
        block = Seq("blog.goodsite.org"),
        allow = Seq("goodsite.org", "badsite.com")
      )
      .select("id")
      .collect()
      .map(_.getLong(0))
      .sorted
    // 4 and 5 are inside the banned blog.goodsite.org subtree; 6 has no
    // host; 7 matches neither ("com.evil.net" is not "badsite.com")
    assert(kept.toSeq == Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException](Urls.filterByDomains(urlDocs, "url"))
  }

  // -------------------------------------------------------- ngram counts

  test("ngramCounts: exact trigram counts with prune and deterministic top-k") {
    val docs = Seq(
      "a b c a b c",
      "a b c d",
      "x y",
      null.asInstanceOf[String]
    ).toDF("text")
    val got = TextAnalysis
      .ngramCounts(docs, "text", n = 3, minCount = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // "a b c": doc1 twice + doc2 once = 3 over 2 docs; everything else
    // occurs once and is pruned; "x y" and NULL contribute no trigrams
    assert(got == Set(("a b c", 3L, 2L)))

    val ranked = TextAnalysis
      .ngramCounts(docs, "text", n = 3, minCount = 1, topK = 3)
      .orderBy("rank")
      .collect()
      .map(r => (r.getString(0), r.getAs[Int]("rank")))
    assert(ranked.head == ("a b c", 1)) // freq desc, then gram asc
    assert(ranked.map(_._1).toSeq == ranked.map(_._1).toSeq.distinct)
    assert(ranked.length == 3)
  }

  // -------------------------------------------------------- main content

  test("extractMainContent: chrome dies by density, stubs by length, prose survives") {
    val prose =
      "This is the actual article body with more than enough characters to pass."
    val page =
      "<html><head><title>T</title><script>var x = 1; // <a href=\"/f\">fake</a></script></head>" +
        "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About page</a> <a href=\"/c\">Contact page now</a></nav>" +
        s"<p>$prose</p>" +
        "<p>Too short.</p>" +
        "<div>Related reading: <a href=\"/x\">a very long related article title</a> <a href=\"/y\">another very long related article title</a></div>" +
        "<footer><a href=\"/p\">Privacy</a> &#169; Corp</footer></body></html>"
    val got = graft.operators.TextAnalysis
      .extractMainContent(
        Seq((1L, page), (2L, null.asInstanceOf[String])).toDF("id", "html"),
        "html"
      )
      .orderBy("id")
      .collect()
    assert(got(0).getAs[String]("main_text") == prose)
    assert(got(0).getAs[Int]("kept_blocks") == 1)
    // non-empty blocks: title, nav, prose, stub, related, footer
    assert(got(0).getAs[Int]("n_blocks") == 6)
    assert(got(1).isNullAt(got(1).fieldIndex("main_text")))
    assert(got(1).isNullAt(got(1).fieldIndex("n_blocks")))
    assert(got(1).isNullAt(got(1).fieldIndex("kept_blocks")))
    intercept[IllegalArgumentException](
      graft.operators.TextAnalysis.extractMainContent(
        Seq((1L, page, "x")).toDF("id", "html", "main_text"),
        "html"
      )
    )
  }

  test("extractMainContent: density dial — lambda 1.0 keeps the link farm") {
    val farm =
      "<div><a href=\"/x\">a very long related article title here</a> and some words</div>"
    val keptAtDefault = graft.operators.TextAnalysis
      .extractMainContent(Seq((1L, farm)).toDF("id", "html"), "html")
      .collect()(0)
      .getAs[Int]("kept_blocks")
    val keptAtOne = graft.operators.TextAnalysis
      .extractMainContent(
        Seq((1L, farm)).toDF("id", "html"), "html", maxLinkDensity = 1.0
      )
      .collect()(0)
      .getAs[Int]("kept_blocks")
    assert(keptAtDefault == 0 && keptAtOne == 1)
  }

  // ------------------------------------------- stupid-backoff LM scoring

  test("stupidBackoffLogProb: hand-computed backoff ladder") {
    val model = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"), // trigram seen: full-order path
      (11L, "a b z"), // unseen trigram AND bigram at pos 2: alpha^2 unigram
      (12L, "x"),     // single OOV token: add-one unigram, no alpha
      (13L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .stupidBackoffLogProb(model, score, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    // model: c1(a)=2 b=2 c=1 d=1, N=6 V=4; c2(a b)=2 (b c)=1 (b d)=1;
    // c3(a b c)=1 (a b d)=1
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lp10 = (math.log(3.0 / 10) + math.log(2.0 / 2) + math.log(1.0 / 2)) / 3
    // association mirrors the implementation: ((alpha^2 * 1.0) / 10)
    val lp11 = (math.log(3.0 / 10) + math.log(2.0 / 2) +
      math.log(0.4 * 0.4 * 1.0 / 10)) / 3
    val lp12 = math.log(1.0 / 10)
    assert(got(10L) == ((3, r6(lp10))))
    assert(got(11L) == ((3, r6(lp11))))
    assert(got(12L) == ((1, r6(lp12))))
    assert(!got.contains(13L)) // NULL text: nothing to score
  }

  // ------------------------------------------------ fuzzy decontamination

  test("fuzzyDecontaminate: near-copies of eval docs drop, train never self-dedups") {
    import graft.operators.Decontam
    val eval_ = Seq(
      (1L, "what is the capital of france paris is the capital")
    ).toDF("qid", "question")
    val train = Seq(
      (1L, "capital the is paris france of capital the is what"), // same tokens, id COLLIDES with eval id
      (2L, "a completely unrelated training document about engines"),
      (3L, "a completely unrelated training document about engines"), // exact in-train dup: must SURVIVE decontam
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val matches = Decontam
      .fuzzyContaminationMatches(
        train, "doc_id", "text", eval_, "qid", "question", threshold = 0.8
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(matches.toSeq == Seq((1L, 1L, 1.0))) // identical token set -> est 1.0
    val kept = Decontam
      .fuzzyDecontaminate(
        train, "doc_id", "text", eval_, "qid", "question", threshold = 0.8
      )
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    // 1 drops (near-copy of the benchmark item); 2 AND 3 both survive —
    // decontamination must not dedup the training side against itself
    assert(kept.toSeq == Seq(2L, 3L, 4L))
  }

  test("surtKey: canonical web-archive urlkeys") {
    val urls = Seq(
      1L -> "https://www.Example.COM/a/b?z=2&a=1",   // www strip, lower, sorted query
      2L -> "http://example.com:80/x",                // default port drops
      3L -> "https://example.com:8443/x",             // non-default port kept
      4L -> "https://sub.example.co.uk",              // empty path -> '/'
      5L -> "https://192.168.0.1/admin",              // IP literal unreversed
      6L -> "http://user:pw@example.org/p#frag?notq", // userinfo + fragment dropped
      7L -> "not a url at all",                       // NULL key
      8L -> "https://example.com/p?"                  // empty query drops
    )
    val got = graft.operators.Urls
      .withSurtKey(urls.toDF("id", "url"), "url")
      .collect()
      .map(r => r.getLong(0) -> Option(r.getString(2)))
      .toMap
    assert(got(1L) == Some("com,example)/a/b?a=1&z=2"))
    assert(got(2L) == Some("com,example)/x"))
    assert(got(3L) == Some("com,example:8443)/x"))
    assert(got(4L) == Some("uk,co,example,sub)/"))
    assert(got(5L) == Some("192.168.0.1)/admin"))
    assert(got(6L) == Some("org,example)/p"))
    assert(got(7L) == None)
    assert(got(8L) == Some("com,example)/p"))
  }

  test("surtKey: trailing-dot FQDN hosts keep the empty label in BOTH forms") {
    // split keeps the trailing empty label of an FQDN ("example.com." ->
    // ",com,example"), so the key never aliases the dotless host's
    val urls = Seq(
      "https://example.com./x",
      "http://www.sub.example.org./p?b=2&a=1",
      "https://example.com/x" // control: no trailing dot
    )
    val colKeys = graft.operators.Urls
      .withSurtKey(urls.toDF("url"), "url")
      .collect()
      .map(r => r.getString(0) -> Option(r.getString(1)))
      .toMap
    assert(colKeys("https://example.com./x") == Some(",com,example)/x"))
    assert(colKeys("https://example.com/x") == Some("com,example)/x"))
    assert(colKeys("http://www.sub.example.org./p?b=2&a=1") ==
      Some(",org,example,sub)/p?a=1&b=2"))
  }

  test("c4LineFilter: every line rule and the page-level keep flag") {
    val docs = Seq(
      (1L, "good first sentence right over here.\nno punct line here\n" +
        "this has javascript inside it.\nshort.\n" +
        "another proper sentence sits here fine!\n" +
        "third full sentence completes the page?"),
      (2L, "only one full sentence lives here."), // < 3 sentences
      (3L, "code page with brace { in it. more sentences here fine. and a third one too."),
      (4L, "lorem ipsum dolor sit amet sentence one. sentence two is right here now. three more words arrive!"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .c4LineFilter(docs, "text")
      .orderBy("doc_id")
      .collect()
      .map { r =>
        (r.getLong(0),
         if (r.isNullAt(r.fieldIndex("n_lines"))) -1 else r.getInt(r.fieldIndex("n_lines")),
         if (r.isNullAt(r.fieldIndex("kept_lines"))) -1 else r.getInt(r.fieldIndex("kept_lines")),
         if (r.isNullAt(r.fieldIndex("n_sentences"))) -1 else r.getInt(r.fieldIndex("n_sentences")),
         r.getBoolean(r.fieldIndex("c4_keep")))
      }
    // doc 1: no-punct, javascript, and <5-word lines die; 3 survivors
    assert(got(0) == ((1L, 6, 3, 3, true)), s"${got.mkString(";")}")
    // doc 2: the line survives but the page has < 3 sentences
    assert(got(1) == ((2L, 1, 1, 1, false)))
    // doc 3: line kept (it ends in '.') but '{' kills the page
    assert(got(2) == ((3L, 1, 1, 3, false)))
    // doc 4: 'lorem ipsum' kills the page despite 3 sentences
    assert(got(3) == ((4L, 1, 1, 3, false)))
    // NULL text: NULL counts, flag false
    assert(got(4) == ((5L, -1, -1, -1, false)))
    // cleaned text carries only the surviving lines
    val clean1 = TextAnalysis
      .c4LineFilter(docs, "text")
      .filter(col("doc_id") === 1)
      .select("clean_text").head().getString(0)
    assert(clean1 ==
      "good first sentence right over here.\n" +
        "another proper sentence sits here fine!\n" +
        "third full sentence completes the page?")
  }

  test("blockwords: whole-token gate counts and filters, NULL text survives") {
    val docs = Seq(
      (1L, "the spark engine shuffles data"),   // 'spark' + 'engine' = 2 hits
      (2L, "sparkling classics only"),          // substrings never match
      (3L, "dup dup dup"),                      // multiplicity counted
      (4L, null.asInstanceOf[String]),
      (5L, "perfectly clean prose here")
    ).toDF("doc_id", "text")
    val words = Seq("Spark", "engine", "dup") // list is lowercased internally
    val rep = TextAnalysis
      .blockwordReport(docs, "text", words)
      .orderBy("doc_id")
      .collect()
      .map(r =>
        (r.getLong(0),
         if (r.isNullAt(r.fieldIndex("n_blockword_tokens"))) -1
         else r.getInt(r.fieldIndex("n_blockword_tokens")),
         r.getBoolean(r.fieldIndex("has_blockword"))))
    assert(rep.toSeq == Seq(
      (1L, 2, true), (2L, 0, false), (3L, 3, true), (4L, -1, false), (5L, 0, false)
    ), s"${rep.mkString(";")}")
  }

  test("stripInvisibles: zero-widths, soft hyphen, BOM, controls removed; tab/newline kept") {
    val docs = Seq(
      (1L, "zero\u200Bwidth\u200Cjoin\u200D\u2060here"),
      (2L, "soft\u00ADhyphen and\u0007bell\u0000nul"),
      (3L, "keep\tstructure\nlines\rintact"),
      (4L, null.asInstanceOf[String]),
      (5L, "clean already")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .stripInvisibles(docs, "text")
      .orderBy("doc_id")
      .collect()
      .map(r =>
        (r.getLong(0), Option(r.getString(2)),
         if (r.isNullAt(3)) -1 else r.getInt(3)))
    assert(got(0) == ((1L, Some("zerowidthjoinhere"), 4)))
    assert(got(1) == ((2L, Some("softhyphen andbellnul"), 3)))
    assert(got(2) == ((3L, Some("keep\tstructure\nlines\rintact"), 0)))
    assert(got(3) == ((4L, None, -1)))
    assert(got(4) == ((5L, Some("clean already"), 0)))
  }

  test("blockPhraseReport: whole-shingle phrase matches, multiplicity, NULL survives") {
    val docs = Seq(
      (1L, "the table hash join beats the table hash scan"), // 2x "table hash"
      (2L, "a hash table is not a table hash reversed"),     // 1x
      (3L, "tablehash glued never matches"),                 // substring never
      (4L, "one two big order scan three"),                  // trigram hit
      (5L, null.asInstanceOf[String]),
      (6L, "nothing relevant here at all")
    ).toDF("doc_id", "text")
    val phrases = Seq("Table Hash", "big order scan")
    val got = TextAnalysis
      .blockPhraseReport(docs, "text", phrases)
      .orderBy("doc_id")
      .collect()
      .map(r =>
        (r.getLong(0),
         if (r.isNullAt(r.fieldIndex("n_blocked_spans"))) -1
         else r.getInt(r.fieldIndex("n_blocked_spans")),
         r.getBoolean(r.fieldIndex("has_blocked_phrase"))))
    assert(got.toSeq == Seq(
      (1L, 2, true), (2L, 1, true), (3L, 0, false),
      (4L, 1, true), (5L, -1, false), (6L, 0, false)
    ), s"${got.mkString(";")}")
  }

  test("fixEncoding: repairs cp1252 and latin-1 double encodings, leaves clean text alone") {
    val original = "it’s café – naïve über ©2026 — done"
    def mojibake(s: String, as: String): String =
      new String(s.getBytes("UTF-8"), as)
    val cp1252Moji = mojibake(original, "windows-1252")
    val latin1Moji = mojibake(original, "ISO-8859-1")
    val doubleMoji = mojibake(cp1252Moji, "windows-1252") // encoded TWICE
    val fixtures = Seq(
      (1L, cp1252Moji, original),          // classic Ã©-class artifacts
      (2L, latin1Moji, original),          // C1-control flavored misread
      (3L, doubleMoji, original),          // fixed-point: repairs fully
      (4L, original, original),            // genuine accents: no pair, untouched
      (5L, "plain ascii text", "plain ascii text"),
      // unmappable char aborts the whole-string repair: NOT repaired
      (6L, cp1252Moji + " ✓", cp1252Moji + " ✓"),
      (7L, null.asInstanceOf[String], null.asInstanceOf[String])
    )
    val got = TextAnalysis
      .fixEncoding(
        fixtures.map(f => (f._1, f._2)).toDF("id", "text"), "text")
      .orderBy("id")
      .collect()
      .map(r => r.getLong(0) -> Option(r.getString(2)))
      .toMap
    fixtures.foreach { case (id, _, want) =>
      assert(got(id) == Option(want), s"fixture $id: got ${got(id)}")
    }
    // idempotence: a second pass is the identity on every repaired output
    val twice = TextAnalysis
      .fixEncoding(
        fixtures.map(f => (f._1, got(f._1).orNull)).toDF("id", "text"),
        "text")
      .collect()
      .map(r => r.getLong(0) -> Option(r.getString(2)))
      .toMap
    fixtures.foreach { case (id, _, _) =>
      assert(twice(id) == got(id), s"not idempotent on fixture $id")
    }
  }

  test("fixEncoding: repairs GBK and Shift_JIS CJK misreads, leaves genuine CJK alone") {
    def mojibake(s: String, as: String): String =
      new String(s.getBytes("UTF-8"), as)
    // longer realistic originals (lossless under the misread — asserted
    // for the shared fixtures in QueryShared; these reuse those chars)
    val cn = graft.QueryShared.CjkGbkGood + " 2026 " +
      graft.QueryShared.CjkGbkGood
    val cnMoji = mojibake(cn, "GBK")
    val jp = graft.QueryShared.CjkSjisGood + " abc " +
      graft.QueryShared.CjkSjisGood
    val jpMoji = mojibake(jp, "Shift_JIS")
    val fixtures = Seq(
      (1L, cnMoji, cn),                       // UTF-8 read as GBK
      (2L, jpMoji, jp),                       // UTF-8 read as Shift_JIS
      (4L, cn, cn),                           // genuine Chinese: untouched
      (5L, jp, jp),                           // genuine Japanese: untouched
      // coincidental 2-char alignment ("为十" -> GBK CE AA CA AE, valid
      // UTF-8 "Ϊʮ"): the >= 8 chars evidence gate must refuse
      (6L, "为十", "为十"),
      (7L, "plain ascii stays put", "plain ascii stays put"),
      // latin family still works through the same ladder
      (8L, mojibake("it’s café", "windows-1252"), "it’s café")
    )
    val got = TextAnalysis
      .fixEncoding(
        fixtures.map(f => (f._1, f._2)).toDF("id", "text"), "text")
      .orderBy("id")
      .collect()
      .map(r => r.getLong(0) -> r.getString(2))
      .toMap
    fixtures.foreach { case (id, in, want) =>
      assert(got(id) == want, s"fixture $id in='$in': got '${got(id)}'")
    }
    // idempotence across the repaired outputs
    val twice = TextAnalysis
      .fixEncoding(
        fixtures.map(f => (f._1, got(f._1))).toDF("id", "text"), "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(2))
      .toMap
    fixtures.foreach { case (id, _, _) =>
      assert(twice(id) == got(id), s"not idempotent on fixture $id")
    }
  }

  // ---------------------------------------------- verified MinHash dedup

  test("minHashVerifiedPairs: every pair carries the exact jaccard") {
    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 150)
    // the operator hands its persisted pair table to the caller: release it
    val pairs = Dedup.minHashVerifiedPairs(docs, "doc_id", "text", threshold = 0.5)
    try {
      val verified = pairs
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val exact = Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      // verified pairs are a SUBSET of the true >= 0.5 pair set (candidate
      // recall is what LSH trades), and every jaccard is bit-exact
      assert(verified.nonEmpty)
      verified.foreach { case (k, j) =>
        assert(exact.contains(k), s"verified pair $k not in the exact >=0.5 set")
        assert(j == exact(k), s"pair $k: verified $j != exact ${exact(k)}")
      }
    } finally pairs.unpersist(blocking = true)
  }

  test("verified pairs: shuffles carry ids/digests, never text or shingle strings") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sets = Dedup.verifiedSetTable(docs, "doc_id", "text", 1)
    val p = Dedup
      .minHashVerifiedPairsPlan(sets, 0.8, 16, 4)
      .queryExecution
      .executedPlan
      .toString
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // the signature aggregate consumes shingles map-side; the intersection
    // join is keyed by the 16-byte md5 — no exchange moves text or the
    // raw shingle string
    p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .foreach { l =>
        assert(!l.contains("text#"), s"doc text shuffled: $l")
        assert(!l.contains("__s#"), s"raw shingle shuffled (digest expected): $l")
      }
    assert(p.contains("unhex"), s"expected md5 digest gram key:\n$p")
  }

  test("dedupNearMinHashVerified leaves exactly one persisted table: its loser set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"), // same token set
      (3L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val kept = Dedup.dedupNearMinHashVerified(docs, "doc_id", "text", threshold = 0.9)
    val added = sc.getPersistentRDDs.keySet -- before
    try {
      assert(added.size == 1, s"persisted RDDs left by one call: $added")
      assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    } finally
      sc.getPersistentRDDs.filter { case (id, _) => added.contains(id) }
        .foreach { case (_, rdd) => rdd.unpersist(blocking = true) }
  }

  test("dedupNearMinHashVerified: survivors have no verified smaller-id dup") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"), // same token set
      (3L, "completely different content about spark engines"),
      (4L, "the quick brown fox jumps over the lazy cat"), // J = 7/9 < 0.9
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // bands = 16 (one hash per band): maximal candidate recall — any
    // shared min-hash proposes the pair — because verification makes
    // over-proposing free of false drops; this is exactly the "band
    // aggressively, verify exactly" operating point the operator enables
    val kept = Dedup
      .dedupNearMinHashVerified(
        docs, "doc_id", "text", threshold = 0.9, bands = 16
      )
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    // 2 is an exact token-set dup of 1 (J=1.0, dropped); 4 IS proposed
    // (it shares min-hashes with 1) but its true jaccard is 7/9 — BELOW
    // 0.9 — so verification must keep it; nulls always survive
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))

    val transitive = Dedup
      .dedupNearMinHashVerified(
        docs, "doc_id", "text", threshold = 0.7, bands = 16, transitive = true
      )
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    // at 0.7 the 1-2 and 1-4 pairs both verify; transitive keeps minima
    assert(transitive.toSeq == Seq(1L, 3L, 5L))
  }

  test("verified dedup at shingleK>=2: empty shingle sets are never paired") {
    // regression: with shingleK = 3, docs with NULL text or fewer than 3
    // tokens produce an EMPTY (not NULL) shingle array; the certain-dup
    // digest pass must not group them under md5("") and emit them as
    // jaccard-1.0 pairs — the contract is that shingle-less docs are
    // always retained
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // true exact dup of 1
      (3L, "just two"),                            // < 3 tokens -> empty set
      (4L, "one"),                                 // < 3 tokens -> empty set
      (5L, null.asInstanceOf[String]),             // NULL -> empty set
      (6L, "")                                     // empty -> empty set
    ).toDF("doc_id", "text")
    val held = Dedup
      .minHashVerifiedPairs(docs, "doc_id", "text", threshold = 0.8, shingleK = 3)
    val pairs =
      try held.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      finally held.unpersist(blocking = true)
    assert(pairs.toSeq == Seq((1L, 2L)), s"spurious empty-set pairs: ${pairs.toSeq}")
    val kept = Dedup
      .dedupNearMinHashVerified(docs, "doc_id", "text", threshold = 0.8, shingleK = 3)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    // only the true dup (2) drops; every short/NULL doc survives
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
  }
}
