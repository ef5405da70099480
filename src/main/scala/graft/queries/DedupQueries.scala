package graft

import graft.QueryShared._
import graft.operators.{Checks, Decontam, Dedup, Graphs, Joins, Layout, Sessionize, Similarity, Splits, Stats, TextAnalysis, TopN, Wrangling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** exact / MinHash / SimHash / fuzzy dedup, blocking and record linkage — query registry + DuckDB oracles.
  * Merged into the driver contract by [[ScaleQueries]]. */
private[graft] object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact fuzzy pairs: levenshtein <= 2 with length-banded candidates
    "q_fuzzy_pairs" -> ((s, dir) => {
      Dedup
        .fuzzyStringPairs(
          t(s, dir, "customer").filter(col("c_custkey") <= 300),
          "c_custkey", "c_name", maxDist = 2
        )
        .orderBy("id_a", "id_b")
    }),

    // exact dedup: one event per (user, type), deterministic min event_id
    "q_dedup_exact" -> ((s, dir) => {
      Dedup
        .exactDedup(
          events(s, dir),
          Seq("user_id", "event_type"),
          Seq(col("event_id"))
        )
        .select("event_id", "user_id", "event_type")
        .orderBy("user_id", "event_type")
    }),

    // MinHash+LSH near-dedup over documents (portable md5 signatures)
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup
        .dedupNearMinHash(
          t(s, dir, "documents"),
          "doc_id",
          "text",
          threshold = 0.9,
          shingleK = 1,
          numHashes = 16,
          bands = 4
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // MinHash near-dedup with full transitive clustering: connected
    // components over the candidate-pair graph, one survivor (the min id)
    // per cluster — the CCNet-style semantics. Oracle computes reachability
    // with a recursive CTE.
    "q_dedup_minhash_cc" -> ((s, dir) => {
      Dedup
        .dedupNearMinHash(
          t(s, dir, "documents"),
          "doc_id",
          "text",
          threshold = 0.9,
          shingleK = 1,
          numHashes = 16,
          bands = 4,
          transitive = true
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // two-stage verified near-dedup: LSH proposes (bucket-min band pairs +
    // identical-signature pairs), exact shingle-set Jaccard decides — no
    // estimation error can drop a document. Integer ppm threshold compare.
    "q_minhash_verified_pairs" -> ((s, dir) => {
      Dedup
        .minHashVerifiedPairs(
          t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, shingleK = 1, numHashes = 16, bands = 4
        )
        .orderBy("id_a", "id_b")
    }),
    "q_dedup_minhash_verified" -> ((s, dir) => {
      Dedup
        .dedupNearMinHashVerified(
          t(s, dir, "documents"), "doc_id", "text", threshold = 0.8
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // exact token-set Jaccard near-dup pairs via inverted index. The
    // synthetic corpus is a ~50-word vocabulary, so *every* doc pair shares
    // tokens and the true >=0.8 pair set itself grows quadratically with
    // corpus size — bounded here to the first 500 docs so the benchmark
    // measures the operator, not an unboundedly growing result.
    "q_jaccard_pairs" -> ((s, dir) => {
      Dedup
        .ngramJaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", 1, 0.8
        )
        .orderBy("id_a", "id_b")
    }),

    // SimHash signatures (portable md5 bit-votes — oracle-checked)
    "q_simhash" -> ((s, dir) => {
      Dedup
        .simHashSignatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SimHash near-dup pairs: quarter-bucketed candidates, exact for
    // hamming <= 3 (pigeonhole) — oracle is the brute-force pair set, which
    // proves the bucketing loses nothing. Bounded like q_jaccard_pairs: the
    // ~50-word-vocabulary corpus makes the true pair set itself quadratic.
    "q_simhash_pairs" -> ((s, dir) => {
      Dedup
        .simHashCandidatePairs(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", maxHamming = 3
        )
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dedup: exact-signature pass + quarter-bucket-minimum
    // pairs within hamming <= 3 (the SimHash counterpart of q_dedup_minhash)
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup
        .dedupNearSimHash(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // C4-style chunk dedup: drop 10-token chunks occurring > 2 times
    // corpus-wide, reassemble the surviving text (md5 keeps rows skinny)
    "q_chunk_dedup" -> ((s, dir) => {
      TextAnalysis
        .chunkDedup(
          t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 10, maxFreq = 2
        )
        .select(
          col("doc_id"), col("kept_chunks"), col("dropped_chunks"),
          md5(col("clean_text")).as("clean_md5")
        )
        .orderBy("doc_id")
    }),

    // exact duplicated-span removal (suffix-array-style dedup, Lee et al.
    // 2022): every duplicated 8-token gram keeps only its canonical first
    // occurrence; covered positions are cut and the survivors re-joined
    "q_span_dedup" -> ((s, dir) => {
      TextAnalysis
        .spanDedup(t(s, dir, "documents"), "doc_id", "text", spanTokens = 8)
        .orderBy("doc_id")
    }),

    // corpus-level content overlap between two document halves
    "q_content_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contentOverlap(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text"
      )
    }),

    // Fellegi-Sunter linkage weights over sorted-neighborhood candidates
    "q_linkage_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.sortedNeighborhoodPairs(
        docs.select(col("doc_id"), substring(col("text"), 1, 40).as("head")),
        "doc_id", "head", windowSize = 4, blockChars = 3,
        // agreement only needs dist <= 5: banded levenshtein (-1 beyond)
        maxDist = 5
      )
      val attrs =
        docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val j = pairs
        .join(
          attrs.select(col("doc_id").as("id_a"), col("lang").as("__la"),
            col("source").as("__sa"), col("n_chars").as("__na")),
          Seq("id_a")
        )
        .join(
          attrs.select(col("doc_id").as("id_b"), col("lang").as("__lb"),
            col("source").as("__sb"), col("n_chars").as("__nb")),
          Seq("id_b")
        )
        .withColumn("agree_head", col("dist").between(0, 5))
        .withColumn("agree_lang", col("__la") === col("__lb"))
        .withColumn("agree_source", col("__sa") === col("__sb"))
        .withColumn("agree_len", abs(col("__na") - col("__nb")) <= 20)
      Dedup
        .linkageScore(j, FsFields)
        .filter(col("match_weight") > 0)
        .select("id_a", "id_b", "match_weight")
        .orderBy("id_a", "id_b")
    }),

    // sorted-neighborhood dedup candidates over the normalized text prefix:
    // near-identical openings land adjacent in the per-block sort and pair
    // within a 4-row window; dist verifies (<= 12 keeps real near-dups)
    "q_snm_pairs" -> ((s, dir) => {
      Dedup
        .sortedNeighborhoodPairs(
          t(s, dir, "documents")
            .select(col("doc_id"), substring(col("text"), 1, 40).as("head")),
          "doc_id", "head", windowSize = 4, blockChars = 3,
          // verification threshold doubles as the banded-levenshtein bound
          maxDist = 12
        )
        .filter(col("dist").between(0, 12))
        .orderBy("id_a", "id_b")
    }),

    // incremental ingestion dedup: batch (doc_id >= 250) cleaned against
    // the stored signatures of an existing corpus (doc_id < 250) — corpus
    // text is never rescanned
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusSigs = Dedup.minHashSignatures(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        shingleK = 1, numHashes = 16
      )
      Dedup
        .dedupNearMinHashIncremental(
          docs.filter(col("doc_id") >= 250), "doc_id", "text",
          corpusSigs, threshold = 0.9, shingleK = 1, numHashes = 16, bands = 4
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // incremental SimHash ingestion dedup: same corpus/batch split as
    // q_dedup_incremental, signature store = 8 bytes per corpus doc
    "q_dedup_simhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusSigs =
        Dedup.simHashSignatures(docs.filter(col("doc_id") < 250), "doc_id", "text")
      Dedup
        .dedupNearSimHashIncremental(
          docs.filter(col("doc_id") >= 250), "doc_id", "text",
          corpusSigs, maxHamming = 3
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // fuzzy decontamination: training docs (>= 50) whose MinHash signature
    // near-matches a benchmark doc (< 50) — identical-signature matches
    // plus bucket-min banded matches at est >= 0.8; never dedups the
    // training side against itself
    "q_fuzzy_matches" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontam
        .fuzzyContaminationMatches(
          docs.filter(col("doc_id") >= 50), "doc_id", "text",
          docs.filter(col("doc_id") < 50), "doc_id", "text",
          threshold = 0.8
        )
        .orderBy("id", "eval_id", "est_jaccard")
    }),
    "q_fuzzy_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontam
        .fuzzyDecontaminate(
          docs.filter(col("doc_id") >= 50), "doc_id", "text",
          docs.filter(col("doc_id") < 50), "doc_id", "text",
          threshold = 0.8
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // cross-document boilerplate removal at word granularity: units in
    // >100 distinct docs are corpus chrome; only the rare 'dup' marker
    // survives, and all-boilerplate docs come back as empty strings
    "q_boilerplate" -> ((s, dir) => {
      TextAnalysis
        .stripBoilerplate(
          t(s, dir, "documents"), "doc_id", "text",
          maxDocs = 100, delimiter = " "
        )
        .orderBy("doc_id")
    }),

    // keep-BEST dedup: each near-dup cluster (exact-signature groups glued
    // with bucket-min near pairs) retains its longest member, not its
    // smallest id — the quality-aware production dedup policy
    "q_dedup_keep_best" -> ((s, dir) => {
      Dedup
        .dedupNearMinHashKeepBest(
          t(s, dir, "documents"), "doc_id", "text", "n_chars",
          threshold = 0.9, shingleK = 1, numHashes = 16, bands = 4
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // LSH tuning report on a deterministic 10% hash-sample: exact Jaccard
    // truth vs (16,4) MinHash bucketing — the recall/precision dial read
    // before shipping a full-corpus dedup. The sample keeps the exact
    // truth side bounded: this synthetic corpus has a 31-word vocabulary,
    // so EVERY doc pair shares tokens and exact pairing is inherently
    // quadratic in the sample size. maxSampleDocs pins the audit set to
    // ~500 docs at ANY corpus scale (at sf0.01/sf0.1 the 10% fraction is
    // the binding constraint, so results there are unchanged; beyond
    // 5k docs the absolute cap takes over and the audit cost goes flat)
    "q_lsh_recall" -> ((s, dir) => {
      Dedup.minHashRecallReport(
        t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.9, shingleK = 1, numHashes = 16, bands = 4,
        sampleFraction = 0.1, maxSampleDocs = 500
      )
    })
  )

  val oracles: Map[String, String] = Map(
    "q_fuzzy_pairs" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 300
        |)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM c a JOIN c b
        |  ON a.c_custkey < b.c_custkey
        | AND abs(length(a.c_name) - length(b.c_name)) <= 2
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_exact" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $duckMinHashCommon, losers AS (
         |  SELECT doc_id AS ib FROM ex WHERE doc_id > sig_min
         |  UNION
         |  SELECT ib FROM cl WHERE est >= 0.9
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT ib FROM losers)
         |ORDER BY doc_id""".stripMargin,

    // transitive variant: reachability over the qualifying pair graph via a
    // recursive CTE; a doc loses iff any strictly smaller id is reachable
    "q_dedup_minhash_cc" ->
      s"""WITH RECURSIVE $duckMinHashCommon, e AS (
         |  SELECT ia AS a, ib AS b FROM cl WHERE est >= 0.9
         |  UNION
         |  SELECT ib AS a, ia AS b FROM cl WHERE est >= 0.9
         |), reach AS (
         |  SELECT a AS src, b AS dst FROM e
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst
         |), comp AS (
         |  SELECT src AS id, least(src, min(dst)) AS component
         |  FROM reach GROUP BY src
         |), losers AS (
         |  SELECT doc_id AS ib FROM ex WHERE doc_id > sig_min
         |  UNION
         |  SELECT id AS ib FROM comp WHERE id > component
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT ib FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "q_minhash_verified_pairs" ->
      s"""WITH $duckMinHashCommon, $duckMinHashVerify
         |SELECT ia AS id_a, ib AS id_b, jaccard FROM vp
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_minhash_verified" ->
      s"""WITH $duckMinHashCommon, $duckMinHashVerify
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT ib FROM vp)
         |ORDER BY doc_id""".stripMargin,

    "q_jaccard_pairs" ->
      """WITH s AS (
        |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS st
        |  FROM documents WHERE doc_id < 500
        |), inv AS (
        |  SELECT doc_id, unnest(st) AS sh FROM s
        |), shared AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sz AS (
        |  SELECT doc_id, len(st) AS n FROM s
        |)
        |SELECT ia AS id_a, ib AS id_b,
        |       CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
        |FROM shared JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
        |WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q_simhash" ->
      s"""WITH ${duckSimHashSig("")}
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,

    "q_simhash_pairs" ->
      s"""WITH ${duckSimHashSig("WHERE doc_id < 500")}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH ${duckSimHashSig("")}, bd AS (
         |  SELECT doc_id,
         |         CAST(q AS VARCHAR) || ':' ||
         |           CAST(((simhash >> (q*16)) & 65535) AS VARCHAR) AS band
         |  FROM sh, range(0, 4) t(q)
         |), mn AS (
         |  SELECT band, min(doc_id) AS bmin FROM bd GROUP BY band
         |), pr AS (
         |  SELECT DISTINCT m.bmin AS ia, b.doc_id AS ib
         |  FROM bd b JOIN mn m ON b.band = m.band AND b.doc_id > m.bmin
         |), hd AS (
         |  SELECT ia, ib FROM pr
         |  JOIN sh x ON x.doc_id = ia JOIN sh y ON y.doc_id = ib
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |), ex AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY simhash) AS smin FROM sh
         |), losers AS (
         |  SELECT doc_id AS ib FROM ex WHERE doc_id > smin
         |  UNION
         |  SELECT ib FROM hd
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT ib FROM losers)
         |ORDER BY doc_id""".stripMargin,

    // incremental SimHash: corpus sigs (doc_id < 250) vs batch (>= 250);
    // losers = exact-vs-corpus UNION quarter-bucket-min-vs-corpus UNION
    // the two in-batch passes — mirrors Dedup.dedupNearSimHashIncremental
    "q_dedup_simhash_incremental" ->
      s"""WITH ${duckSimHashSig("")}, cs AS (
         |  SELECT doc_id, simhash FROM sh WHERE doc_id < 250
         |), bs AS (
         |  SELECT doc_id, simhash FROM sh WHERE doc_id >= 250
         |), cb AS (
         |  SELECT doc_id, simhash,
         |         CAST(q AS VARCHAR) || ':' ||
         |           CAST(((simhash >> (q*16)) & 65535) AS VARCHAR) AS band
         |  FROM cs, range(0, 4) t(q)
         |), cmn AS (
         |  SELECT band, min(doc_id) AS cid FROM cb GROUP BY band
         |), bb AS (
         |  SELECT doc_id, simhash,
         |         CAST(q AS VARCHAR) || ':' ||
         |           CAST(((simhash >> (q*16)) & 65535) AS VARCHAR) AS band
         |  FROM bs, range(0, 4) t(q)
         |), exc AS (
         |  SELECT b.doc_id FROM bs b JOIN cs c ON b.simhash = c.simhash
         |), nvc AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM bb b JOIN cmn m ON b.band = m.band
         |  JOIN cs c ON c.doc_id = m.cid
         |  WHERE bit_count(xor(b.simhash, c.simhash)) <= 3
         |), exb AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY simhash) AS smin
         |    FROM bs
         |  ) WHERE doc_id > smin
         |), bmn AS (
         |  SELECT band, min(doc_id) AS bmin FROM bb GROUP BY band
         |), nb AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM bb b JOIN bmn m ON b.band = m.band AND b.doc_id > m.bmin
         |  JOIN bs x ON x.doc_id = m.bmin
         |  WHERE bit_count(xor(x.simhash, b.simhash)) <= 3
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id >= 250 AND doc_id NOT IN (
         |  SELECT doc_id FROM exc UNION SELECT doc_id FROM nvc
         |  UNION SELECT doc_id FROM exb UNION SELECT doc_id FROM nb)
         |ORDER BY doc_id""".stripMargin,

    "q_chunk_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL
        |), chunks AS (
        |  SELECT doc_id, i AS chunk_id,
        |         array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
        |  FROM toks, unnest(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
        |), freq AS (
        |  SELECT md5(chunk) AS h, count(*) AS freq FROM chunks GROUP BY 1
        |)
        |SELECT c.doc_id,
        |       CAST(count(*) FILTER (f.freq <= 2) AS INT) AS kept_chunks,
        |       CAST(count(*) FILTER (f.freq > 2) AS INT) AS dropped_chunks,
        |       md5(coalesce(
        |         string_agg(c.chunk, ' ' ORDER BY c.chunk_id)
        |           FILTER (f.freq <= 2), '')) AS clean_md5
        |FROM chunks c JOIN freq f ON md5(c.chunk) = f.h
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin,

    "q_span_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE text IS NOT NULL
        |), occ AS (
        |  SELECT doc_id, i AS gpos,
        |         md5(array_to_string(t[(i+1):(i+8)], ' ')) AS gh
        |  FROM base, unnest(range(0, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8
        |), marked AS (
        |  SELECT doc_id, gpos,
        |         count(*) OVER (PARTITION BY gh) AS freq,
        |         row_number() OVER (PARTITION BY gh ORDER BY doc_id, gpos) AS rn
        |  FROM occ
        |), covered AS (
        |  SELECT DISTINCT doc_id, gpos + i AS pos
        |  FROM marked, unnest(range(0, 8)) AS u(i)
        |  WHERE freq > 1 AND rn > 1
        |), toks AS (
        |  SELECT doc_id, i AS pos, t[i+1] AS tok
        |  FROM base, unnest(range(0, len(t))) AS u(i)
        |), kept AS (
        |  SELECT k.doc_id, k.pos, k.tok FROM toks k
        |  WHERE NOT EXISTS (SELECT 1 FROM covered c
        |                    WHERE c.doc_id = k.doc_id AND c.pos = k.pos)
        |)
        |SELECT b.doc_id,
        |       CAST(len(b.t) AS INT) AS n_tokens,
        |       CAST(len(b.t) - count(k.tok) AS INT) AS removed_tokens,
        |       md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), ''))
        |         AS clean_md5
        |FROM base b LEFT JOIN kept k USING (doc_id)
        |GROUP BY b.doc_id, len(b.t)
        |ORDER BY doc_id""".stripMargin,

    "q_content_overlap" ->
      """WITH da AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 2 = 0
        |), db AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 2 = 1
        |), s AS (
        |  SELECT count(*) AS n_shared FROM da WHERE h IN (SELECT h FROM db)
        |)
        |SELECT CAST((SELECT count(*) FROM da) AS BIGINT) AS n_a,
        |       CAST((SELECT count(*) FROM db) AS BIGINT) AS n_b,
        |       CAST(n_shared AS BIGINT) AS n_shared,
        |       ROUND(CAST(n_shared AS DOUBLE) /
        |             ((SELECT count(*) FROM da) + (SELECT count(*) FROM db) - n_shared), 6) AS jaccard,
        |       ROUND(CAST(n_shared AS DOUBLE) / (SELECT count(*) FROM da), 6) AS containment_a,
        |       ROUND(CAST(n_shared AS DOUBLE) / (SELECT count(*) FROM db), 6) AS containment_b
        |FROM s""".stripMargin,

    "q_linkage_score" -> {
      val (ha, hd) = FsW("agree_head")
      val (la, ld) = FsW("agree_lang")
      val (sa, sd) = FsW("agree_source")
      val (na, nd) = FsW("agree_len")
      s"""WITH r AS (
         |  SELECT doc_id, k, substr(k, 1, 3) AS blk,
         |         row_number() OVER (
         |           PARTITION BY substr(k, 1, 3) ORDER BY k, doc_id) AS rn
         |  FROM (SELECT doc_id, lower(trim(substr(text, 1, 40))) AS k
         |        FROM documents WHERE text IS NOT NULL)
         |), p AS (
         |  SELECT CASE WHEN a.doc_id <= b.doc_id THEN a.doc_id ELSE b.doc_id END AS id_a,
         |         CASE WHEN a.doc_id <= b.doc_id THEN b.doc_id ELSE a.doc_id END AS id_b,
         |         levenshtein(a.k, b.k) AS dist
         |  FROM r a JOIN r b
         |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 4
         |), j AS (
         |  SELECT p.id_a, p.id_b,
         |         (CASE WHEN p.dist IS NULL THEN 0.0
         |               WHEN p.dist <= 5 THEN $ha ELSE $hd END
         |        + CASE WHEN da.lang IS NULL OR db.lang IS NULL THEN 0.0
         |               WHEN da.lang = db.lang THEN $la ELSE $ld END
         |        + CASE WHEN da.source IS NULL OR db.source IS NULL THEN 0.0
         |               WHEN da.source = db.source THEN $sa ELSE $sd END
         |        + CASE WHEN da.n_chars IS NULL OR db.n_chars IS NULL THEN 0.0
         |               WHEN abs(da.n_chars - db.n_chars) <= 20 THEN $na ELSE $nd END)
         |           AS w
         |  FROM p JOIN documents da ON p.id_a = da.doc_id
         |         JOIN documents db ON p.id_b = db.doc_id
         |)
         |SELECT id_a, id_b, round(w, 6) AS match_weight
         |FROM j WHERE round(w, 6) > 0 ORDER BY id_a, id_b""".stripMargin
    },

    "q_snm_pairs" ->
      """WITH r AS (
        |  SELECT doc_id, k, substr(k, 1, 3) AS blk,
        |         row_number() OVER (
        |           PARTITION BY substr(k, 1, 3) ORDER BY k, doc_id) AS rn
        |  FROM (SELECT doc_id, lower(trim(substr(text, 1, 40))) AS k
        |        FROM documents WHERE text IS NOT NULL)
        |)
        |SELECT CASE WHEN a.doc_id <= b.doc_id THEN a.doc_id ELSE b.doc_id END AS id_a,
        |       CASE WHEN a.doc_id <= b.doc_id THEN b.doc_id ELSE a.doc_id END AS id_b,
        |       CASE WHEN a.doc_id <= b.doc_id THEN a.k ELSE b.k END AS key_a,
        |       CASE WHEN a.doc_id <= b.doc_id THEN b.k ELSE a.k END AS key_b,
        |       CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM r a JOIN r b
        |  ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 4
        |WHERE levenshtein(a.k, b.k) <= 12
        |ORDER BY id_a, id_b""".stripMargin,

    "q_fuzzy_matches" ->
      s"""WITH $duckMinHashCommon, $duckFuzzyDecontam
         |SELECT id, eval_id, est_jaccard FROM fm
         |ORDER BY id, eval_id, est_jaccard""".stripMargin,

    "q_fuzzy_decontam" ->
      s"""WITH $duckMinHashCommon, $duckFuzzyDecontam
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT id FROM fm)
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH $duckMinHashCommon, cs AS (
         |  SELECT doc_id, sig FROM sg WHERE doc_id < 250
         |), bs AS (
         |  SELECT doc_id, sig FROM sg WHERE doc_id >= 250
         |), cbd AS (
         |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
         |    md5(array_to_string(sig[b*4+1:b*4+4], '|')))) AS band FROM cs
         |), bbd AS (
         |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
         |    md5(array_to_string(sig[b*4+1:b*4+4], '|')))) AS band FROM bs
         |), cmn AS (SELECT band, min(doc_id) AS cid FROM cbd GROUP BY band),
         |acorp AS (SELECT DISTINCT b.doc_id FROM bs b JOIN cs c ON b.sig = c.sig),
         |bpair AS (SELECT DISTINCT bb.doc_id, m.cid
         |          FROM bbd bb JOIN cmn m ON bb.band = m.band),
         |bnear AS (
         |  SELECT DISTINCT p.doc_id FROM bpair p
         |  JOIN cs c ON c.doc_id = p.cid JOIN bs b ON b.doc_id = p.doc_id
         |  WHERE len(list_filter(range(1, 17), i -> b.sig[i] = c.sig[i])) / 16.0 >= 0.9
         |), ex2 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY sig) AS m FROM bs
         |  ) WHERE doc_id > m
         |), bmn AS (SELECT band, min(doc_id) AS bmin FROM bbd GROUP BY band),
         |bpr2 AS (SELECT DISTINCT m.bmin AS ia, b.doc_id AS ib
         |         FROM bbd b JOIN bmn m ON b.band = m.band AND b.doc_id > m.bmin),
         |bcl AS (
         |  SELECT DISTINCT ib FROM bpr2
         |  JOIN bs x ON x.doc_id = ia JOIN bs y ON y.doc_id = ib
         |  WHERE len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) / 16.0 >= 0.9
         |), losers AS (
         |  SELECT doc_id FROM acorp UNION SELECT doc_id FROM bnear
         |  UNION SELECT doc_id FROM ex2 UNION SELECT ib AS doc_id FROM bcl
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "q_boilerplate" ->
      """WITH parts AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, ' ')) AS unit,
        |         unnest(range(len(string_split(text, ' ')))) AS pos
        |  FROM documents WHERE text IS NOT NULL
        |), hot AS (
        |  SELECT unit FROM (
        |    SELECT unit, count(DISTINCT doc_id) AS d FROM parts GROUP BY 1
        |  ) WHERE d > 100
        |), kept AS (
        |  SELECT * FROM parts WHERE unit NOT IN (SELECT unit FROM hot)
        |), totals AS (
        |  SELECT doc_id, count(*) AS nu FROM parts GROUP BY 1
        |), reb AS (
        |  SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS text_clean,
        |         count(*) AS nk
        |  FROM kept GROUP BY 1
        |)
        |SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean,
        |       CAST(t.nu AS INT) AS n_units,
        |       CAST(t.nu - coalesce(r.nk, 0) AS INT) AS n_removed
        |FROM totals t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $duckMinHashCommon, e AS (
         |  SELECT ia AS a, ib AS b FROM cl WHERE est >= 0.9
         |  UNION
         |  SELECT ib AS a, ia AS b FROM cl WHERE est >= 0.9
         |  UNION
         |  SELECT sig_min AS a, doc_id AS b FROM ex WHERE doc_id > sig_min
         |  UNION
         |  SELECT doc_id AS a, sig_min AS b FROM ex WHERE doc_id > sig_min
         |), reach AS (
         |  SELECT a AS src, b AS dst FROM e
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst
         |), comp AS (
         |  SELECT src AS id, least(src, min(dst)) AS component
         |  FROM reach GROUP BY src
         |), ranked AS (
         |  SELECT c.id, c.component,
         |         row_number() OVER (
         |           PARTITION BY c.component
         |           ORDER BY d.n_chars DESC, c.id) AS rn
         |  FROM comp c JOIN documents d ON d.doc_id = c.id
         |), losers AS (
         |  SELECT id FROM ranked WHERE rn > 1
         |)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "q_lsh_recall" ->
      s"""WITH ${duckMinHashCommonWhere(
           // min(10% fraction threshold, integer-ceil cap for 500 docs) on
           // the FINE 1e12 audit grid (Dedup.RecallAuditBuckets) — mirrors
           // minHashRecallReport's maxSampleDocs arithmetic exactly
           " AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000000000 < LEAST(100000000000, (1000000000000 * 500 + (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL) - 1) // (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL))"
         )}, cand AS (
         |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM bd a JOIN bd b ON a.band = b.band AND a.doc_id < b.doc_id
         |), s2 AS (
         |  SELECT doc_id, list_distinct(toks) AS st FROM d
         |), inv AS (
         |  SELECT doc_id, unnest(st) AS sh FROM s2
         |), shared AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
         |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), sz AS (
         |  SELECT doc_id, len(st) AS n FROM s2
         |), truth AS (
         |  SELECT ia, ib FROM shared
         |  JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
         |  WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.9
         |), hit AS (
         |  SELECT t.ia, t.ib FROM truth t
         |  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.ia = t.ia AND c.ib = t.ib)
         |)
         |SELECT (SELECT count(*) FROM d) AS n_docs,
         |       (SELECT count(*) FROM truth) AS n_true_pairs,
         |       (SELECT count(*) FROM cand) AS n_candidate_pairs,
         |       (SELECT count(*) FROM hit) AS n_hit,
         |       ROUND(CAST((SELECT count(*) FROM hit) AS DOUBLE) /
         |             nullif((SELECT count(*) FROM truth), 0), 6) AS pair_recall,
         |       ROUND(CAST((SELECT count(*) FROM hit) AS DOUBLE) /
         |             nullif((SELECT count(*) FROM cand), 0), 6) AS pair_precision""".stripMargin
  )
}
