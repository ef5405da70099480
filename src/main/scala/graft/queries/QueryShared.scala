package graft

import graft.operators.{Similarity, TextAnalysis}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Helpers shared by the per-domain query registries: table loaders,
  * cross-registry constants (ANN hyperplanes, Fellegi-Sunter weights)
  * and the DuckDB SQL generators the oracles inline so both engines
  * fold the SAME Scala-computed constants. */
private[graft] object QueryShared {

  /** The one loader of a `$dir/$name.parquet` table (a file or a
    * Spark-written directory). A bare `spark.read.parquet` infers the
    * schema with a footer-reading Spark job on every call; here it is
    * inferred once per file version and later reads supply it, so building
    * a query lists the files but runs no job. A missing path takes the bare
    * read, which raises Spark's own error. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    tableSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** What parquet schema inference depends on: every file under the path
    * with its length and modification time, and the session's parquet
    * reader settings (`nanosAsLong`, `binaryAsString`, ...). */
  private final case class FileVersion(
      files: Seq[(String, Long, Long)],
      parquetConf: Seq[(String, String)]
  )

  /** Qualified path -> the version its schema was inferred at. Holds one
    * `StructType` per path, no data; a new version replaces the old. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (FileVersion, StructType)]()

  private def tableSchema(spark: SparkSession, path: String): Option[StructType] = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed =
      try {
        val it = fs.listFiles(hPath, true)
        val files = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          files += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(files.result().sortBy(_._1))
      } catch { case _: java.io.FileNotFoundException => None }
    listed.map { files =>
      val key = fs.makeQualified(hPath).toString
      val parquetConf = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted
      val version = FileVersion(files, parquetConf)
      // look up, infer on a miss, then put: inference runs a Spark job, so
      // it stays outside the map's lock
      Option(schemas.get(key)).collect { case (v, s) if v == version => s }.getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemas.put(key, (version, inferred))
        inferred
      }
    }
  }

  /** The driver has shipped events.parquet under several timestamp
    * physical types across regenerations — TIMESTAMP(NANOS) (arrives as
    * long nanos under `spark.sql.legacy.parquet.nanosAsLong`),
    * micros-without-timezone (Spark 4 reads TIMESTAMP_NTZ), and tz'd
    * micros (TIMESTAMP). Normalize all of them to the microsecond
    * session-zone TIMESTAMP the operators and DuckDB oracles assume
    * (UTC session ⇒ identical instants in every case). Public: this is
    * the canonical batch loader for the events table — tests and tools
    * should read through it rather than re-deriving the ts conversion. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Hyperplanes shared between the Spark ANN query and its generated
    * oracle SQL. 6 planes => 64 buckets over 500-5000 vectors. */
  val AnnPlanes = Similarity.randomHyperplanes(numPlanes = 6, dim = 64)

  /** Fellegi-Sunter fields for q_linkage_score: (agreement column, m, u).
    * The ln(m/u) / ln((1-m)/(1-u)) contributions are Scala-computed
    * constants inlined into BOTH the Spark plan and the generated oracle
    * SQL, so no libm difference can split the engines. */
  val FsFields = Seq(
    ("agree_head", 0.9, 0.05),
    ("agree_lang", 0.95, 0.3),
    ("agree_source", 0.8, 0.05),
    ("agree_len", 0.9, 0.2)
  )
  val FsW: Map[String, (Double, Double)] =
    graft.operators.Dedup
      .linkageWeights(FsFields)
      .map { case (c, a, d) => c -> ((a, d)) }
      .toMap

  /** Independent banks for the OR-amplified multi-band ANN query. Sized from
    * the measured data: the synthetic embeddings are near-random (median
    * top-5 cosine 0.32 => per-plane match probability m ~ 0.60), so 16 banks
    * of 3 planes gives predicted recall 1-(1-m^3)^16 ~ 0.98 (ScaleSpec
    * asserts >= 0.9). On real clustered corpora (m -> 1 for true near-dups)
    * far fewer banks reach the same recall — the bank count IS the
    * recall/cost dial. */
  val AnnBanks =
    Similarity.randomHyperplaneBanks(numBanks = 16, planesPerBank = 3, dim = 64)


  /** DuckDB expression for cosine(a, b) over FLOAT[64] columns — identical
    * fold order to VectorFunctions.cosineSimilarity. */
  def duckCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** Shared DuckDB CTE chain for the DSIR oracles: hashed unigram+bigram
    * buckets (md5 % 8192, bigrams joined with chr(1) — the operator's
    * exact feature map), Laplace-1 smoothed target (lang='zh') vs corpus
    * models, 6-decimal log-ratios summed in DECIMAL. Ends with
    * `w(doc_id, log_weight)`. */
  def duckDsirWeights: String =
    """d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL
      |), g AS (
      |  SELECT doc_id, unnest(list_concat(toks,
      |    CASE WHEN len(toks) >= 2
      |         THEN list_transform(range(2, len(toks) + 1),
      |                             i -> toks[i-1] || chr(1) || toks[i])
      |         ELSE CAST([] AS VARCHAR[]) END)) AS gram
      |  FROM d
      |), b AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 8192 AS bk
      |  FROM g
      |), qm AS (
      |  SELECT bk, count(*) AS qc FROM b GROUP BY bk
      |), pm AS (
      |  SELECT bk, count(*) AS pc FROM b JOIN documents USING (doc_id)
      |  WHERE lang = 'zh' GROUP BY bk
      |), tot AS (
      |  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM b) AS qt,
      |         (SELECT CAST(count(*) AS DOUBLE) FROM b
      |          JOIN documents USING (doc_id) WHERE lang = 'zh') AS pt
      |), r AS (
      |  SELECT COALESCE(qm.bk, pm.bk) AS bk,
      |         CAST(ROUND(LN((COALESCE(pc, 0) + 1.0) / (pt + 8192.0))
      |                  - LN((COALESCE(qc, 0) + 1.0) / (qt + 8192.0)), 6)
      |              AS DECIMAL(18,6)) AS lr
      |  FROM qm FULL JOIN pm ON qm.bk = pm.bk, tot
      |), db AS (
      |  SELECT doc_id, bk, CAST(count(*) AS DECIMAL(10,0)) AS c
      |  FROM b GROUP BY 1, 2
      |), w AS (
      |  SELECT doc_id, CAST(ROUND(sum(c * lr), 6) AS DOUBLE) AS log_weight
      |  FROM db JOIN r USING (bk) GROUP BY doc_id
      |)""".stripMargin

  /** Shared CTE chain for the hashed NB classifier oracle (src0-2 as the
    * positive class, 4096 buckets) — mirrors
    * TextAnalysis.trainTokenClassifier. */
  def duckNbModel: String =
    """ptoks AS (
      |  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096 AS bucket
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
      |        FROM documents
      |        WHERE text IS NOT NULL AND source IN ('src0','src1','src2'))
      |), ntoks AS (
      |  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096 AS bucket
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
      |        FROM documents
      |        WHERE text IS NOT NULL AND source NOT IN ('src0','src1','src2'))
      |), pc AS (SELECT bucket, count(*) AS cnt FROM ptoks GROUP BY 1
      |), nc AS (SELECT bucket, count(*) AS cnt FROM ntoks GROUP BY 1
      |), model AS (
      |  SELECT b.bucket,
      |         ROUND(LN((COALESCE(p.cnt, 0) + 1) /
      |                  CAST((SELECT count(*) FROM ptoks) + 4096 AS DOUBLE))
      |             - LN((COALESCE(n.cnt, 0) + 1) /
      |                  CAST((SELECT count(*) FROM ntoks) + 4096 AS DOUBLE)), 6)
      |           AS weight
      |  FROM range(0, 4096) AS b(bucket)
      |  LEFT JOIN pc p ON p.bucket = b.bucket
      |  LEFT JOIN nc n ON n.bucket = b.bucket
      |)""".stripMargin

  /** DuckDB expression for squared Euclidean distance over FLOAT[64]
    * columns — identical fold order to VectorFunctions.squaredDistance
    * (the difference is written out as d*d, NOT pow(d, 2), so the
    * arithmetic matches the Spark loop bit-for-bit). */
  def duckSqDist(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65),
       | i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |    * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
      .replaceAll("\n", "")

  /** DuckDB CTE chain replaying Similarity.kmeansCluster bit-for-bit on
    * the embeddings table: md5-ranked seeds, `rounds` Lloyd iterations
    * with floor-quantized integer centroid sums (order-independent, so
    * the sequential-fold distance is the only float-sensitive step and
    * it matches the codegen'd loop exactly), empty clusters carrying the
    * previous centroid. Ends with `af(vec_id, cl, d)` = final assignment
    * + squared distance. */
  def duckKmeansCte(k: Int, rounds: Int): String = {
    val seed =
      s"""sd AS (
         |  SELECT vec_id, embedding,
         |         ROW_NUMBER() OVER (
         |           ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
         |                    vec_id) - 1 AS cl
         |  FROM e
         |), c0 AS (
         |  SELECT cl, embedding AS cv FROM sd WHERE cl < $k
         |)""".stripMargin
    val iters = (1 to rounds).map { r =>
      val prev = s"c${r - 1}"
      s""", a$r AS (
         |  SELECT vec_id, embedding, cl FROM (
         |    SELECT e.vec_id, e.embedding, $prev.cl,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${duckSqDist("e.embedding", s"$prev.cv")}, $prev.cl) AS rn
         |    FROM e CROSS JOIN $prev
         |  ) WHERE rn = 1
         |), u$r AS (
         |  SELECT cl, i,
         |         CAST(CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
         |              / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS FLOAT) AS v
         |  FROM a$r CROSS JOIN range(1, 65) AS r(i)
         |  GROUP BY cl, i
         |), uc$r AS (
         |  SELECT cl, list(v ORDER BY i) AS cv FROM u$r GROUP BY cl
         |), c$r AS (
         |  SELECT $prev.cl, COALESCE(uc$r.cv, $prev.cv) AS cv
         |  FROM $prev LEFT JOIN uc$r USING (cl)
         |)""".stripMargin
    }.mkString
    val fin = s"c$rounds"
    s"""$seed$iters, af AS (
       |  SELECT vec_id, cl, d FROM (
       |    SELECT e.vec_id, $fin.cl,
       |           ${duckSqDist("e.embedding", s"$fin.cv")} AS d,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${duckSqDist("e.embedding", s"$fin.cv")}, $fin.cl) AS rn
       |    FROM e CROSS JOIN $fin
       |  ) WHERE rn = 1
       |)""".stripMargin
  }

  /** DuckDB CTE pair `m, q` computing the per-doc quality score `s`
    * exactly as TextAnalysis.qualityScore / the q_quality oracle —
    * shared by the calibration oracles (q_threshold_sweep, q_auc) so the
    * formula lives in one place. */
  /** The ROUND(LEAST(...)) quality formula over token/punct/stopword
    * count expressions — the ONE definition of
    * TextAnalysis.qualityScore's oracle arithmetic, shared by q_quality,
    * q_html_pipeline, q_pipeline_e2e, and the calibration CTE so a
    * formula tweak cannot silently drift between oracles. */
  def duckQualityExpr(nt: String, pc: String, stops: String): String =
    s"ROUND(LEAST(1.0, (CAST($stops AS DOUBLE) / $nt) * 2.0 + " +
      s"(CASE WHEN $nt >= 20 AND $nt <= 2000 THEN 0.5 ELSE 0.2 END) + " +
      s"(CASE WHEN $pc = 0 THEN 0.1 ELSE 0.0 END)), 6)"

  def duckQualityScoreCte: String = {
    val en = TextAnalysis.LangMarkers.head._2.map(w => s"'$w'").mkString(", ")
    s"""m AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
       |         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS punct_count,
       |         CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains([$en], t))) AS INT) AS stops
       |  FROM documents
       |), q AS (
       |  SELECT doc_id,
       |         ${duckQualityExpr("n_tokens", "punct_count", "stops")} AS s
       |  FROM m
       |)""".stripMargin
  }

  /** DuckDB literal for one hyperplane + its dot-product vs `embedding`. */
  def duckPlaneDot(plane: Seq[Double]): String = {
    val lit = plane.mkString("[", ", ", "]")
    s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ($lit)[i]))"
  }

  /** DuckDB CTE chain computing the portable SimHash signature table
    * (doc_id, simhash) — mirrors Dedup.simHashSignatures bit-for-bit: md5
    * split into two 32-bit halves, per-bit majority vote over tokens, bit 63
    * assembled as Long.MinValue to stay in signed-64 range. */
  /** Deterministic synthetic URL per document row — the documents table
    * carries no URL column, so the URL-curation queries construct one from
    * (doc_id, source, lang) with the SAME expression in both engines:
    * multi-part-suffix hosts (co.uk), plain .com/.org hosts with and
    * without a www/blog subdomain, a port every 7th row, a query string
    * every 5th, and a malformed non-URL every 11th (exercising the NULL
    * component path). The oracle checks the PARSER, not the construction —
    * construction is shared verbatim. */
  def syntheticUrl: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val id = col("doc_id")
    when(
      id % 11 === 0,
      concat(lit("not a url "), id.cast("string"))
    ).otherwise(
      concat(
        lit("https://"),
        when(id % 3 === 0, concat(lit("www."), col("source"), lit(".co.uk")))
          .when(id % 3 === 1, concat(col("source"), lit(".com")))
          .otherwise(concat(lit("blog."), col("source"), lit(".org"))),
        when(id % 7 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"),
        id.cast("string"),
        when(id % 5 === 0, concat(lit("?ref="), col("lang"))).otherwise(lit(""))
      )
    )
  }

  /** Blockword list for q_blockwords — ordinary corpus words stand in
    * for a profanity list (the fixture corpus is benign); the OPERATOR
    * under test is whole-token InSet matching, not the vocabulary. */
  val BlockwordFixture: Seq[String] = Seq("spark", "shuffle", "dup", "engine")

  /** Phrase blocklist for q_block_phrases: two corpus-frequent bigrams, a
    * unigram, and a trigram — exercising every distinct-length shingle
    * pass of the operator. */
  val PhraseFixture: Seq[String] =
    Seq("table hash", "customer join", "spark", "big order scan")

  /** Deterministic invisible-character injection for q_strip_invisibles:
    * zero-widths, a soft hyphen, a BOM, and a BEL control appended (and
    * one zero-width SPLICED between the first two chars) so the strip has
    * real work in every row. NULL text stays NULL. */
  def syntheticInvisibleText: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(col("text").isNull, lit(null).cast("string")).otherwise(
      concat(
        substring(col("text"), 1, 1),
        lit("\u200B"),
        substring(col("text"), 2, 1000000),
        lit("\u200Czero\u200Dwidth\u2060run\uFEFF soft\u00ADhyphen\u0007bell")
      )
    )
  }

  /** [[syntheticInvisibleText]] as DuckDB SQL (chars via chr()). */
  val duckSyntheticInvisibleText: String =
    "CASE WHEN text IS NULL THEN NULL ELSE " +
      "substr(text, 1, 1) || chr(8203) || substr(text, 2) || " +
      "chr(8204) || 'zero' || chr(8205) || 'width' || chr(8288) || 'run' || " +
      "chr(65279) || ' soft' || chr(173) || 'hyphen' || chr(7) || 'bell' END"

  /** Deterministic accented text for the fix-encoding query: common vowels
    * become a two-byte (é U+00E9, ö U+00F6) and a three-byte (' U+2019)
    * UTF-8 character. The corpus is pure ASCII (TestdataCanarySpec), so
    * the replace chain is exact and identical in both engines. */
  def syntheticAccentedText: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    replace(
      replace(
        replace(col("text"), lit("a"), lit("é")),
        lit("o"), lit("ö")),
      lit("u"), lit("’"))
  }

  /** [[syntheticAccentedText]] read back as windows-1252 — the classic
    * double-encoding mojibake (é → Ã©, ö → Ã¶, ' → â€™), built by
    * replacing each accented char with its cp1252 misread so the synth is
    * engine-identical. The REPAIR side (TextAnalysis.fixEncoding) is the
    * real byte-level re-decode; this synth only has to produce genuine
    * double-encodings for it to undo. */
  def syntheticMojibakeText: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    Seq(
      "é" -> "Ã©",        // é  = C3 A9  -> Ã©
      "ö" -> "Ã¶",        // ö  = C3 B6  -> Ã¶
      "’" -> "â€™"   // '  = E2 80 99 -> â€™
    ).foldLeft(syntheticAccentedText) { case (c, (good, moji)) =>
      replace(c, lit(good), lit(moji))
    }
  }

  /** [[syntheticAccentedText]] as DuckDB SQL (chars via chr()). */
  val duckSyntheticAccentedText: String =
    "replace(replace(replace(text, 'a', chr(233)), 'o', chr(246)), " +
      "'u', chr(8217))"

  /** Planted CJK originals for the q_fix_encoding CJK tiers — chosen so
    * their UTF-8 bytes decode LOSSLESSLY under the misread charset (a
    * misread that hits an unassigned code point would replace bytes with
    * U+FFFD and be unrepairable by anyone). The mojibake forms are
    * computed through the REAL Java charsets at class init — the same
    * tables the repair kernel inverts — and the round trip is asserted,
    * so a JDK charset-table change fails loudly here instead of
    * producing a silently-stale fixture. */
  val CjkGbkGood: String = "为十进但样有"
  val CjkGbkMoji: String = new String(
    CjkGbkGood.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.Charset.forName("GBK")
  )
  val CjkSjisGood: String = "な処本タ語る"
  val CjkSjisMoji: String = new String(
    CjkSjisGood.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.Charset.forName("Shift_JIS")
  )
  require(
    new String(
      CjkGbkMoji.getBytes(java.nio.charset.Charset.forName("GBK")),
      java.nio.charset.StandardCharsets.UTF_8
    ) == CjkGbkGood,
    "GBK mojibake fixture is not lossless"
  )
  require(
    new String(
      CjkSjisMoji.getBytes(java.nio.charset.Charset.forName("Shift_JIS")),
      java.nio.charset.StandardCharsets.UTF_8
    ) == CjkSjisGood,
    "Shift_JIS mojibake fixture is not lossless"
  )

  /** Deterministic multi-line page per document for the C4 line-filter
    * query: sentence boundaries become newlines, plus planted junk lines
    * exercising every rule — a no-punct line, a "javascript" line, a
    * too-short line — a good closing line, and (every 13th doc) a `{`
    * code marker that must kill the page flag. Same expression in both
    * engines; NULL text stays NULL. */
  def syntheticLinesPage: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(col("text").isNull, lit(null).cast("string")).otherwise(
      concat(
        replace(col("text"), lit(". "), lit(".\n")),
        lit("\nshort line no punct\n"),
        lit("this javascript line should die right here.\n"),
        lit("tiny line.\n"),
        lit("a good closing sentence is right here."),
        when(col("doc_id") % 13 === 0, lit("\ncode marker { lurks here always."))
          .otherwise(lit(""))
      )
    )
  }

  /** [[syntheticLinesPage]] as DuckDB SQL (newlines via chr(10)). */
  val duckSyntheticLinesPage: String =
    """CASE WHEN text IS NULL THEN NULL ELSE
      |  replace(text, '. ', '.' || chr(10)) || chr(10) ||
      |  'short line no punct' || chr(10) ||
      |  'this javascript line should die right here.' || chr(10) ||
      |  'tiny line.' || chr(10) ||
      |  'a good closing sentence is right here.' ||
      |  CASE WHEN doc_id % 13 = 0
      |       THEN chr(10) || 'code marker { lurks here always.'
      |       ELSE '' END
      |END""".stripMargin

  /** [[syntheticUrl]] as DuckDB SQL. */
  val duckSyntheticUrl: String =
    """CASE WHEN doc_id % 11 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
      |ELSE 'https://' ||
      |  CASE WHEN doc_id % 3 = 0 THEN 'www.' || source || '.co.uk'
      |       WHEN doc_id % 3 = 1 THEN source || '.com'
      |       ELSE 'blog.' || source || '.org' END ||
      |  CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END ||
      |  '/p/' || CAST(doc_id AS VARCHAR) ||
      |  CASE WHEN doc_id % 5 = 0 THEN '?ref=' || lang ELSE '' END
      |END""".stripMargin

  /** Deterministic synthetic HTML per document row — the documents table
    * carries extracted text, so the HTML-extraction queries wrap it back
    * into markup with the SAME expression in both engines: title/style
    * head, a comment carrying the doc id, a script body containing both a
    * raw `<` and a decoy `</p>` tag-in-string, an entity battery
    * (the six classics plus full-table typography: `&mdash;` `&rsquo;`
    * `&eacute;` `&hellip;` named, `&#x2019;`/`&#X2014;` hex incl. a case
    * variant, `&#0233;` leading-zero decimal, and the HTML5-only
    * `&nleq;` that must stay VERBATIM), literal tab/newline whitespace,
    * and — every 9th row — a pure-markup document that must extract to
    * the empty string. NULL text stays NULL. The oracle checks the
    * EXTRACTOR; construction is shared verbatim. */
  def syntheticHtml: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val id = col("doc_id")
    when(col("text").isNull, lit(null).cast("string"))
      .when(
        id % 9 === 0,
        lit(
          "<html><head><style>body { color: red }</style>" +
            "<script src=\"x.js\"></script></head>" +
            "<body><!-- only markup --></body></html>"
        )
      )
      .otherwise(
        concat(
          lit(
            "<html><head><title>Doc</title>" +
              "<style type=\"text/css\">p{margin:0}</style></head>" +
              "<body><!-- id "
          ),
          id.cast("string"),
          lit(
            " --><h1>Doc &amp; section</h1>\n" +
              "<script>if (1 < 2) { emit(\"</p>\"); }</script><p>"
          ),
          col("text"),
          lit(
            "</p><div>tail &lt;raw&gt; &quot;quoted&quot; &apos;q&apos;" +
              " &nbsp;&#160; &amp;lt; end</div>" +
              "<p>typo&mdash;graphy &rsquo;tis caf&eacute; wait&hellip;" +
              " it&#x2019;s &#X2014; caf&#0233; &nleq; done</p>" +
              "\t\n</body></html>"
          )
        )
      )
  }

  /** [[syntheticHtml]] as DuckDB SQL (tab/newline via chr() — DuckDB
    * single-quoted literals have no escapes). Concatenation operators sit
    * at line ENDS: this fragment is interpolated into stripMargin'd query
    * strings, where a line-leading `||` would be eaten as a margin. */
  val duckSyntheticHtml: String =
    """CASE WHEN text IS NULL THEN NULL
      |WHEN doc_id % 9 = 0 THEN '<html><head><style>body { color: red }</style><script src="x.js"></script></head><body><!-- only markup --></body></html>'
      |ELSE '<html><head><title>Doc</title><style type="text/css">p{margin:0}</style></head><body><!-- id ' ||
      |  CAST(doc_id AS VARCHAR) ||
      |  ' --><h1>Doc &amp; section</h1>' || chr(10) ||
      |  '<script>if (1 < 2) { emit("</p>"); }</script><p>' ||
      |  text ||
      |  '</p><div>tail &lt;raw&gt; &quot;quoted&quot; &apos;q&apos; &nbsp;&#160; &amp;lt; end</div>' ||
      |  '<p>typo&mdash;graphy &rsquo;tis caf&eacute; wait&hellip; it&#x2019;s &#X2014; caf&#0233; &nleq; done</p>' ||
      |  chr(9) || chr(10) || '</body></html>'
      |END""".stripMargin

  /** The generic entity-candidate span: every decodable form of the
    * [[graft.plans.HtmlEntities]] table matches one alternative (names
    * are alpha-led, <= 8 chars; numerics carry <= 24 leading zeros and
    * <= 6 significant digits, all within the 30-char bound), and — the
    * property the whole construction rests on — no alternative can
    * contain an interior `&` or `;`, so a match never swallows a later
    * decodable span. Spans that match but are NOT in the table decode
    * to THEMSELVES (see [[duckEntityFold]]), so over-matching is
    * harmless by construction. */
  private val DuckEntSpanRe: String =
    "&[A-Za-z][A-Za-z0-9]{0,30};|&#[0-9]{1,30};|(?i:&#x[0-9a-f]{1,30};)"

  /** DuckDB decode of the full [[graft.plans.HtmlEntities]] table over
    * `expr`. A 253-stage nested regexp_replace chain overflows DuckDB's
    * 128-frame binder recursion, and a list_reduce over the stages
    * recompiles every regex per row (non-constant patterns) — so this
    * takes the split/decode/reassemble route instead: split `expr` at
    * [[DuckEntSpanRe]], decode each matched span via two flat MAP
    * literals (name -> replacement; code point -> replacement, the
    * numeric significand extracted by regexes that mirror the scanner's
    * rules exactly: first-`;` termination, <= 24 leading zeros, non-zero
    * <= 6-digit significand, hex case-blind), emit unknown spans
    * VERBATIM, and interleave parts and decoded spans back together.
    * Equivalent to the Spark scanner ([[graft.plans
    * .DecodeHtmlEntitiesExpr]]) and to folding [[graft.plans
    * .HtmlEntities.Stages]]: matched spans contain no interior `&`, so
    * span-at-a-time decode-or-verbatim commutes with the amp-last chain
    * (parity asserted in ScaleSpec on adversarial soup, and the oracle
    * battery plants every written form). NULL in -> NULL out; the
    * empty-list array_to_string is coalesced (DuckDB yields NULL where
    * Spark yields ''). */
  def duckEntityFold(expr: String): String = {
    val named = graft.plans.HtmlEntities.Named
    def q(s: String): String = s.replace("'", "''")
    val rep = graft.plans.HtmlEntities.replacement _
    val nameKeys = named.map { case (n, _) => s"'${q(n)}'" }.mkString(", ")
    val cpKeys = named.map(_._2).mkString(", ")
    val reps = named.map { case (_, cp) => s"'${q(rep(cp))}'" }.mkString(", ")
    def dec(e: String): String = {
      val hexSig =
        s"nullif(regexp_extract($e, '(?i:^&#x0{0,24}([1-9a-f][0-9a-f]{0,5});$$)', 1), '')"
      val decSig =
        s"nullif(regexp_extract($e, '^&#0{0,24}([1-9][0-9]{0,5});$$', 1), '')"
      val cp =
        s"CASE WHEN $hexSig IS NOT NULL THEN CAST(('0x' || $hexSig) AS BIGINT) " +
          s"ELSE TRY_CAST($decSig AS BIGINT) END"
      s"CASE WHEN substr($e, 2, 1) = '#' " +
        s"THEN coalesce(map([$cpKeys], [$reps])[$cp][1], $e) " +
        s"ELSE coalesce(map([$nameKeys], [$reps])[substr($e, 2, length($e) - 2)][1], $e) END"
    }
    val parts = s"regexp_split_to_array($expr, '$DuckEntSpanRe')"
    val ents = s"regexp_extract_all($expr, '$DuckEntSpanRe')"
    s"(coalesce(array_to_string(list_transform(range(1, len($ents) + 1), " +
      s"i -> $parts[i] || ${dec(s"$ents[i]")}), ''), '') || $parts[len($parts)])"
  }

  /** DuckDB expression mirroring `TextAnalysis.extractHtmlText` over
    * `expr` — the IDENTICAL stage definitions the Spark operator runs
    * (tag strip, full entity table, whitespace collapse), interpolated
    * from the one shared definition. */
  def duckHtmlExtract(expr: String): String = {
    import graft.operators.TextAnalysis.{HtmlTagStages, HtmlWsStage}
    val tagless = duckFoldStages(HtmlTagStages, expr)
    val ws = duckFoldStages(Seq(HtmlWsStage), duckEntityFold(tagless))
    s"trim($ws)"
  }

  /** Deterministic synthetic full PAGE per document row for the
    * main-content queries: nav/breadcrumb/footer chrome (high link
    * density), a script carrying a decoy anchor (must die in pre-clean),
    * the document text as the main block, a too-short block every 4th
    * row, and a link-farm "related" block every 6th (long enough, but
    * over the density cap). NULL text stays NULL. Construction is shared
    * verbatim — the oracle checks the EXTRACTOR. */
  def syntheticPageHtml: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val id = col("doc_id")
    when(col("text").isNull, lit(null).cast("string"))
      .otherwise(
        concat(
          lit(
            "<html><head><title>Page</title>" +
              "<script>var x = 1; // <a href=\"/x\">fake anchor</a></script>" +
              "</head><body>" +
              "<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> " +
              "<a href=\"/contact\">Contact</a></nav>" +
              "<div class=\"crumbs\"><a href=\"/\">Home</a> &gt; " +
              "<a href=\"/sec\">Section</a></div><p>"
          ),
          col("text"),
          lit(" &mdash; from the caf&eacute;&#x2019;s archive&hellip;</p>"),
          when(id % 4 === 0, lit("<p>Too short.</p>")).otherwise(lit("")),
          when(
            id % 6 === 0,
            lit(
              "<div>Related: <a href=\"/a\">first related article</a> " +
                "<a href=\"/b\">second related article</a></div>"
            )
          ).otherwise(lit("")),
          lit(
            "<footer><a href=\"/privacy\">Privacy</a> " +
              "<a href=\"/terms\">Terms</a> &#169; Example</footer>" +
              "</body></html>"
          )
        )
      )
  }

  /** [[syntheticPageHtml]] as DuckDB SQL. */
  val duckSyntheticPageHtml: String =
    """CASE WHEN text IS NULL THEN NULL ELSE
      |'<html><head><title>Page</title>' ||
      |'<script>var x = 1; // <a href="/x">fake anchor</a></script>' ||
      |'</head><body>' ||
      |'<nav><a href="/">Home</a> <a href="/about">About us</a> ' ||
      |'<a href="/contact">Contact</a></nav>' ||
      |'<div class="crumbs"><a href="/">Home</a> &gt; ' ||
      |'<a href="/sec">Section</a></div><p>' || text ||
      |' &mdash; from the caf&eacute;&#x2019;s archive&hellip;</p>' ||
      |CASE WHEN doc_id % 4 = 0 THEN '<p>Too short.</p>' ELSE '' END ||
      |CASE WHEN doc_id % 6 = 0
      |     THEN '<div>Related: <a href="/a">first related article</a> ' ||
      |          '<a href="/b">second related article</a></div>'
      |     ELSE '' END ||
      |'<footer><a href="/privacy">Privacy</a> ' ||
      |'<a href="/terms">Terms</a> &#169; Example</footer>' ||
      |'</body></html>'
      |END""".stripMargin

  private def duckFoldStages(
      stages: Seq[(String, String)],
      expr: String
  ): String =
    stages.foldLeft(expr) { case (acc, (p, r)) =>
      s"regexp_replace($acc, '${p.replace("'", "''")}', '${r.replace("'", "''")}', 'g')"
    }

  /** DuckDB CTE mirroring `TextAnalysis.extractMainContent` over a CTE `h`
    * with (doc_id, page): pre-clean fold, block split at the chr(1)
    * sentinel, per-block clean + anchor-length struct, ppm density filter.
    * Defines `mc(doc_id, main_text, n_blocks, kept_blocks)`. */
  def duckMainContentCte(minChars: Int, ldPpm: Long): String = {
    import graft.operators.TextAnalysis.{AnchorRe, BlockTagRe, HtmlPrecleanStages, HtmlTagStages, HtmlWsStage}
    // per-block inline clean: tag strip -> entity decode (flat
    // list_reduce — see duckEntityFold) -> ws collapse, the same split
    // the Spark side runs natively
    def clean(e: String): String = {
      val tagless = duckFoldStages(Seq(HtmlTagStages.last), e)
      s"trim(${duckFoldStages(Seq(HtmlWsStage), duckEntityFold(tagless))})"
    }
    val pre = duckFoldStages(HtmlPrecleanStages, "page")
    val anch = s"array_to_string(regexp_extract_all(b, '$AnchorRe', 1), ' ')"
    val keepCond =
      s"length(s.t) >= $minChars AND s.la * 1000000 <= $ldPpm * length(s.t)"
    // coalesce the two spots where DuckDB's array_to_string of an EMPTY
    // list yields NULL while Spark's array_join yields '': anchor-less
    // blocks (la = 0) and pages with zero kept blocks (main_text = '')
    s"""sc AS (
       |  SELECT doc_id, list_transform(
       |    string_split(regexp_replace($pre, '$BlockTagRe', chr(1), 'g'), chr(1)),
       |    b -> struct_pack(t := ${clean("b")},
       |                     la := coalesce(length(${clean(anch)}), 0))
       |  ) AS sc
       |  FROM h
       |), mc AS (
       |  SELECT doc_id,
       |    CASE WHEN sc IS NULL THEN NULL
       |         ELSE coalesce(array_to_string(list_transform(
       |                list_filter(sc, s -> $keepCond), s -> s.t), ' '), '')
       |    END AS main_text,
       |    CAST(len(list_filter(sc, s -> length(s.t) > 0)) AS INT) AS n_blocks,
       |    CAST(len(list_filter(sc, s -> $keepCond)) AS INT) AS kept_blocks
       |  FROM sc
       |)""".stripMargin
  }

  /** Deterministic PII injection for the masking/report queries: emails
    * on every 3rd row, an IPv4 on every 4th, two phone formats on every
    * 5th (overlaps exercise multi-kind rows; most rows get none). NULL
    * text stays NULL. Construction is shared verbatim — the oracle
    * checks the DETECTORS. */
  def piiText: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val id = col("doc_id")
    when(col("text").isNull, lit(null).cast("string"))
      .otherwise(
        concat(
          col("text"),
          when(
            id % 3 === 0,
            concat(lit(" mail user"), id.cast("string"), lit("@example.org"))
          ).otherwise(lit("")),
          when(
            id % 4 === 0,
            concat(lit(" from 10."), (id % 256).cast("string"), lit(".0.9"))
          ).otherwise(lit("")),
          when(id % 5 === 0, lit(" call (555) 123-4567 or 555-123-4567"))
            .otherwise(lit(""))
        )
      )
  }

  /** [[piiText]] as DuckDB SQL. */
  val duckPiiText: String =
    """CASE WHEN text IS NULL THEN NULL
      |ELSE text ||
      |  CASE WHEN doc_id % 3 = 0
      |       THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.org'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 4 = 0
      |       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.9'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0
      |       THEN ' call (555) 123-4567 or 555-123-4567'
      |       ELSE '' END
      |END""".stripMargin

  /** DuckDB expression folding TextAnalysis.PiiPatterns' masking chain
    * over `expr` — identical patterns/tokens/order by construction. */
  def duckMaskPii(expr: String): String =
    graft.operators.TextAnalysis.PiiPatterns.foldLeft(expr) {
      case (acc, (_, p, t)) => s"regexp_replace($acc, '$p', '$t', 'g')"
    }

  /** DuckDB per-kind PII occurrence count over `expr`. */
  def duckPiiCount(expr: String, pattern: String): String =
    s"coalesce(len(regexp_extract_all($expr, '$pattern')), 0)"

  /** DuckDB expression replaying Urls.registeredDomain over a host
    * expression (already lowercased or NULL) — longest-match over the
    * SAME embedded suffix table (PublicSuffixes.all, shared construction:
    * the entries are interpolated into IN-lists here, so both engines
    * consult one list by construction), with the IP-literal passthrough
    * running the identical RE2 pattern. DuckDB's out-of-range negative
    * list index yields NULL, so the label concatenations are safe even
    * where the length guard is false. */
  def duckRegisteredDomain(host: String): String = {
    val byLen = graft.operators.PublicSuffixes.all
      .groupBy(_.count(_ == '.') + 1)
    def lastK(k: Int): String =
      (k to 1 by -1)
        .map(i => s"string_split($host, '.')[-$i]")
        .mkString(" || '.' || ")
    val whens = (4 to 2 by -1)
      .flatMap { k =>
        byLen.get(k).map { rules =>
          val inList = rules.sorted.map(s => s"'$s'").mkString(", ")
          s"""WHEN len(string_split($host, '.')) >= ${k + 1}
             |          AND (${lastK(k)}) IN ($inList)
             |       THEN ${lastK(k + 1)}""".stripMargin
        }
      }
      .mkString("\n     ")
    s"""CASE WHEN $host IS NULL THEN NULL
       |     WHEN regexp_matches($host, '${graft.operators.Urls.IpHostRe}')
       |       THEN $host
       |     $whens
       |     WHEN len(string_split($host, '.')) >= 2 THEN ${lastK(2)}
       |     ELSE $host END""".stripMargin
  }

  /** Shared allow/block entry lists for q_url_filter — the SAME literals
    * feed Urls.filterByDomains and the interpolated DuckDB predicate, so
    * the oracle exercises the matcher, not the list. */
  val UrlFilterAllow: Seq[String] =
    Seq("src1.com", "src2.org", "src3.co.uk", "src4.com", "src5.org")
  val UrlFilterBlock: Seq[String] = Seq("blog.src2.org")

  /** DuckDB expression mirroring `Urls.hostMatchesDomains`: true iff the
    * host equals an entry or is a subdomain of one — same grouped-by-depth
    * label-suffix construction, interpolated from the same entry list the
    * Spark side receives. */
  def duckHostMatches(host: String, entries: Seq[String]): String = {
    val byLen =
      entries.map(_.toLowerCase).distinct.groupBy(_.count(_ == '.') + 1)
    def lastK(k: Int): String =
      (k to 1 by -1)
        .map(i => s"string_split($host, '.')[-$i]")
        .mkString(" || '.' || ")
    val ors = byLen.toSeq
      .sortBy(_._1)
      .map { case (k, vals) =>
        val inList = vals.sorted.map(v => s"'$v'").mkString(", ")
        s"(len(string_split($host, '.')) >= $k AND (${lastK(k)}) IN ($inList))"
      }
      .mkString(" OR ")
    s"($host IS NOT NULL AND ($ors))"
  }

  /** DuckDB expression for the lowercased host of a URL expression, NULL
    * when unparseable — runs the IDENTICAL pattern as Urls.parseUrls'
    * host component (userinfo consumed before the capture, bracketed
    * IPv6 taken whole), interpolated from the one shared definition. */
  def duckUrlHost(url: String): String =
    s"lower(NULLIF(regexp_extract($url, " +
      s"'${graft.operators.Urls.ComponentRes("host")}', 1), ''))"

  /** DuckDB expression for squared Euclidean distance between a SLICE of
    * vector `a` (elements off+1 .. off+len, 1-based) and a len-element
    * codebook subvector `b` — the subspace companion to [[duckSqDist]],
    * same written-out d*d form and sequential list_sum fold, so it is
    * bit-identical to `VectorFunctions.squaredDistance(slice(a), b)`. */
  def duckSqDistSub(a: String, b: String, off: Int, len: Int): String =
    s"""list_sum(list_transform(range(1, ${len + 1}),
       | i -> (CAST($a[i + $off] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |    * (CAST($a[i + $off] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
      .replaceAll("\n", "")

  /** DuckDB CTE chain replaying Similarity.pqTrain/pqEncode bit-for-bit:
    * the shared md5-ranked seed ordering feeds every subspace, then each
    * subspace runs its own [[duckKmeansCte]]-shaped Lloyd chain over its
    * slice (floor-quantized integer sums, empty clusters carrying the
    * previous centroid, ties to the lowest cluster). Requires an
    * `e(vec_id, embedding)` CTE in scope. Ends with, per subspace s:
    * `cb_$s(cl, cv)` = the final codebook and `af_$s(vec_id, cl)` = each
    * vector's code. */
  def duckPqCte(m: Int, k: Int, rounds: Int, dim: Int = 64): String = {
    require(dim % m == 0, s"dim $dim not divisible by $m")
    val sub = dim / m
    val seed =
      s"""sd AS (
         |  SELECT vec_id, embedding,
         |         ROW_NUMBER() OVER (
         |           ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
         |                    vec_id) - 1 AS cl
         |  FROM e
         |)""".stripMargin
    val chains = (0 until m).map { s =>
      val off = s * sub
      val c0 =
        s""", c0_$s AS (
           |  SELECT cl, embedding[${off + 1}:${off + sub}] AS cv
           |  FROM sd WHERE cl < $k
           |)""".stripMargin
      val iters = (1 to rounds).map { r =>
        val prev = s"c${r - 1}_$s"
        s""", a${r}_$s AS (
           |  SELECT vec_id, embedding, cl FROM (
           |    SELECT e.vec_id, e.embedding, $prev.cl,
           |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${duckSqDistSub("e.embedding", s"$prev.cv", off, sub)}, $prev.cl) AS rn
           |    FROM e CROSS JOIN $prev
           |  ) WHERE rn = 1
           |), u${r}_$s AS (
           |  SELECT cl, i,
           |         CAST(CAST(SUM(CAST(FLOOR(CAST(embedding[i + $off] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
           |              / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS FLOAT) AS v
           |  FROM a${r}_$s CROSS JOIN range(1, ${sub + 1}) AS r(i)
           |  GROUP BY cl, i
           |), uc${r}_$s AS (
           |  SELECT cl, list(v ORDER BY i) AS cv FROM u${r}_$s GROUP BY cl
           |), c${r}_$s AS (
           |  SELECT $prev.cl, COALESCE(uc${r}_$s.cv, $prev.cv) AS cv
           |  FROM $prev LEFT JOIN uc${r}_$s USING (cl)
           |)""".stripMargin
      }.mkString
      val fin = s"c${rounds}_$s"
      s"""$c0$iters, cb_$s AS (
         |  SELECT cl, cv FROM $fin
         |), af_$s AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT e.vec_id, cb_$s.cl,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${duckSqDistSub("e.embedding", s"cb_$s.cv", off, sub)}, cb_$s.cl) AS rn
         |    FROM e CROSS JOIN cb_$s
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString
    seed + chains
  }

  /** DuckDB CTE chain replaying the IVF-PQ index build bit-for-bit:
    * modulo-chosen coarse centroids (`vec_id % 64 = 0`, cell = ascending
    * vec_id rank), nearest-cell assignment, double-subtract/float-truncate
    * residuals as the `e` table [[duckPqCte]] trains on, and `en(vec_id,
    * cell, c0..c3)` = the finished index rows. Mirrors
    * Similarity.ivfResiduals + ivfPqTrain + ivfPqIndex. */
  def duckIvfPqCommon(m: Int = 4, k: Int = 8, rounds: Int = 2): String = {
    val codeCols = (0 until m)
      .map(s => s"af_$s.cl AS c$s")
      .mkString(", ")
    val codeJoins = (0 until m)
      .map(s => s"JOIN af_$s ON af_$s.vec_id = a.vec_id")
      .mkString(" ")
    s"""cent AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
       |         embedding AS cv
       |  FROM embeddings WHERE vec_id % 64 = 0
       |), ac AS (
       |  SELECT emb.vec_id, emb.embedding, c.cell,
       |         ${duckSqDist("emb.embedding", "c.cv")} AS cd
       |  FROM embeddings emb CROSS JOIN cent c
       |), assigned AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT vec_id, embedding, cell,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
       |    FROM ac
       |  ) WHERE rn = 1
       |), e AS (
       |  SELECT a.vec_id,
       |         list_transform(range(1, 65), i ->
       |           CAST(CAST(a.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE) AS FLOAT))
       |           AS embedding
       |  FROM assigned a JOIN cent c USING (cell)
       |), ${duckPqCte(m, k, rounds)}, en AS (
       |  SELECT a.vec_id, a.cell, $codeCols
       |  FROM assigned a $codeJoins
       |)""".stripMargin
  }

  def duckSimHashSig(where: String): String = {
    val votes = (0 until 64)
      .map { b =>
        val src = if (b < 32) s"(hi >> $b)" else s"(lo >> ${b - 32})"
        s"SUM($src & 1) AS v$b"
      }
      .mkString(", ")
    val terms = (0 until 64)
      .map { b =>
        val term = if (b == 63) "-9223372036854775808" else (1L << b).toString
        s"(CASE WHEN 2*v$b > n THEN $term ELSE 0 END)"
      }
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |  FROM documents $where
       |), h AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
       |         CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo
       |  FROM tok
       |), v AS (
       |  SELECT doc_id, count(*) AS n, $votes FROM h GROUP BY doc_id
       |), sh AS (
       |  SELECT doc_id, $terms AS simhash FROM v
       |)""".stripMargin
  }

  /** Shared DuckDB CTE chain for the MinHash dedup oracles — mirrors
    * Dedup.minHashSignatures + bucket-minimum candidate pairing: tokens ->
    * md5-derived (a, b) seeds -> 16-component signatures -> 4 band keys ->
    * bucket-min pairs with full-signature agreement (`cl`), plus the exact
    * identical-signature pass (`ex`). NULL-text docs have no shingles:
    * Spark's signature projection filters them out so they are always
    * retained; the WHERE mirrors that (without it DuckDB would give them a
    * shared NULL signature and drop all but one). */
  /** Shared DuckDB CTE chain replicating the portable MinHash signature,
    * banding, bucket-min pairing, and exact-signature pass; `extraWhere`
    * restricts the corpus (e.g. the pipeline query dedups only its
    * training slice). */
  def duckMinHashCommonWhere(extraWhere: String): String =
    duckMinHashCommonFrom(s"documents WHERE text IS NOT NULL$extraWhere")

  /** [[duckMinHashCommonWhere]] over an arbitrary relation exposing
    * `(doc_id, text)` — lets composed-pipeline oracles dedup the SAME
    * strings the Spark side dedups (e.g. the extracted `main_text`
    * restricted to gated ids) instead of relying on the synthetic
    * extraction being an identity over `documents.text`. */
  def duckMinHashCommonFrom(fromSql: String): String =
    s"""d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM $fromSql
      |), pre AS (
      |  SELECT doc_id,
      |         list_transform(toks, s -> [
      |           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT),
      |           CAST(('0x' || substr(md5(s), 16, 15)) AS BIGINT) % 1000000007
      |         ]) AS ab
      |  FROM d
      |), sg AS (
      |  SELECT doc_id,
      |         list_transform(range(0, 16), j ->
      |           list_min(list_transform(ab, p -> (p[1] + j * p[2]) % 1000000007))) AS sig
      |  FROM pre
      |), bd AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, 4), b ->
      |           md5(array_to_string(sig[b*4+1:b*4+4], '|')))) AS band
      |  FROM sg
      |), mn AS (
      |  SELECT band, min(doc_id) AS bucket_min FROM bd GROUP BY band
      |), pr AS (
      |  SELECT DISTINCT m.bucket_min AS ia, b.doc_id AS ib
      |  FROM bd b JOIN mn m ON b.band = m.band AND b.doc_id > m.bucket_min
      |), cl AS (
      |  SELECT ia, ib,
      |         len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) / 16.0 AS est
      |  FROM pr JOIN sg x ON x.doc_id = ia JOIN sg y ON y.doc_id = ib
      |), ex AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sig) AS sig_min FROM sg
      |)""".stripMargin

  val duckMinHashCommon: String = duckMinHashCommonWhere("")

  /** Fuzzy-decontamination stage over [[duckMinHashCommon]]'s signature
    * table, mirroring `Decontam.fuzzyContaminationMatches` at threshold
    * 0.8 with eval = doc_id < 50 and train = doc_id >= 50: identical-
    * signature matches (est 1.0, min eval id per signature) plus
    * bucket-minimum banded matches by full-signature agreement. Defines
    * `fm(id, eval_id, est_jaccard)`. */
  val duckFuzzyDecontam: String =
    """es AS (
      |  SELECT doc_id, sig FROM sg WHERE doc_id < 50
      |), tsg AS (
      |  SELECT doc_id, sig FROM sg WHERE doc_id >= 50
      |), esm AS (
      |  SELECT sig, min(doc_id) AS eval_id FROM es GROUP BY sig
      |), fex AS (
      |  SELECT t.doc_id AS id, e.eval_id, CAST(1.0 AS DOUBLE) AS est_jaccard
      |  FROM tsg t JOIN esm e ON t.sig = e.sig
      |), ebd AS (
      |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
      |    md5(array_to_string(sig[b*4+1:b*4+4], '|')))) AS band FROM es
      |), tbd AS (
      |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
      |    md5(array_to_string(sig[b*4+1:b*4+4], '|')))) AS band FROM tsg
      |), emn AS (
      |  SELECT band, min(doc_id) AS eval_id FROM ebd GROUP BY band
      |), tpair AS (
      |  SELECT DISTINCT tb.doc_id, m.eval_id
      |  FROM tbd tb JOIN emn m ON tb.band = m.band
      |), fnear AS (
      |  SELECT p.doc_id AS id, p.eval_id,
      |         len(list_filter(range(1, 17), i -> t.sig[i] = e.sig[i])) / 16.0
      |           AS est_jaccard
      |  FROM tpair p
      |  JOIN tsg t ON t.doc_id = p.doc_id
      |  JOIN es e ON e.doc_id = p.eval_id
      |  WHERE len(list_filter(range(1, 17), i -> t.sig[i] = e.sig[i])) / 16.0
      |        >= 0.8
      |), fm AS (
      |  SELECT DISTINCT id, eval_id, est_jaccard
      |  FROM (SELECT * FROM fex UNION ALL SELECT * FROM fnear)
      |)""".stripMargin

  /** Exact-Jaccard verification stage over [[duckMinHashCommon]], mirroring
    * `Dedup.minHashVerifiedPairs` at threshold 0.8: canonical set-digest
    * groups give the certain-duplicate pairs (jaccard 1.0 by
    * construction); band bucket-min pairs `pr` are verified by distinct-
    * token intersection counts with the integer ppm threshold compare.
    * Defines `vp(ia, ib, jaccard)`. */
  val duckMinHashVerify: String =
    """g AS (
      |  SELECT DISTINCT doc_id, unnest(toks) AS tk FROM d
      |), sz AS (
      |  SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
      |), sd AS (
      |  SELECT doc_id,
      |         md5(array_to_string(list_sort(list_distinct(toks)), chr(1)))
      |           AS sdig
      |  FROM d
      |), sdm AS (
      |  SELECT sdig, min(doc_id) AS dmin FROM sd GROUP BY sdig
      |), sde AS (
      |  SELECT m.dmin AS ia, s.doc_id AS ib
      |  FROM sd s JOIN sdm m ON s.sdig = m.sdig AND s.doc_id > m.dmin
      |), itr AS (
      |  SELECT pr.ia, pr.ib, count(*) AS i
      |  FROM pr
      |  JOIN g a ON a.doc_id = pr.ia
      |  JOIN g b ON b.doc_id = pr.ib AND b.tk = a.tk
      |  GROUP BY pr.ia, pr.ib
      |), vp AS (
      |  SELECT itr.ia, itr.ib,
      |         CAST(itr.i AS DOUBLE) / (sa.n + sb.n - itr.i) AS jaccard
      |  FROM itr
      |  JOIN sz sa ON sa.doc_id = itr.ia
      |  JOIN sz sb ON sb.doc_id = itr.ib
      |  WHERE itr.i * 1000000 >= 800000 * (sa.n + sb.n - itr.i)
      |  UNION
      |  SELECT ia, ib, CAST(1.0 AS DOUBLE) AS jaccard FROM sde
      |)""".stripMargin

  /** Render a Java-regex char-class body (literal Unicode chars) as its
    * RE2 equivalent for DuckDB: non-ASCII code points AND ASCII control
    * characters become `\x{...}` (a raw NUL/BEL in a SQL literal is
    * invalid or invisible), printable ASCII (incl. the range dash)
    * passes through. */
  def duckCharClass(ranges: String): String =
    ranges.map { c =>
      if (c >= 0x20 && c < 0x7f) c.toString else f"\\x{${c.toInt}%04X}"
    }.mkString

  /** Marker-score column names for the langId oracles, in LangMarkers
    * order. */
  val duckLangScoreNames: Seq[String] =
    TextAnalysis.LangMarkers.map(l => s"score_${l._1}")

  /** Shared language-ID CTE chain mirroring `TextAnalysis.langId`: the
    * 12-language marker argmax (list-order tie break) with the
    * script-coverage fallback tier (20% integer compare, ranges rendered
    * `\x{…}` for RE2). Defines `lp(doc_id, score_<lang>…, lang_pred)`. */
  val duckLangPred: String = {
    def score(words: Seq[String]): String =
      s"CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains([${words.map(w => s"'$w'").mkString(", ")}], t))) AS INT)"
    val scoreCols = TextAnalysis.LangMarkers
      .map { case (l, ws) => s"${score(ws)} AS score_$l" }
      .mkString(",\n       ")
    val markerCases = TextAnalysis.LangMarkers
      .map { case (l, _) => s"WHEN best > 0 AND score_$l = best THEN '$l'" }
      .mkString("\n    ")
    val scriptCases = TextAnalysis.ScriptLangs
      .map { case (l, r) =>
        s"WHEN nc > 0 AND 5 * (nc - length(regexp_replace(text, " +
          s"'[${duckCharClass(r)}]', '', 'g'))) >= nc THEN '$l'"
      }
      .mkString("\n    ")
    s"""lsc AS (
       |  SELECT doc_id, text, length(text) AS nc,
       |       $scoreCols
       |  FROM documents
       |), lb AS (
       |  SELECT *, greatest(${duckLangScoreNames.mkString(", ")}) AS best FROM lsc
       |), lp AS (
       |  SELECT doc_id, ${duckLangScoreNames.mkString(", ")},
       |  CASE
       |    $markerCases
       |    $scriptCases
       |    ELSE 'unknown'
       |  END AS lang_pred
       |  FROM lb
       |)""".stripMargin
  }

  def duckBucketFor(planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex
      .map { case (p, i) =>
        s"(CASE WHEN ${duckPlaneDot(p)} > 0 THEN ${1 << i} ELSE 0 END)"
      }
      .mkString(" + ")

  val duckBucket: String = duckBucketFor(AnnPlanes)

  /** Fixed BPE merge table for q_bpe_apply: rank-ordered (left, right)
    * rules inlined as literals into BOTH the Spark plan and the oracle's
    * recursive CTE, so min-rank merge application is SQL-expressible
    * (training is ALSO fully oracled via [[duckBpeTrainCte]] — the round
    * argmax has no SQL form). Hand-chosen common-English pairs so the
    * rules actually fire on the fixture corpus, including one cascading
    * chain (t,h) -> (th,e) and the end-of-word rule (e,</w>). */
  val BpeFixedMerges: Seq[(Int, String, String)] = Seq(
    (0, "t", "h"),
    (1, "th", "e"),
    (2, "i", "n"),
    (3, "a", "n"),
    (4, "o", "n"),
    (5, "e", "r"),
    (6, "an", "d"),
    (7, "e", "</w>")
  )

  /** DuckDB oracle replaying TextAnalysis.bpeTokenCounts under the FIXED
    * [[BpeFixedMerges]] table. Encoding state per distinct word is the
    * symbol sequence rendered as a string of chr(2)<sym>chr(3) cells, so
    * one application of rule (a, b) — merge ALL occurrences left-to-right,
    * exactly bpeEncodeWord's scan — is a single non-overlapping
    * `replace(s, cell(a)||cell(b), cell(a||b))`; the recursive CTE
    * re-applies the LOWEST-rank rule still present until none matches
    * (each chain's fixpoint row is the unique one where no rule applies).
    * Piece count = number of chr(2) cell openers. */
  def duckBpeApplyCte: String = {
    val values = BpeFixedMerges
      .map { case (r, a, b) => s"($r, '$a', '$b')" }
      .mkString(", ")
    duckBpeApplyFrom(s"merges(rank, l, r) AS (\n  VALUES $values\n)")
  }

  /** BPE TRAINING rounds unrolled as chained CTEs — `bpeMerges` runs a
    * FIXED number of rounds, so unlike iterative-until-convergence loops
    * the whole training IS SQL-expressible: per round, adjacent symbol
    * pairs of the cell-string dictionary (weighted by word frequency) are
    * counted, the (count DESC, pair ASC) argmax picked, and one
    * non-overlapping left-to-right `replace` applies the merge — exactly
    * the operator's greedy fold. Defines `tr_occ`/`enc0..encN` and
    * `best0..bestN-1`; compose with [[duckBpeTrainCte]] (the merge
    * table itself) or a derived `merges` CTE feeding
    * [[duckBpeApplyFrom]] (train->apply end-to-end). */
  /** Initial sentinel-cell encoding of a dictionary word for the BPE
    * oracles: chars for classic BPE, 2-char lowercase hex UTF-8 bytes for
    * byte-level — mirroring bpeMerges/bbpeMerges' initial symbols. */
  private def duckBpeEnc0(byteLevel: Boolean): String =
    if (byteLevel)
      "regexp_replace(lower(hex(encode(w))), '(..)', chr(2) || '\\1' || chr(3), 'g')" +
        " || chr(2) || '</w>' || chr(3)"
    else
      "regexp_replace(w, '(.)', chr(2) || '\\1' || chr(3), 'g')" +
        " || chr(2) || '</w>' || chr(3)"

  /** [[TextAnalysis.BbpePretokRe]] as a DuckDB regex literal (quote
    * doubled; the \p classes and leftmost-first alternation behave
    * identically in Java regex and RE2). */
  val duckPretokRe: String = TextAnalysis.BbpePretokRe.replace("'", "''")

  /** Text→unit-array extraction for the BPE oracles: whitespace split or
    * the GPT-2-style category pre-tokenizer, mirroring the operator's
    * `splitter` parameter. */
  private def duckBpeWords(textExpr: String, pretok: Boolean): String =
    if (pretok) s"regexp_extract_all(lower(($textExpr)), '$duckPretokRe')"
    else s"string_split(lower(($textExpr)), ' ')"

  def duckBpeTrainRounds(
      numMerges: Int,
      byteLevel: Boolean = false,
      textExpr: String = "text",
      pretok: Boolean = false
  ): String = {
    def round(r: Int): String =
      s""", syms$r AS (
         |  SELECT string_split(substr(s, 2, len(s) - 2), chr(3) || chr(2)) AS y,
         |         n
         |  FROM enc$r
         |), pairs$r AS (
         |  SELECT y[CAST(i AS INT)] AS a, y[CAST(i AS INT) + 1] AS b,
         |         SUM(n) AS total
         |  FROM syms$r, unnest(range(1, len(y))) AS t(i)
         |  GROUP BY 1, 2
         |), best$r AS (
         |  SELECT a, b, total FROM pairs$r ORDER BY total DESC, a, b LIMIT 1
         |), enc${r + 1} AS (
         |  SELECT replace(e.s, chr(2) || q.a || chr(3) || chr(2) || q.b || chr(3),
         |                 chr(2) || q.a || q.b || chr(3)) AS s,
         |         e.n
         |  FROM enc$r e, best$r q
         |)""".stripMargin
    s"""tr_occ AS (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(__WORDS__) AS w
       |    FROM documents WHERE (__TEXT__) IS NOT NULL
       |  ) WHERE len(w) > 0 GROUP BY w
       |), enc0 AS (
       |  SELECT __ENC0__ AS s,
       |         n
       |  FROM tr_occ
       |)""".stripMargin
      .replace("__WORDS__", duckBpeWords(textExpr, pretok))
      .replace("__TEXT__", textExpr)
      .replace("__ENC0__", duckBpeEnc0(byteLevel)) +
      (0 until numMerges).map(round).mkString
  }

  /** Standalone DuckDB oracle for q_bpe: the trained merge table
    * (merge_rank, left, right, pair_count) from [[duckBpeTrainRounds]]. */
  def duckBpeTrainCte(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(r => s"SELECT $r AS rank, a, b, total FROM best$r")
      .mkString("\n  UNION ALL ")
    // concat, NOT an outer stripMargin: the interpolated rounds contain
    // `|| chr(2)` continuation lines whose leading pipe stripMargin would
    // eat, corrupting the SQL
    s"WITH ${duckBpeTrainRounds(numMerges)}\n" +
      s"""SELECT CAST(rank AS INT) AS merge_rank, a AS "left", b AS "right",
         |       CAST(total AS BIGINT) AS pair_count
         |FROM (
         |  __UNION__
         |)
         |ORDER BY merge_rank""".stripMargin.replace("__UNION__", union)
  }

  /** End-to-end train->apply oracle: [[duckBpeTrainRounds]] derives the
    * merge table, then the [[duckBpeApplyFrom]] min-rank replay encodes
    * the corpus under it — the composition that was previously only
    * ScalaTest-gated. */
  def duckBpeTrainApplyCte(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(r => s"SELECT $r AS rank, a AS l, b AS r FROM best$r")
      .mkString("\n  UNION ALL ")
    // concat, NOT stripMargin over the interpolated rounds (see
    // duckBpeTrainCte note)
    duckBpeApplyFrom(
      duckBpeTrainRounds(numMerges) + s", merges AS (\n  $union\n)"
    )
  }

  /** Shared min-rank BPE ENCODE replay (see [[duckBpeApplyCte]] doc):
    * `mergesCte` must define `merges(rank, l, r)`. `byteLevel`/`textExpr`
    * select the bbpe alphabet and an alternate document text expression
    * (parenthesized at every use — it may contain `||`). */
  private def duckBpeApplyFrom(
      mergesCte: String,
      byteLevel: Boolean = false,
      textExpr: String = "text",
      pretok: Boolean = false
  ): String = {
    // cell pattern for rule m: chr(2)||l||chr(3)||chr(2)||r||chr(3)
    def pat(m: String) =
      s"chr(2) || $m.l || chr(3) || chr(2) || $m.r || chr(3)"
    // __MERGES__ substituted AFTER stripMargin: an interpolated merges
    // CTE can contain `|| chr(2)` continuation lines whose leading pipe
    // stripMargin would eat
    s"""WITH RECURSIVE __MERGES__, words AS (
       |  SELECT DISTINCT unnest(__WORDS__) AS w
       |  FROM documents WHERE (__TEXT__) IS NOT NULL
       |), ap_enc AS (
       |  SELECT w,
       |         __ENC0__ AS s
       |  FROM words WHERE len(w) > 0
       |), rec AS (
       |  SELECT w, s FROM ap_enc
       |  UNION ALL
       |  SELECT x.w,
       |         replace(x.s, ${pat("m")},
       |                 chr(2) || m.l || m.r || chr(3))
       |  FROM (
       |    SELECT w, s,
       |           (SELECT min(m2.rank) FROM merges m2
       |            WHERE contains(s, ${pat("m2")})) AS br
       |    FROM rec
       |  ) x JOIN merges m ON m.rank = x.br
       |), fix AS (
       |  SELECT x.w,
       |         CAST(len(x.s) - len(replace(x.s, chr(2), '')) AS INT)
       |           AS n_pieces
       |  FROM rec x
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM merges m2 WHERE contains(x.s, ${pat("m2")}))
       |), occ AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(__WORDS__) AS w
       |    FROM documents WHERE (__TEXT__) IS NOT NULL
       |  ) WHERE len(w) > 0 GROUP BY doc_id, w
       |), counts AS (
       |  SELECT occ.doc_id,
       |         CAST(SUM(occ.c) AS INT) AS ws_tokens,
       |         CAST(SUM(occ.c * fix.n_pieces) AS INT) AS bpe_tokens
       |  FROM occ JOIN fix ON occ.w = fix.w
       |  GROUP BY occ.doc_id
       |)
       |SELECT d.doc_id,
       |       coalesce(counts.ws_tokens, 0) AS ws_tokens,
       |       coalesce(counts.bpe_tokens, 0) AS bpe_tokens
       |FROM (SELECT doc_id FROM documents WHERE (__TEXT__) IS NOT NULL) d
       |LEFT JOIN counts ON d.doc_id = counts.doc_id
       |ORDER BY d.doc_id""".stripMargin
      .replace("__MERGES__", mergesCte)
      .replace("__WORDS__", duckBpeWords(textExpr, pretok))
      .replace("__TEXT__", textExpr)
      .replace("__ENC0__", duckBpeEnc0(byteLevel))
  }

  /** Deterministic non-ASCII injection for the byte-level BPE queries:
    * two accented words appended to every document's text, so multi-byte
    * UTF-8 code points (c3 a9, c3 bc) flow through training AND apply in
    * both engines. NULL text stays NULL (both engines: NULL || x = NULL,
    * concat of a NULL column is NULL via the CASE guard). */
  def bbpeText: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(
      col("text").isNull,
      lit(null).cast("string")
    ).otherwise(concat(col("text"), lit(" caf\u00e9 z\u00fcrich")))
  }

  /** [[bbpeText]] as a DuckDB expression (accents via chr() — no literal
    * escapes in DuckDB strings). Parenthesize at use sites. */
  val duckBbpeText: String =
    "text || ' caf' || chr(233) || ' z' || chr(252) || 'rich'"

  /** Fixed byte-level merge table for q_bbpe_apply: hex-pair rules chosen
    * to fire on the fixture corpus, including a depth-3 cascade
    * (74,68)->(7468,65)->(746865,</w>) = "the</w>", an end-of-word rule,
    * and the multi-byte-code-point pair (c3,a9) = 'é' plus its word
    * cascade (63,61)->(6361,66) = "caf" — non-ASCII round-trip under
    * byte symbols is exactly what byte-level buys. */
  val BbpeFixedMerges: Seq[(Int, String, String)] = Seq(
    (0, "74", "68"),
    (1, "7468", "65"),
    (2, "c3", "a9"),
    (3, "61", "6e"),
    (4, "65", "</w>"),
    (5, "746865", "</w>"),
    (6, "63", "61"),
    (7, "6361", "66")
  )

  /** DuckDB oracle replaying TextAnalysis.bbpeTokenCounts under the FIXED
    * [[BbpeFixedMerges]] table over the accent-injected text. */
  def duckBbpeApplyCte: String = {
    val values = BbpeFixedMerges
      .map { case (r, a, b) => s"($r, '$a', '$b')" }
      .mkString(", ")
    duckBpeApplyFrom(
      s"merges(rank, l, r) AS (\n  VALUES $values\n)",
      byteLevel = true,
      textExpr = duckBbpeText
    )
  }

  /** Standalone DuckDB oracle for q_bbpe: byte-level training over the
    * accent-injected text — [[duckBpeTrainCte]]'s shape on the hex-pair
    * alphabet. */
  def duckBbpeTrainCte(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(r => s"SELECT $r AS rank, a, b, total FROM best$r")
      .mkString("\n  UNION ALL ")
    // concat, NOT an outer stripMargin (see duckBpeTrainCte note)
    s"WITH ${duckBpeTrainRounds(numMerges, byteLevel = true, textExpr = duckBbpeText)}\n" +
      s"""SELECT CAST(rank AS INT) AS merge_rank, a AS "left", b AS "right",
         |       CAST(total AS BIGINT) AS pair_count
         |FROM (
         |  __UNION__
         |)
         |ORDER BY merge_rank""".stripMargin.replace("__UNION__", union)
  }

  /** Standalone DuckDB oracle for q_bbpe_pretok: byte-level training over
    * the accent-injected text with the GPT-2-style category PRE-TOKENIZER
    * in front of merge learning ([[duckPretokRe]] — mirrors
    * `TextAnalysis.bbpeMergesPretok`). */
  def duckBbpePretokTrainCte(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(r => s"SELECT $r AS rank, a, b, total FROM best$r")
      .mkString("\n  UNION ALL ")
    // concat, NOT an outer stripMargin (see duckBpeTrainCte note)
    s"WITH ${duckBpeTrainRounds(numMerges, byteLevel = true, textExpr = duckBbpeText, pretok = true)}\n" +
      s"""SELECT CAST(rank AS INT) AS merge_rank, a AS "left", b AS "right",
         |       CAST(total AS BIGINT) AS pair_count
         |FROM (
         |  __UNION__
         |)
         |ORDER BY merge_rank""".stripMargin.replace("__UNION__", union)
  }

  /** End-to-end pretok train→apply oracle for q_bbpe_pretok_apply:
    * [[duckBbpePretokTrainCte]]'s rounds derive the merge table, then the
    * min-rank replay counts per-doc pieces over the SAME pre-token units
    * — mirrors `TextAnalysis.bbpePretokTokenCounts` under
    * `bbpeMergesPretok`. */
  def duckBbpePretokTrainApplyCte(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(r => s"SELECT $r AS rank, a AS l, b AS r FROM best$r")
      .mkString("\n  UNION ALL ")
    duckBpeApplyFrom(
      duckBpeTrainRounds(
        numMerges, byteLevel = true, textExpr = duckBbpeText, pretok = true
      ) + s", merges AS (\n  $union\n)",
      byteLevel = true,
      textExpr = duckBbpeText,
      pretok = true
    )
  }

  /** Fixed WordPiece vocabulary for q_wordpiece_apply: piece literals
    * inlined into BOTH the Spark plan and the oracle so the greedy
    * longest-match encoder is SQL-expressible independently of training.
    * Chosen to exercise every inference branch on the corpus vocabulary:
    * whole-word hits (hash, join), multi-piece greedy splits (batch,
    * filter, sort), a LONGEST-match decision (scan has both `##c` and
    * `##ca`; row has both `##o` and `##ow` — greedy must take the longer),
    * a single-char word (a), a mid-word failure AFTER consuming pieces
    * (small: `s` matches, `##m` doesn't -> whole word [UNK]), and plain
    * unknown words. */
  val WpFixedVocab: Seq[String] = Seq(
    "a", "b", "f", "hash", "join", "r", "s",
    "##a", "##at", "##c", "##ca", "##ch", "##il",
    "##n", "##o", "##ow", "##rt", "##ter", "##w"
  )

  /** WordPiece TRAINING rounds unrolled as chained CTEs — like
    * [[duckBpeTrainRounds]], `wordpieceTrain` runs a FIXED round count,
    * so the whole trainer is SQL-expressible. Per round: symbol counts
    * and adjacent-pair counts of the cell-string dictionary (weighted by
    * word frequency), the likelihood-gain argmax on the operator's exact
    * 2^-16 integer grid — `(count(ab) * N * 65536) // (count(a) *
    * count(b))` in HUGEINT, bit-identical to the Spark DECIMAL(38,0)
    * `div` — ties (count-quantized) broken (a, b) ascending, and one
    * non-overlapping left-to-right `replace` merging the winner (the
    * merged cell drops the right side's `##`). Defines `wp_occ`,
    * `wenc0..encN` and `wbest0..bestN-1`; compose with
    * [[duckWpTrainCte]] (the merge table) or [[duckWpTrainApplyCte]]
    * (train->apply end-to-end). */
  def duckWpTrainRounds(numMerges: Int): String = {
    def round(r: Int): String =
      s""", wsyms$r AS MATERIALIZED (
         |  SELECT string_split(substr(s, 2, len(s) - 2), chr(3) || chr(2)) AS y,
         |         n
         |  FROM wenc$r
         |), wsc$r AS MATERIALIZED (
         |  SELECT sy AS sym, SUM(n) AS c FROM (
         |    SELECT unnest(y) AS sy, n FROM wsyms$r
         |  ) GROUP BY 1
         |), wpairs$r AS MATERIALIZED (
         |  SELECT y[CAST(i AS INT)] AS a, y[CAST(i AS INT) + 1] AS b,
         |         SUM(n) AS total
         |  FROM wsyms$r, unnest(range(1, len(y))) AS t(i)
         |  GROUP BY 1, 2
         |), wbest$r AS MATERIALIZED (
         |  SELECT p.a, p.b, p.total,
         |         p.a || CASE WHEN p.b LIKE '##%' THEN substr(p.b, 3)
         |                     ELSE p.b END AS m,
         |         CAST((CAST(p.total AS HUGEINT)
         |                 * (SELECT SUM(c) FROM wsc$r) * 65536)
         |           // (CAST(ca.c AS HUGEINT) * CAST(cb.c AS HUGEINT))
         |           AS BIGINT) AS sq
         |  FROM wpairs$r p
         |  JOIN wsc$r ca ON ca.sym = p.a
         |  JOIN wsc$r cb ON cb.sym = p.b
         |  ORDER BY sq DESC, p.a, p.b LIMIT 1
         |), wenc${r + 1} AS MATERIALIZED (
         |  SELECT replace(e.s, chr(2) || q.a || chr(3) || chr(2) || q.b || chr(3),
         |                 chr(2) || q.m || chr(3)) AS s,
         |         e.n
         |  FROM wenc$r e, wbest$r q
         |)""".stripMargin
    s"""wp_occ AS MATERIALIZED (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents WHERE text IS NOT NULL
       |  ) WHERE len(w) > 0 GROUP BY w
       |), wenc0 AS MATERIALIZED (
       |  SELECT chr(2) || substr(w, 1, 1) || chr(3) ||
       |         CASE WHEN len(w) > 1
       |              THEN regexp_replace(substr(w, 2), '(.)',
       |                     chr(2) || '##' || '\\1' || chr(3), 'g')
       |              ELSE '' END AS s,
       |         n
       |  FROM wp_occ
       |)""".stripMargin + (0 until numMerges).map(round).mkString
  }

  /** Standalone DuckDB oracle for q_wordpiece: the trained merge table
    * (merge_rank, left, right, merged, score_q, pair_count) from
    * [[duckWpTrainRounds]]. */
  def duckWpTrainCte(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(r => s"SELECT $r AS rank, a, b, m, sq, total FROM wbest$r")
      .mkString("\n  UNION ALL ")
    // concat, NOT an outer stripMargin (see duckBpeTrainCte note)
    s"WITH ${duckWpTrainRounds(numMerges)}\n" +
      s"""SELECT CAST(rank AS INT) AS merge_rank, a AS "left", b AS "right",
         |       m AS merged, sq AS score_q, CAST(total AS BIGINT) AS pair_count
         |FROM (
         |  __UNION__
         |)
         |ORDER BY merge_rank""".stripMargin.replace("__UNION__", union)
  }

  /** Shared greedy longest-match WordPiece ENCODE replay: `vocabCte` must
    * define `wpvocab(piece)`. NO correlated subqueries — DuckDB 1.0
    * silently yields NULL for correlated scalar subqueries inside a
    * recursive member when the referenced CTE chains through further
    * CTEs (a flat VALUES vocab works; a derived one does not), so the
    * longest match at every (word, position) is precomputed as a jump
    * table by a flat join (`wnxt`: suffixes x vocab, content-matched with
    * the `##` convention encoded as an `iscont` flag) and the recursion
    * just WALKS the pointers. A position with no match collapses the
    * whole word to one `[UNK]` token, exactly the operator's semantics.
    * Per-doc counts then join the occurrence table like the BPE apply
    * oracle. */
  private def duckWpApplyFrom(vocabCte: String): String = {
    // __VOCAB__ substituted AFTER stripMargin: an interpolated vocab CTE
    // can contain `|| chr(2)` continuation lines whose leading pipe
    // stripMargin would eat (the duckBpeApplyFrom precaution)
    s"""WITH RECURSIVE __VOCAB__, wpv2 AS MATERIALIZED (
       |  SELECT CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
       |              ELSE piece END AS body,
       |         CAST(piece LIKE '##%' AS INT) AS iscont,
       |         len(CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
       |                  ELSE piece END) AS blen
       |  FROM wpvocab
       |  WHERE len(CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
       |                 ELSE piece END) >= 1
       |), wp_words AS MATERIALIZED (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents WHERE text IS NOT NULL
       |  ) WHERE len(w) > 0
       |), wsuf AS MATERIALIZED (
       |  SELECT w, CAST(i AS INT) AS pos,
       |         substr(w, CAST(i AS INT) + 1) AS rem,
       |         CAST(i > 0 AS INT) AS started
       |  FROM wp_words, unnest(range(0, len(w))) t(i)
       |), wnxt AS MATERIALIZED (
       |  SELECT s.w, s.pos, max(v.blen) AS L
       |  FROM wsuf s JOIN wpv2 v
       |    ON v.iscont = s.started AND substr(s.rem, 1, v.blen) = v.body
       |  GROUP BY s.w, s.pos
       |), wrec AS (
       |  SELECT w, 0 AS pos, 0 AS np, 0 AS unk, len(w) AS wl FROM wp_words
       |  UNION ALL
       |  SELECT x.w,
       |         CASE WHEN n.L IS NULL THEN x.wl
       |              ELSE x.pos + CAST(n.L AS INT) END,
       |         CASE WHEN n.L IS NULL THEN 1 ELSE x.np + 1 END,
       |         CASE WHEN n.L IS NULL THEN 1 ELSE x.unk END,
       |         x.wl
       |  FROM wrec x LEFT JOIN wnxt n ON n.w = x.w AND n.pos = x.pos
       |  WHERE x.pos < x.wl
       |), wfix AS (
       |  SELECT w, np, unk FROM wrec WHERE pos = wl
       |), wocc AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents WHERE text IS NOT NULL
       |  ) WHERE len(w) > 0 GROUP BY doc_id, w
       |), wcounts AS (
       |  SELECT wocc.doc_id,
       |         CAST(SUM(wocc.c) AS INT) AS ws_tokens,
       |         CAST(SUM(wocc.c * wfix.np) AS INT) AS wp_tokens,
       |         CAST(SUM(wocc.c * wfix.unk) AS INT) AS unk_words
       |  FROM wocc JOIN wfix ON wocc.w = wfix.w
       |  GROUP BY wocc.doc_id
       |)
       |SELECT d.doc_id,
       |       coalesce(wcounts.ws_tokens, 0) AS ws_tokens,
       |       coalesce(wcounts.wp_tokens, 0) AS wp_tokens,
       |       coalesce(wcounts.unk_words, 0) AS unk_words
       |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |LEFT JOIN wcounts ON d.doc_id = wcounts.doc_id
       |ORDER BY d.doc_id""".stripMargin.replace("__VOCAB__", vocabCte)
  }

  /** DuckDB oracle for q_wordpiece_apply: greedy longest-match encode
    * under the FIXED [[WpFixedVocab]] literals. */
  def duckWpApplyCte: String = {
    val values = WpFixedVocab.map(p => s"('$p')").mkString(", ")
    duckWpApplyFrom(s"wpvocab(piece) AS (\n  VALUES $values\n)")
  }

  /** End-to-end train->apply oracle for q_wordpiece_train_apply:
    * [[duckWpTrainRounds]] derives the merge table, the vocabulary is the
    * corpus alphabet (wenc0's symbols) plus the merged pieces, and the
    * [[duckWpApplyFrom]] greedy replay encodes the corpus under it. */
  def duckWpTrainApplyCte(numMerges: Int): String = {
    val mergedUnion = (0 until numMerges)
      .map(r => s"SELECT m AS piece FROM wbest$r")
      .mkString("\n  UNION ") // UNION (not ALL): the vocab is a set
    duckWpApplyFrom(
      duckWpTrainRounds(numMerges) +
        s""", wpvocab AS MATERIALIZED (
           |  SELECT DISTINCT unnest(
           |    string_split(substr(s, 2, len(s) - 2), chr(3) || chr(2))
           |  ) AS piece FROM wenc0
           |  UNION __MERGED__
           |)""".stripMargin.replace("__MERGED__", mergedUnion)
    )
  }

  /** Fixed unigram piece model for q_unigram_apply: (piece, logprob)
    * literals inlined into BOTH the Spark plan and the oracle, so Viterbi
    * segmentation is SQL-expressible (training stays rows-gated under
    * q_unigram_lm — iterative EM has no SQL form; this is the q_bpe_apply
    * policy applied to the unigram segmenter). Every logprob is a DYADIC
    * rational (multiple of 1/4), so every path sum is exact in IEEE double
    * and score comparisons are deterministic across engines. Three pieces
    * are planted at EXACT score ties with their character spellings
    * (row = r+o+w, join = jo+in, table = ta+ble) so the oracle actually
    * exercises the longer-piece tie-break, not just argmax. */
  val UnigramFixedVocab: Seq[(String, Double)] =
    "abcdefghijklmnopqrstuvwy".map(c => (c.toString, -3.0)) ++ Seq(
      ("row", -9.0), ("join", -4.5), ("jo", -2.5), ("in", -2.0),
      ("table", -6.0), ("ta", -2.5), ("ble", -3.5),
      ("hash", -6.0), ("scan", -5.5),
      ("cust", -5.0), ("omer", -5.0), ("er", -2.0),
      ("st", -2.25), ("ream", -4.25),
      ("the", -2.75), ("qu", -2.5), ("ery", -3.25),
      ("spark", -4.75), ("part", -4.5),
      ("win", -3.75), ("dow", -3.75),
      ("or", -2.0), ("der", -3.0),
      ("agg", -3.5), ("fi", -2.5), ("lter", -4.0),
      ("val", -3.75), ("ue", -2.75),
      ("key", -3.5), ("big", -3.25), ("data", -4.0),
      ("line", -4.25), ("sort", -4.25), ("fast", -4.5),
      ("slow", -4.25), ("merge", -4.75), ("group", -4.75),
      ("batch", -5.0), ("small", -5.0),
      ("col", -3.5), ("umn", -4.0),
      ("vec", -3.75), ("tor", -3.5), ("dup", -3.0)
    )

  /** DuckDB oracle replaying TextAnalysis.unigramTokenCounts under the
    * FIXED [[UnigramFixedVocab]]. The recursive CTE enumerates every
    * segmentation of every distinct word (corpus dictionary is tiny by
    * construction; score accumulates left-to-right exactly like the
    * operator's DP, and dyadic logprobs make each sum exact), then picks
    * per word the max-score segmentation with the lexicographically
    * LARGEST piece-length sequence read right-to-left (`revkey`) — which
    * is provably the segmentation the operator's DP backtrace emits: any
    * max-score segmentation has optimal prefixes at every cut, so the
    * DP's per-position longest-piece tie-break reduces to reversed-length
    * lexicographic order over max-score candidates. Unknown single chars
    * fall back to logprob -100 exactly as the operator does. */
  def duckUnigramApplyCte: String = {
    val values = UnigramFixedVocab
      .map { case (p, lp) => s"('$p', $lp)" }
      .mkString(", ")
    s"""WITH RECURSIVE vocab(piece, lp) AS (
       |  VALUES $values
       |), wl AS (
       |  SELECT w FROM (
       |    SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents WHERE text IS NOT NULL
       |  ) WHERE len(w) > 0
       |), unk AS (
       |  SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece, -100.0 AS lp
       |  FROM wl, unnest(range(1, len(w) + 1)) AS t(i)
       |  WHERE substr(w, CAST(i AS INT), 1) NOT IN (SELECT piece FROM vocab)
       |), pieces AS (
       |  SELECT piece, lp FROM vocab WHERE len(piece) <= 8
       |  UNION ALL SELECT piece, lp FROM unk
       |), segs AS (
       |  SELECT w, 0 AS pos, CAST(0.0 AS DOUBLE) AS score, 0 AS np,
       |         '' AS revkey
       |  FROM wl
       |  UNION ALL
       |  SELECT s.w, s.pos + len(v.piece), s.score + v.lp, s.np + 1,
       |         CAST(len(v.piece) AS VARCHAR) || s.revkey
       |  FROM segs s JOIN pieces v
       |    ON s.pos < len(s.w)
       |   AND substr(s.w, s.pos + 1, len(v.piece)) = v.piece
       |), dict AS (
       |  SELECT w, np FROM (
       |    SELECT w, np, row_number() OVER (
       |      PARTITION BY w ORDER BY score DESC, revkey DESC) AS rn
       |    FROM segs WHERE pos = len(w)
       |  ) WHERE rn = 1
       |), occ AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents WHERE text IS NOT NULL
       |  ) WHERE len(w) > 0 GROUP BY doc_id, w
       |), counts AS (
       |  SELECT occ.doc_id,
       |         CAST(SUM(occ.c) AS INT) AS ws_tokens,
       |         CAST(SUM(occ.c * dict.np) AS INT) AS unigram_tokens
       |  FROM occ JOIN dict ON occ.w = dict.w
       |  GROUP BY occ.doc_id
       |)
       |SELECT d.doc_id,
       |       coalesce(counts.ws_tokens, 0) AS ws_tokens,
       |       coalesce(counts.unigram_tokens, 0) AS unigram_tokens
       |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |LEFT JOIN counts ON d.doc_id = counts.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ===== Unigram-LM TRAINING oracle (q_unigram_lm / q_unigram_tokens) =====
  //
  // Full DuckDB replay of TextAnalysis.unigramLM — seeding, Viterbi hard-EM,
  // and the prune loop — made possible by the operator's dyadic 2^-25
  // log-prob quantization (see unigramLM's "Portable numerics" scaladoc):
  // counts are exact integers, quantized log-probs are exact dyadic doubles,
  // so every Viterbi path sum is EXACT and every argmax is decided by exact
  // real arithmetic that any IEEE engine reproduces bit-for-bit. The only
  // cross-engine float channel left is ln() itself (JVM vs DuckDB libm
  // disagree by 1 ulp on ~2e-5 of integer inputs — measured), which the
  // quantization grid absorbs except when ln lands within 1 ulp of a
  // half-grid boundary (~3e-7 per value; the hash gate would surface it
  // loudly, never silently).
  //
  // The E step is a faithful Viterbi DP, not a segmentation enumeration:
  // per (word, target position) a MATERIALIZED lookup row carries the
  // log-probs of the up-to-8 pieces ending there, and the recursive CTE
  // advances one position per iteration keeping the last 8 bests (b1..b8)
  // plus the backpointer list — replicating unigramSegmentWord
  // comparison-for-comparison (candidates scanned longest-piece-first,
  // strict >, so ties keep the longest piece). A second recursive CTE walks
  // the backpointers to emit the winning pieces. (Lookups must be a plain
  // JOIN: DuckDB 1.0 mis-evaluates correlated scalar subqueries on the
  // FIRST iteration of a recursive CTE.)
  //
  // The data-dependent prune loop (`while effSize > max(vocabSize,|chars|)`)
  // is unrolled as GATED rounds: each round computes its own go-condition
  // and passes counts through untouched once the loop would have exited, so
  // over-unrolling is a structural no-op (the gated word source is empty —
  // verified on a 5-prune-round synthetic corpus against a driver-side
  // replay; the driver corpus converges in 0 rounds at every sf).

  /** rint-half-even of DOUBLE expression `x` onto the 1/`scale` grid —
    * exact emulation of java.lang.Math.rint(x*scale)/scale (frac
    * comparisons are exact: y - floor(y) is Sterbenz-exact for |y| >= 1
    * and trivially exact below). */
  private def duckRint(x: String, scale: String): String = {
    val y = s"(($x) * $scale)"
    val f = s"floor($y)"
    s"(CASE WHEN $y - $f > 0.5 THEN $f + 1 " +
      s"WHEN $y - $f < 0.5 THEN $f " +
      s"WHEN CAST($f AS BIGINT) % 2 = 0 THEN $f " +
      s"ELSE $f + 1 END) / $scale"
  }

  /** M step: quantized log-probs over `inCts(p, c)` plus the -100 floor
    * for corpus chars absent from the counts. */
  private def duckUnigramModelCte(tag: String, inCts: String): String = {
    val lp = duckRint(
      s"ln(CAST(c AS DOUBLE)) - ln((SELECT CAST(sum(c) AS DOUBLE) FROM $inCts))",
      "33554432.0")
    s"""model$tag AS MATERIALIZED (
       |  SELECT p AS piece, $lp AS lp FROM $inCts
       |  UNION ALL
       |  SELECT ch AS piece, CAST(-100.0 AS DOUBLE) AS lp FROM tr_chars
       |  WHERE ch NOT IN (SELECT p FROM $inCts)
       |)""".stripMargin
  }

  /** Per-(word, position t) piece-ending lookups for the Viterbi join:
    * lK = log-prob of the length-K piece ending at t, NULL if absent. */
  private def duckUnigramLkCte(tag: String, model: String): String = {
    val cols = (1 to 8)
      .map(k => s"max(CASE WHEN k = $k THEN lp END) AS l$k")
      .mkString(", ")
    s"""lk$tag AS MATERIALIZED (
       |  SELECT w, t, $cols FROM (
       |    SELECT e.w, e.t, e.k, m.lp
       |    FROM (
       |      SELECT w, CAST(t AS BIGINT) AS t, CAST(k AS BIGINT) AS k,
       |             substr(w, CAST(t - k + 1 AS INT), CAST(k AS INT)) AS piece
       |      FROM tr_words, unnest(range(1, len(w) + 1)) AS tt(t),
       |           unnest(range(1, 9)) AS tk(k)
       |      WHERE k <= t
       |    ) e JOIN $model m ON m.piece = e.piece
       |  ) GROUP BY w, t
       |)""".stripMargin
  }

  private val duckNInf = "CAST('-infinity' AS DOUBLE)"

  /** The Viterbi forward DP: one recursion step per word position; b1..b8
    * are best(i)..best(i-7); candidate K (piece length, j = i+1-K) scanned
    * K descending in the back CASE = j ascending in the operator = longest
    * piece wins float-exact ties, matching unigramSegmentWord exactly. */
  private def duckUnigramVitCte(tag: String, gate: Option[String]): String = {
    val vals = (1 to 8)
      .map(k => s"coalesce(b$k + lk.l$k, $duckNInf) AS v$k")
      .mkString(",\n           ")
    val mx = "greatest(v1, v2, v3, v4, v5, v6, v7, v8)"
    val back = (8 to 1 by -1)
      .map(k => s"WHEN v$k = $mx THEN i + 1 - $k")
      .mkString(" ")
    val shifts = (s"$mx AS nb1" +: (1 to 7).map(k => s"b$k AS nb${k + 1}"))
      .mkString(", ")
    val inits = (2 to 8).map(k => s"$duckNInf AS b$k").mkString(", ")
    val g = gate.map(e => s" WHERE $e").getOrElse("")
    s"""vit$tag AS (
       |  SELECT w, n, CAST(0 AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS b1,
       |         $inits,
       |         CAST([] AS BIGINT[]) AS backs
       |  FROM tr_words$g
       |  UNION ALL
       |  SELECT w, n, i + 1, $shifts,
       |         list_append(backs, CAST(CASE $back END AS BIGINT))
       |  FROM (
       |    SELECT v.w, v.n, v.i, v.b1, v.b2, v.b3, v.b4, v.b5, v.b6, v.b7,
       |           v.b8, v.backs,
       |           $vals
       |    FROM vit$tag v JOIN lk$tag lk ON lk.w = v.w AND lk.t = v.i + 1
       |    WHERE v.i < len(v.w)
       |  )
       |)""".stripMargin
  }

  /** Backpointer walk: emits one row per winning piece per word. */
  private def duckUnigramBtCte(tag: String): String = {
    val bp = "backs[CAST(p AS INT)]"
    s"""bt$tag AS (
       |  SELECT w, n, CAST(len(w) AS BIGINT) AS p, backs,
       |         CAST(NULL AS VARCHAR) AS piece
       |  FROM vit$tag WHERE i = len(w)
       |  UNION ALL
       |  SELECT w, n, $bp, backs,
       |         substr(w, CAST($bp AS INT) + 1, CAST(p - $bp AS INT))
       |  FROM bt$tag WHERE p > 0
       |)""".stripMargin
  }

  /** One full E step `inCts -> outCts`; `gate` empties the word source
    * (and therefore the output) when the prune loop would have exited. */
  private def duckUnigramEStep(
      tag: String,
      inCts: String,
      outCts: String,
      gate: Option[String]
  ): String =
    Seq(
      duckUnigramModelCte(tag, inCts),
      duckUnigramLkCte(tag, s"model$tag"),
      duckUnigramVitCte(tag, gate),
      duckUnigramBtCte(tag),
      s"""$outCts AS MATERIALIZED (
         |  SELECT piece AS p, CAST(sum(n) AS BIGINT) AS c FROM bt$tag
         |  WHERE piece IS NOT NULL GROUP BY piece
         |)""".stripMargin
    ).mkString(",\n")

  /** The full training chain: dictionary + substring seeding, 2 initial E
    * steps, `gatedRounds` gated prune rounds (each: prune to
    * max(120,|chars|, floor(0.75*effSize)) then 2 E steps), ending in
    * `modelF`/`fullF`. vocabSize=120, maxPieceLen=8, seeds=480 — the
    * q_unigram_lm configuration. */
  private def duckUnigramTrainChain(gatedRounds: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += s"""tr_words AS MATERIALIZED (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents WHERE text IS NOT NULL
       |  ) WHERE len(w) > 0 GROUP BY w
       |)""".stripMargin
    parts += s"""tr_chars AS MATERIALIZED (
       |  SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS ch
       |  FROM tr_words, unnest(range(1, len(w) + 1)) AS t(i)
       |)""".stripMargin
    parts += "tr_charcnt AS MATERIALIZED (SELECT count(*) AS c FROM tr_chars)"
    parts += s"""tr_sub AS MATERIALIZED (
       |  SELECT substr(w, CAST(s AS INT), CAST(l AS INT)) AS p, sum(n) AS c
       |  FROM tr_words, unnest(range(1, len(w) + 1)) AS ts(s),
       |       unnest(range(1, 9)) AS tl(l)
       |  WHERE s + l - 1 <= len(w) GROUP BY 1
       |)""".stripMargin
    parts += s"""tr_cts0 AS MATERIALIZED (
       |  SELECT p, CAST(c AS BIGINT) AS c FROM (
       |    SELECT p, c FROM tr_sub WHERE len(p) > 1 ORDER BY c DESC, p LIMIT 480
       |  )
       |  UNION ALL SELECT p, CAST(c AS BIGINT) FROM tr_sub WHERE len(p) = 1
       |)""".stripMargin
    parts += duckUnigramEStep("e1", "tr_cts0", "tr_cts1", None)
    parts += duckUnigramEStep("e2", "tr_cts1", "tr_cts2", None)
    var cur = "tr_cts2"
    (1 to gatedRounds).foreach { r =>
      val t = s"r$r"
      parts += s"""eff$t AS MATERIALIZED (
         |  SELECT count(DISTINCT p) AS e FROM (
         |    SELECT p FROM $cur UNION SELECT ch AS p FROM tr_chars
         |  )
         |)""".stripMargin
      parts += s"go$t AS MATERIALIZED (SELECT e > greatest(120, " +
        s"(SELECT c FROM tr_charcnt)) AS g FROM eff$t)"
      parts += s"""tgt$t AS MATERIALIZED (
         |  SELECT greatest(greatest(120, (SELECT c FROM tr_charcnt)),
         |                  CAST(floor(e * 0.75) AS BIGINT)) AS t FROM eff$t
         |)""".stripMargin
      // Scala keeps target - keepAlways.size - missing prunable pieces;
      // missing = |chars| - keepAlways.size, so the budget is exactly
      // target - |chars| — single chars always pass through untouched.
      parts += s"""pruned$t AS MATERIALIZED (
         |  SELECT p, c FROM $cur WHERE len(p) = 1
         |  UNION ALL
         |  SELECT p, c FROM (
         |    SELECT p, c, row_number() OVER (ORDER BY c DESC, p) AS rn
         |    FROM $cur WHERE len(p) > 1
         |  ) WHERE rn <= greatest(0, (SELECT t FROM tgt$t) - (SELECT c FROM tr_charcnt))
         |)""".stripMargin
      val gate = s"(SELECT g FROM go$t)"
      parts += duckUnigramEStep(s"${t}a", s"pruned$t", s"cts${t}a", Some(gate))
      parts += duckUnigramEStep(s"${t}b", s"cts${t}a", s"cts${t}b", Some(gate))
      parts += s"""cts$t AS MATERIALIZED (
         |  SELECT p, c FROM cts${t}b WHERE $gate
         |  UNION ALL SELECT p, c FROM $cur WHERE NOT $gate
         |)""".stripMargin
      cur = s"cts$t"
    }
    val lpq = duckRint(
      s"ln(CAST(c AS DOUBLE)) - ln((SELECT CAST(sum(c) AS DOUBLE) FROM $cur))",
      "33554432.0")
    parts += s"""modelF AS MATERIALIZED (
       |  SELECT p AS piece, $lpq AS lp FROM $cur
       |  UNION ALL
       |  SELECT ch AS piece, CAST(-100.0 AS DOUBLE) AS lp FROM tr_chars
       |  WHERE ch NOT IN (SELECT p FROM $cur)
       |)""".stripMargin
    parts += s"""fullF AS MATERIALIZED (
       |  SELECT p, c FROM $cur
       |  UNION ALL
       |  SELECT ch AS p, CAST(0 AS BIGINT) AS c FROM tr_chars
       |  WHERE ch NOT IN (SELECT p FROM $cur)
       |)""".stripMargin
    parts.mkString(",\n")
  }

  /** Standalone q_unigram_lm oracle: the trained
    * (piece, piece_count, logprob) model, logprob rint'd to 6 decimals. */
  def duckUnigramTrainCte(gatedRounds: Int = 8): String = {
    val r6 = duckRint("m.lp", "1000000.0")
    s"WITH RECURSIVE ${duckUnigramTrainChain(gatedRounds)}\n" +
      s"""SELECT f.p AS piece, f.c AS piece_count, __R6__ AS logprob
         |FROM fullF f JOIN modelF m ON m.piece = f.p
         |ORDER BY piece_count DESC, piece""".stripMargin
        .replace("__R6__", r6)
  }

  /** End-to-end q_unigram_tokens oracle: train, then segment every
    * distinct word under the ROUNDED trained model (exactly the DataFrame
    * unigramTokenCounts receives) and sum per-doc piece counts. */
  def duckUnigramTrainTokensCte(gatedRounds: Int = 8): String = {
    val r6 = duckRint("m.lp", "1000000.0")
    val applyModel =
      s"""applyModel AS MATERIALIZED (
         |  SELECT f.p AS piece, __R6__ AS lp
         |  FROM fullF f JOIN modelF m ON m.piece = f.p
         |)""".stripMargin.replace("__R6__", r6)
    s"WITH RECURSIVE ${duckUnigramTrainChain(gatedRounds)},\n" +
      applyModel + ",\n" +
      duckUnigramLkCte("Ap", "applyModel") + ",\n" +
      duckUnigramVitCte("Ap", None) + ",\n" +
      duckUnigramBtCte("Ap") + ",\n" +
      s"""np AS MATERIALIZED (SELECT w, count(piece) AS np FROM btAp GROUP BY w),
         |ap_occ AS MATERIALIZED (
         |  SELECT doc_id, w, count(*) AS c FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents WHERE text IS NOT NULL
         |  ) WHERE len(w) > 0 GROUP BY doc_id, w
         |),
         |ap_counts AS MATERIALIZED (
         |  SELECT ap_occ.doc_id,
         |         CAST(sum(ap_occ.c) AS INT) AS ws_tokens,
         |         CAST(sum(ap_occ.c * np.np) AS INT) AS unigram_tokens
         |  FROM ap_occ JOIN np ON ap_occ.w = np.w GROUP BY ap_occ.doc_id
         |)
         |SELECT d.doc_id,
         |       coalesce(ap_counts.ws_tokens, 0) AS ws_tokens,
         |       coalesce(ap_counts.unigram_tokens, 0) AS unigram_tokens
         |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
         |LEFT JOIN ap_counts ON d.doc_id = ap_counts.doc_id
         |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB CTE chain replaying Similarity.kCenterSampleScalable at a
    * fixed small configuration (k, perRound, 2 sampling rounds) — the
    * md5-deterministic coin makes the distributed oversampling exactly
    * unrollable: per round, a point joins the candidate set iff
    * ((bucket + 0.5) / 10000) * sum(mind) < perRound * mind, then min
    * distances refresh against the new batch; the finishing Gonzalez
    * greedy is unrolled k-1 argmax steps with the operator's
    * (d DESC, id ASC) tie-break. The only cross-engine float hazard is
    * sum(mind)'s addition order, which can differ by ulps — no fixture
    * point sits anywhere near a coin threshold, and the driver's hash
    * compare would surface any flip. */
  def duckKCenterScalableCte(k: Int, perRound: Double): String = {
    def bk(id: String, saltR: Int) =
      s"CAST(('0x' || substr(md5(CAST($id AS VARCHAR) || 'kc||$saltR'), 1, 15)) AS BIGINT) % 10000"
    def coin(d: String, sumT: String, saltR: Int) =
      s"((CAST(${bk(s"$d.id", saltR)} AS DOUBLE) + 0.5) / 10000.0) * $sumT.sd < $perRound * $d.mind"
    val gonzalez = (1 until k)
      .map { j =>
        val prev = if (j == 1) "cand" else s"m${j - 1}"
        val dExpr =
          if (j == 1) duckSqDist(s"$prev.v", "c0.v")
          else s"least($prev.d, ${duckSqDist(s"$prev.v", s"c${j - 1}.v")})"
        s"""m$j AS MATERIALIZED (
           |  SELECT $prev.id, $prev.v, $dExpr AS d FROM $prev, c${j - 1}
           |), c$j AS MATERIALIZED (
           |  SELECT id, v FROM m$j ORDER BY d DESC, id LIMIT 1
           |)""".stripMargin
      }
      .mkString(", ")
    val ranks = (0 until k)
      .map(j => s"SELECT CAST(id AS BIGINT) AS vec_id, CAST($j AS INT) AS center_rank FROM c$j")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v FROM embeddings
       |), seed AS MATERIALIZED (
       |  SELECT id, v FROM e ORDER BY id LIMIT 1
       |), d0 AS MATERIALIZED (
       |  SELECT e.id, e.v, ${duckSqDist("e.v", "seed.v")} AS mind FROM e, seed
       |), s0 AS MATERIALIZED (SELECT SUM(mind) AS sd FROM d0
       |), b1 AS MATERIALIZED (
       |  SELECT d.id, d.v FROM d0 d, s0, seed
       |  WHERE d.mind > 0 AND ${coin("d", "s0", 1)} AND d.id <> seed.id
       |), d1 AS MATERIALIZED (
       |  SELECT d.id, d.v,
       |         least(d.mind, coalesce(min(${duckSqDist("d.v", "b.v")}), 1e308)) AS mind
       |  FROM d0 d LEFT JOIN b1 b ON TRUE GROUP BY d.id, d.v, d.mind
       |), s1 AS MATERIALIZED (SELECT SUM(mind) AS sd FROM d1
       |), b2 AS MATERIALIZED (
       |  SELECT d.id, d.v FROM d1 d, s1, seed
       |  WHERE d.mind > 0 AND ${coin("d", "s1", 2)} AND d.id <> seed.id
       |    AND d.id NOT IN (SELECT id FROM b1)
       |), d2 AS MATERIALIZED (
       |  SELECT d.id, d.v,
       |         least(d.mind, coalesce(min(${duckSqDist("d.v", "b.v")}), 1e308)) AS mind
       |  FROM d1 d LEFT JOIN b2 b ON TRUE GROUP BY d.id, d.v, d.mind
       |), cand0 AS MATERIALIZED (
       |  SELECT id, v FROM seed
       |  UNION ALL SELECT id, v FROM b1
       |  UNION ALL SELECT id, v FROM b2
       |), nc AS MATERIALIZED (SELECT COUNT(*) AS n FROM cand0
       |), topup AS MATERIALIZED (
       |  SELECT id, v FROM (
       |    SELECT d.id, d.v, ROW_NUMBER() OVER (ORDER BY d.mind DESC, d.id) AS rn
       |    FROM d2 d
       |    WHERE d.mind > 0 AND d.id NOT IN (SELECT id FROM cand0)
       |  ) t, nc WHERE t.rn <= $k - nc.n
       |), cand AS MATERIALIZED (
       |  SELECT id, v FROM cand0 UNION ALL SELECT id, v FROM topup
       |), c0 AS MATERIALIZED (
       |  SELECT id, v FROM cand ORDER BY id LIMIT 1
       |), $gonzalez
       |$ranks
       |ORDER BY center_rank""".stripMargin
  }

}
