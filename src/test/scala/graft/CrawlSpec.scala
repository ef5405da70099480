package graft

import graft.operators.{Dedup, TextAnalysis, Urls}
import graft.sources.{Jsonl, Warc}
import org.apache.spark.sql.functions._
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** Crawl-ingestion tier: WARC parsing, JSONL IO, URL allow/block gating,
  * n-gram count tables, and exact-verified MinHash dedup. */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-crawl").toString

  // ---------------------------------------------------------------- WARC

  private def warcRecord(
      headers: Seq[(String, String)],
      payload: Array[Byte]
  ): Array[Byte] = {
    val head =
      ("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" })
        .mkString("\r\n") + "\r\n\r\n"
    head.getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  private val htmlBody =
    "<html><body>Hello crawl — ünïcode body</body></html>".getBytes("UTF-8")
  private val httpPayload =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      "Server: test\r\n\r\n").getBytes("ISO-8859-1") ++ htmlBody
  private val infoPayload =
    "software: graft-test\r\n".getBytes("ISO-8859-1")

  private def sampleWarc: Array[Byte] =
    warcRecord(
      Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> "<urn:uuid:info-1>",
        "WARC-Date" -> "2026-08-16T00:00:00Z",
        "Content-Type" -> "application/warc-fields",
        "Content-Length" -> infoPayload.length.toString
      ),
      infoPayload
    ) ++ warcRecord(
      Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:uuid:resp-1>",
        "WARC-Target-URI" -> "https://example.com/page",
        "WARC-Date" -> "2026-08-16T00:00:01Z",
        "Content-Type" -> "application/http; msgtype=response",
        "Content-Length" -> httpPayload.length.toString
      ),
      httpPayload
    ) ++ warcRecord(
      Seq(
        "WARC-Type" -> "request",
        "WARC-Record-ID" -> "<urn:uuid:req-1>",
        "WARC-Target-URI" -> "https://example.com/page",
        "WARC-Date" -> "2026-08-16T00:00:01Z",
        "Content-Type" -> "application/http; msgtype=request",
        "Content-Length" -> "2"
      ),
      "GT".getBytes("ISO-8859-1")
    )

  private def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("warc: plain file parses records, headers, and http payloads") {
    val p = s"$tmp/plain.warc"
    Files.write(Paths.get(p), sampleWarc)
    val rows = Warc
      .readWarc(spark, p)
      .orderBy("record_index")
      .collect()
    assert(rows.length == 3)
    val info = rows(0)
    assert(info.getAs[String]("warc_type") == "warcinfo")
    assert(info.getAs[String]("record_id") == "urn:uuid:info-1") // <> stripped
    assert(info.isNullAt(info.fieldIndex("http_status")))
    assert(new String(info.getAs[Array[Byte]]("body"), "ISO-8859-1")
      .startsWith("software: graft-test"))

    val resp = rows(1)
    assert(resp.getAs[String]("warc_type") == "response")
    assert(resp.getAs[String]("target_uri") == "https://example.com/page")
    assert(resp.getAs[Int]("http_status") == 200)
    assert(resp.getAs[String]("http_content_type") == "text/html; charset=utf-8")
    assert(resp.getAs[Long]("content_length") == httpPayload.length.toLong)
    assert(new String(resp.getAs[Array[Byte]]("body"), "UTF-8") ==
      new String(htmlBody, "UTF-8"))

    val req = rows(2)
    assert(req.getAs[String]("warc_type") == "request")
    // truncated/odd http payload (no header separator): whole payload back,
    // no status — data, not an error
    assert(req.isNullAt(req.fieldIndex("http_status")))
    assert(new String(req.getAs[Array[Byte]]("body"), "ISO-8859-1") == "GT")
  }

  test("warc: per-record gzip members and whole-file gzip both parse") {
    val perRecord = gzipBytes(
      warcRecord(
        Seq(
          "WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> "<urn:uuid:info-1>",
          "Content-Type" -> "application/warc-fields",
          "Content-Length" -> infoPayload.length.toString
        ),
        infoPayload
      )
    ) ++ gzipBytes(
      warcRecord(
        Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> "<urn:uuid:resp-1>",
          "WARC-Target-URI" -> "https://example.com/page",
          "Content-Type" -> "application/http; msgtype=response",
          "Content-Length" -> httpPayload.length.toString
        ),
        httpPayload
      )
    )
    val p1 = s"$tmp/members.warc.gz"
    Files.write(Paths.get(p1), perRecord)
    val r1 = Warc.readWarc(spark, p1).orderBy("record_index").collect()
    assert(r1.length == 2)
    assert(r1(1).getAs[Int]("http_status") == 200)

    val p2 = s"$tmp/whole.warc.gz"
    Files.write(Paths.get(p2), gzipBytes(sampleWarc))
    val r2 = Warc.readWarc(spark, p2).collect()
    assert(r2.length == 3)
  }

  test("warc: leading garbage skipped; missing Content-Length aborts file remainder") {
    val broken =
      "random junk line\r\n\r\n".getBytes("ISO-8859-1") ++
        sampleWarc ++
        ("WARC/1.0\r\nWARC-Type: response\r\n\r\n").getBytes("ISO-8859-1") ++
        httpPayload
    val p = s"$tmp/broken.warc"
    Files.write(Paths.get(p), broken)
    val rows = Warc.readWarc(spark, p).collect()
    assert(rows.length == 3) // the lengthless tail record is dropped
  }

  test("warc: absurd Content-Length and corrupt gzip abandon the file, not the job") {
    val absurd =
      sampleWarc ++
        ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99999999999\r\n\r\n")
          .getBytes("ISO-8859-1")
    val p1 = s"$tmp/absurd.warc"
    Files.write(Paths.get(p1), absurd)
    assert(Warc.readWarc(spark, p1).count() == 3) // earlier records intact

    val gz = gzipBytes(sampleWarc)
    val corrupt = gz.take(gz.length - 6) ++ Array[Byte](0, 1, 2, 3, 4, 5)
    val p2 = s"$tmp/corrupt.warc.gz"
    Files.write(Paths.get(p2), corrupt)
    // records decoded before the broken trailer survive; no exception
    val n = Warc.readWarc(spark, p2).count()
    assert(n <= 3)
  }

  test("warc: warcResponsesAsHtml keeps 200 text/html and decodes utf-8") {
    val p = s"$tmp/resp.warc"
    Files.write(Paths.get(p), sampleWarc)
    val got = Warc.warcResponsesAsHtml(spark, p).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("url") == "https://example.com/page")
    assert(got(0).getAs[String]("html").contains("ünïcode body"))
    // composes with the existing extraction tier
    val text = TextAnalysis
      .extractHtmlText(Warc.warcResponsesAsHtml(spark, p), "html", outCol = "text")
      .select("text")
      .collect()(0)
      .getString(0)
    assert(text == "Hello crawl — ünïcode body")
  }

  test("warc: charset-aware decode honors header, meta sniff, BOM, and mislabels") {
    // one response record per charset scenario, driven through the public
    // warcResponsesAsHtml path
    def response(uri: String, ct: String, body: Array[Byte]): Array[Byte] = {
      val http =
        (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n").getBytes("ISO-8859-1") ++ body
      warcRecord(
        Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"<urn:uuid:$uri>",
          "WARC-Target-URI" -> uri,
          "WARC-Date" -> "2026-08-16T00:00:01Z",
          "Content-Type" -> "application/http; msgtype=response",
          "Content-Length" -> http.length.toString
        ),
        http
      )
    }
    val cases = Seq(
      // 1. header-declared windows-1252 (cp1252-only 0x92 ' and 0x96 –)
      response("https://t.test/cp1252",
        "text/html; charset=windows-1252",
        "<html>it’s café – résumé</html>".getBytes("windows-1252")),
      // 2. header-declared Shift_JIS
      response("https://t.test/sjis",
        "text/html; charset=Shift_JIS",
        "<html>こんにちは</html>".getBytes("Shift_JIS")),
      // 3. meta-tag-declared GBK, header carries no charset
      response("https://t.test/gbk", "text/html",
        "<html><head><meta charset=gbk></head>你好世界</html>"
          .getBytes("GBK")),
      // 4. meta http-equiv form, EUC-KR
      response("https://t.test/euckr", "text/html",
        ("<html><head><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=euc-kr\"></head>안녕</html>")
          .getBytes("EUC-KR")),
      // 5. WHATWG alias: declared iso-8859-1 really means cp1252 on the web
      response("https://t.test/latin1-alias",
        "text/html; charset=iso-8859-1",
        "<html>smart ‘quotes’</html>".getBytes("windows-1252")),
      // 6. MISLABEL: declared latin-1 but the body is valid UTF-8 —
      //    the valid-UTF-8 guard must pick UTF-8, not mojibake it
      response("https://t.test/mislabel",
        "text/html; charset=iso-8859-1",
        "<html>naïve résumé — utf8</html>".getBytes("UTF-8")),
      // 7. UTF-8 BOM beats a WRONG header declaration, and is stripped
      response("https://t.test/bom",
        "text/html; charset=shift_jis",
        Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
          "<html>böm wins</html>".getBytes("UTF-8")),
      // 8. unknown declared charset falls through to UTF-8-replace
      response("https://t.test/unknown",
        "text/html; charset=x-no-such-charset",
        "<html>plain ascii</html>".getBytes("UTF-8")),
      // 9. UTF-32LE BOM (FF FE 00 00) must NOT be misread as the UTF-16LE
      //    mark it starts with — that read is NUL-interleaved mojibake
      response("https://t.test/utf32le", "text/html",
        Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 0) ++
          "<html>u32le ré</html>".getBytes("UTF-32LE")),
      // 10. UTF-32BE BOM
      response("https://t.test/utf32be", "text/html",
        Array[Byte](0, 0, 0xFE.toByte, 0xFF.toByte) ++
          "<html>u32be ré</html>".getBytes("UTF-32BE"))
    )
    val p = s"$tmp/charsets.warc"
    Files.write(Paths.get(p), cases.reduce(_ ++ _))
    val got = Warc
      .warcResponsesAsHtml(spark, p)
      .collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("html"))
      .toMap
    assert(got.size == 10)
    assert(got("https://t.test/cp1252") ==
      "<html>it’s café – résumé</html>")
    assert(got("https://t.test/sjis") ==
      "<html>こんにちは</html>")
    assert(got("https://t.test/gbk").contains("你好世界"))
    assert(got("https://t.test/euckr").contains("안녕"))
    assert(got("https://t.test/latin1-alias") ==
      "<html>smart ‘quotes’</html>")
    assert(got("https://t.test/mislabel") ==
      "<html>naïve résumé — utf8</html>")
    assert(got("https://t.test/bom") == "<html>böm wins</html>")
    assert(!got("https://t.test/bom").contains("\uFEFF"))
    assert(got("https://t.test/unknown") == "<html>plain ascii</html>")
    assert(got("https://t.test/utf32le") == "<html>u32le ré</html>")
    assert(got("https://t.test/utf32be") == "<html>u32be ré</html>")
  }

  test("warc: streaming reader equals the batch reader over the same files") {
    val dir = s"$tmp/stream_in"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/a.warc"), sampleWarc)
    Files.write(Paths.get(s"$dir/b.warc.gz"), gzipBytes(sampleWarc))
    val q = Warc
      .readWarcStream(spark, dir)
      .drop("body") // memory sink rows compare on the scalar fields
      .writeStream
      .format("memory")
      .queryName("warc_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("warc_stream")
    val batch = Warc.readWarc(spark, s"$dir/*").drop("body")
    checkAnswer(
      streamed.orderBy("path", "record_index"),
      batch.orderBy("path", "record_index")
    )
  }

  test("cdxj: capture index parses keys and json fields, tolerates junk") {
    val p = s"$tmp/index.cdxj"
    Files.writeString(
      Paths.get(p),
      """com,example)/page 20260816000001 {"url": "https://example.com/page", "status": "200", "mime": "text/html", "digest": "AAAA", "filename": "seg-0.warc.gz", "offset": "123", "length": "456"}
        |com,example)/other 20260816000002 {"url": "https://example.com/other", "status": "404", "mime": "text/html", "digest": "BBBB", "filename": "seg-0.warc.gz", "offset": "999", "length": "10"}
        |this line is not cdxj
        |""".stripMargin
    )
    val rows =
      Warc.readCdxj(spark, p).orderBy(col("timestamp").asc_nulls_last).collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("urlkey") == "com,example)/page")
    assert(rows(0).getAs[String]("timestamp") == "20260816000001")
    assert(rows(0).getAs[String]("url") == "https://example.com/page")
    assert(rows(0).getAs[String]("offset") == "123")
    assert(rows(1).getAs[String]("status") == "404")
    val junk = rows(2)
    assert(junk.isNullAt(junk.fieldIndex("urlkey")))
    assert(junk.isNullAt(junk.fieldIndex("url")))
    // the planning join: index -> domain gate -> fetch list
    val fetch = graft.operators.Urls
      .filterByDomains(
        Warc.readCdxj(spark, p).filter(col("status") === "200"),
        "url",
        allow = Seq("example.com")
      )
      .select("filename", "offset", "length")
      .collect()
    assert(fetch.length == 1 && fetch(0).getString(0) == "seg-0.warc.gz")
  }

  test("warc: CDXJ-offset range fetch equals the full scan for the fetched members") {
    // a per-record-member gzip WARC plus its member (offset, length) index
    // — the Common Crawl layout where the CDXJ locates each record's gzip
    // member by byte range
    val members = (0 until 5).map { i =>
      val body =
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          s"<html><body>doc $i content ${"x" * (100 + i)}</body></html>")
          .getBytes("ISO-8859-1")
      gzipBytes(
        warcRecord(
          Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:uuid:resp-$i>",
            "WARC-Target-URI" -> s"https://example.com/p$i",
            "Content-Type" -> "application/http; msgtype=response",
            "Content-Length" ->
              ((s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
                s"<html><body>doc $i content ${"x" * (100 + i)}</body></html>")
                .length).toString
          ),
          body
        )
      )
    }
    val dir = s"$tmp/segments"
    Files.createDirectories(Paths.get(dir))
    val p = s"$dir/seg-fetch.warc.gz"
    Files.write(Paths.get(p), members.flatten.toArray)
    val offsets = members.scanLeft(0L)((acc, m) => acc + m.length).init
    val index = members.indices
      .map(i => (p, offsets(i), members(i).length.toLong))
      .toDF("filename", "offset", "length")

    // fetch a gated subset (records 1 and 3) by byte range
    val gated = index.filter(col("offset").isin(offsets(1), offsets(3)))
    val fetched = Warc
      .fetchWarcRecords(gated, warcRoot = "")
      .orderBy("target_uri")
      .collect()
    assert(fetched.length == 2)
    assert(fetched.map(_.getAs[String]("target_uri")).toSeq ==
      Seq("https://example.com/p1", "https://example.com/p3"))
    assert(fetched.forall(_.getAs[Int]("http_status") == 200))
    // parity with the full scan on every field except record_index (which
    // is per-fetched-range by contract)
    def comparable(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("body_str", decode(col("body"), "ISO-8859-1"))
        .drop("body", "record_index", "path")
        .orderBy("target_uri")
    val full = Warc
      .readWarc(spark, p)
      .filter(col("target_uri").isin(
        "https://example.com/p1", "https://example.com/p3"))
    checkAnswer(comparable(Warc.fetchWarcRecords(gated, warcRoot = "")), comparable(full))

    // single-range convenience: one member, one record
    val one = Warc
      .readWarcRecords(spark, p, offsets(2), members(2).length.toLong)
      .collect()
    assert(one.length == 1)
    assert(one(0).getAs[String]("target_uri") == "https://example.com/p2")

    // relative filenames resolve against warcRoot
    val rel = Seq(("seg-fetch.warc.gz", offsets(4), members(4).length.toLong))
      .toDF("filename", "offset", "length")
    val viaRoot = Warc.fetchWarcRecords(rel, warcRoot = dir).collect()
    assert(viaRoot.length == 1)
    assert(viaRoot(0).getAs[String]("target_uri") == "https://example.com/p4")

    // stale index entries (absurd length, bad offset, missing segment) are
    // skipped, never failures
    val stale = Seq(
      (p, offsets(0), members(0).length.toLong), // good
      (p, 7L, 11L),                              // mid-member garbage range
      (p, offsets(1), -5L),                      // non-positive length
      (s"$dir/gone.warc.gz", 0L, 100L)           // missing file
    ).toDF("filename", "offset", "length")
    val tolerant = Warc.fetchWarcRecords(stale, warcRoot = "").collect()
    assert(tolerant.length == 1)
    assert(tolerant(0).getAs[String]("target_uri") == "https://example.com/p0")
  }

  test("warc: reader schema is pinned to the WarcRecord contract") {
    // the streaming rewrite must not drift the row schema: every consumer
    // (and the fetch-path parity tests) keys on these exact names/types
    val p = s"$tmp/schema.warc"
    Files.write(Paths.get(p), sampleWarc)
    val expected = Seq(
      "path" -> "StringType",
      "record_index" -> "IntegerType",
      "warc_type" -> "StringType",
      "record_id" -> "StringType",
      "target_uri" -> "StringType",
      "warc_date" -> "StringType",
      "content_type" -> "StringType",
      "content_length" -> "LongType",
      "http_status" -> "IntegerType",
      "http_content_type" -> "StringType",
      "warc_refers_to" -> "StringType",
      "body" -> "BinaryType"
    )
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType.toString).toSeq
    assert(shape(Warc.readWarc(spark, p)) == expected)
    assert(shape(Warc.readWarcRecords(spark, p, 0L, sampleWarc.length.toLong)) == expected)
  }

  test("warc: cdxjGatedFetch gates on status/mime/domain/digest before range-reading") {
    val urls = Seq(
      "https://good.com/p0", // kept (digest DUP, first capture)
      "https://good.com/p1", // kept
      "https://bad.com/p2",  // domain-blocked
      "https://good.com/p3", // mime-gated (image/png in the index)
      "https://good.com/p4", // digest dup of p0 (later offset) -> not fetched
      "https://good.com/p5"  // status-gated (404 in the index)
    )
    val members = urls.map { u =>
      val body =
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          s"<html><body>page $u</body></html>").getBytes("ISO-8859-1")
      gzipBytes(
        warcRecord(
          Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:uuid:$u>",
            "WARC-Target-URI" -> u,
            "Content-Type" -> "application/http; msgtype=response",
            "Content-Length" -> body.length.toString
          ),
          body
        )
      )
    }
    val dir = s"$tmp/gated"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/seg-gate.warc.gz"), members.flatten.toArray)
    val offsets = members.scanLeft(0L)((acc, m) => acc + m.length).init
    val meta = Seq( // (status, mime, digest) per capture, as the INDEX sees them
      ("200", "text/html", "DUP"),
      ("200", "text/html", "B1"),
      ("200", "text/html", "B2"),
      ("200", "image/png", "B3"),
      ("200", "text/html", "DUP"),
      ("404", "text/html", "B5")
    )
    val lines = urls.indices.map { i =>
      val (st, mime, dig) = meta(i)
      val host = urls(i).split("/")(2).split("\\.").reverse.mkString(",")
      s"""$host)/p$i 2026081600000$i {"url": "${urls(i)}", "status": "$st", "mime": "$mime", "digest": "$dig", "filename": "seg-gate.warc.gz", "offset": "${offsets(i)}", "length": "${members(i).length}"}"""
    }
    Files.writeString(Paths.get(s"$dir/index.cdxj"), lines.mkString("\n") + "\n")

    val got = Warc
      .cdxjGatedFetch(
        spark,
        s"$dir/index.cdxj",
        warcRoot = dir,
        blockDomains = Seq("bad.com")
      )
      .select("target_uri")
      .collect()
      .map(_.getString(0))
      .sorted
    assert(got.toSeq == Seq("https://good.com/p0", "https://good.com/p1"), s"${got.toSeq}")

    // digest dedup off: the DUP revisit is fetched too
    val all = Warc
      .cdxjGatedFetch(
        spark,
        s"$dir/index.cdxj",
        warcRoot = dir,
        blockDomains = Seq("bad.com"),
        dedupByDigest = false
      )
      .select("target_uri")
      .collect()
      .map(_.getString(0))
      .sorted
    assert(all.toSeq ==
      Seq("https://good.com/p0", "https://good.com/p1", "https://good.com/p4"))
  }

  test("warc: multi-megabyte file streams record-at-a-time through the FileSystem reader") {
    // ~6 MB across 60 records — well past any single-record buffer, parsed
    // through the per-file stream (the old whole-file binaryFile row would
    // have held all bytes in one task row)
    val blob = "payload-" * 12000 // ~96 KB
    val recs = (0 until 60).map { i =>
      val body = s"record $i $blob".getBytes("ISO-8859-1")
      warcRecord(
        Seq(
          "WARC-Type" -> "resource",
          "WARC-Record-ID" -> s"<urn:uuid:big-$i>",
          "WARC-Target-URI" -> s"https://example.com/big/$i",
          "Content-Type" -> "text/plain",
          "Content-Length" -> body.length.toString
        ),
        body
      )
    }
    val p = s"$tmp/big.warc.gz"
    Files.write(Paths.get(p), gzipBytes(recs.flatten.toArray))
    val got = Warc.readWarc(spark, p)
      .select("record_index", "target_uri", "content_length")
      .orderBy("record_index")
      .collect()
    assert(got.length == 60)
    assert(got(59).getAs[String]("target_uri") == "https://example.com/big/59")
    assert(got.forall(_.getAs[Long]("content_length") > 96000L))
  }

  // --------------------------------------------------------------- JSONL

  test("jsonl: gzip round trip with explicit schema") {
    val dir = s"$tmp/jsonl_rt"
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
    Jsonl.writeJsonl(df, dir) // gzip default
    assert(
      Files.list(Paths.get(dir)).toArray.exists(_.toString.endsWith(".json.gz"))
    )
    val back = Jsonl.readJsonl(spark, dir, Some("id BIGINT, text STRING"))
    checkRows(
      back.filter(col("_corrupt_record").isNull).select("id", "text"),
      df.collect().toSeq
    )
  }

  test("jsonl: corrupt lines captured and reported, schema collision rejected") {
    val p = s"$tmp/corrupt.jsonl"
    Files.writeString(
      Paths.get(p),
      """{"id": 1, "text": "ok"}
        |{definitely not json
        |{"id": 3, "text": "fine"}
        |""".stripMargin
    )
    val df = Jsonl.readJsonl(spark, p, Some("id BIGINT, text STRING"))
    val rep = Jsonl.corruptLineReport(df).collect()(0)
    assert(rep.getAs[Long]("n_lines") == 3L)
    assert(rep.getAs[Long]("n_corrupt") == 1L)
    assert(rep.getAs[Long]("corrupt_ppm") == 333333L)
    val samples = rep.getSeq[String](rep.fieldIndex("corrupt_samples"))
    assert(samples.toList == List("{definitely not json"))
    assert(df.filter(col("id") === 1L).count() == 1L)
    intercept[IllegalArgumentException](
      Jsonl.readJsonl(spark, p, Some("id BIGINT, _corrupt_record STRING"))
    )
    intercept[IllegalArgumentException](
      Jsonl.corruptLineReport(df.drop("_corrupt_record"))
    )
  }

  test("jsonl: zstd round trip, corrupt-line parity, multi-shard, mode gates") {
    val dir = s"$tmp/jsonl_zst"
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "γάμμα")).toDF("id", "text")
    Jsonl.writeJsonl(df.repartition(2), dir, compression = Some("zstd"))
    val shards = Files
      .list(Paths.get(dir))
      .toArray
      .map(_.toString)
      .filter(_.endsWith(".jsonl.zst"))
    assert(shards.length == 2, s"expected 2 shards, got ${shards.toList}")
    // the bytes really are zstd frames (magic 28 B5 2F FD)
    val magic = Files.readAllBytes(Paths.get(shards.head)).take(4)
    assert(
      magic.sameElements(Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte)),
      s"not a zstd frame: ${magic.map(b => f"${b & 0xff}%02x").mkString(" ")}")
    val back =
      Jsonl.readJsonl(spark, s"$dir/*.jsonl.zst", Some("id BIGINT, text STRING"))
    checkRows(
      back.filter(col("_corrupt_record").isNull).select("id", "text"),
      df.collect().toSeq
    )
    // mode=error refuses an existing dir; overwrite replaces it
    intercept[IllegalArgumentException](
      Jsonl.writeJsonl(df, dir, compression = Some("zstd"))
    )
    Jsonl.writeJsonl(df.coalesce(1), dir, Some("zstd"), mode = "overwrite")
    assert(
      Jsonl
        .readJsonl(spark, s"$dir/*.jsonl.zst", Some("id BIGINT, text STRING"))
        .count() == 3L)

    // corrupt-LINE capture parity with the gzip path: hand-build a shard
    // with a rotten middle line
    val corrupt = s"$tmp/jsonl_zst_corrupt"
    Files.createDirectories(Paths.get(corrupt))
    val zo = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.FileOutputStream(s"$corrupt/bad.jsonl.zst"))
    zo.write(
      "{\"id\": 1, \"text\": \"ok\"}\n{definitely not json\n{\"id\": 3, \"text\": \"fine\"}\n"
        .getBytes("UTF-8"))
    zo.close()
    val dfc = Jsonl
      .readJsonl(spark, s"$corrupt/*.zst", Some("id BIGINT, text STRING"))
    val rep = Jsonl.corruptLineReport(dfc).collect()(0)
    assert(rep.getAs[Long]("n_lines") == 3L)
    assert(rep.getAs[Long]("n_corrupt") == 1L)
    assert(
      rep.getSeq[String](rep.fieldIndex("corrupt_samples")).toList ==
        List("{definitely not json"))

    // a corrupt FRAME fails loudly with the file named (not silent loss)
    val broken = s"$tmp/jsonl_zst_frame"
    Files.createDirectories(Paths.get(broken))
    val full = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new com.github.luben.zstd.ZstdOutputStream(bos)
      z.write(("{\"id\": 1}\n" * 2000).getBytes("UTF-8"))
      z.close()
      bos.toByteArray
    }
    Files.write(
      Paths.get(s"$broken/trunc.jsonl.zst"),
      full.take(full.length / 2))
    val e = intercept[org.apache.spark.SparkException](
      Jsonl
        .readJsonl(spark, s"$broken/*.zst", Some("id BIGINT"))
        .count())
    assert(
      e.getMessage.contains("trunc.jsonl.zst") ||
        Option(e.getCause).exists(_.getMessage.contains("trunc.jsonl.zst")),
      s"frame error does not name the file: ${e.getMessage}")
  }

  test("jsonl: readJsonlFor sniffs codecs by magic across a mixed listing") {
    val dir = s"$tmp/jsonl_for"
    Files.createDirectories(Paths.get(dir))
    // three shards, three codecs — every EXTENSION LIES on purpose: the
    // reader must route by magic bytes, not names
    Files.writeString(
      Paths.get(s"$dir/a.jsonl.zst"), // plain text despite .zst name
      "{\"id\": 1, \"text\": \"plain\"}\n")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/b.jsonl")) // gzip despite bare name
    gz.write("{\"id\": 2, \"text\": \"gzipped\"}\n{not json\n".getBytes("UTF-8"))
    gz.close()
    val zo = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.FileOutputStream(s"$dir/c.jsonl.gz")) // zstd despite .gz name
    zo.write("{\"id\": 3, \"text\": \"zstded\"}\n".getBytes("UTF-8"))
    zo.close()
    val listing = graft.sources.Ingest.listFiles(spark, s"$dir/*")
    assert(listing.count() == 3)
    val got = Jsonl.readJsonlFor(listing, Some("id BIGINT, text STRING"))
    assert(got.count() == 4) // 3 good + 1 corrupt line
    assert(
      got.filter(col("_corrupt_record").isNull)
        .orderBy("id")
        .select("text")
        .collect()
        .map(_.getString(0))
        .toSeq == Seq("plain", "gzipped", "zstded"))
    assert(got.filter(col("_corrupt_record").isNotNull).count() == 1)
    // the resumable-ingest composition: pending -> read -> commit -> no
    // pending left; a NEW shard is the only pending on the next cycle
    val ledgerDir = s"$tmp/jsonl_for_ledger"
    val pending = graft.sources.Ingest.pendingFiles(spark, s"$dir/*", ledgerDir)
    assert(pending.count() == 3)
    val n = Jsonl.readJsonlFor(pending, Some("id BIGINT, text STRING")).count()
    assert(n == 4)
    graft.sources.Ingest.commitFiles(pending, ledgerDir, batchId = 1L)
    assert(graft.sources.Ingest.pendingFiles(spark, s"$dir/*", ledgerDir).count() == 0)
    Files.writeString(
      Paths.get(s"$dir/d.jsonl"),
      "{\"id\": 4, \"text\": \"late\"}\n")
    val p2 = graft.sources.Ingest.pendingFiles(spark, s"$dir/*", ledgerDir)
    assert(p2.count() == 1)
    assert(
      Jsonl
        .readJsonlFor(p2, Some("id BIGINT, text STRING"))
        .select("text")
        .collect()
        .map(_.getString(0))
        .toSeq == Seq("late"))
  }

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

  test("warc: writeWarc round-trips through readWarc, per-record gzip members") {
    val docs = (0 until 25)
      .map { i =>
        (s"https://example.com/doc/$i",
         s"body of document $i — ünïcode ok".getBytes("UTF-8"),
         "2026-08-16T00:00:00Z",
         "text/plain; charset=utf-8")
      }
      .toDF("url", "body", "fetched", "ct")
    val dir = s"$tmp/written"
    val manifest = Warc.writeWarc(
      docs.repartition(3), dir,
      uriCol = "url", bodyCol = "body",
      dateCol = Some("fetched"), contentTypeCol = Some("ct")
    )
    val files = manifest.collect()
    assert(files.length == 3)
    assert(files.map(_.getLong(1)).sum == 25L)
    assert(files.forall(_.getString(0).endsWith(".warc.gz")))

    val back = Warc.readWarc(spark, s"$dir/*.warc.gz")
    assert(back.count() == 25)
    val rows = back
      .select(
        col("target_uri"),
        decode(col("body"), "UTF-8").as("btext"),
        col("warc_type"), col("warc_date"), col("content_type")
      )
      .collect()
    assert(rows.forall(_.getString(2) == "resource"))
    assert(rows.forall(_.getString(3) == "2026-08-16T00:00:00Z"))
    assert(rows.forall(_.getString(4) == "text/plain; charset=utf-8"))
    val byUri = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    (0 until 25).foreach { i =>
      assert(byUri(s"https://example.com/doc/$i") ==
        s"body of document $i — ünïcode ok")
    }
    // per-record gzip members: a mid-file record boundary is a member
    // boundary, so the SECOND member of a multi-record file range-fetches
    val multi = files.filter(_.getLong(1) >= 2).head
    val bytes = Files.readAllBytes(Paths.get(
      new java.net.URI(multi.getString(0)).getPath))
    // find the second gzip magic (members are back-to-back)
    val second = (1 until bytes.length - 1).find(i =>
      (bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b).get
    val one = Warc
      .readWarcRecords(spark, multi.getString(0), second.toLong,
        (bytes.length - second).toLong)
      .count()
    assert(one == multi.getLong(1) - 1) // all members after the first

    // the emitted CDXJ index closes the loop: index -> gate -> range
    // fetch over our OWN output, never scanning a segment
    val idx = Warc.readCdxj(spark, s"$dir/*.cdxj")
    assert(idx.count() == 25)
    assert(idx.filter(col("urlkey").startsWith("com,example)/doc/")).count() == 25)
    assert(idx.filter(col("timestamp") === "20260816000000").count() == 25)
    // written indexes carry status "200", so the DEFAULT status gate works
    // over self-written output (no statuses = Nil escape hatch needed)
    assert(idx.filter(col("status") === "200").count() == 25)
    val fetched = Warc
      .cdxjGatedFetch(
        spark, s"$dir/*.cdxj", warcRoot = dir,
        mimePrefixes = Seq("text/plain")
      )
      .select(col("target_uri"), decode(col("body"), "UTF-8").as("btext"))
      .collect()
    assert(fetched.length == 25)
    val fetchedByUri = fetched.map(r => r.getString(0) -> r.getString(1)).toMap
    (0 until 25).foreach { i =>
      assert(fetchedByUri(s"https://example.com/doc/$i") ==
        s"body of document $i — ünïcode ok")
    }
  }

  test("ingest ledger: a re-run touches only unprocessed and touched files") {
    import graft.sources.Ingest
    val dir = s"$tmp/ledger_in"
    val ledgerDir = s"$tmp/ledger_state"
    Files.createDirectories(Paths.get(dir))
    def writeShard(name: String, stampSec: Long): Unit = {
      Files.write(Paths.get(s"$dir/$name"), sampleWarc)
      // explicit mtimes: same-millisecond writes must not alias
      Files.setLastModifiedTime(
        Paths.get(s"$dir/$name"),
        java.nio.file.attribute.FileTime.fromMillis(stampSec * 1000))
    }
    writeShard("s0.warc", 1000L)
    writeShard("s1.warc", 1000L)
    writeShard("s2.warc", 1000L)

    // run 1: everything is pending; process and commit with counts
    val pending1 = Ingest.pendingFiles(spark, s"$dir/*.warc", ledgerDir)
    assert(pending1.count() == 3)
    val recs1 = Warc.readWarcFor(pending1)
    assert(recs1.count() == 9) // 3 records per sample shard
    val counts1 = recs1.groupBy("path").count()
      .withColumnRenamed("count", "n_records")
    graft.sources.Ingest.commitFiles(pending1, ledgerDir, batchId = 1L, counts = Some(counts1))

    // run 2 with nothing new: pending is EMPTY — the kill-and-resume
    // property (a second run touches no already-committed file)
    assert(graft.sources.Ingest.pendingFiles(spark, s"$dir/*.warc", ledgerDir).count() == 0)

    // a new shard lands and an old shard is rewritten (mtime changes):
    // exactly those two re-qualify
    writeShard("s3.warc", 2000L)
    writeShard("s1.warc", 3000L)
    val pending2 = Ingest.pendingFiles(spark, s"$dir/*.warc", ledgerDir)
    val pendingNames = pending2.collect().map(_.getString(0)).sorted
    assert(pendingNames.length == 2)
    assert(pendingNames(0).endsWith("s1.warc"))
    assert(pendingNames(1).endsWith("s3.warc"))
    graft.sources.Ingest.commitFiles(pending2, ledgerDir, batchId = 2L)
    assert(graft.sources.Ingest.pendingFiles(spark, s"$dir/*.warc", ledgerDir).count() == 0)

    // the pending listing is a MATERIALIZED snapshot: a file that lands
    // between the listing and the commit is NOT swept into the commit
    // (a lazy plan would re-list at commit time and mark it committed
    // without ever processing it — the at-least-once violation)
    writeShard("s4.warc", 4000L)
    val pending3 = Ingest.pendingFiles(spark, s"$dir/*.warc", ledgerDir)
    assert(pending3.count() == 1) // s4 only
    writeShard("s5.warc", 5000L)  // lands AFTER the listing, BEFORE commit
    graft.sources.Ingest.commitFiles(pending3, ledgerDir, batchId = 3L)
    val pending4 = Ingest.pendingFiles(spark, s"$dir/*.warc", ledgerDir)
    val late = pending4.collect().map(_.getString(0))
    assert(late.length == 1 && late(0).endsWith("s5.warc"))

    // ledger audit surface: per-file n_records from run 1, -1 where the
    // caller supplied no counts, batch ids distinguish the runs
    val led = Ingest.ledger(spark, ledgerDir).collect()
    assert(led.length == 6)
    assert(led.count(_.getAs[Long]("n_records") == 3L) == 3)
    assert(led.count(_.getAs[Long]("n_records") == -1L) == 3)
    assert(led.map(_.getAs[Long]("batch_id")).toSet == Set(1L, 2L, 3L))
  }

  test("wet: writeWet round-trips through readWet and cross-reads as conversion records") {
    val docs = (0 until 12)
      .map { i =>
        (s"https://example.com/p$i",
         s"extracted text $i — ünïcode",
         "2026-08-16T00:00:00Z",
         s"urn:uuid:src-$i")
      }
      .toDF("url", "text", "d", "src_id")
    val dir = s"$tmp/wet_out"
    val manifest = Warc.writeWet(
      docs.repartition(2), dir, dateCol = Some("d"),
      refersToCol = Some("src_id"))
    assert(manifest.agg(sum("n_records")).head().getLong(0) == 12L)

    // parity: readWet returns exactly what was written, with the
    // refers-to back-pointer intact (angle brackets normalized)
    val back = Warc
      .readWet(spark, s"$dir/*.warc.gz")
      .collect()
      .map(r => r.getAs[String]("url") ->
        ((r.getAs[String]("refers_to"), r.getAs[String]("text"))))
      .toMap
    assert(back.size == 12)
    (0 until 12).foreach { i =>
      assert(back(s"https://example.com/p$i") ==
        ((s"urn:uuid:src-$i", s"extracted text $i — ünïcode")))
    }

    // cross-read: the generic reader sees well-formed conversion records
    val raw = Warc.readWarc(spark, s"$dir/*.warc.gz").collect()
    assert(raw.length == 12)
    assert(raw.forall(_.getAs[String]("warc_type") == "conversion"))
    assert(raw.forall(_.getAs[String]("content_type") == "text/plain"))
    assert(raw.forall(_.getAs[String]("warc_refers_to").startsWith("urn:uuid:src-")))

    // the sibling CDXJ closes the index->gate->fetch loop over WET output
    val fetched = Warc
      .cdxjGatedFetch(spark, s"$dir/*.cdxj", warcRoot = dir,
        mimePrefixes = Seq("text/plain"))
      .count()
    assert(fetched == 12L)
  }

  test("crawl engine end-to-end: WARC in -> curate -> WARC out with index") {
    // the whole tier composed through public APIs only: response records
    // -> html -> main-content + quality gate + verified dedup
    // (Pipelines.crawlCurate) -> blockword gate -> writeWarc with CDXJ —
    // then the OUTPUT is range-fetched through its own index and checked.
    val inDir = s"$tmp/e2e_in"
    Files.createDirectories(Paths.get(inDir))
    def page(i: Int, body: String) = {
      val html =
        (s"<html><head><title>p$i</title></head><body>" +
          "<div><a href='/'>home</a> <a href='/x'>nav</a> <a href='/y'>menu</a></div>" +
          s"<p>$body</p>" +
          "<div><a href='/a'>f1</a> <a href='/b'>f2</a> <a href='/c'>f3</a></div>" +
          "</body></html>").getBytes("UTF-8")
      val payload =
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n").getBytes("ISO-8859-1") ++ html
      warcRecord(
        Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"<urn:uuid:e2e-$i>",
          "WARC-Target-URI" -> s"https://site$i.test/page",
          "WARC-Date" -> "2026-08-16T00:00:00Z",
          "Content-Type" -> "application/http; msgtype=response",
          "Content-Length" -> payload.length.toString
        ),
        payload
      )
    }
    val prose =
      "the quick brown fox jumps over the lazy dog and the story continues " +
        "with many more ordinary words in a long flowing sentence about the " +
        "weather, the harvest, and the quiet village by the river."
    val records =
      page(0, prose) ++
        page(1, prose) ++ // exact near-dup of 0: must be dropped
        page(2, "a completely different article is here, discussing the " +
          "construction of the new bridge across the valley and the years " +
          "of planning that the council spent on it before the final vote.") ++
        page(3, "forbidden gadget reviews: the gadget is the best gadget " +
          "of all the gadgets that the gadget factory ever made for the " +
          "gadget lovers of this gadget town in gadget county today.") ++
        // page 4 was double-encoded UPSTREAM of the crawl (the page itself
        // serves literal Ã©-class bytes): the pipeline's fixEncoding stage
        // must repair it before quality/dedup
        page(4, new String(
          ("the café in québec served the naïve visitors a détour of " +
            "pastries and the story of the river and the long—remembered " +
            "winters that the town still talks about today.")
            .getBytes("UTF-8"), "windows-1252"))
    Files.write(Paths.get(s"$inDir/seg-e2e.warc.gz"), gzipBytes(records))

    val html = Warc.warcResponsesAsHtml(spark, s"$inDir/*.warc.gz")
    assert(html.count() == 5)
    val curated = graft.operators.Pipelines
      .crawlCurate(html, idCol = "url", htmlCol = "html",
        minQuality = 0.3, dedupThreshold = 0.8)
    val gated = TextAnalysis.filterBlockwords(curated, "text", Seq("gadget"))
    val out = gated.select(
      col("url"),
      encode(col("text"), "UTF-8").as("body"),
      date_format(col("fetch_time"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("d")
    )
    val outDir = s"$tmp/e2e_out"
    val manifest = Warc.writeWarc(
      out.repartition(2), outDir,
      uriCol = "url", bodyCol = "body", dateCol = Some("d"),
      contentTypeCol = None
    )
    // survivors: page0 (page1 is its verified dup), page2, and the
    // repaired page4; page3 dies at the blockword gate
    assert(manifest.agg(sum("n_records")).head().getLong(0) == 3L)
    // default status gate passes over self-written indexes (status "200");
    // mime stays ungated — this write used the octet-stream default
    val fetched = Warc
      .cdxjGatedFetch(spark, s"$outDir/*.cdxj", warcRoot = outDir,
        mimePrefixes = Nil)
      .select(col("target_uri"), decode(col("body"), "UTF-8").as("text"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(fetched.keySet == Set(
      "https://site0.test/page", "https://site2.test/page",
      "https://site4.test/page"))
    // the curated text is the MAIN CONTENT (chrome died by link density)
    assert(fetched("https://site0.test/page").contains("quick brown fox"))
    assert(!fetched("https://site0.test/page").contains("home"))
    assert(fetched("https://site2.test/page").contains("bridge across the valley"))
    // the mojibake'd page came out REPAIRED end-to-end
    assert(fetched("https://site4.test/page").contains("café in québec"))
    assert(!fetched("https://site4.test/page").contains("Ã"))
  }

  test("surtKeyScala mirrors the surtKey column over the synthetic URL corpus") {
    val urls = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .withColumn("url", graft.QueryShared.syntheticUrl)
      .select("url")
    val both = urls
      .withColumn("colkey", graft.operators.Urls.surtKey(col("url")))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
    assert(both.nonEmpty)
    both.foreach { case (u, colKey) =>
      assert(graft.operators.Urls.surtKeyScala(u) == colKey, s"diverged on $u")
    }
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
    // Scala mirror must split with limit -1 like the Spark column does —
    // limit 0 would drop the trailing empty label and silently break the
    // writeWarc-CDXJ ⇄ withSurtKey join-key parity on 'example.com.' hosts
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
    urls.foreach { u =>
      assert(graft.operators.Urls.surtKeyScala(u) == colKeys(u),
        s"scala mirror diverged on $u")
    }
  }

  test("warc: unreadable inputs are counted, not silently dropped") {
    // a capture pointing at a missing segment: fetch yields zero rows AND
    // bumps the skipped_captures accumulator (stale-index observability)
    val capAcc = Warc.skippedCaptures(spark)
    val before = capAcc.value
    val stale = Seq((s"$tmp/never-written.warc.gz", 0L, 128L))
      .toDF("filename", "offset", "length")
    assert(Warc.fetchWarcRecords(stale, warcRoot = "").count() == 0)
    assert(capAcc.value == before + 1)

    // a missing FILE skips with a count through the file-open path
    val fileAcc = Warc.skippedFiles(spark)
    val fBefore = fileAcc.value
    val it = Warc.openAndParse(
      s"$tmp/also-never-written.warc", Warc.hadoopConfEntries(spark),
      parseHttp = true, skipped = fileAcc)
    assert(it.isEmpty)
    assert(fileAcc.value == fBefore + 1)

    // the pipeline-facing view: skipReport reflects both counters without
    // the caller knowing any accumulator names (and logSkipReport doesn't
    // throw — the crawlCurate hook)
    val report = Warc.skipReport(spark).collect()
    assert(report.length == 1)
    assert(report(0).getAs[Long]("skipped_files") == fBefore + 1)
    assert(report(0).getAs[Long]("skipped_captures") == before + 1)
    Warc.logSkipReport(spark, "unit")
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
    val kept = TextAnalysis
      .filterBlockwords(docs, "text", words)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 4L, 5L))
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
    val kept = TextAnalysis
      .filterBlockPhrases(docs, "text", phrases)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(3L, 5L, 6L))
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
    val verified = Dedup
      .minHashVerifiedPairs(docs, "doc_id", "text", threshold = 0.5)
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
    val pairs = Dedup
      .minHashVerifiedPairs(docs, "doc_id", "text", threshold = 0.8, shingleK = 3)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sorted
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
