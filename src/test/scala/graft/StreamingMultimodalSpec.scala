package graft

import graft.operators.{Dedup, Multimodal}

/** Multimodal media-column suites: decode, resize, frame sampling and the
  * image/audio/video near-duplicate hashes fed to [[Dedup.dedupByHamming]]. */
class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media table round trip: schema, features, determinism") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val media = Multimodal.toMediaTable(docs, "doc_id", "text")
    assert(
      media.schema.fields.map(_.name).toSeq == Seq("media_id", "media", "meta")
    )
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 50)
    rows.foreach { f =>
      assert(f.brightness > 0 && f.brightness <= 1.0)
      assert(f.n_bytes > 0)
    }
    // deterministic: same input, same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.brightness).toSeq == again.map(_.brightness).toSeq)
  }

  test("resize stub shrinks payload and updates metadata") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(5)
    val media = Multimodal.toMediaTable(docs, "doc_id", "text")
    val resized = Multimodal.resize(media, 8, 8)
    resized.collect().foreach { r =>
      val meta = r.getStruct(2)
      assert(meta.getInt(1) == 8 && meta.getInt(2) == 8)
      assert(r.getAs[Array[Byte]](1).length == meta.getLong(3))
    }
  }

  /** Real PNG built in-memory: left half black, right half white — known
    * brightness (0.5) and exactly one luma edge per row. */
  private def halfWhitePng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("image dHash: stable under recompression-scale noise, dedups near-identical images") {
    import spark.implicits._
    // gradient image + a copy with one corner pixel flipped (tiny edit) +
    // a structurally different image (inverted gradient)
    def gradientPng(w: Int, h: Int, invert: Boolean, tweak: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / (w - 1)
        val g = if (invert) 255 - v else v
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      if (tweak) img.setRGB(0, 0, 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def mediaRow(id: Long, png: Array[Byte]) =
      Multimodal.MediaRow(id, png, Multimodal.MediaMeta("image/png", 36, 16, png.length.toLong))
    val media = Seq(
      mediaRow(1L, gradientPng(36, 16, invert = false, tweak = false)),
      mediaRow(2L, gradientPng(36, 16, invert = false, tweak = true)),
      mediaRow(3L, gradientPng(36, 16, invert = true, tweak = false)),
      Multimodal.MediaRow(4L, "not an image".getBytes, Multimodal.MediaMeta("image/png", 0, 0, 12L))
    ).toDF()
    val hashes = Multimodal
      .imageDHash(media)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(hashes.keySet == Set(1L, 2L, 3L), "undecodable payloads must be omitted")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a one-pixel tweak moves at most a couple of gradient-sign bits
    assert(hamming(hashes(1L), hashes(2L)) <= 3,
      s"near-identical images too far apart: ${hamming(hashes(1L), hashes(2L))}")
    // the inverted gradient flips (nearly) every gradient sign
    assert(hamming(hashes(1L), hashes(3L)) > 30,
      s"distinct images too close: ${hamming(hashes(1L), hashes(3L))}")
    // hamming dedup keeps one of {1, 2} and keeps 3
    val kept = Dedup
      .dedupByHamming(Multimodal.imageDHash(media), "media_id", "dhash", maxHamming = 3)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"expected near-dup 2 dropped: $kept")
  }

  test("real PNG decode: feature extraction reads actual pixels") {
    import spark.implicits._
    val png = halfWhitePng(16, 8)
    val media = Seq(
      Multimodal.MediaRow(
        1L, png, Multimodal.MediaMeta("image/png", 16, 8, png.length.toLong)
      )
    ).toDF()
    val f = Multimodal.extractFeatures(media).collect()(0)
    // half black / half white: mean luma = 0.5 exactly (0 and 255 average);
    // one >32/255 horizontal transition per row => 8 edges / 128 pixels
    assert(math.abs(f.brightness - 0.5) < 0.01, s"brightness ${f.brightness}")
    assert(math.abs(f.edge_density - 8.0 / 128) < 1e-12, s"edges ${f.edge_density}")
    assert(f.format == "image/png" && f.n_bytes == png.length.toLong)
  }

  test("real PNG resize: output decodes at target dimensions") {
    import spark.implicits._
    val png = halfWhitePng(16, 8)
    val media = Seq(
      Multimodal.MediaRow(
        7L, png, Multimodal.MediaMeta("image/png", 16, 8, png.length.toLong)
      )
    ).toDF()
    val r = Multimodal.resize(media, 4, 4).collect()(0)
    val bytes = r.getAs[Array[Byte]](1)
    val meta = r.getStruct(2)
    assert(meta.getString(0) == "image/png")
    assert(meta.getInt(1) == 4 && meta.getInt(2) == 4)
    assert(meta.getLong(3) == bytes.length.toLong)
    val round = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(round.getWidth == 4 && round.getHeight == 4)
    // still half dark / half bright after bilinear downscale
    val leftLuma = round.getRGB(0, 0) & 0xff
    val rightLuma = round.getRGB(3, 0) & 0xff
    assert(leftLuma < 64 && rightLuma > 191, s"left $leftLuma right $rightLuma")
  }

  /** Real 16-bit PCM WAV built in-memory: a full-scale square wave at
    * sampleRate/(2*halfPeriod) Hz — RMS exactly 1.0 (every sample is
    * ±32767/32768 ~ 1) and one zero crossing every halfPeriod samples. */
  private def squareWav(nSamples: Int, halfPeriod: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v: Short = if ((i / halfPeriod) % 2 == 0) 32767 else -32767
      pcm(2 * i) = (v & 0xff).toByte // little-endian
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong
      ),
      AudioFileFormat.Type.WAVE,
      out
    )
    out.toByteArray
  }

  test("audio fingerprint: level-invariant, dedups re-leveled copies") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // amplitude ramp (rising envelope) at two volumes + a falling ramp
    def rampWav(nSamples: Int, scale: Double, falling: Boolean): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      for (i <- 0 until nSamples) {
        val pos = if (falling) nSamples - 1 - i else i
        val amp = (scale * 30000 * (pos.toDouble / nSamples)).toInt
        val v: Short = (if (i % 2 == 0) amp else -amp).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong),
        AudioFileFormat.Type.WAVE, out
      )
      out.toByteArray
    }
    def row(id: Long, wav: Array[Byte]) =
      Multimodal.MediaRow(id, wav, Multimodal.MediaMeta("audio/wav", 0, 0, wav.length.toLong))
    val media = Seq(
      row(1L, rampWav(6500, 1.0, falling = false)),
      row(2L, rampWav(6500, 0.5, falling = false)),  // same shape, half volume
      row(3L, rampWav(6500, 1.0, falling = true)),   // reversed envelope
      row(4L, "not audio".getBytes)                  // undecodable
    ).toDF()
    val fp = Multimodal
      .audioFingerprint(media)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(fp.keySet == Set(1L, 2L, 3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // gradient signs are volume-invariant: scaled copy hashes identically
    assert(hamming(fp(1L), fp(2L)) == 0, s"${hamming(fp(1L), fp(2L))}")
    // reversed envelope flips (nearly) every gradient sign
    assert(hamming(fp(1L), fp(3L)) > 50, s"${hamming(fp(1L), fp(3L))}")
    val kept = Dedup
      .dedupByHamming(Multimodal.audioFingerprint(media), "media_id", "afp", maxHamming = 3)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"$kept")
  }

  test("real WAV decode: feature extraction reads actual samples") {
    import spark.implicits._
    val wav = squareWav(nSamples = 800, halfPeriod = 8)
    val media = Seq(
      Multimodal.MediaRow(
        2L, wav, Multimodal.MediaMeta("audio/wav", 0, 0, wav.length.toLong)
      )
    ).toDF()
    val f = Multimodal.extractFeatures(media).collect()(0)
    // full-scale square wave: RMS = 32767/32768; crossings every 8th sample
    assert(math.abs(f.brightness - 32767.0 / 32768.0) < 1e-9, s"rms ${f.brightness}")
    assert(math.abs(f.edge_density - (800 / 8 - 1) / 800.0) < 1e-9, s"zcr ${f.edge_density}")
    assert(f.format == "audio/wav" && f.n_bytes == wav.length.toLong)
  }

  /** Real MJPEG AVI built in-memory: RIFF('AVI ') containing a
    * LIST('movi') of '00dc' chunks, each a complete JDK-encoded JPEG
    * frame of the given gray level. */
  private def mjpegAvi(grays: Seq[Int]): Array[Byte] = {
    def jpegFrame(gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      val rgb = (gray << 16) | (gray << 8) | gray
      for (x <- 0 until 8; y <- 0 until 8) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    def le32(n: Int): Array[Byte] =
      Array(n, n >> 8, n >> 16, n >> 24).map(_.toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    val movi = "movi".getBytes("US-ASCII") ++
      grays.toArray.flatMap(g => chunk("00dc", jpegFrame(g)))
    val riffBody = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
    "RIFF".getBytes("US-ASCII") ++ le32(riffBody.length) ++ riffBody
  }

  test("video dHash: first-frame hash matches across re-muxes, dedups copies") {
    import spark.implicits._
    def jpegGradient(w: Int, h: Int, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / (w - 1)
        val g = if (invert) 255 - v else v
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    def le32(n: Int): Array[Byte] = Array(n, n >> 8, n >> 16, n >> 24).map(_.toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val movi = "movi".getBytes("US-ASCII") ++
        frames.toArray.flatMap(f => chunk("00dc", f))
      val riffBody = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
      "RIFF".getBytes("US-ASCII") ++ le32(riffBody.length) ++ riffBody
    }
    val first = jpegGradient(36, 16, invert = false)
    val a = avi(Seq(first))
    val aRemux = avi(Seq(first, jpegGradient(36, 16, invert = true))) // extra tail frame
    val b = avi(Seq(jpegGradient(36, 16, invert = true)))
    def row(id: Long, bytes: Array[Byte]) = Multimodal.MediaRow(
      id, bytes, Multimodal.MediaMeta("video/x-msvideo", 36, 16, bytes.length.toLong)
    )
    val media = Seq(row(1L, a), row(2L, aRemux), row(3L, b),
      row(4L, "not a riff".getBytes)).toDF()
    val got = Multimodal.videoDHash(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(got(1L), got(2L)) == 0, "same first frame must hash identically")
    assert(hamming(got(1L), got(3L)) > 30, s"${hamming(got(1L), got(3L))}")
    val kept = Dedup
      .dedupByHamming(Multimodal.videoDHash(media), "media_id", "dhash", maxHamming = 3)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"$kept")
  }

  test("video dHash multi-frame vote dedups copies with a swapped first frame") {
    import spark.implicits._
    def jpeg(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      for (y <- 0 until h; x <- 0 until w) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    def le32(n: Int): Array[Byte] = Array(n, n >> 8, n >> 16, n >> 24).map(_.toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val movi = "movi".getBytes("US-ASCII") ++
        frames.toArray.flatMap(f => chunk("00dc", f))
      val riffBody = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
      "RIFF".getBytes("US-ASCII") ++ le32(riffBody.length) ++ riffBody
    }
    // shared footage: 4 distinct content frames
    val content = Seq(
      jpeg(36, 16, (x, _) => x * 7),
      jpeg(36, 16, (x, y) => x * 5 + y * 3),
      jpeg(36, 16, (x, _) => 255 - x * 6),
      jpeg(36, 16, (_, y) => y * 15)
    )
    val titleA = jpeg(36, 16, (x, _) => x * 7)        // original opener
    val titleB = jpeg(36, 16, (x, _) => 255 - x * 7)  // REPLACED opener
    val original = avi(titleA +: content)
    val retitled = avi(titleB +: content)             // same footage, new first frame
    val different = avi(Seq(
      jpeg(36, 16, (x, y) => (x * y) % 255),
      jpeg(36, 16, (x, y) => 255 - (x + y) * 4),
      jpeg(36, 16, (_, y) => 255 - y * 14),
      jpeg(36, 16, (x, y) => (x ^ y) * 11),
      jpeg(36, 16, (x, _) => if (x % 2 == 0) 0 else 255)
    ))
    def row(id: Long, bytes: Array[Byte]) = Multimodal.MediaRow(
      id, bytes, Multimodal.MediaMeta("video/x-msvideo", 36, 16, bytes.length.toLong)
    )
    val media = Seq(row(1L, original), row(2L, retitled), row(3L, different)).toDF()
    // first-frame-only hashing misses the retitled copy...
    val firstOnly = Multimodal.videoDHash(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(firstOnly(1L), firstOnly(2L)) > 3,
      "planted case must defeat the first-frame hash")
    // ...the 5-frame vote catches it: 4 shared frames out-vote the opener
    val voted = Multimodal.videoDHash(media, maxFrames = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hamming(voted(1L), voted(2L)) <= 3,
      s"voted hashes must agree: ${hamming(voted(1L), voted(2L))} bits apart")
    assert(hamming(voted(1L), voted(3L)) > 3, "different footage must stay apart")
    val kept = Dedup
      .dedupByHamming(
        Multimodal.videoDHash(media, maxFrames = 5),
        "media_id", "dhash", maxHamming = 3
      )
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"retitled copy must dedup away: $kept")
  }

  test("real MJPEG-AVI demux: frame sampling returns decodable JPEG frames") {
    import spark.implicits._
    val avi = mjpegAvi(Seq(0, 128, 255))
    val media = Seq(
      Multimodal.MediaRow(
        7L, avi, Multimodal.MediaMeta("video/x-msvideo", 8, 8, avi.length.toLong)
      )
    ).toDF()
    val frames = Multimodal
      .sampleFrames(media, frameBytes = 9999, stride = 1)
      .orderBy("frame_index")
      .collect()
    assert(frames.length == 3)
    // each emitted frame is a real JPEG the JDK can decode back
    frames.zip(Seq(0, 128, 255)).foreach { case (row, gray) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("frame"))
      )
      assert(img != null && img.getWidth == 8 && img.getHeight == 8)
      val got = img.getRGB(4, 4) & 0xff
      assert(math.abs(got - gray) <= 8, s"gray $gray decoded as $got") // JPEG is lossy
    }
    // stride skips frames
    assert(Multimodal.sampleFrames(media, 9999, 2).count() == 2)
  }

  test("real MJPEG-AVI decode: features average actual frame brightness") {
    import spark.implicits._
    val avi = mjpegAvi(Seq(0, 255)) // black + white frames -> mean ~0.5
    val media = Seq(
      Multimodal.MediaRow(
        8L, avi, Multimodal.MediaMeta("video/x-msvideo", 8, 8, avi.length.toLong)
      )
    ).toDF()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(math.abs(f.brightness - 0.5) < 0.05, s"brightness ${f.brightness}")
    assert(f.edge_density < 0.05, "solid frames have no edges")
  }

  test("frame sampling explodes stride-selected chunks") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(3)
    val media = Multimodal.toMediaTable(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
    assert(frames.count() > 0)
    frames.collect().foreach { r =>
      assert(r.getInt(1) % 2 == 0)
      assert(r.getAs[Array[Byte]](2).length <= 16)
    }
  }

  test("supportedCodecs: the capability report matches actual decode behavior") {
    import spark.implicits._
    val report = Multimodal.supportedCodecs().map(c => c.format -> c.real).toMap
    // this JDK's expected boundary: ImageIO readers minus webp, 16-bit PCM
    // audio, MJPEG-AVI only for video
    assert(report("image/png") && report("image/jpeg") &&
      report("image/bmp") && report("image/gif"))
    assert(!report("image/webp"))
    assert(report("audio/wav") && !report("audio/mpeg"))
    assert(report("video/x-msvideo") && !report("video/mp4") &&
      !report("video/webm"))

    // image parity: every writable real=true format round-trips through
    // the PUBLIC imageDHash tier; a webp-magic payload yields nothing
    Seq("image/png" -> "png", "image/jpeg" -> "jpg",
        "image/bmp" -> "bmp", "image/gif" -> "gif").foreach {
      case (mime, fmt) =>
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 16).foreach(x => (0 until 16).foreach(y =>
          img.setRGB(x, y, (x * 16) << 16 | (y * 16) << 8)))
        val bos = new java.io.ByteArrayOutputStream()
        assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
        val media = Seq(Multimodal.MediaRow(
          1L, bos.toByteArray,
          Multimodal.MediaMeta(mime, 16, 16, bos.size.toLong))).toDF()
        assert((Multimodal.imageDHash(media).count() == 1L) == report(mime), mime)
    }
    val webp = "RIFF0000WEBPVP8 not really".getBytes("US-ASCII")
    val webpDf = Seq(Multimodal.MediaRow(
      9L, webp, Multimodal.MediaMeta("image/webp", 0, 0, webp.length.toLong))).toDF()
    assert((Multimodal.imageDHash(webpDf).count() == 1L) == report("image/webp"))

    // audio parity: the real route yields the hand-computed PCM features;
    // an mp3 payload's features equal the explicit stub route's over the
    // same bytes (fallback confirmed), per the report
    val wav = squareWav(nSamples = 800, halfPeriod = 8)
    val wavDf = Seq(Multimodal.MediaRow(
      2L, wav, Multimodal.MediaMeta("audio/wav", 0, 0, wav.length.toLong))).toDF()
    val wf = Multimodal.extractFeatures(wavDf).collect()(0)
    assert((math.abs(wf.brightness - 32767.0 / 32768.0) < 1e-9) ==
      report("audio/wav"))
    val mp3 = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00) ++
      Array.tabulate(413)(i => (i % 251).toByte)
    def feats(fmt: String) = Multimodal
      .extractFeatures(Seq(Multimodal.MediaRow(
        3L, mp3, Multimodal.MediaMeta(fmt, 0, 0, mp3.length.toLong))).toDF())
      .collect()(0)
    val viaMpeg = feats("audio/mpeg")
    val viaStub = feats("application/octet-stream")
    assert((viaMpeg.brightness == viaStub.brightness &&
      viaMpeg.edge_density == viaStub.edge_density) == !report("audio/mpeg"))

    // video parity: MJPEG-AVI hashes through the public videoDHash tier,
    // mp4/webm magic yields no row
    val avi = mjpegAvi(Seq(100))
    val aviDf = Seq(Multimodal.MediaRow(
      4L, avi, Multimodal.MediaMeta("video/x-msvideo", 0, 0, avi.length.toLong))).toDF()
    assert((Multimodal.videoDHash(aviDf).count() == 1L) == report("video/x-msvideo"))
    val mp4 = Array[Byte](0, 0, 0, 20) ++ "ftypisom".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 2, 0) ++ "isom".getBytes("US-ASCII")
    val mp4Df = Seq(Multimodal.MediaRow(
      5L, mp4, Multimodal.MediaMeta("video/mp4", 0, 0, mp4.length.toLong))).toDF()
    assert((Multimodal.videoDHash(mp4Df).count() == 0L) == !report("video/mp4"))

    // the routing column: real formats flagged true, stub routes false,
    // and a NULL format routes FALSE (not NULL — a null would vanish from
    // both sides of the real-vs-stub split)
    val nullFmtDf = Seq(Multimodal.MediaRow(
      6L, Array[Byte](1, 2, 3), Multimodal.MediaMeta(null, 0, 0, 3L))).toDF()
    val routed = Multimodal
      .withDecodePath(wavDf.unionByName(mp4Df).unionByName(nullFmtDf))
      .select("media_id", "decode_real")
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(1))
      .toMap
    assert(routed == Map(2L -> true, 5L -> false, 6L -> false))
  }
}
