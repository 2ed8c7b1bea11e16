package graft

import graft.operators.Multimodal

/** Real BMP decode path: encode/decode round-trip (including the 4-byte
  * row padding and bottom-up storage order), malformed-payload rejection,
  * closed-form channel stats, and the kind dispatch in extractFeatures.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("BMP round-trip preserves every pixel (padded width, bottom-up rows)") {
    // width 3 -> rowSize 12 (3 pad bytes per row): exercises padding
    val enc = Multimodal.encodeBmp(3, 2, (x, y) => (x * 10 + y, 100 + x, 200 + y))
    assert(enc.length === 54 + 12 * 2)
    assert(enc(0) === 'B'.toByte && enc(1) === 'M'.toByte)
    val img = Multimodal.decodeBmp(enc)
    assert(img.width === 3 && img.height === 2)
    for (x <- 0 until 3; y <- 0 until 2) {
      assert(img.channel(x, y, 0) === x * 10 + y, s"R at ($x,$y)")
      assert(img.channel(x, y, 1) === 100 + x, s"G at ($x,$y)")
      assert(img.channel(x, y, 2) === 200 + y, s"B at ($x,$y)")
    }
  }

  test("decode rejects malformed payloads") {
    val ok = Multimodal.encodeBmp(4, 4, (_, _) => (1, 2, 3))
    // wrong magic
    val badMagic = ok.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.decodeBmp(badMagic))
    // truncated pixel data
    intercept[IllegalArgumentException](Multimodal.decodeBmp(ok.take(60)))
    // truncated header
    intercept[IllegalArgumentException](Multimodal.decodeBmp(ok.take(10)))
    // unsupported bpp (offset 28 = bpp in BITMAPINFOHEADER)
    val bad8 = ok.clone(); bad8(28) = 8.toByte
    intercept[IllegalArgumentException](Multimodal.decodeBmp(bad8))
  }

  test("synthetic BMP stats match their closed forms (the oracle's algebra)") {
    for (id <- Seq(0L, 1L, 15L, 16L, 199L, 200L, 12345L)) {
      val img = Multimodal.decodeBmp(Multimodal.syntheticBmp(id))
      val w = 1 + (id % 16).toInt
      val h = 1 + (id % 8).toInt
      assert(img.width === w && img.height === h, s"dims for id $id")
      var sr = 0L
      for (x <- 0 until w; y <- 0 until h) {
        assert(img.channel(x, y, 1) === ((id * 3 + 7) % 256).toInt)
        assert(img.channel(x, y, 2) === ((id * 5 + 11) % 256).toInt)
        sr += img.channel(x, y, 0)
      }
      assert(sr.toDouble / (w * h) === (id % 200) + (w - 1) / 2.0, s"mean_r for id $id")
    }
  }

  test("WAV round-trip preserves samples; chunk walker skips unknown chunks") {
    val samples = Array.tabulate(100)(i => (i * 37 - 500).toShort)
    val enc = Multimodal.encodeWav(16000, samples)
    assert(enc.length === 44 + 200)
    val a = Multimodal.decodeWav(enc)
    assert(a.sampleRate === 16000 && a.channels === 1)
    assert(a.samples.toSeq === samples.toSeq)
    // splice an unknown (odd-sized, word-padded) chunk between fmt and data:
    // a real reader must skip it and still find the samples
    val head = enc.take(36) // RIFF..WAVE + fmt chunk
    val junk = Array[Byte]('j', 'u', 'n', 'k', 5, 0, 0, 0, 1, 2, 3, 4, 5, 0)
    val spliced = head ++ junk ++ enc.drop(36)
    val b = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.position(4); b.putInt(spliced.length - 8) // fix riff size
    val a2 = Multimodal.decodeWav(spliced)
    assert(a2.samples.toSeq === samples.toSeq)
  }

  test("WAV decode rejects malformed payloads") {
    val ok = Multimodal.encodeWav(8000, Array[Short](1, 2, 3, 4))
    val bad = ok.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.decodeWav(bad))
    intercept[IllegalArgumentException](Multimodal.decodeWav(ok.take(20)))
    // non-PCM format code
    val nonPcm = ok.clone(); nonPcm(20) = 3.toByte
    intercept[IllegalArgumentException](Multimodal.decodeWav(nonPcm))
  }

  test("synthetic WAV stats match their closed forms") {
    for (id <- Seq(0L, 1L, 63L, 64L, 99L, 100L, 54321L)) {
      val a = Multimodal.decodeWav(Multimodal.syntheticWav(id))
      val n = 16 + (id % 64).toInt
      val base = ((id % 100) * 10).toInt
      assert(a.samples.length === n && a.sampleRate === 8000)
      assert(a.samples.map(_.toLong).sum.toDouble / n === base + (n - 1) / 2.0)
      assert(a.samples.max === (base + n - 1).toShort)
    }
  }

  test("extractFeatures dispatches EVERY kind (video included) to a real decoder") {
    val bmp = Multimodal.syntheticBmp(42L)
    val png = Multimodal.syntheticPng(42L)
    val avi = Multimodal.syntheticAvi(42L)
    val df = Seq((42L, bmp, "bmp"), (43L, png, "png"), (44L, avi, "video"))
      .toDF("doc_id", "payload", "kind")
    val got = Multimodal.extractFeatures(df, dim = 8).collect()
      .map(f => f.doc_id -> f).toMap
    // bmp and png: real header dims (same closed forms for id 42)
    val (w, h) = (1 + (42 % 16), 1 + (42 % 8))
    assert(got(42L).width === w && got(42L).height === h)
    assert(got(43L).width === w && got(43L).height === h)
    // identical pixels -> identical channel-mean features across codecs
    assert(got(42L).feature.toSeq === got(43L).feature.toSeq)
    // video: REAL container dims and the closed-form mean over all frames
    assert(got(44L).width === 4 + (42 % 8) && got(44L).height === 4 + (42 % 4))
    val grays = (0 until 1 + (42 % 8)).map(f => ((42L * 7 + f * 13) % 256).toDouble)
    val mean = grays.sum / grays.length
    (0 until 3).foreach(c =>
      assert(math.abs(got(44L).feature(c) - mean) < 1e-4, s"video channel $c"))
    assert(got(42L).feature.length === 8)
  }

  test("extractFeatures fails loudly on an unknown kind") {
    val df = Seq((1L, Multimodal.syntheticBmp(1L), "tiff")).toDF("doc_id", "payload", "kind")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(df, dim = 4).collect()
    }
    assert(e.getCause != null || e.getMessage.contains("tiff"))
  }

  test("PNG round-trip through ImageIO preserves every pixel") {
    val enc = Multimodal.encodeImage(3, 2, "png", (x, y) => (x * 10 + y, 100 + x, 200 + y))
    val img = Multimodal.decodeImage(enc)
    assert(img.getWidth === 3 && img.getHeight === 2)
    for (x <- 0 until 3; y <- 0 until 2) {
      val p = img.getRGB(x, y)
      assert(((p >> 16) & 0xFF) === x * 10 + y, s"R at ($x,$y)")
      assert(((p >> 8) & 0xFF) === 100 + x, s"G at ($x,$y)")
      assert((p & 0xFF) === 200 + y, s"B at ($x,$y)")
    }
  }

  test("synthetic PNG stats match the mm_decode closed forms (lossless)") {
    val ids = Seq(0L, 1L, 15L, 16L, 199L, 200L, 12345L)
    val df = ids.map(id => (id, Multimodal.syntheticPng(id))).toDF("doc_id", "payload")
    val got = Multimodal.decodeImageStats(df).collect().map(s => s.doc_id -> s).toMap
    for (id <- ids) {
      val s = got(id)
      val w = 1 + (id % 16).toInt
      assert(s.width === w && s.height === 1 + (id % 8).toInt, s"dims for id $id")
      assert(s.mean_r === (id % 200) + (w - 1) / 2.0, s"mean_r for id $id")
      assert(s.mean_g === ((id * 3 + 7) % 256).toDouble, s"mean_g for id $id")
      assert(s.mean_b === ((id * 5 + 11) % 256).toDouble, s"mean_b for id $id")
    }
  }

  test("JPEG decodes for real: exact dims, channel means within lossy tolerance") {
    // flat-color image: JPEG's DCT is near-exact on constant blocks
    val enc = Multimodal.encodeImage(16, 16, "jpg", (_, _) => (120, 80, 40))
    assert(enc.length >= 4 && (enc(0) & 0xFF) === 0xFF && (enc(1) & 0xFF) === 0xD8, "not a JPEG (SOI)")
    val img = Multimodal.decodeImage(enc)
    assert(img.getWidth === 16 && img.getHeight === 16)
    var sr = 0L; var sg = 0L; var sb = 0L
    for (x <- 0 until 16; y <- 0 until 16) {
      val p = img.getRGB(x, y)
      sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
    }
    val n = 256.0
    assert(math.abs(sr / n - 120) <= 4, s"mean R ${sr / n}")
    assert(math.abs(sg / n - 80) <= 4, s"mean G ${sg / n}")
    assert(math.abs(sb / n - 40) <= 4, s"mean B ${sb / n}")
  }

  test("decodeImage rejects undecodable payloads") {
    intercept[IllegalArgumentException](Multimodal.decodeImage(Array[Byte](1, 2, 3, 4)))
  }

  test("hand-rolled BMP parser agrees with ImageIO's independent BMP decoder") {
    // differential test: the JDK ships its own BMP reader; every pixel of
    // the hand-rolled parser must match it on awkward (padded) widths
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val w = 1 + rnd.nextInt(9); val h = 1 + rnd.nextInt(7)
      val px = Array.fill(w * h)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val enc = Multimodal.encodeBmp(w, h, (x, y) => px(y * w + x))
      val ours = Multimodal.decodeBmp(enc)
      val jdk = Multimodal.decodeImage(enc)
      assert(jdk.getWidth === w && jdk.getHeight === h, s"trial $trial dims")
      for (x <- 0 until w; y <- 0 until h) {
        val p = jdk.getRGB(x, y)
        assert(ours.channel(x, y, 0) === ((p >> 16) & 0xFF), s"trial $trial R($x,$y)")
        assert(ours.channel(x, y, 1) === ((p >> 8) & 0xFF), s"trial $trial G($x,$y)")
        assert(ours.channel(x, y, 2) === (p & 0xFF), s"trial $trial B($x,$y)")
      }
    }
  }

  test("animated GIF round-trip: frame count and per-frame solid colors survive") {
    val enc = Multimodal.encodeGif(4, 3, 5, (f, _, _) => (40 * f, 100, 200))
    val frames = Multimodal.decodeGifFrames(enc)
    assert(frames.length === 5)
    for (f <- 0 until 5) {
      val img = frames(f)
      assert(img.getWidth === 4 && img.getHeight === 3)
      val p = img.getRGB(1, 1)
      assert(((p >> 16) & 0xFF) === 40 * f, s"frame $f R")
      assert(((p >> 8) & 0xFF) === 100 && (p & 0xFF) === 200, s"frame $f GB")
    }
    intercept[IllegalArgumentException](Multimodal.decodeGifFrames(Array[Byte](1, 2, 3)))
  }

  test("synthetic GIF frame-sampled stats match their closed forms") {
    val ids = Seq(0L, 1L, 7L, 8L, 123L, 54321L)
    val df = ids.map(id => (id, Multimodal.syntheticGif(id))).toDF("doc_id", "payload")
    val got = Multimodal.decodeGifStats(df, stride = 2).collect()
      .map(s => s.doc_id -> s).toMap
    for (id <- ids) {
      val s = got(id)
      val n = 1 + (id % 8).toInt
      assert(s.n_frames === n, s"frames for id $id")
      assert(s.width === 2 + (id % 8).toInt && s.height === 2 + (id % 4).toInt)
      val sampled = 0 until n by 2
      assert(s.n_sampled === sampled.length)
      val meanR = sampled.map(f => ((id * 7 + f * 13) % 256).toDouble).sum / sampled.length
      assert(s.mean_r === meanR, s"mean_r for id $id")
      assert(s.mean_g === ((id * 3 + 11) % 256).toDouble)
      assert(s.mean_b === ((id * 5 + 29) % 256).toDouble)
    }
  }

  test("adversarial BMP headers fail validation, not allocation (overflow guard)") {
    val ok = Multimodal.encodeBmp(4, 4, (_, _) => (1, 2, 3))
    // forge width = 2^30: Int arithmetic on rowSize*height would overflow
    // into a passing truncation check; the Long path must reject it
    val forged = ok.clone()
    val b = java.nio.ByteBuffer.wrap(forged).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(18, 1 << 30) // BITMAPINFOHEADER width field
    intercept[IllegalArgumentException](Multimodal.decodeBmp(forged))
  }

  test("WAV fmt chunk smaller than 16 bytes is a clean validation error") {
    val ok = Multimodal.encodeWav(8000, Array[Short](1, 2, 3, 4))
    val bad = ok.clone()
    val b = java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(16, 8) // fmt chunk size field: claim 8 bytes (fields need 16)
    intercept[IllegalArgumentException](Multimodal.decodeWav(bad))
  }

  test("solid-gray JPEG round-trips byte-exactly for EVERY gray value") {
    // the closed-form AVI oracle rests on this: verify all 256 grays, a
    // couple of dims (odd sizes exercise chroma-subsampling edges)
    for (gray <- 0 until 256) {
      val jpeg = Multimodal.encodeJpegSolid(5, 3, gray)
      val img = Multimodal.decodeImage(jpeg)
      assert(img.getWidth === 5 && img.getHeight === 3)
      for (x <- 0 until 5; y <- 0 until 3) {
        val p = img.getRGB(x, y)
        assert(((p >> 16) & 0xFF) === gray && ((p >> 8) & 0xFF) === gray
          && (p & 0xFF) === gray, s"gray $gray at ($x,$y) -> ${p.toHexString}")
      }
    }
  }

  test("MJPEG AVI round-trip: container walk, frame count, dims, frame pixels") {
    val frames = Seq(10, 128, 250).map(g => Multimodal.encodeJpegSolid(6, 4, g))
    val avi = Multimodal.encodeAvi(6, 4, frames, fps = 5)
    assert(new String(avi, 0, 4, "US-ASCII") === "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") === "AVI ")
    val decoded = Multimodal.decodeAviFrames(avi)
    assert(decoded.length === 3)
    assert(decoded.forall(f => f.getWidth == 6 && f.getHeight == 4))
    Seq(10, 128, 250).zip(decoded).foreach { case (g, img) =>
      val p = img.getRGB(2, 1)
      assert(((p >> 16) & 0xFF) === g, s"frame gray $g -> ${p.toHexString}")
    }
    // the seek index points at each frame's JPEG payload (SOI marker)
    val offs = Multimodal.aviFrameOffsets(avi)
    assert(offs.length === 3)
    offs.foreach { o =>
      assert((avi(o.toInt) & 0xFF) === 0xFF && (avi(o.toInt + 1) & 0xFF) === 0xD8,
        s"offset $o does not point at a JPEG SOI")
    }
  }

  test("AVI decode rejects malformed containers") {
    // not RIFF
    intercept[IllegalArgumentException](
      Multimodal.decodeAviFrames("nope".getBytes ++ new Array[Byte](40)))
    // RIFF but not AVI (a WAV)
    intercept[IllegalArgumentException](
      Multimodal.decodeAviFrames(Multimodal.encodeWav(8000, Array[Short](1, 2))))
    // truncated movi: chop the last frame's bytes
    val ok = Multimodal.syntheticAvi(7L)
    intercept[IllegalArgumentException](
      Multimodal.decodeAviFrames(ok.take(ok.length - 10)))
    // frame-count mismatch: header declares more frames than movi holds
    val forged = ok.clone()
    val b = java.nio.ByteBuffer.wrap(forged).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // avih dwTotalFrames sits at RIFF(12) + LIST hdr(12) + avih hdr(8) + 16
    b.putInt(12 + 12 + 8 + 16, 99)
    intercept[IllegalArgumentException](Multimodal.decodeAviFrames(forged))
  }

  test("decompression bombs fail validation before the raster allocates") {
    // forge a valid PNG's IHDR to declare 30000x30000 (under the per-axis
    // cap, ~9e8 pixels over the budget) with a correct CRC — the header
    // probe must refuse before reader.read() allocates ~3.6 GB
    val png = Multimodal.syntheticPng(1L)
    val forged = png.clone()
    val bb = java.nio.ByteBuffer.wrap(forged) // PNG ints are big-endian
    bb.putInt(16, 30000)
    bb.putInt(20, 30000)
    val crc = new java.util.zip.CRC32()
    crc.update(forged, 12, 17) // "IHDR" + 13 data bytes
    bb.putInt(29, crc.getValue.toInt)
    val e = intercept[IllegalArgumentException](Multimodal.decodeImage(forged))
    assert(e.getMessage.contains("budget"), e.getMessage)
    // AVI frame-count bomb: capped dims but frames*w*h over the total
    // budget must refuse at the avih header, before any frame decode
    val avi = Multimodal.syntheticAvi(3L)
    val fb = java.nio.ByteBuffer.wrap(avi).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fb.putInt(12 + 12 + 8 + 16, Int.MaxValue) // avih dwTotalFrames
    val e2 = intercept[IllegalArgumentException](Multimodal.decodeAviFrames(avi))
    assert(e2.getMessage.contains("budget"), e2.getMessage)
  }

  test("malformed AVI structures are validation errors, not crashes") {
    def le32(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // size-0 LIST at buffer end: must be a loud require, not an
    // out-of-bounds read of the missing kind bytes
    val tinyList = cc("RIFF") ++ le32(12) ++ cc("AVI ") ++ cc("LIST") ++ le32(0)
    val e1 = intercept[IllegalArgumentException](Multimodal.decodeAviFrames(tinyList))
    assert(e1.getMessage.contains("LIST"), e1.getMessage)
    // deeply self-nested LISTs: must hit the depth bound, not the stack
    var body = cc("LIST") ++ le32(4) ++ cc("hdrl")
    (0 until 8).foreach { _ =>
      body = cc("LIST") ++ le32(4 + body.length) ++ cc("hdrl") ++ body
    }
    val nested = cc("RIFF") ++ le32(4 + body.length) ++ cc("AVI ") ++ body
    val e2 = intercept[IllegalArgumentException](Multimodal.decodeAviFrames(nested))
    assert(e2.getMessage.contains("nesting"), e2.getMessage)
    // a second avih must be refused: each extra header would re-arm the
    // total-pixel budget while previously decoded rasters are retained
    val avi = Multimodal.syntheticAvi(5L)
    val hdrlEnd = {
      // duplicate the whole file's hdrl avih chunk by appending a bare
      // avih after the movi list at top level (walker visits both)
      val b = java.nio.ByteBuffer.allocate(8 + 56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(cc("avih")); b.putInt(56); b.put(new Array[Byte](56)); b.array()
    }
    val doubled = avi ++ hdrlEnd
    // patch the RIFF size to cover the appended chunk
    val db = java.nio.ByteBuffer.wrap(doubled).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    db.putInt(4, doubled.length - 8)
    val e3 = intercept[IllegalArgumentException](Multimodal.decodeAviFrames(doubled))
    assert(e3.getMessage.contains("multiple avih"), e3.getMessage)
  }

  test("decoder fuzz: random and bit-flipped payloads throw, never crash the JVM") {
    // Untrusted-payload contract: every decoder either succeeds or throws
    // an ordinary Exception (require/IIOException). An Error — OOM from
    // an unbudgeted allocation, StackOverflow from unbounded recursion —
    // or a hang is a decoder bug. Seeds are fixed: failures replay.
    val rnd = new java.util.Random(20260817L)
    def check(name: String, payload: Array[Byte])(decode: Array[Byte] => Any): Unit =
      try { decode(payload); () }
      catch {
        case _: Exception => () // loud refusal is the contract
        case e: Error =>
          fail(s"$name: ${e.getClass.getSimpleName} on ${payload.length} bytes " +
            s"(first 16: ${payload.take(16).map(b => f"$b%02x").mkString})")
      }
    val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
      ("bmp", Multimodal.decodeBmp(_)),
      ("image", Multimodal.decodeImage(_)),
      ("gif", Multimodal.decodeGifFrames(_)),
      ("avi", Multimodal.decodeAviFrames(_)),
      ("wav", Multimodal.decodeWav(_)))
    // pure noise at assorted sizes
    for (_ <- 0 until 40; (name, d) <- decoders) {
      val blob = new Array[Byte](rnd.nextInt(4096))
      rnd.nextBytes(blob)
      check(name, blob)(d)
    }
    // structured payloads with random byte flips: these get past the
    // magic checks and into the interesting parsing paths
    val seeds: Seq[(String, Array[Byte])] = Seq(
      ("bmp", Multimodal.syntheticBmp(1L)),
      ("image", Multimodal.syntheticPng(2L)),
      ("gif", Multimodal.syntheticGif(3L)),
      ("avi", Multimodal.syntheticAvi(4L)),
      ("wav", Multimodal.syntheticWav(5L)))
    val byName = decoders.toMap
    for (_ <- 0 until 60; (name, base) <- seeds) {
      val mutated = base.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      check(name, mutated)(byName(name))
    }
    // truncations of valid payloads
    for ((name, base) <- seeds; frac <- Seq(1, base.length / 3, base.length - 1)) {
      check(name, java.util.Arrays.copyOf(base, frac))(byName(name))
    }
  }

  test("synthetic AVI frame-sampled stats match their closed forms") {
    val ids = Seq(0L, 7L, 12L, 123L, 255L)
    val df = ids.map(id => (id, Multimodal.syntheticAvi(id))).toDF("doc_id", "payload")
    val got = Multimodal.decodeAviStats(df, stride = 2).collect()
      .map(s => s.doc_id -> s).toMap
    ids.foreach { id =>
      val s = got(id)
      val nFrames = 1 + (id % 8).toInt
      assert(s.n_frames === nFrames)
      assert(s.width === 4 + (id % 8).toInt && s.height === 4 + (id % 4).toInt)
      val sampled = 0 until nFrames by 2
      assert(s.n_sampled === sampled.length)
      val mean = sampled.map(f => ((id * 7 + f * 13) % 256).toDouble).sum / sampled.length
      assert(math.abs(s.mean_r - mean) < 1e-9, s"id $id mean_r ${s.mean_r} vs $mean")
      assert(math.abs(s.mean_g - mean) < 1e-9 && math.abs(s.mean_b - mean) < 1e-9)
    }
  }
}
