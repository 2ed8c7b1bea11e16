package graft.operators

import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract
  * run batched per partition (`mapPartitions` — the Scala analogue of
  * mapInPandas batches).
  *
  * Decode surface — EVERY kind decodes for real, no stubs:
  *  - kind "bmp" has a pure-JVM decoder (`decodeBmp`): uncompressed
  *    24-bit Windows BMP — BITMAPFILEHEADER + BITMAPINFOHEADER parse,
  *    bottom-up row order, 4-byte row padding. No native codec needed.
  *  - audio has a pure-JVM decoder too (`decodeWav`): RIFF chunk
  *    walk, PCM 16-bit samples.
  *  - compressed images (png/jpeg/gif) decode through
  *    `javax.imageio.ImageIO` — pure-JDK codecs, no native library
  *    (`decodeImage`/`decodeImageStats`); animated GIFs frame-sample for
  *    real (`decodeGifStats`).
  *  - video decodes through the RIFF/MJPEG path (`decodeAviFrames` /
  *    `decodeAviStats`): AVI container walk (the WAV chunk walk
  *    generalized) + per-frame ImageIO JPEG decode — real frame sampling
  *    on a container the JVM genuinely decodes. Containers needing
  *    codecs the JDK lacks (mp4/h264) fail loudly at the RIFF magic.
  *
  * Every ImageIO stream here is a `MemoryCacheImageInputStream` /
  * `MemoryCacheImageOutputStream` over the in-memory payload. ImageIO's
  * default cache backs a stream with a temp file (one per image, one per
  * frame on the MJPEG path), and the `ImageIO.setUseCache` switch that
  * turns it off is JVM-global, so it would change every other ImageIO
  * user in the process. Payload sizes are bounded by the
  * decompression-bomb budgets below, so the file cache's one virtue,
  * spilling huge streams, cannot apply.
  */
object Multimodal {

  final case class MediaMeta(kind: String, nBytes: Long, sha: Long)

  /** Shared dimension cap for every decoder (decodeBmp enforces the same
    * value): untrusted payloads declaring huge dimensions (decompression
    * bombs — a tiny PNG/GIF can claim 2^30 x 2^30) must fail header
    * validation instead of OOMing an executor on allocation.
    */
  private[operators] val MaxDim = 32767

  /** Total-pixel budget per decoded raster: per-axis caps alone still
    * admit a 32767x32767 (~4.3 GB) frame, so compressed-image decode also
    * requires w*h under this budget (16.7M pixels ~ 64 MB ARGB) BEFORE
    * the raster allocates. Multi-frame containers additionally budget
    * frames*w*h (decodeAviFrames/decodeGifFrames hold every decoded
    * frame).
    */
  private[operators] val MaxPixels = 1L << 24
  private[operators] val MaxTotalPixels = 1L << 26

  // ==== REAL DECODER: uncompressed 24-bit BMP ==========================

  final case class BmpImage(width: Int, height: Int, pixels: Array[Byte]) {
    /** Pixel channel at (x, y), top-left origin, c in 0=R 1=G 2=B. */
    def channel(x: Int, y: Int, c: Int): Int =
      pixels((y * width + x) * 3 + c) & 0xFF
  }

  /** Encode a 24-bit bottom-up BMP; `px(x, y)` returns (r, g, b) with a
    * top-left origin. Fixture generator for tests/queries — the payloads
    * it emits are valid files any image viewer opens.
    */
  def encodeBmp(width: Int, height: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val rowSize = ((width * 3 + 3) / 4) * 4 // rows pad to 4-byte boundaries
    val dataSize = rowSize * height
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // BITMAPFILEHEADER (14 bytes)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(fileSize).putInt(0).putInt(54) // reserved, pixel-data offset
    // BITMAPINFOHEADER (40 bytes)
    b.putInt(40).putInt(width).putInt(height)
    b.putShort(1).putShort(24) // planes, bpp
    b.putInt(0).putInt(dataSize) // BI_RGB (uncompressed), image size
    b.putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette unused
    // pixel rows, bottom-up, BGR order
    var y = height - 1
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val (r, g, bl) = px(x, y)
        b.put(bl.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var pad = rowSize - width * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y -= 1
    }
    b.array()
  }

  /** Parse an uncompressed 24-bit BMP: validates the magic, header sizes,
    * bpp and compression fields, then walks the bottom-up padded rows into
    * a top-left-origin RGB array. Throws IllegalArgumentException on
    * malformed payloads (truncation, wrong magic, unsupported bpp).
    */
  def decodeBmp(payload: Array[Byte]): BmpImage = {
    require(payload.length >= 54, s"truncated BMP header: ${payload.length} bytes")
    val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(b.get() == 'B'.toByte && b.get() == 'M'.toByte, "not a BMP (bad magic)")
    val fileSize = b.getInt()
    b.getInt() // reserved
    val dataOffset = b.getInt()
    val hdrSize = b.getInt()
    require(hdrSize >= 40, s"unsupported DIB header size $hdrSize")
    val width = b.getInt()
    val height = b.getInt()
    require(width > 0 && height > 0, s"unsupported dims ${width}x$height")
    b.getShort() // planes
    val bpp = b.getShort()
    require(bpp == 24, s"unsupported bpp $bpp (only 24-bit uncompressed)")
    val compression = b.getInt()
    require(compression == 0, s"unsupported compression $compression")
    // size arithmetic in Long with a dimension cap: adversarial headers
    // (e.g. width ~ 2^30) must fail the requires below, not overflow Int
    // into a passing check and then die on allocation
    require(width <= MaxDim && height <= MaxDim, s"dims over cap: ${width}x$height")
    val rowSizeL = ((width.toLong * 3 + 3) / 4) * 4
    require(payload.length.toLong >= dataOffset.toLong + rowSizeL * height,
      s"truncated pixel data: ${payload.length} < ${dataOffset.toLong + rowSizeL * height}")
    require(fileSize <= payload.length, s"header claims $fileSize > ${payload.length} bytes")
    val rowSize = rowSizeL.toInt // fits: width is capped above
    val pixels = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val src = dataOffset + (height - 1 - y) * rowSize // bottom-up storage
      var x = 0
      while (x < width) {
        val p = src + x * 3
        val dst = (y * width + x) * 3
        pixels(dst) = payload(p + 2)     // R
        pixels(dst + 1) = payload(p + 1) // G
        pixels(dst + 2) = payload(p)     // B
        x += 1
      }
      y += 1
    }
    BmpImage(width, height, pixels)
  }

  // ==== REAL DECODER: PCM WAV (RIFF) =================================

  final case class WavAudio(sampleRate: Int, channels: Int, samples: Array[Short])

  /** Encode a mono 16-bit PCM WAV (44-byte canonical RIFF header). */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1) // PCM
    b.putShort(1) // mono
    b.putInt(sampleRate).putInt(sampleRate * 2) // byte rate
    b.putShort(2).putShort(16) // block align, bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(b.putShort)
    b.array()
  }

  /** Parse a PCM WAV: validates RIFF/WAVE magic, walks the chunk list to
    * `fmt ` (PCM, 16-bit required) and `data`, returns the samples.
    * Unknown chunks are skipped (word-aligned), like any real reader.
    */
  def decodeWav(payload: Array[Byte]): WavAudio = {
    require(payload.length >= 44, s"truncated WAV header: ${payload.length} bytes")
    val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = { val t = new Array[Byte](4); b.get(t); new String(t, "US-ASCII") }
    require(tag() == "RIFF", "not a RIFF file")
    b.getInt() // riff size
    require(tag() == "WAVE", "not a WAVE file")
    var sampleRate = -1; var channels = -1; var bits = -1
    var samples: Array[Short] = null
    while (b.remaining() >= 8 && (sampleRate < 0 || samples == null)) {
      val id = tag(); val size = b.getInt()
      require(size >= 0 && b.remaining() >= size, s"truncated chunk '$id' ($size bytes)")
      id match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too small ($size bytes, need 16)")
          val fmt = b.getShort()
          require(fmt == 1, s"unsupported audio format $fmt (PCM only)")
          channels = b.getShort()
          sampleRate = b.getInt()
          b.getInt(); b.getShort() // byte rate, block align
          bits = b.getShort()
          require(bits == 16, s"unsupported bits/sample $bits (16-bit only)")
          b.position(b.position() + size - 16)
        case "data" =>
          require(sampleRate > 0, "data chunk before fmt chunk")
          samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) { samples(i) = b.getShort(); i += 1 }
        case _ =>
          b.position(b.position() + size + (size & 1)) // skip, word-aligned
      }
    }
    require(samples != null, "no data chunk")
    WavAudio(sampleRate, channels, samples)
  }

  /** Deterministic synthetic WAV keyed by doc_id: mono 8 kHz, n = 16 +
    * id%64 samples with a linear ramp base + i (base = (id%100)*10, peak
    * <= 1069 — no clipping), so every stat has an ANSI-SQL closed form.
    */
  def syntheticWav(docId: Long): Array[Byte] = {
    val n = 16 + (docId % 64).toInt
    val base = ((docId % 100) * 10).toInt
    encodeWav(8000, Array.tabulate(n)(i => (base + i).toShort))
  }

  final case class WavStats(
      doc_id: Long, sample_rate: Int, n_channels: Int, n_samples: Long,
      n_bytes: Long, mean_amp: Double, peak_amp: Int)

  /** Decode a (doc_id, payload) table of PCM WAVs into per-clip stats,
    * batched per partition.
    */
  def decodeWavStats(df: DataFrame): Dataset[WavStats] = {
    implicit val enc = Encoders.product[WavStats]
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val a = decodeWav(payload)
          var sum = 0L; var peak = Int.MinValue
          var i = 0
          while (i < a.samples.length) {
            val s = a.samples(i).toInt
            sum += s
            if (s > peak) peak = s
            i += 1
          }
          WavStats(r.getLong(0), a.sampleRate, a.channels,
            a.samples.length.toLong, payload.length.toLong,
            sum.toDouble / a.samples.length, peak)
        }
      }
  }

  final case class BmpStats(
      doc_id: Long, width: Int, height: Int, n_bytes: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Decode a (doc_id, payload) table of BMP images into per-image
    * dimension + channel-mean stats, batched per partition.
    */
  def decodeBmpStats(df: DataFrame): Dataset[BmpStats] = {
    implicit val enc = Encoders.product[BmpStats]
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val img = decodeBmp(payload)
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < img.pixels.length) {
            sr += img.pixels(i) & 0xFF
            sg += img.pixels(i + 1) & 0xFF
            sb += img.pixels(i + 2) & 0xFF
            i += 3
          }
          val n = (img.width.toLong * img.height).toDouble
          BmpStats(r.getLong(0), img.width, img.height, payload.length.toLong,
            sr / n, sg / n, sb / n)
        }
      }
  }

  // ==== REAL DECODER: compressed images (png/jpeg/gif) via ImageIO =====

  /** Decode a compressed image payload with the JDK's ImageIO codecs
    * (pure-JVM PNG/JPEG/GIF/BMP readers — present in any JDK 17, no native
    * library). Fails loudly on undecodable bytes instead of faking
    * features. ImageIO sniffs the container by content, so the caller's
    * `kind` tag never silently mis-decodes a payload. Dimensions are
    * probed HEADER-ONLY (ImageReader.getWidth/getHeight) and checked
    * against MaxDim before any pixel decode — the raster allocation of a
    * decompression bomb never happens.
    */
  def decodeImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(payload))
    // iis must close on EVERY exit — including the no-reader refusal — so
    // a partition of corrupt payloads releases each stream's cache at once.
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"undecodable image payload (${payload.length} bytes)")
      val reader = readers.next()
      try {
        reader.setInput(iis, true)
        val w = reader.getWidth(0); val h = reader.getHeight(0)
        require(w > 0 && h > 0 && w <= MaxDim && h <= MaxDim,
          s"image dims over cap: ${w}x$h (max $MaxDim)")
        require(w.toLong * h <= MaxPixels,
          s"image pixel count ${w.toLong * h} over budget $MaxPixels")
        val img = reader.read(0, null)
        require(img != null, s"undecodable image payload (${payload.length} bytes)")
        img
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Encode an RGB image as PNG; `px(x, y)` returns (r, g, b). PNG is
    * lossless, so decode stats have the same closed forms as the BMP
    * generator — fixture generator for tests/queries.
    */
  def encodeImage(width: Int, height: Int, format: String,
      px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = px(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    try require(javax.imageio.ImageIO.write(img, format, ios), s"no ImageIO writer for $format")
    finally ios.close()
    out.toByteArray
  }

  /** Deterministic synthetic PNG keyed by doc_id — same closed-form dims
    * and channel values as syntheticBmp (PNG is lossless, so the decode
    * stats reproduce the algebra exactly).
    */
  def syntheticPng(docId: Long): Array[Byte] = {
    val w = 1 + (docId % 16).toInt
    val h = 1 + (docId % 8).toInt
    val base = (docId % 200).toInt
    val g = ((docId * 3 + 7) % 256).toInt
    val b = ((docId * 5 + 11) % 256).toInt
    encodeImage(w, h, "png", (x, _) => (base + x, g, b))
  }

  final case class ImageStats(
      doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Per-pixel sRGB channel sums of a decoded image (bulk getRGB row scan
    * — works for any source color model ImageIO hands back).
    */
  private def channelStats(img: java.awt.image.BufferedImage): (Double, Double, Double) = {
    val w = img.getWidth; val h = img.getHeight
    val row = new Array[Int](w)
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val p = row(x)
        sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    (sr / n, sg / n, sb / n)
  }

  /** Decode a (doc_id, payload) table of compressed images (png/jpeg/gif)
    * into dimension + channel-mean stats, batched per partition.
    */
  def decodeImageStats(df: DataFrame): Dataset[ImageStats] = {
    implicit val enc = Encoders.product[ImageStats]
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = decodeImage(r.getAs[Array[Byte]]("payload"))
          val (mr, mg, mb) = channelStats(img)
          ImageStats(r.getLong(0), img.getWidth, img.getHeight, mr, mg, mb)
        }
      }
  }

  // ==== REAL FRAME SAMPLING: animated GIF (multi-frame container) ======

  /** Encode an animated GIF; `px(frame, x, y)` returns (r, g, b). The JDK
    * GIF writer stores each frame verbatim (no inter-frame delta), so
    * solid/flat frames decode back exactly — fixture generator with
    * closed-form stats, like encodeBmp/encodeImage.
    */
  def encodeGif(width: Int, height: Int, frames: Int,
      px: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0 && frames > 0,
      s"bad gif shape ${width}x$height x$frames")
    val out = new java.io.ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val (r, g, b) = px(f, x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), writer.getDefaultWriteParam)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** Decode every frame of an animated GIF through the JDK's ImageIO
    * reader (LZW decode, palette lookup, per-frame rasters). Fails loudly
    * on non-GIF payloads. Per-frame dimensions are probed header-only
    * against MaxDim before any raster decode (decompression-bomb guard),
    * and every frame must match frame 0's dimensions: real GIFs using
    * frame-delta sub-rectangle rasters would otherwise silently yield
    * stats over partial frames of differing sizes — refuse loudly until
    * delta-frame compositing is implemented.
    */
  def decodeGifFrames(payload: Array[Byte]): IndexedSeq[java.awt.image.BufferedImage] = {
    require(payload.length >= 6 &&
      new String(payload, 0, 3, "US-ASCII") == "GIF", "not a GIF (bad magic)")
    val iis = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(payload))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    require(readers.hasNext, "no GIF reader")
    val reader = readers.next()
    try {
      reader.setInput(iis, false)
      val n = reader.getNumImages(true)
      require(n > 0, "GIF has no frames")
      val w0 = reader.getWidth(0); val h0 = reader.getHeight(0)
      require(w0 > 0 && h0 > 0 && w0 <= MaxDim && h0 <= MaxDim,
        s"GIF dims over cap: ${w0}x$h0 (max $MaxDim)")
      require(n.toLong * w0 * h0 <= MaxTotalPixels,
        s"GIF total pixel count ${n.toLong * w0 * h0} over budget $MaxTotalPixels")
      (0 until n).map { i =>
        val w = reader.getWidth(i); val h = reader.getHeight(i)
        require(w == w0 && h == h0,
          s"GIF frame $i raster is ${w}x$h but frame 0 is ${w0}x$h0 — " +
            "delta-frame (sub-rectangle) GIFs are not supported; full-canvas frames only")
        reader.read(i, null)
      }
    } finally { reader.dispose(); iis.close() }
  }

  /** Deterministic synthetic animated GIF keyed by doc_id: frame count,
    * dims and per-frame solid colors are closed-form functions of the id
    * (frames = 1 + id%8, r(f) = (id*7 + f*13) % 256), so frame-sampled
    * stats have an ANSI-SQL closed form.
    */
  def syntheticGif(docId: Long): Array[Byte] = {
    val frames = 1 + (docId % 8).toInt
    val w = 2 + (docId % 8).toInt
    val h = 2 + (docId % 4).toInt
    val g = ((docId * 3 + 11) % 256).toInt
    val b = ((docId * 5 + 29) % 256).toInt
    encodeGif(w, h, frames, (f, _, _) => (((docId * 7 + f * 13) % 256).toInt, g, b))
  }

  final case class GifStats(
      doc_id: Long, n_frames: Int, width: Int, height: Int,
      n_sampled: Int, mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL frame sampling over a (doc_id, payload) table of animated GIFs:
    * decode the container, keep every `stride`th frame (frame 0, stride,
    * 2*stride, ...), report channel means over the sampled frames — the
    * sample-every-Nth-frame shape of a video feature pipeline, on a
    * container the JVM genuinely decodes. Batched per partition.
    */
  def decodeGifStats(df: DataFrame, stride: Int = 2): Dataset[GifStats] = {
    require(stride >= 1, s"stride must be >= 1: $stride")
    implicit val enc = Encoders.product[GifStats]
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val frames = decodeGifFrames(r.getAs[Array[Byte]]("payload"))
          val sampled = frames.indices.by(stride).map(frames)
          var sr = 0.0; var sg = 0.0; var sb = 0.0
          sampled.foreach { img =>
            val (mr, mg, mb) = channelStats(img)
            sr += mr; sg += mg; sb += mb
          }
          val k = sampled.length.toDouble
          GifStats(r.getLong(0), frames.length,
            frames.head.getWidth, frames.head.getHeight,
            sampled.length, sr / k, sg / k, sb / k)
        }
      }
  }

  final case class MediaFeatures(
      doc_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      feature: Array[Float])

  /** Deterministic synthetic BMP keyed by doc_id: dims and channel values
    * are closed-form functions of the id (width = 1 + id%16, height =
    * 1 + id%8, R = id%200 + x gradient, G/B constants), so an ANSI-SQL
    * oracle can verify the decode round-trip algebraically. The gradient
    * along x plus BMP's bottom-up padded rows means a decoder that
    * mis-steps padding or row order produces wrong means.
    */
  def syntheticBmp(docId: Long): Array[Byte] = {
    val w = 1 + (docId % 16).toInt
    val h = 1 + (docId % 8).toInt
    val base = (docId % 200).toInt // base + x <= 199 + 15 < 256: no wrap
    val g = ((docId * 3 + 7) % 256).toInt
    val b = ((docId * 5 + 11) % 256).toInt
    encodeBmp(w, h, (x, _) => (base + x, g, b))
  }

  // ==== REAL DECODER: MJPEG-in-AVI video (RIFF container) ==============

  /** Encode a solid-gray baseline JPEG with an EXPLICIT compression
    * quality. Solid gray is the one image class baseline JPEG reproduces
    * byte-exactly (gray RGB -> Y = v, Cb = Cr = 128; after the level
    * shift every AC coefficient and both chroma planes are zero, and the
    * DC quantizer step at this quality divides the DC value), which gives
    * MJPEG frame stats a closed algebraic form — the spec
    * differential-tests the round trip for every gray value.
    */
  def encodeJpegSolid(width: Int, height: Int, gray: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(gray >= 0 && gray <= 255, s"bad gray $gray")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.75f)
    val out = new java.io.ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** Encode an MJPEG-in-AVI video: RIFF('AVI ') with LIST hdrl (avih +
    * strl/strh/strf declaring one 'MJPG' video stream) and LIST movi
    * holding one word-aligned '00dc' chunk per JPEG frame. The payloads
    * are valid files any AVI-capable player opens — fixture generator
    * with closed-form header stats, like encodeBmp/encodeGif.
    */
  def encodeAvi(width: Int, height: Int, jpegFrames: Seq[Array[Byte]],
      fps: Int = 10): Array[Byte] = {
    require(width > 0 && height > 0 && jpegFrames.nonEmpty && fps > 0,
      s"bad avi shape ${width}x$height x${jpegFrames.length} @${fps}fps")
    val out = new java.io.ByteArrayOutputStream()
    def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def le32(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def le16(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte]
      fourcc(id) ++ le32(data.length) ++ data ++ pad
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fourcc(kind) ++ body)
    val maxFrame = jpegFrames.map(_.length).max
    val avih = le32(1000000 / fps) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(jpegFrames.length) ++ le32(0) ++ le32(1) ++ le32(maxFrame) ++
      le32(width) ++ le32(height) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fourcc("vids") ++ fourcc("MJPG") ++ le32(0) ++
      le16(0) ++ le16(0) ++ le32(0) ++ le32(1) ++ le32(fps) ++ le32(0) ++
      le32(jpegFrames.length) ++ le32(maxFrame) ++ le32(-1) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(width) ++ le16(height)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++ le16(1) ++ le16(24) ++
      fourcc("MJPG") ++ le32(width * height * 3) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      jpegFrames.toArray.flatMap(f => chunk("00dc", f)))
    val body = fourcc("AVI ") ++ hdrl ++ movi
    out.write(fourcc("RIFF")); out.write(le32(body.length)); out.write(body)
    out.toByteArray
  }

  /** Hardened RIFF/AVI chunk walk shared by the frame decoder and the
    * seek index: validates the RIFF/'AVI ' magic, every chunk bound, and
    * word alignment; requires a LIST chunk to actually carry its 4-byte
    * kind (a size-0 LIST at buffer end must be a validation error, not
    * an out-of-bounds read); bounds LIST nesting (a real AVI needs depth
    * 2 — a payload of self-nested LIST headers must fail validation, not
    * blow the stack). Calls onChunk(id, dataOffset, dataSize) for every
    * non-LIST chunk in document order.
    */
  private def walkAviChunks(payload: Array[Byte])(
      onChunk: (String, Int, Int) => Unit): Unit = {
    require(payload.length >= 12, s"truncated AVI: ${payload.length} bytes")
    val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(new String(payload, 0, 4, "US-ASCII") == "RIFF", "not a RIFF file")
    val riffSize = b.getInt(4)
    require(riffSize >= 4 && riffSize <= payload.length - 8,
      s"RIFF size $riffSize inconsistent with ${payload.length} bytes")
    require(new String(payload, 8, 4, "US-ASCII") == "AVI ", "not an AVI file")
    def walk(from: Int, until: Int, depth: Int): Unit = {
      require(depth <= 4, s"LIST nesting deeper than 4 — malformed container")
      var p = from
      while (p + 8 <= until) {
        val id = new String(payload, p, 4, "US-ASCII")
        val size = b.getInt(p + 4)
        require(size >= 0 && p + 8 + size <= until,
          s"truncated chunk '$id' ($size bytes) at offset $p")
        if (id == "LIST") {
          require(size >= 4, s"LIST chunk at offset $p too small for its kind ($size bytes)")
          val kind = new String(payload, p + 8, 4, "US-ASCII")
          if (kind == "hdrl" || kind == "strl" || kind == "movi")
            walk(p + 12, p + 8 + size, depth + 1)
        } else onChunk(id, p + 8, size)
        p += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12, 8 + riffSize, 0)
  }

  /** Parse an MJPEG AVI: validates RIFF/'AVI ' magic, walks the chunk
    * tree to the avih header (declared frame count + dims, checked
    * against MaxDim and the total-pixel budget BEFORE any frame decode)
    * and the movi list, decodes every video chunk ('##dc'/'##db')
    * through the JDK's JPEG reader and requires each frame's dims to
    * match the header. Fails loudly on truncation, missing headers,
    * undecodable frames, or a frame-count mismatch — never fakes
    * features.
    */
  def decodeAviFrames(payload: Array[Byte]): IndexedSeq[java.awt.image.BufferedImage] = {
    val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var declaredFrames = -1; var width = -1; var height = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[java.awt.image.BufferedImage]
    walkAviChunks(payload) { (id, off, size) =>
      if (id == "avih") {
        // exactly one avih: a crafted file interleaving several headers
        // with frames would re-arm the total-pixel budget per header
        // while `frames` keeps every previously decoded raster — the
        // budget must be per-FILE.
        require(declaredFrames < 0, "multiple avih headers")
        require(size >= 40, s"avih too small ($size bytes)")
        declaredFrames = b.getInt(off + 16)
        width = b.getInt(off + 32)
        height = b.getInt(off + 36)
        require(width > 0 && height > 0 && width <= MaxDim && height <= MaxDim,
          s"AVI dims over cap: ${width}x$height (max $MaxDim)")
        require(declaredFrames >= 0 &&
          declaredFrames.toLong * width * height <= MaxTotalPixels,
          s"AVI total pixel count ${declaredFrames.toLong * width * height} " +
            s"over budget $MaxTotalPixels")
      } else if (id.endsWith("dc") || id.endsWith("db")) {
        require(width > 0, "video chunk before avih header")
        require(frames.length < declaredFrames,
          s"more video chunks than the declared $declaredFrames frames")
        val img = decodeImage(java.util.Arrays.copyOfRange(payload, off, off + size))
        require(img.getWidth == width && img.getHeight == height,
          s"frame ${frames.length} is ${img.getWidth}x${img.getHeight} " +
            s"but the header declares ${width}x$height")
        frames += img
      }
    }
    require(declaredFrames >= 0, "no avih header")
    require(frames.nonEmpty, "no video frames")
    require(frames.length == declaredFrames,
      s"decoded ${frames.length} frames but header declares $declaredFrames")
    frames.toIndexedSeq
  }

  /** Deterministic synthetic MJPEG AVI keyed by doc_id: frame count, dims
    * and per-frame solid grays are closed-form functions of the id
    * (frames = 1 + id%8, gray(f) = (id*7 + f*13) % 256 — the same frame
    * algebra as syntheticGif), so frame-sampled stats have an ANSI-SQL
    * closed form (solid-gray JPEG round-trips exactly, see
    * encodeJpegSolid).
    */
  def syntheticAvi(docId: Long): Array[Byte] = {
    val frames = 1 + (docId % 8).toInt
    val w = 4 + (docId % 8).toInt
    val h = 4 + (docId % 4).toInt
    encodeAvi(w, h, (0 until frames).map(f =>
      encodeJpegSolid(w, h, ((docId * 7 + f * 13) % 256).toInt)))
  }

  final case class AviStats(
      doc_id: Long, n_frames: Int, width: Int, height: Int,
      n_sampled: Int, mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL video frame sampling over a (doc_id, payload) table of MJPEG
    * AVIs: parse the container, decode every `stride`th frame through the
    * JPEG codec, report channel means over the sampled frames — the same
    * shape as decodeGifStats, on a genuine video container. Batched per
    * partition.
    */
  def decodeAviStats(df: DataFrame, stride: Int = 2): Dataset[AviStats] = {
    require(stride >= 1, s"stride must be >= 1: $stride")
    implicit val enc = Encoders.product[AviStats]
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val frames = decodeAviFrames(r.getAs[Array[Byte]]("payload"))
          val sampled = frames.indices.by(stride).map(frames)
          var sr = 0.0; var sg = 0.0; var sb = 0.0
          sampled.foreach { img =>
            val (mr, mg, mb) = channelStats(img)
            sr += mr; sg += mg; sb += mb
          }
          val k = sampled.length.toDouble
          AviStats(r.getLong(0), frames.length,
            frames.head.getWidth, frames.head.getHeight,
            sampled.length, sr / k, sg / k, sb / k)
        }
      }
  }

  /** df must carry (doc_id: long, payload: binary, kind: string). Runs the
    * decode batched per partition; the output is a typed Dataset ready for
    * downstream similarity search over `feature`. EVERY kind decodes for
    * real — "bmp" through the pure-JVM parser (dims from the header,
    * feature = channel means then zero-pad), "png"/"jpeg"/"jpg"/"gif"
    * through ImageIO, "video"/"avi" through the RIFF/MJPEG parser
    * (feature = channel means over all frames); an unknown kind fails
    * loudly instead of faking features.
    */
  def extractFeatures(df: DataFrame, dim: Int = 32): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    def meanFeature(w: Int, h: Int, mr: Double, mg: Double, mb: Double) = {
      val f = new Array[Float](dim)
      val means = Array(mr, mg, mb)
      var c = 0
      while (c < math.min(3, dim)) { f(c) = means(c).toFloat; c += 1 }
      (w, h, f)
    }
    df.select(col("doc_id").cast("long"), col("payload"), col("kind"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val kind = r.getString(2)
          val (w, h, feat) = kind match {
            case "bmp" =>
              val img = decodeBmp(payload)
              val n = (img.width.toLong * img.height).toDouble
              val sums = new Array[Long](3)
              var i = 0
              while (i < img.pixels.length) {
                sums(i % 3) += img.pixels(i) & 0xFF
                i += 1
              }
              meanFeature(img.width, img.height,
                sums(0) / n, sums(1) / n, sums(2) / n)
            case "png" | "jpeg" | "jpg" | "gif" =>
              val img = decodeImage(payload)
              val (mr, mg, mb) = channelStats(img)
              meanFeature(img.getWidth, img.getHeight, mr, mg, mb)
            case "video" | "avi" =>
              val frames = decodeAviFrames(payload)
              var sr = 0.0; var sg = 0.0; var sb = 0.0
              frames.foreach { img =>
                val (mr, mg, mb) = channelStats(img)
                sr += mr; sg += mg; sb += mb
              }
              val k = frames.length.toDouble
              meanFeature(frames.head.getWidth, frames.head.getHeight,
                sr / k, sg / k, sb / k)
            case "wav" | "audio" =>
              throw new IllegalArgumentException(
                "audio payloads decode via decodeWavStats, not the image feature extractor")
            case other =>
              throw new IllegalArgumentException(s"no decoder for kind '$other'")
          }
          MediaFeatures(r.getLong(0), kind, payload.length.toLong, w, h, feat)
        }
      }
  }

  /** Byte offsets of every video chunk in an MJPEG AVI — a REAL seek
    * index parsed from the container (no frame decode): each offset
    * points at the first byte of a frame's JPEG payload. `stride` keeps
    * every Nth frame's offset (the sample-every-Nth-frame shape without
    * paying for decode).
    */
  final case class FrameIndex(doc_id: Long, n_frames: Int, frame_offsets: Seq[Long])

  def sampleFrames(df: DataFrame, stride: Int = 1): DataFrame = {
    require(stride >= 1, s"stride must be >= 1: $stride")
    implicit val enc = Encoders.product[FrameIndex]
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val offsets = aviFrameOffsets(payload)
          FrameIndex(r.getLong(0), offsets.length,
            offsets.indices.by(stride).map(i => offsets(i)))
        }
      }.toDF()
  }

  /** Offsets of the '##dc'/'##db' chunk payloads inside an AVI's movi
    * list (header-walk only — no decode). Same hardened walker as
    * decodeAviFrames.
    */
  def aviFrameOffsets(payload: Array[Byte]): IndexedSeq[Long] = {
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    walkAviChunks(payload) { (id, off, _) =>
      if (id.endsWith("dc") || id.endsWith("db")) offsets += off.toLong
    }
    offsets.toIndexedSeq
  }
}
