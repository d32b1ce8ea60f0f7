package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.rel.Queries.{spread, table}

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with a typed metadata struct, plus decode /
  * feature-extract / frame-sample stages.
  *
  * Two decode tiers:
  *  - REAL pure-JVM parsers — RIFF/WAVE PCM16 ([[wavDecode]]),
  *    uncompressed 24-bit BMP ([[bmpDecode]]), zlib-compressed 8-bit RGB
  *    PNG ([[pngDecode]]: Inflater + all five scanline filters), GIF87a
  *    ([[gifDecode]]: a hand-written variable-width LZW codec), four
  *    JPEG tiers (baseline + progressive, grayscale + color), the
  *    YUV4MPEG2 video container ([[y4mDecode]]), and the entropy-coded
  *    motion-compensated video codec ([[Video.gvcDecode]]) — that read
  *    every field from the bytes (magic/CRC checks, little-endian sample
  *    decode, stride arithmetic, bottom-up row unflip, filter-chain
  *    reconstruction, dictionary rebuild, canonical Huffman rebuild,
  *    motion compensation), gated by oracles that regenerate expected
  *    features from the synthesis formulas and by patched-byte
  *    sensitivity tests;
  *  - a byte-histogram fallback ([[extractFeatures]]) kept as the
  *    documented generic-payload path for FOREIGN formats this library
  *    does not decode (H.264/AV1/... streams pass through as opaque
  *    bytes); every modality — audio, image, video — has a real decode
  *    path above it.
  * Either way the Spark shape is the production one: binary column +
  * metadata struct schema, `mapPartitions` batch processing with one
  * reusable buffer per partition (the Scala analog of `mapInPandas`
  * batch semantics), fixed-length feature vectors, and partition-parallel
  * execution with no driver collect.
  */
object Multimodal {

  val FrameBytes = 64 // fake "frame" stride for frameSample
  val HistBins = 16

  final case class MediaRecord(
      doc_id: Long,
      media: Array[Byte], // opaque payload (here: UTF-8 of documents.text)
      width: Int,
      height: Int,
      format: String)

  final case class MediaFeature(
      doc_id: Long,
      media_len: Int,
      n_frames: Int,
      hist: Array[Double], // HistBins-normalized byte histogram (the stub "decode")
      feat_norm: Double)

  /** Build the media table from `documents`: payload = text bytes, typed
    * metadata derived deterministically (as an ingest step would carry
    * width/height/codec from the container format).
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("media"),
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(3)) * 120 + 240).cast("int").as("height"),
        concat(lit("fake/"), pmod(col("doc_id"), lit(2)).cast("string")).as("format"))
      .as[MediaRecord]
  }

  /** "Decode" + feature-extract over the binary column. One histogram
    * buffer per partition, reused across records — the batch-shape
    * discipline that keeps per-record allocation off the hot path exactly
    * like an Arrow-batched `mapInPandas` would.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val hist = new Array[Long](HistBins)
      it.map { r =>
        java.util.Arrays.fill(hist, 0L)
        var i = 0
        while (i < r.media.length) {
          hist((r.media(i) & 0xFF) * HistBins / 256) += 1
          i += 1
        }
        val n = math.max(r.media.length, 1).toDouble
        val norm = hist.map(h => h / n)
        MediaFeature(
          r.doc_id,
          r.media.length,
          (r.media.length + FrameBytes - 1) / FrameBytes,
          norm,
          math.sqrt(norm.map(x => x * x).sum))
      }
    }
  }

  /** Frame sampling: every `stride`-th FrameBytes-sized slice of the
    * payload (the video-keyframe access pattern), emitted as
    * (doc_id, frame_no, frame bytes).
    */
  def frameSample(media: Dataset[MediaRecord], stride: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media
      .flatMap { r =>
        val nFrames = (r.media.length + FrameBytes - 1) / FrameBytes
        (0 until nFrames by stride).map { f =>
          val from = f * FrameBytes
          val until = math.min(from + FrameBytes, r.media.length)
          (r.doc_id, f, java.util.Arrays.copyOfRange(r.media, from, until))
        }
      }
      .toDF("doc_id", "frame_no", "frame")
  }

  /** A synthesized media corpus: (doc_id, media) with `encode(doc_id)` as
    * the payload of every document. The doc ids are spread first, so the
    * per-doc encode runs partition-parallel.
    */
  def encodedCorpus(spark: SparkSession, dir: String)(encode: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    spread(table(spark, dir, "documents").select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map(id => (id, encode(id))))
      .toDF("doc_id", "media")
  }

  // ---- real audio decode (PCM WAV) --------------------------------------

  /** Deterministic synthesis parameters for the WAV corpus. The PAYLOAD
    * is synthesized (no media files exist in this sandbox), but it is a
    * spec-compliant RIFF/WAVE container — canonical 44-byte PCM header +
    * little-endian 16-bit mono samples — and [[wavDecode]] is a REAL
    * parser: it reads the sample rate, channel count, bit depth, and
    * data length from the HEADER BYTES and decodes the samples from the
    * little-endian data chunk. It would decode any spec-compliant mono
    * PCM16 WAV, and the decode-sensitivity test proves the parsed fields
    * come from the bytes, not the synthesis formula.
    *
    * Samples are integer-arithmetic only (`(doc_id·7919 + i·104729) mod
    * 2¹⁶ − 2¹⁵`) so the DuckDB oracle reproduces the EXPECTED features
    * exactly from the same formula — gating the full synthesize → encode
    * → parse → feature round trip: a mis-read header offset, wrong
    * endianness, or off-by-one in the data chunk shifts every feature.
    */
  val WavHeaderBytes = 44

  /** Per-doc sample count: bounded, varies with the text length. */
  def wavSampleCount(nChars: Int): Int = 32 + nChars % 64

  /** Per-doc sample rate: varies so the parser's header read is load-bearing. */
  def wavSampleRate(docId: Long): Int = (8000 + (docId % 3) * 4000).toInt

  /** The i-th PCM sample of doc `docId` — exact integer arithmetic. */
  def wavSample(docId: Long, i: Int): Int =
    (((docId * 7919L + i.toLong * 104729L) % 65536L) - 32768L).toInt

  /** Encode one spec-compliant mono PCM16 WAV container. */
  private[pipeline] def wavEncode(docId: Long, nChars: Int): Array[Byte] = {
    val n = wavSampleCount(nChars)
    val sr = wavSampleRate(docId)
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer
      .allocate(WavHeaderBytes + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.putInt(36 + dataSize)
    bb.put("WAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.put("fmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.putInt(16) // PCM fmt chunk size
    bb.putShort(1) // audio format: PCM
    bb.putShort(1) // channels: mono
    bb.putInt(sr)
    bb.putInt(sr * 2) // byte rate = sr * block align
    bb.putShort(2) // block align = channels * bytes/sample
    bb.putShort(16) // bits per sample
    bb.put("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.putInt(dataSize)
    var i = 0
    while (i < n) { bb.putShort(wavSample(docId, i).toShort); i += 1 }
    bb.array()
  }

  /** Parsed header + decoded samples of a mono PCM16 WAV. */
  final case class WavDecoded(
      sampleRate: Int, channels: Int, bits: Int, samples: Array[Int])

  /** REAL RIFF/WAVE parse: magic validation, header-field reads, and
    * little-endian int16 sample decode — every field from the BYTES.
    */
  private[pipeline] def wavDecode(bytes: Array[Byte]): WavDecoded = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def magic(off: Int, want: String): Unit = {
      val got = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      require(got == want, s"bad magic at $off: '$got' (want '$want')")
    }
    magic(0, "RIFF"); magic(8, "WAVE"); magic(12, "fmt "); magic(36, "data")
    val fmt = bb.getShort(20)
    require(fmt == 1, s"not PCM: format $fmt")
    val channels = bb.getShort(22).toInt
    val sampleRate = bb.getInt(24)
    val bits = bb.getShort(34).toInt
    require(bits == 16, s"unsupported bit depth $bits")
    val dataSize = bb.getInt(40)
    require(WavHeaderBytes + dataSize <= bytes.length, "truncated data chunk")
    val n = dataSize / 2
    val samples = new Array[Int](n)
    var i = 0
    while (i < n) { samples(i) = bb.getShort(WavHeaderBytes + i * 2).toInt; i += 1 }
    WavDecoded(sampleRate, channels, bits, samples)
  }

  /** The synthesized WAV corpus: (doc_id, media) with a real RIFF payload. */
  def wavTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spread(
      table(spark, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars")))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nc) => (id, wavEncode(id, nc)) })
      .toDF("doc_id", "media")
  }

  /** Declared query (q136): decode the WAV corpus and emit per-doc audio
    * features — header fields (sample_rate) plus sample statistics (peak
    * amplitude, RMS). One narrow kernel pass, no shuffle before the
    * output sort; the DuckDB oracle recomputes the expected values from
    * the synthesis formula, so a parser that mis-reads any header offset
    * or the sample endianness goes red.
    */
  def wavFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    wavTable(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = wavDecode(bytes)
        var sumSq = 0L
        var peak = 0
        var i = 0
        while (i < d.samples.length) {
          val s = d.samples(i)
          sumSq += s.toLong * s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        val rms = math.sqrt(sumSq.toDouble / d.samples.length)
        (id, d.sampleRate, d.samples.length, peak, rms)
      })
      .toDF("doc_id", "sample_rate", "n_samples", "peak", "rms_raw")
      .select(
        col("doc_id"), col("sample_rate"), col("n_samples"), col("peak"),
        round(col("rms_raw"), 4).as("rms"))
      .orderBy(col("doc_id"))
  }

  // ---- real image decode (24-bit BMP) ------------------------------------

  /** The image twin of the WAV codec: the payload is a spec-compliant
    * uncompressed 24-bit Windows BMP (BITMAPFILEHEADER + BITMAPINFOHEADER
    * + bottom-up BGR rows padded to 4-byte stride) synthesized from
    * integer formulas, and [[bmpDecode]] is a REAL parser — magic check,
    * header-field reads, stride arithmetic, and the bottom-up row order
    * every BMP reader must honor. The declared features make BOTH
    * gotchas load-bearing: `top_row_lum` depends on the first IMAGE row
    * being the LAST stored row, and any stride mistake shifts every
    * pixel of every non-multiple-of-4 width.
    */
  val BmpHeaderBytes = 54

  def bmpWidth(docId: Long): Int = (8 + docId % 5).toInt
  def bmpHeight(docId: Long): Int = (6 + docId % 4).toInt

  /** BGR channel values of pixel (x, y) in IMAGE coordinates (y = 0 is
    * the top row) — exact integer arithmetic, mirrored by the oracle.
    */
  def bmpB(docId: Long, x: Int, y: Int): Int = ((docId * 31 + x * 7 + y * 13) % 256).toInt
  def bmpG(docId: Long, x: Int, y: Int): Int = ((docId * 17 + x * 11 + y * 3) % 256).toInt
  def bmpR(docId: Long, x: Int, y: Int): Int = ((docId * 23 + x * 5 + y * 19) % 256).toInt

  private def bmpStride(w: Int): Int = ((w * 3 + 3) / 4) * 4

  /** Encode one spec-compliant 24-bit uncompressed BMP. */
  private[pipeline] def bmpEncode(docId: Long): Array[Byte] = {
    val w = bmpWidth(docId)
    val h = bmpHeight(docId)
    val stride = bmpStride(w)
    val imgSize = stride * h
    val bb = java.nio.ByteBuffer
      .allocate(BmpHeaderBytes + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(BmpHeaderBytes + imgSize) // file size
    bb.putInt(0) // reserved
    bb.putInt(BmpHeaderBytes) // pixel-data offset
    bb.putInt(40) // BITMAPINFOHEADER size
    bb.putInt(w)
    bb.putInt(h) // positive height = bottom-up row order
    bb.putShort(1) // planes
    bb.putShort(24) // bits per pixel
    bb.putInt(0) // BI_RGB, uncompressed
    bb.putInt(imgSize)
    bb.putInt(2835).putInt(2835) // 72 DPI in pixels/metre
    bb.putInt(0).putInt(0) // palette fields
    // rows stored bottom-up: stored row 0 is image row h-1
    var sy = 0
    while (sy < h) {
      val y = h - 1 - sy
      var x = 0
      while (x < w) {
        bb.put(bmpB(docId, x, y).toByte)
        bb.put(bmpG(docId, x, y).toByte)
        bb.put(bmpR(docId, x, y).toByte)
        x += 1
      }
      var pad = w * 3
      while (pad < stride) { bb.put(0.toByte); pad += 1 }
      sy += 1
    }
    bb.array()
  }

  /** Decoded BMP: header fields + pixels in IMAGE row order (top first),
    * each pixel as packed (r, g, b).
    */
  final case class BmpDecoded(width: Int, height: Int, bpp: Int, rgb: Array[Array[Int]])

  /** REAL BMP parse: magic + header reads, stride skip, bottom-up
    * unflip — `rgb(y)(x*3 + c)` is channel c (r,g,b) of image pixel
    * (x, y) with y = 0 the TOP row.
    */
  private[pipeline] def bmpDecode(bytes: Array[Byte]): BmpDecoded = {
    require(bytes.length >= BmpHeaderBytes && bytes(0) == 'B' && bytes(1) == 'M',
      "not a BMP: bad magic")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val offset = bb.getInt(10)
    val w = bb.getInt(18)
    val h = bb.getInt(22)
    val bpp = bb.getShort(28).toInt
    val compression = bb.getInt(30)
    require(bpp == 24 && compression == 0, s"unsupported BMP: bpp=$bpp compression=$compression")
    require(h > 0, "top-down BMPs not supported")
    val stride = bmpStride(w)
    require(offset + stride.toLong * h <= bytes.length, "truncated pixel data")
    val rgb = Array.ofDim[Int](h, w * 3)
    var sy = 0
    while (sy < h) {
      val y = h - 1 - sy // bottom-up storage
      val rowOff = offset + sy * stride
      var x = 0
      while (x < w) {
        rgb(y)(x * 3) = bytes(rowOff + x * 3 + 2) & 0xFF // R
        rgb(y)(x * 3 + 1) = bytes(rowOff + x * 3 + 1) & 0xFF // G
        rgb(y)(x * 3 + 2) = bytes(rowOff + x * 3) & 0xFF // B
        x += 1
      }
      sy += 1
    }
    BmpDecoded(w, h, bpp, rgb)
  }

  /** Declared query (q138): decode the BMP corpus and emit per-doc image
    * features — header dimensions, mean luminance over all pixels, and
    * the TOP-row luminance sum (load-bearing for the bottom-up row
    * order: a parser that forgets the unflip reports the bottom row
    * here and goes red against the oracle).
    */
  def bmpFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    encodedCorpus(spark, dir)(bmpEncode)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = bmpDecode(bytes)
        var sum = 0L
        var topSum = 0L
        var y = 0
        while (y < d.height) {
          val row = d.rgb(y)
          var i = 0
          while (i < row.length) {
            sum += row(i)
            if (y == 0) topSum += row(i)
            i += 1
          }
          y += 1
        }
        val meanLum = sum.toDouble / (3L * d.width * d.height)
        (id, d.width, d.height, meanLum, topSum)
      })
      .toDF("doc_id", "width", "height", "mean_lum_raw", "top_row_lum")
      .select(
        col("doc_id"), col("width"), col("height"),
        round(col("mean_lum_raw"), 4).as("mean_lum"), col("top_row_lum"))
      .orderBy(col("doc_id"))
  }

  // ---- real image decode (PNG, 8-bit truecolor) --------------------------

  /** The compressed-format member of the real-decoder tier: the payload
    * is a spec-compliant PNG (8-byte signature; IHDR/IDAT/IEND chunks
    * with big-endian lengths and CRC-32 trailers; zlib-deflated,
    * per-row-filtered scanlines) and [[pngDecode]] is a REAL parser —
    * signature + CRC validation, IHDR field reads, multi-IDAT
    * concatenation, `java.util.zip.Inflater` decompression, and full
    * reconstruction of ALL FIVE scanline filters (None/Sub/Up/Average/
    * Paeth). DEFLATE ships in the JDK, so unlike JPEG/H.264 no external
    * codec is needed: this moves PNG out of the byte-histogram tier.
    *
    * The synthesized corpus makes every stage load-bearing: pixel
    * channels come from integer formulas (mirrored by the oracle), the
    * encoder assigns row `y` filter `y % 5` so every filter type appears
    * in every image (heights are ≥ 5), and IDAT is split into ≤64-byte
    * chunks so single-chunk shortcuts fail. A decoder that mis-chains
    * any filter, drops an IDAT chunk, or misreads the header shifts the
    * features and goes red against the q154 oracle.
    */
  val PngSig: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n').map(_.toByte)

  val PngIdatChunkBytes = 64 // encoder splits IDAT so multi-chunk reads are exercised

  def pngWidth(docId: Long): Int = (7 + docId % 6).toInt // 7..12
  def pngHeight(docId: Long): Int = (5 + docId % 5).toInt // 5..9

  /** RGB channel values of pixel (x, y), y = 0 the top row (PNG stores
    * top-down — no unflip) — exact integer arithmetic, mirrored by the
    * oracle.
    */
  def pngR(docId: Long, x: Int, y: Int): Int = ((docId * 37 + x * 13 + y * 7) % 256).toInt
  def pngG(docId: Long, x: Int, y: Int): Int = ((docId * 29 + x * 3 + y * 17) % 256).toInt
  def pngB(docId: Long, x: Int, y: Int): Int = ((docId * 41 + x * 19 + y * 11) % 256).toInt

  /** Paeth predictor (PNG spec §9.4): nearest of left/up/upper-left to
    * the linear estimate a + b − c, ties resolved left, up, upper-left.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def pngChunk(out: java.io.ByteArrayOutputStream, typ: String, data: Array[Byte]): Unit = {
    val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
    out.write(len)
    val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(tb)
    out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
  }

  /** Encode one spec-compliant 8-bit RGB PNG of the synthesized corpus
    * image (pixels from the integer formulas).
    */
  private[pipeline] def pngEncode(docId: Long): Array[Byte] = {
    val w = pngWidth(docId)
    val h = pngHeight(docId)
    pngEncodeImage(Array.tabulate(h) { y =>
      val r = new Array[Int](w * 3)
      var x = 0
      while (x < w) {
        r(x * 3) = pngR(docId, x, y)
        r(x * 3 + 1) = pngG(docId, x, y)
        r(x * 3 + 2) = pngB(docId, x, y)
        x += 1
      }
      r
    })
  }

  /** Encode ARBITRARY raw scanlines (`raw(y)(x*3 + c)`, any byte
    * values): filtered rows (row y gets filter y % 5), zlib-deflated,
    * chunked with CRC-32 trailers. Split out of [[pngEncode]] so the
    * property suite can round-trip arbitrary images through the REAL
    * codec, not a mirror of its arithmetic.
    */
  private[pipeline] def pngEncodeImage(raw: Array[Array[Int]]): Array[Byte] = {
    val h = raw.length
    require(h > 0 && raw(0).length % 3 == 0 && raw(0).length > 0, "bad image shape")
    val w = raw(0).length / 3
    val rowBytes = w * 3
    // filter: out = raw - predictor (mod 256), predictor per PNG spec, bpp=3
    val filtered = new Array[Byte](h * (1 + rowBytes))
    var y = 0
    while (y < h) {
      val f = y % 5
      val base = y * (1 + rowBytes)
      filtered(base) = f.toByte
      var i = 0
      while (i < rowBytes) {
        val left = if (i >= 3) raw(y)(i - 3) else 0
        val up = if (y > 0) raw(y - 1)(i) else 0
        val ul = if (i >= 3 && y > 0) raw(y - 1)(i - 3) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        filtered(base + 1 + i) = ((raw(y)(i) - pred) & 0xFF).toByte
        i += 1
      }
      y += 1
    }
    // zlib-deflate the filtered stream (Deflater's default wrapper IS zlib)
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered)
    defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    while (!defl.finished()) {
      val n = defl.deflate(tmp)
      zbuf.write(tmp, 0, n)
    }
    defl.end()
    val z = zbuf.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte) // bit depth
      .put(2.toByte) // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // compression, filter, interlace
      .array()
    pngChunk(out, "IHDR", ihdr)
    var off = 0
    while (off < z.length) {
      val n = math.min(PngIdatChunkBytes, z.length - off)
      pngChunk(out, "IDAT", java.util.Arrays.copyOfRange(z, off, off + n))
      off += n
    }
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decoded PNG: header fields + pixels in image row order, `rgb(y)(x*3
    * + c)` channel c (r,g,b) of pixel (x, y), y = 0 the top row.
    */
  final case class PngDecoded(width: Int, height: Int, bitDepth: Int, colorType: Int,
      rgb: Array[Array[Int]])

  /** REAL PNG parse: signature + per-chunk CRC-32 validation, IHDR field
    * reads, multi-IDAT concatenation, `Inflater` decompression, and
    * reconstruction of all five scanline filters.
    */
  private[pipeline] def pngDecode(bytes: Array[Byte]): PngDecoded = {
    require(bytes.length >= 8 && java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(bytes, 0, 8), PngSig), "not a PNG: bad signature")
    val bb = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
    var pos = 8
    var w = -1; var h = -1; var bitDepth = -1; var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      require(pos + 8 <= bytes.length, "truncated chunk header")
      val len = bb.getInt(pos)
      val typ = new String(bytes, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // Long arithmetic: an adversarial len near Int.MaxValue overflows the
      // Int sum and would slip past this require into an array exception
      require(len >= 0 && pos.toLong + 12L + len <= bytes.length, s"truncated $typ chunk")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, pos + 4, 4 + len)
      require(crc.getValue.toInt == bb.getInt(pos + 8 + len), s"bad CRC in $typ chunk")
      typ match {
        case "IHDR" =>
          w = bb.getInt(pos + 8)
          h = bb.getInt(pos + 12)
          bitDepth = bytes(pos + 16) & 0xFF
          colorType = bytes(pos + 17) & 0xFF
          require(bitDepth == 8 && colorType == 2,
            s"unsupported PNG: depth=$bitDepth colorType=$colorType")
          require((bytes(pos + 18) | bytes(pos + 19) | bytes(pos + 20)) == 0,
            "unsupported compression/filter/interlace method")
        case "IDAT" => idat.write(bytes, pos + 8, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks: CRC-checked, otherwise skipped
      }
      pos += 12 + len
    }
    require(w > 0 && h > 0, "missing IHDR")
    val rowBytes = w * 3
    val infl = new java.util.zip.Inflater()
    infl.setInput(idat.toByteArray)
    val filtered = new Array[Byte](h * (1 + rowBytes))
    var got = 0
    while (got < filtered.length && !infl.finished()) {
      val n = infl.inflate(filtered, got, filtered.length - got)
      require(n > 0 || infl.finished(), "truncated IDAT stream")
      got += n
    }
    infl.end()
    require(got == filtered.length, s"short scanline data: $got of ${filtered.length}")
    // reconstruct: recon = filt + predictor (mod 256), bpp = 3
    val rgb = Array.ofDim[Int](h, rowBytes)
    var y = 0
    while (y < h) {
      val f = filtered(y * (1 + rowBytes)) & 0xFF
      require(f <= 4, s"bad filter type $f on row $y")
      val base = y * (1 + rowBytes) + 1
      var i = 0
      while (i < rowBytes) {
        val left = if (i >= 3) rgb(y)(i - 3) else 0
        val up = if (y > 0) rgb(y - 1)(i) else 0
        val ul = if (i >= 3 && y > 0) rgb(y - 1)(i - 3) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        rgb(y)(i) = ((filtered(base + i) & 0xFF) + pred) & 0xFF
        i += 1
      }
      y += 1
    }
    PngDecoded(w, h, bitDepth, colorType, rgb)
  }

  /** Declared query (q154): decode the PNG corpus and emit per-doc image
    * features — header dimensions, mean luminance, top-row and
    * BOTTOM-row luminance sums. The bottom row reconstructs through the
    * whole Up/Average/Paeth filter chain (each row's predictor reads the
    * previous RECONSTRUCTED row), so a filter bug anywhere in the chain
    * shifts `bot_row_lum` and goes red against the oracle.
    */
  def pngFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    encodedCorpus(spark, dir)(pngEncode)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = pngDecode(bytes)
        var sum = 0L
        var topSum = 0L
        var botSum = 0L
        var y = 0
        while (y < d.height) {
          val row = d.rgb(y)
          var i = 0
          while (i < row.length) {
            sum += row(i)
            if (y == 0) topSum += row(i)
            if (y == d.height - 1) botSum += row(i)
            i += 1
          }
          y += 1
        }
        val meanLum = sum.toDouble / (3L * d.width * d.height)
        (id, d.width, d.height, meanLum, topSum, botSum)
      })
      .toDF("doc_id", "width", "height", "mean_lum_raw", "top_row_lum", "bot_row_lum")
      .select(
        col("doc_id"), col("width"), col("height"),
        round(col("mean_lum_raw"), 4).as("mean_lum"),
        col("top_row_lum"), col("bot_row_lum"))
      .orderBy(col("doc_id"))
  }

  // ---- real image decode (GIF87a, LZW) -----------------------------------

  /** Third member of the real-decoder tier, chosen because its
    * compression is a genuinely DIFFERENT algorithm from PNG's DEFLATE:
    * GIF87a with a hand-written variable-width LZW codec (code widths
    * growing 5→12 bits, clear/end codes, dictionary reconstruction
    * including the KwKwK self-reference case), LSB-first bit packing,
    * and the 255-byte-max data sub-block framing (the encoder caps
    * sub-blocks at [[GifSubBlockBytes]] so multi-block reads are always
    * exercised). Pixels are 4-bit palette indices from integer formulas;
    * the palette maps indices to RGB by its own formulas — both mirrored
    * by the q160 oracle, so any LZW/bit-packing/framing bug scrambles
    * the features and goes red.
    */
  val GifPaletteBits = 4 // 16-color global palette
  val GifSubBlockBytes = 32

  def gifWidth(docId: Long): Int = (10 + docId % 7).toInt // 10..16
  def gifHeight(docId: Long): Int = (6 + docId % 5).toInt // 6..10

  /** Palette index of pixel (x, y): x/3 makes horizontal runs, so the
    * LZW dictionary genuinely compresses (and the KwKwK decode case
    * occurs in the corpus).
    */
  def gifIndex(docId: Long, x: Int, y: Int): Int =
    ((docId + x / 3 + y * 2) % 16).toInt

  /** Palette entry i (RGB) — index-only formulas the oracle mirrors. */
  def gifPalR(i: Int): Int = (i * 37) % 256
  def gifPalG(i: Int): Int = (i * 57) % 256
  def gifPalB(i: Int): Int = (i * 11 + 5) % 256

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nBits = 0
    def write(code: Int, width: Int): Unit = {
      acc |= (code.toLong & ((1L << width) - 1)) << nBits
      nBits += width
      while (nBits >= 8) { out.write((acc & 0xFF).toInt); acc >>>= 8; nBits -= 8 }
    }
    def finish(): Array[Byte] = {
      if (nBits > 0) { out.write((acc & 0xFF).toInt); acc = 0; nBits = 0 }
      out.toByteArray
    }
  }

  private final class BitReader(bytes: Array[Byte]) {
    private var acc = 0L
    private var nBits = 0
    private var pos = 0
    def read(width: Int): Int = {
      while (nBits < width) {
        require(pos < bytes.length, "LZW stream truncated")
        acc |= (bytes(pos) & 0xFFL) << nBits
        pos += 1
        nBits += 8
      }
      val v = (acc & ((1L << width) - 1)).toInt
      acc >>>= width
      nBits -= width
      v
    }
  }

  /** GIF variable-width LZW compress of a palette-index stream.
    *
    * WIDTH-BUMP CONVENTION (shared with [[lzwDecode]], and the reason it
    * is stated in terms of CODES EMITTED rather than dictionary size):
    * after the n-th data code since a clear, both sides bump when
    * `clear + 1 + n == 2^width`. Mid-stream this is identical to the
    * usual "dictionary reached 2^width" rule (the decoder's dict after
    * reading n codes holds exactly clear+1+n entries), but at the END
    * code they differ: the encoder's final flushed code adds NO
    * dictionary entry while the decoder's matching read adds one, so a
    * dict-size rule desynchronizes exactly when the final data code
    * lands on a width boundary — the decoder would read the end code one
    * bit wider than the encoder wrote it. Counting codes makes the two
    * sides provably bump at the same stream position in every case.
    */
  private[pipeline] def lzwEncode(indices: Array[Int], minCodeSize: Int): Array[Byte] =
    lzwEncodeWithStats(indices, minCodeSize)._1

  /** [[lzwEncode]] plus the number of mid-stream dictionary resets —
    * exposed so the property suite can prove its long-stream case really
    * drives the 4096-entry clear path on both sides.
    */
  private[pipeline] def lzwEncodeWithStats(
      indices: Array[Int], minCodeSize: Int): (Array[Byte], Int) = {
    val clear = 1 << minCodeSize
    val end = clear + 1
    val bw = new BitWriter
    var width = minCodeSize + 1
    val dict = new java.util.HashMap[String, Int]()
    var next = end + 1
    var nCodes = 0 // data codes written since the last clear
    var nClears = 0
    def writeData(code: Int): Unit = {
      bw.write(code, width)
      nCodes += 1
      if (clear + 1 + nCodes == (1 << width) && width < 12) width += 1
    }
    bw.write(clear, width)
    var cur = "" // current sequence, palette indices as chars
    var curCode = -1
    for (c <- indices) {
      if (cur.isEmpty) { cur = "" + c.toChar; curCode = c }
      else {
        val cand = cur + c.toChar
        if (dict.containsKey(cand)) { cur = cand; curCode = dict.get(cand) }
        else {
          writeData(curCode)
          dict.put(cand, next)
          next += 1
          if (next == 4096) {
            bw.write(clear, width)
            dict.clear(); next = end + 1; width = minCodeSize + 1; nCodes = 0
            nClears += 1
          }
          cur = "" + c.toChar; curCode = c
        }
      }
    }
    if (curCode >= 0) writeData(curCode)
    bw.write(end, width)
    (bw.finish(), nClears)
  }

  /** GIF variable-width LZW decompress — dictionary reconstruction with
    * the KwKwK (code == next unassigned entry) case. Width bumps follow
    * the codes-read count, mirroring [[lzwEncode]] exactly (see its
    * scaladoc for why dict-size-based bumping desyncs at the end code).
    */
  private[pipeline] def lzwDecode(bytes: Array[Byte], minCodeSize: Int): Array[Int] = {
    val clear = 1 << minCodeSize
    val end = clear + 1
    val br = new BitReader(bytes)
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var width = minCodeSize + 1
    var nCodes = 0 // data codes read since the last clear
    var dict = new scala.collection.mutable.ArrayBuffer[Array[Int]]()
    def reset(): Unit = {
      dict = scala.collection.mutable.ArrayBuffer.tabulate(end + 1)(i => Array(i))
      width = minCodeSize + 1
      nCodes = 0
    }
    reset()
    var prev: Array[Int] = null
    var done = false
    while (!done) {
      val code = br.read(width)
      if (code == end) done = true
      else if (code == clear) { reset(); prev = null }
      else {
        val entry =
          if (code < dict.length) dict(code)
          else if (code == dict.length && prev != null) prev :+ prev(0) // KwKwK
          else throw new IllegalArgumentException(s"bad LZW code $code (dict ${dict.length})")
        out ++= entry
        if (prev != null) dict += (prev :+ entry(0))
        prev = entry
        nCodes += 1
        if (clear + 1 + nCodes == (1 << width) && width < 12) width += 1
      }
    }
    out.toArray
  }

  /** Encode one spec-compliant GIF87a: header, logical screen descriptor,
    * 16-entry global color table, image descriptor, LZW data in capped
    * sub-blocks, trailer.
    */
  private[pipeline] def gifEncode(docId: Long): Array[Byte] = {
    val w = gifWidth(docId)
    val h = gifHeight(docId)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    u16(w); u16(h)
    // packed: GCT present, color resolution 8, GCT size 2^(3+1)=16
    out.write(0x80 | (7 << 4) | (GifPaletteBits - 1))
    out.write(0) // background color index
    out.write(0) // pixel aspect
    for (i <- 0 until 16) { out.write(gifPalR(i)); out.write(gifPalG(i)); out.write(gifPalB(i)) }
    out.write(0x2C) // image descriptor
    u16(0); u16(0); u16(w); u16(h)
    out.write(0) // no local table, not interlaced
    val indices = Array.tabulate(h * w)(p => gifIndex(docId, p % w, p / w))
    out.write(GifPaletteBits) // LZW min code size
    val z = lzwEncode(indices, GifPaletteBits)
    var off = 0
    while (off < z.length) {
      val n = math.min(GifSubBlockBytes, z.length - off)
      out.write(n)
      out.write(z, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Decoded GIF: dimensions + palette + pixel indices in row order. */
  final case class GifDecoded(
      width: Int, height: Int, palette: Array[Array[Int]], indices: Array[Int])

  /** REAL GIF87a parse: signature, screen descriptor, global color
    * table, image descriptor, sub-block concatenation, LZW decode.
    */
  private[pipeline] def gifDecode(bytes: Array[Byte]): GifDecoded = {
    require(bytes.length > 13 &&
      new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII) == "GIF87a",
      "not a GIF87a: bad signature")
    def u16(off: Int): Int = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
    val sw = u16(6)
    val sh = u16(8)
    val packed = bytes(10) & 0xFF
    require((packed & 0x80) != 0, "no global color table")
    val palSize = 1 << ((packed & 0x07) + 1)
    val palette = Array.tabulate(palSize) { i =>
      val o = 13 + i * 3
      Array(bytes(o) & 0xFF, bytes(o + 1) & 0xFF, bytes(o + 2) & 0xFF)
    }
    var pos = 13 + palSize * 3
    require((bytes(pos) & 0xFF) == 0x2C, s"expected image descriptor at $pos")
    val w = u16(pos + 5)
    val h = u16(pos + 7)
    require(w == sw && h == sh, "sub-image GIFs not supported")
    require((bytes(pos + 9) & 0xC0) == 0, "local table/interlace not supported")
    pos += 10
    val minCodeSize = bytes(pos) & 0xFF
    pos += 1
    val z = new java.io.ByteArrayOutputStream()
    require(pos < bytes.length, "truncated before first sub-block")
    var len = bytes(pos) & 0xFF
    while (len != 0) {
      require(pos + 1 + len < bytes.length, "truncated sub-block")
      z.write(bytes, pos + 1, len)
      pos += 1 + len
      len = bytes(pos) & 0xFF
    }
    require(pos + 1 < bytes.length && (bytes(pos + 1) & 0xFF) == 0x3B, "missing trailer")
    val indices = lzwDecode(z.toByteArray, minCodeSize)
    require(indices.length == w * h, s"decoded ${indices.length} pixels, want ${w * h}")
    GifDecoded(w, h, palette, indices)
  }

  /** Declared query (q160): decode the GIF corpus and emit per-doc
    * features — dimensions, mean palette-mapped luminance, and the
    * top/bottom row luminance sums (any LZW dictionary or bit-packing
    * slip shifts every later pixel, so bot_row_lum is maximally
    * sensitive). Oracle recomputes from the index + palette formulas.
    */
  def gifFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    encodedCorpus(spark, dir)(gifEncode)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = gifDecode(bytes)
        var sum = 0L
        var topSum = 0L
        var botSum = 0L
        var p = 0
        while (p < d.indices.length) {
          val y = p / d.width
          val c = d.palette(d.indices(p))
          val lum = c(0) + c(1) + c(2)
          sum += lum
          if (y == 0) topSum += lum
          if (y == d.height - 1) botSum += lum
          p += 1
        }
        (id, d.width, d.height, sum.toDouble / (3L * d.width * d.height), topSum, botSum)
      })
      .toDF("doc_id", "width", "height", "mean_lum_raw", "top_row_lum", "bot_row_lum")
      .select(
        col("doc_id"), col("width"), col("height"),
        round(col("mean_lum_raw"), 4).as("mean_lum"),
        col("top_row_lum"), col("bot_row_lum"))
      .orderBy(col("doc_id"))
  }

  // ---- real image decode (baseline JPEG / JFIF) --------------------------

  /** Fifth member of the real-decoder tier and the last one the
    * byte-histogram stand-in used to cover: baseline sequential JPEG in
    * a JFIF container, decoded by a REAL entropy decoder — marker walk
    * (APP0/COM skipped by length), DQT (zigzag-order quant tables), DHT
    * (canonical Huffman code reconstruction from BITS/HUFFVAL), SOF0
    * (dims + sampling), SOS, then the entropy scan: MSB-first bit
    * reading with 0xFF00 byte-unstuffing, Huffman DC-category/AC-(run,
    * size) symbol decode, the `EXTEND` sign recovery of F.2.2.1,
    * DC prediction, de-zigzag, dequantization, an exact integer 8×8
    * IDCT, level shift, clamp, and partial-MCU crop.
    *
    * JPEG is lossy, so unlike PNG/GIF the corpus is synthesized in the
    * QUANTIZED-COEFFICIENT domain: integer formulas generate each
    * block's quantized DCT coefficients, the encoder Huffman-codes them
    * (real DC diffs, run-length AC with EOB/ZRL, byte stuffing), and
    * decode is then bit-exact predictable — the q167 oracle regenerates
    * the same coefficients and replays dequant + the SAME fixed-point
    * IDCT (the 64-entry [[JpegIdctK]] table inlined as SQL literals,
    * all-integer arithmetic) without ever touching the bytes. A wrong
    * Huffman table, a bit-reader slip, a missed stuffed byte, or a
    * wrong IDCT constant shifts pixels and goes red.
    *
    * The IDCT is integer-exact BY DEFINITION: this decoder's output
    * spec is `pixel = clamp(floorDiv(Σ deq·K[u][x]·K[v][y] + 2^23,
    * 2^24) + 128)` with K[u][x] = round(C(u)·cos((2x+1)uπ/16)·2048) —
    * within ±1 of the real-valued IDCT (full-scale accuracy far inside
    * ITU T.83 §A bounds) and reproducible in integer SQL.
    *
    * All four JPEG tiers (q167 baseline gray, q174 baseline color, q175
    * progressive gray, q179 progressive color) run through ONE codec:
    * the [[JpegFrame]] model, one encoder driven by a scan script
    * ([[jpegEncodeFrame]]) and one decoder ([[jpegDecodeCoefs]]: one
    * marker walk, one scan walker, one plane stage). Each tier only
    * names its frame, its scan script and its coefficient formulas.
    */
  val JpegIdctScaleBits = 11 // K table is round(C·cos · 2^11)
  val JpegIdctK: Array[Array[Long]] = Array(
    Array(1448L, 1448L, 1448L, 1448L, 1448L, 1448L, 1448L, 1448L),
    Array(2009L, 1703L, 1138L, 400L, -400L, -1138L, -1703L, -2009L),
    Array(1892L, 784L, -784L, -1892L, -1892L, -784L, 784L, 1892L),
    Array(1703L, -400L, -2009L, -1138L, 1138L, 2009L, 400L, -1703L),
    Array(1448L, -1448L, -1448L, 1448L, 1448L, -1448L, -1448L, 1448L),
    Array(1138L, -2009L, 400L, 1703L, -1703L, -400L, 2009L, -1138L),
    Array(784L, -1892L, 1892L, -784L, -784L, 1892L, -1892L, 784L),
    Array(400L, -1138L, 1703L, -2009L, 2009L, -1703L, 1138L, -400L))

  /** The table above, re-derived from the defining formula — the suite
    * asserts equality so the literals' provenance stays checked.
    */
  private[pipeline] def jpegIdctKDerived: Array[Array[Long]] =
    Array.tabulate(8, 8) { (u, x) =>
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      Math.round(cu * Math.cos((2 * x + 1) * u * Math.PI / 16) * (1 << JpegIdctScaleBits))
    }

  /** Zigzag scan order: entry k = natural index (v*8 + u) of the k-th
    * coefficient in the scan (ISO 10918-1 Figure A.6).
    */
  val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Grayscale image dims — non-multiples of 8 in two residue classes so
    * partial-MCU cropping is exercised on both axes.
    */
  def jpegWidth(docId: Long): Int =
    (8 * (1 + docId % 3) - (if (docId % 4 == 1) 3 else 0)).toInt // 5..24
  def jpegHeight(docId: Long): Int =
    (8 * (1 + docId % 2) - (if (docId % 4 == 2) 2 else 0)).toInt // 6..16

  /** Quant table entry for frequency (u horizontal, v vertical). */
  def jpegQuant(u: Int, v: Int): Int = 1 + (u * 3 + v * 5) % 8

  /** Quantized DC coefficient of block `b` (raster block index). */
  def jpegDc(docId: Long, b: Int): Int = ((docId * 5 + b * 3) % 15 - 7).toInt

  /** Quantized AC coefficient at (u, v) ≠ (0, 0): sparse (≈11% nonzero,
    * via an IRREGULAR mod-97 gate so zigzag gaps have a geometric tail —
    * a structured gate would space nonzeros evenly and never produce the
    * >16 gaps that exercise ZRL), values sized for Huffman categories
    * 1..3, early EOBs common.
    */
  def jpegAc(docId: Long, b: Int, u: Int, v: Int): Int = {
    val v0 = ((docId * 7 + b * 11 + u * 13 + v * 17) % 13 - 6).toInt
    if ((docId * 31 + b * 17 + u * 7 + v * 23) % 97 < 12 && v0 != 0) v0 else 0
  }

  /** The scan's two Huffman tables, spec'd as (BITS, HUFFVAL) exactly as
    * they travel in DHT: DC = five category symbols at length 3; AC =
    * fifty symbols at length 6 (EOB, ZRL, then (run 0..15) × (size
    * 1..3)). Canonical code assignment on both sides — the encoder
    * builds codes from this spec, the decoder rebuilds them from the
    * DHT bytes it reads.
    */
  private[pipeline] val JpegDcBits: Array[Int] = { val a = new Array[Int](16); a(2) = 5; a }
  private[pipeline] val JpegDcVals: Array[Int] = Array(0, 1, 2, 3, 4)
  private[pipeline] val JpegAcBits: Array[Int] = { val a = new Array[Int](16); a(5) = 63; a }
  /** AC symbol order chooses the CODES: canonical assignment gives the
    * first HUFFVAL the all-zeros code, so thirteen never-emitted dummy
    * symbols ((run 0, size 4..16) — legal but outside this corpus's
    * value range) absorb the 0-dense low codes and the frequent symbols
    * (low runs, then ZRL, then EOB last at 111110) land on the 1-dense
    * high codes. That keeps the entropy stream's 1-density high enough
    * that 0xFF bytes — and therefore the spec's 0xFF00 byte stuffing —
    * actually occur in the corpus (a stream with EOB = 000000 would
    * essentially never stuff, leaving the decoder's unstuffing path
    * untested).
    */
  private[pipeline] val JpegAcVals: Array[Int] =
    ((4 to 15).toArray :+ 0x14) ++ // 13 dummies: (run 0, size 4..15), (run 1, size 4)
      (for (r <- 15 to 0 by -1; s <- 1 to 3) yield (r << 4) | s) ++
      Array(0xF0, 0x00) // ZRL, then EOB on the highest assigned code

  /** symbol -> (code, length) canonical assignment (C.2 of the spec). */
  private[pipeline] def huffAssign(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var vi = 0
    val m = Map.newBuilder[Int, (Int, Int)]
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) {
        m += vals(vi) -> ((code, l))
        code += 1; vi += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    m.result()
  }

  /** MSB-first entropy bit writer with 0xFF00 byte stuffing and 1-fill
    * final padding (F.1.2.3).
    */
  private[pipeline] final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def write(code: Int, width: Int): Unit = {
      var i = width - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1)
        n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00)
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def finish(): Unit = if (n > 0) write((1 << (8 - n)) - 1, 8 - n)
    /** Restart marker: 1-pad to the byte boundary, then emit RSTm —
      * markers live OUTSIDE the entropy layer, so no stuffing.
      */
    def restart(m: Int): Unit = {
      finish()
      out.write(0xFF); out.write(0xD0 + (m & 7))
    }
  }

  /** Size category of a DC diff / AC value (CSIZE): bits of |v|. */
  private[pipeline] def jpegCategory(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  private[pipeline] def marker(out: java.io.ByteArrayOutputStream, m: Int, payload: Array[Byte]): Unit = {
    out.write(0xFF); out.write(m)
    val len = payload.length + 2
    out.write(len >> 8); out.write(len & 0xFF)
    out.write(payload, 0, payload.length)
  }

  /** Entropy-encode ONE quantized coefficient block (natural order): DC
    * diff + run-length AC with EOB/ZRL. Returns the new DC predictor.
    * Shared by every baseline scan of [[jpegEncodeFrame]] and by Video's
    * codec so the trickiest logic exists once.
    */
  private[pipeline] def jpegWriteBlock(
      bw2: JpegBitWriter,
      dcCodes: Map[Int, (Int, Int)], acCodes: Map[Int, (Int, Int)],
      coefs: Array[Int], pred: Int): Int = {
    def writeVal(v: Int, s: Int): Unit =
      if (s > 0) bw2.write(if (v < 0) v + (1 << s) - 1 else v, s)
    val diff = coefs(0) - pred
    val s = jpegCategory(diff)
    val (dc, dl) = dcCodes(s); bw2.write(dc, dl); writeVal(diff, s)
    var run = 0
    var kk = 1
    while (kk < 64) {
      val c = coefs(JpegZigzag(kk))
      if (c == 0) run += 1
      else {
        while (run > 15) { val (z, zl) = acCodes(0xF0); bw2.write(z, zl); run -= 16 }
        val cs = jpegCategory(c)
        require(cs <= 3, s"AC value $c exceeds the table's size categories")
        val (ac, al) = acCodes((run << 4) | cs); bw2.write(ac, al); writeVal(c, cs)
        run = 0
      }
      kk += 1
    }
    if (run > 0) { val (e, el) = acCodes(0x00); bw2.write(e, el) }
    coefs(0)
  }

  /** Entropy-decode ONE block into natural-order coefficients; returns
    * (coefficients, new DC predictor). Shared by every baseline scan of
    * [[jpegDecodeCoefs]] and by Video's decoder.
    */
  private[pipeline] def jpegReadBlock(
      br: JpegBitReader, dcTab: JpegHuffTable, acTab: JpegHuffTable,
      pred: Int): (Array[Int], Int) = {
    val coefs = new Array[Int](64)
    val s = dcTab.decode(br)
    val dc = pred + jpegExtend(br.receive(s), s)
    coefs(0) = dc
    var k = 1
    var eob = false
    while (k < 64 && !eob) {
      val rs = acTab.decode(br)
      val run = rs >> 4; val size = rs & 0x0F
      if (size == 0) { if (run == 15) k += 16 else eob = true }
      else {
        k += run
        require(k < 64, "AC run overflows the block")
        coefs(JpegZigzag(k)) = jpegExtend(br.receive(size), size)
        k += 1
      }
    }
    (coefs, dc)
  }

  /** Dequantization (zigzag-ordered table) + the exact integer IDCT of
    * one block → 64 clamped pixels row-major. Shared by the plane stage
    * of [[jpegDecodeCoefs]] and by Video's decoder.
    */
  private[pipeline] def jpegIdctBlock(coefs: Array[Int], quantZigzag: Array[Int]): Array[Int] = {
    val deq = new Array[Long](64)
    var k = 0
    while (k < 64) {
      val nat = JpegZigzag(k); deq(nat) = coefs(nat).toLong * quantZigzag(k); k += 1
    }
    val px = new Array[Int](64)
    var ly = 0
    while (ly < 8) {
      var lx = 0
      while (lx < 8) {
        var sum = 0L
        var v = 0
        while (v < 8) {
          val kv = JpegIdctK(v)(ly)
          var u = 0
          while (u < 8) {
            val d = deq(v * 8 + u)
            if (d != 0) sum += d * JpegIdctK(u)(lx) * kv
            u += 1
          }
          v += 1
        }
        val p = Math.floorDiv(sum + (1L << 23), 1L << 24) + 128
        px(ly * 8 + lx) = math.max(0L, math.min(255L, p)).toInt
        lx += 1
      }
      ly += 1
    }
    px
  }

  /** Canonical Huffman decode table rebuilt from DHT's (BITS, HUFFVAL)
    * via the spec's MINCODE/MAXCODE/VALPTR procedure (F.2.2.3).
    */
  private[pipeline] final class JpegHuffTable(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var vi = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = vi
          minCode(l) = code
          code += bits(l - 1); vi += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: JpegBitReader): Int = {
      var code = br.readBit()
      var l = 1
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | br.readBit()
        l += 1
      }
      // code >= minCode(l) guards a corrupt stream whose code lands BELOW
      // the assigned range at this length: without it the vals() offset
      // goes negative (ArrayIndexOutOfBounds) instead of a clean failure
      require(l <= 16 && code >= minCode(l), "invalid Huffman code in entropy stream")
      vals(valPtr(l) + code - minCode(l))
    }
  }

  /** MSB-first entropy bit reader with 0xFF00 unstuffing. */
  private[pipeline] final class JpegBitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def readBit(): Int = {
      if (n == 0) {
        require(pos < bytes.length, "entropy stream truncated")
        val b = bytes(pos) & 0xFF
        pos += 1
        if (b == 0xFF) {
          require(pos < bytes.length && bytes(pos) == 0,
            "marker inside entropy-coded segment")
          pos += 1 // stuffed zero byte
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >>> n) & 1
    }
    def receive(s: Int): Int = {
      var v = 0; var i = 0
      while (i < s) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Consume an expected RSTm marker: drop the current byte's padding
      * bits (restart boundaries are byte-aligned by spec), then require
      * exactly the next marker in the 0..7 cycle.
      */
    def expectRestart(m: Int): Unit = {
      n = 0 // discard buffered padding bits
      require(pos + 1 < bytes.length &&
        (bytes(pos) & 0xFF) == 0xFF && (bytes(pos + 1) & 0xFF) == (0xD0 + (m & 7)),
        f"expected RST${m & 7} marker at $pos")
      pos += 2
    }
  }

  /** EXTEND of F.2.2.1: recover the signed value from its `s` raw bits. */
  private[pipeline] def jpegExtend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Parse ONE DQT marker segment (possibly several tables) at `pos`
    * into `quant`; returns the position after the segment.
    */
  private def jpegParseDqt(bytes: Array[Byte], pos: Int, quant: Array[Array[Int]]): Int = {
    def u8(i: Int): Int = { require(i < bytes.length, "truncated JPEG"); bytes(i) & 0xFF }
    val len = (u8(pos + 2) << 8) | u8(pos + 3)
    var p = pos + 4
    while (p < pos + 2 + len) {
      val pqtq = u8(p)
      require((pqtq >> 4) == 0, "only 8-bit quant tables supported")
      quant(pqtq & 0x0F) = Array.tabulate(64)(k => u8(p + 1 + k))
      p += 65
    }
    pos + 2 + len
  }

  /** Parse ONE DHT marker segment (possibly several tables) at `pos`
    * into `huff(tc)(th)`; returns the position after the segment.
    */
  private[pipeline] def jpegParseDht(bytes: Array[Byte], pos: Int, huff: Array[Array[JpegHuffTable]]): Int = {
    def u8(i: Int): Int = { require(i < bytes.length, "truncated JPEG"); bytes(i) & 0xFF }
    val len = (u8(pos + 2) << 8) | u8(pos + 3)
    var p = pos + 4
    while (p < pos + 2 + len) {
      val tcth = u8(p)
      val bits = Array.tabulate(16)(i => u8(p + 1 + i))
      val nv = bits.sum
      huff(tcth >> 4)(tcth & 0x0F) =
        new JpegHuffTable(bits, Array.tabulate(nv)(i => u8(p + 17 + i)))
      p += 17 + nv
    }
    pos + 2 + len
  }

  /** Progressive AC Huffman table: the baseline table's symbols PLUS the
    * EOBn run codes (0x10..0x40 — runs of up to 31 blocks, far beyond
    * this corpus's 12-block grids). Same canonical-order trick as
    * [[JpegAcVals]]: nine never-emitted dummies absorb the 0-dense low
    * codes so the stream stays 1-dense enough to exercise 0xFF00 byte
    * stuffing; EOB0 (the most frequent symbol) sits on the all-but-one-
    * ones code.
    */
  private val JpegProgAcBits: Array[Int] = { val a = new Array[Int](16); a(5) = 63; a }
  private val JpegProgAcVals: Array[Int] =
    (4 to 12).toArray ++ // 9 dummies: (run 0, size 4..12)
      (for (r <- 15 to 0 by -1; s <- 1 to 3) yield (r << 4) | s) ++
      Array(0x40, 0x30, 0x20, 0x10, 0xF0, 0x00) // EOB4..EOB1, ZRL, EOB0

  /** Longest EOB run the [[JpegProgAcVals]] table can name in one
    * symbol: EOB4 covers (1<<4) + receive(4) = 16..31 blocks. Runs are
    * flushed at this bound so longer empty stretches split into legal
    * symbols (the spec's own bound is 32767 via EOB14 — this corpus's
    * table stops at EOB4).
    */
  private val JpegProgMaxEobRun = 31

  /** The encoder's canonical codes, built once: every table of a corpus
    * stream has the content above, whatever its id.
    */
  private val JpegDcCodes = huffAssign(JpegDcBits, JpegDcVals)
  private val JpegAcCodes = huffAssign(JpegAcBits, JpegAcVals)
  private val JpegProgAcCodes = huffAssign(JpegProgAcBits, JpegProgAcVals)

  /** One AC FIRST scan (Ah=0) for band [ss, se] at point transform
    * `al`: baseline run/size coding of coef/2^Al (truncated toward
    * zero), with trailing-zero blocks folded into cross-block EOB runs.
    */
  private def progWriteAcFirst(bw: JpegBitWriter, codes: Map[Int, (Int, Int)],
      blocks: Array[Array[Int]], ss: Int, se: Int, al: Int,
      restartEvery: Int): Unit = {
    var eobrun = 0
    def flushEob(): Unit = if (eobrun > 0) {
      val r = 31 - Integer.numberOfLeadingZeros(eobrun)
      val (c, l) = codes(r << 4); bw.write(c, l)
      if (r > 0) bw.write(eobrun - (1 << r), r)
      eobrun = 0
    }
    var rstM = 0
    var b = 0
    while (b < blocks.length) {
      if (restartEvery > 0 && b > 0 && b % restartEvery == 0) {
        // an EOB run may not span a restart boundary: flush, then the
        // byte-aligned RSTn (in a non-interleaved scan, MCU = 1 block)
        flushEob()
        bw.restart(rstM); rstM = (rstM + 1) & 7
      }
      val coefs = blocks(b)
      var run = 0
      var k = ss
      while (k <= se) {
        val c = coefs(JpegZigzag(k))
        val t = if (c >= 0) c >> al else -((-c) >> al)
        if (t == 0) run += 1
        else {
          flushEob()
          while (run > 15) { val (z, zl) = codes(0xF0); bw.write(z, zl); run -= 16 }
          val s = jpegCategory(t)
          require(s <= 3, s"AC value $t exceeds the table's size categories")
          val (cc, cl) = codes((run << 4) | s); bw.write(cc, cl)
          bw.write(if (t < 0) t + (1 << s) - 1 else t, s)
          run = 0
        }
        k += 1
      }
      if (run > 0) { eobrun += 1; if (eobrun == JpegProgMaxEobRun) flushEob() }
      b += 1
    }
    flushEob()
  }

  /** One AC REFINEMENT scan (Ah = Al+1) for band [ss, se]: emits, in
    * EXACTLY the order the decoder's G.7 walk consumes them, (a) Huffman
    * (run, 1) symbols + sign bits for newly-significant coefficients
    * (|coef| >> Al == 1), (b) correction bits (bit Al of |coef|) for
    * every already-significant coefficient the walk passes, (c) ZRL for
    * >15 zero-HISTORY gaps (correction positions don't count toward the
    * run), and (d) cross-block EOB runs whose pending correction bits
    * trail the EOBn symbol block-by-block.
    */
  private def progWriteAcRefine(bw: JpegBitWriter, codes: Map[Int, (Int, Int)],
      blocks: Array[Array[Int]], ss: Int, se: Int, al: Int,
      restartEvery: Int): Unit = {
    var eobrun = 0
    val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flushEob(): Unit = {
      if (eobrun > 0) {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        val (c, l) = codes(r << 4); bw.write(c, l)
        if (r > 0) bw.write(eobrun - (1 << r), r)
        eobrun = 0
      }
      pending.foreach(bit => bw.write(bit, 1))
      pending.clear()
    }
    var rstM = 0
    var b = 0
    while (b < blocks.length) {
      if (restartEvery > 0 && b > 0 && b % restartEvery == 0) {
        flushEob() // run + its buffered correction bits end at the boundary
        bw.restart(rstM); rstM = (rstM + 1) & 7
      }
      val coefs = blocks(b)
      def temp(k: Int): Int = math.abs(coefs(JpegZigzag(k))) >> al
      val newPos = (ss to se).filter(k => temp(k) == 1)
      if (newPos.isEmpty) {
        // no newly-significant coefficient: the block joins the EOB run;
        // its band's correction bits ride behind the (future) EOBn symbol
        eobrun += 1
        var k = ss
        while (k <= se) { if (temp(k) > 1) pending += (temp(k) & 1); k += 1 }
        if (eobrun == JpegProgMaxEobRun) flushEob()
      } else {
        flushEob()
        var cur = ss
        for (np <- newPos) {
          // the decoder walk consumes, per emitted symbol, the correction
          // bits of the nonzero-history positions it passes — so each
          // ZRL carries the corrections up to its 16th zero-history
          // position, and the (run, 1) symbol carries the rest up to np
          var segZeros = (cur until np).filter(k => temp(k) == 0)
          while (segZeros.length > 15) {
            val cut = segZeros(15) // the 16th zero-history position
            val (z, zl) = codes(0xF0); bw.write(z, zl)
            var k = cur
            while (k < cut) { if (temp(k) > 1) bw.write(temp(k) & 1, 1); k += 1 }
            cur = cut + 1
            segZeros = segZeros.drop(16)
          }
          val (sc, sl) = codes((segZeros.length << 4) | 1); bw.write(sc, sl)
          bw.write(if (coefs(JpegZigzag(np)) >= 0) 1 else 0, 1)
          var k = cur
          while (k < np) { if (temp(k) > 1) bw.write(temp(k) & 1, 1); k += 1 }
          cur = np + 1
        }
        if (cur <= se) {
          // trailing zero-history/correction positions: start an EOB run
          eobrun += 1
          var k = cur
          while (k <= se) { if (temp(k) > 1) pending += (temp(k) & 1); k += 1 }
          if (eobrun == JpegProgMaxEobRun) flushEob()
        }
      }
      b += 1
    }
    flushEob()
  }

  // ---- the one JPEG codec: frame model, scan walker, encoder, decoder ----

  /** One frame component: id, sampling factors (h, v) and quant table id. */
  private[pipeline] final case class JpegComponent(id: Int, h: Int, v: Int, tq: Int)

  /** The frame model (B.2.2): SOF0 (baseline) or SOF2 (progressive), the
    * components, and the restart interval in MCUs (DRI; 0 = none). Each
    * component's blocks live on its PADDED grid — the one an interleaved
    * scan's MCU walk covers (mcuCols·h × mcuRows·v blocks) — while its
    * plane is ceil(w·h/hmax) × ceil(h·v/vmax) pixels (A.1.1).
    */
  private[pipeline] final case class JpegFrame(progressive: Boolean, width: Int, height: Int,
      comps: IndexedSeq[JpegComponent], restartInterval: Int) {
    val hMax: Int = comps.map(_.h).max
    val vMax: Int = comps.map(_.v).max
    val mcuCols: Int = (width + 8 * hMax - 1) / (8 * hMax)
    val mcuRows: Int = (height + 8 * vMax - 1) / (8 * vMax)
    def paddedW(ci: Int): Int = mcuCols * comps(ci).h
    def paddedH(ci: Int): Int = mcuRows * comps(ci).v
    def planeW(ci: Int): Int = (width * comps(ci).h + hMax - 1) / hMax
    def planeH(ci: Int): Int = (height * comps(ci).v + vMax - 1) / vMax
  }

  /** The grayscale frame: one 1×1 component on quant table 0. */
  private def jpegGrayFrame(progressive: Boolean, w: Int, h: Int, restartEvery: Int): JpegFrame =
    JpegFrame(progressive, w, h, Vector(JpegComponent(1, 1, 1, 0)), restartEvery)

  /** The color frame: Y at the luma sampling factors on tables 0, Cb and
    * Cr 1×1 on tables 1.
    */
  private[pipeline] def jpegColorFrame(progressive: Boolean, w: Int, h: Int,
      sampling: (Int, Int), restartEvery: Int): JpegFrame =
    JpegFrame(progressive, w, h, Vector(JpegComponent(1, sampling._1, sampling._2, 0),
      JpegComponent(2, 1, 1, 1), JpegComponent(3, 1, 1, 1)), restartEvery)

  /** One entry of a scan script: the frame components it codes (indices,
    * in frame order), its spectral band [ss, se] and its successive
    * approximation bits (ah, al). A baseline scan is (0, 63, 0, 0).
    */
  private[pipeline] final case class JpegScan(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int)

  /** One baseline scan over all `n` components (interleaved if n > 1). */
  private[pipeline] def jpegBaselineScript(n: Int): Seq[JpegScan] = Seq(JpegScan(0 until n, 0, 63, 0, 0))

  /** The six-scan grayscale progressive script: DC first Al=1; AC 1–5
    * and 6–63 first Al=1; DC refine; AC 1–5 and 6–63 refine.
    */
  private[pipeline] val JpegProgGrayScript: Seq[JpegScan] = Seq(
    JpegScan(Seq(0), 0, 0, 0, 1), JpegScan(Seq(0), 1, 5, 0, 1), JpegScan(Seq(0), 6, 63, 0, 1),
    JpegScan(Seq(0), 0, 0, 1, 0), JpegScan(Seq(0), 1, 5, 1, 0), JpegScan(Seq(0), 6, 63, 1, 0))

  /** The spec's canonical color-progressive script, eight scans: ONE
    * interleaved DC first (Al=1), per-component AC firsts, one
    * interleaved DC refine, per-component AC refines — AC scans are
    * never interleaved in a progressive frame (G.1.1.1.1).
    */
  private[pipeline] val JpegProgColorScript: Seq[JpegScan] =
    Seq((0, 1), (1, 0)).flatMap { case (ah, al) =>
      JpegScan(0 until 3, 0, 0, ah, al) +: (0 until 3).map(ci => JpegScan(Seq(ci), 1, 63, ah, al))
    }

  /** The scan walker: the blocks one scan visits in order, the frame
    * component of each, and the restart period in blocks. A scan of
    * several components walks MCUs on the padded grid — per MCU each
    * component's h×v blocks, left-to-right then top-to-bottom (A.2.3); a
    * one-component scan walks that component's REDUCED grid, the
    * ceil(planeWidth/8) × ceil(planeHeight/8) blocks covering its plane,
    * one block per MCU (A.2.2). The arrays are shared by reference, so
    * a scan decoder fills them in place.
    */
  private def jpegScanOrder(f: JpegFrame, blocks: Array[Array[Array[Int]]], comps: Seq[Int])
      : (Array[Array[Int]], Array[Int], Int) = {
    val seq = Array.newBuilder[Array[Int]]
    val of = Array.newBuilder[Int]
    if (comps.length == 1) {
      val ci = comps.head
      for (by <- 0 until (f.planeH(ci) + 7) / 8; bx <- 0 until (f.planeW(ci) + 7) / 8) {
        seq += blocks(ci)(by * f.paddedW(ci) + bx); of += ci
      }
      (seq.result(), of.result(), f.restartInterval)
    } else {
      for (my <- 0 until f.mcuRows; mx <- 0 until f.mcuCols; ci <- comps) {
        val c = f.comps(ci)
        for (by <- 0 until c.v; bx <- 0 until c.h) {
          seq += blocks(ci)((my * c.v + by) * f.paddedW(ci) + mx * c.h + bx); of += ci
        }
      }
      (seq.result(), of.result(), f.restartInterval * comps.map(ci => f.comps(ci).h * f.comps(ci).v).sum)
    }
  }

  /** The one encoder: SOI, APP0, DQT, SOF0/SOF2, DHT, DRI (if any), then
    * each scan of `script` over `blocks` (per component, natural-order
    * blocks on its padded grid), then EOI. Quant table 0 is
    * [[jpegQuant]] and 1 is [[jpegQuantChroma]]; each component names the
    * Huffman tables whose id is its quant table id.
    */
  private[pipeline] def jpegEncodeFrame(f: JpegFrame, script: Seq[JpegScan],
      blocks: Array[Array[Array[Int]]]): Array[Byte] = {
    require(blocks.length == f.comps.length && blocks.indices.forall(ci =>
      blocks(ci).length == f.paddedW(ci) * f.paddedH(ci) && blocks(ci).forall(_.length == 64)),
      "bad block grid")
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8) // SOI
    // APP0 JFIF header — exercises the decoder's skip-by-length path
    marker(out, 0xE0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT: every table in ONE segment (the decoder must loop), Pq=0,
    // 64 entries in zigzag order
    val tables = 0 to f.comps.map(_.tq).max
    val dqt = new java.io.ByteArrayOutputStream()
    for (tq <- tables) {
      dqt.write(tq)
      for (k <- 0 until 64) {
        val nat = JpegZigzag(k)
        dqt.write(if (tq == 0) jpegQuant(nat % 8, nat / 8) else jpegQuantChroma(nat % 8, nat / 8))
      }
    }
    marker(out, 0xDB, dqt.toByteArray)
    marker(out, if (f.progressive) 0xC2 else 0xC0, Array[Byte](8,
      (f.height >> 8).toByte, f.height.toByte, (f.width >> 8).toByte, f.width.toByte,
      f.comps.length.toByte) ++ f.comps.flatMap(c => Seq(c.id, (c.h << 4) | c.v, c.tq).map(_.toByte)))
    // DHT: every table in ONE segment (the decoder must loop within it).
    // Tables of different ids carry the same content, so the decoder
    // must still select by the id each scan component names. Baseline
    // lists each id's DC then AC table, progressive all DC tables first.
    val (acBits, acVals, acCodes) =
      if (f.progressive) (JpegProgAcBits, JpegProgAcVals, JpegProgAcCodes)
      else (JpegAcBits, JpegAcVals, JpegAcCodes)
    val tcths = if (f.progressive) tables ++ tables.map(0x10 | _) else tables.flatMap(t => Seq(t, 0x10 | t))
    val dht = new java.io.ByteArrayOutputStream()
    for (tcth <- tcths) {
      dht.write(tcth)
      if (tcth < 0x10) { JpegDcBits.foreach(dht.write); JpegDcVals.foreach(dht.write) }
      else { acBits.foreach(dht.write); acVals.foreach(dht.write) }
    }
    marker(out, 0xC4, dht.toByteArray)
    // DRI: restart every `restartInterval` MCUs — byte-aligned RSTn
    // markers, DC prediction and EOB-run resets, the marker id cycling
    if (f.restartInterval > 0)
      marker(out, 0xDD, Array[Byte]((f.restartInterval >> 8).toByte, f.restartInterval.toByte))
    for (s <- script) {
      require(!f.progressive || s.ss == 0 || s.comps.length == 1, "progressive AC scans are non-interleaved")
      // SOS: each component names its DC table where the scan codes DC
      // and its AC table where it codes AC (Td/Ta = 0 otherwise)
      marker(out, 0xDA, (s.comps.length +: s.comps.flatMap { ci =>
        val t = f.comps(ci).tq
        Seq(f.comps(ci).id, (if (s.ss == 0) t << 4 else 0) | (if (s.se > 0) t else 0))
      } ++: Seq(s.ss, s.se, (s.ah << 4) | s.al)).map(_.toByte).toArray)
      val (seq, of, every) = jpegScanOrder(f, blocks, s.comps)
      val bw = new JpegBitWriter(out)
      if (s.ss > 0) {
        if (s.ah == 0) progWriteAcFirst(bw, acCodes, seq, s.ss, s.se, s.al, every)
        else progWriteAcRefine(bw, acCodes, seq, s.ss, s.se, s.al, every)
      } else {
        val pred = new Array[Int](f.comps.length)
        var rstM = 0
        for (b <- seq.indices) {
          if (every > 0 && b > 0 && b % every == 0) {
            bw.restart(rstM); rstM = (rstM + 1) & 7
            java.util.Arrays.fill(pred, 0)
          }
          val ci = of(b)
          if (!f.progressive) pred(ci) = jpegWriteBlock(bw, JpegDcCodes, acCodes, seq(b), pred(ci))
          else if (s.ah == 0) {
            // DC first: prediction runs in the SHIFTED domain (arithmetic >> Al)
            val t = seq(b)(0) >> s.al
            val diff = t - pred(ci); pred(ci) = t
            val cat = jpegCategory(diff)
            val (c, l) = JpegDcCodes(cat); bw.write(c, l)
            if (cat > 0) bw.write(if (diff < 0) diff + (1 << cat) - 1 else diff, cat)
          } else bw.write((seq(b)(0) >> s.al) & 1, 1) // DC refine: one raw bit, no Huffman
        }
      }
      bw.finish()
    }
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  /** Quantized coefficient blocks of a synthesized corpus image: per
    * component, one natural-order block per padded-grid index `b`, with
    * DC `dc(ci, b)` and AC (u, v) ≠ (0, 0) `ac(ci, b, u, v)`.
    */
  private def jpegSynthBlocks(f: JpegFrame)(
      dc: (Int, Int) => Int, ac: (Int, Int, Int, Int) => Int): Array[Array[Array[Int]]] =
    Array.tabulate(f.comps.length) { ci =>
      Array.tabulate(f.paddedW(ci) * f.paddedH(ci)) { b =>
        val coefs = new Array[Int](64)
        coefs(0) = dc(ci, b)
        var k = 1
        while (k < 64) { coefs(k) = ac(ci, b, k % 8, k / 8); k += 1 }
        coefs
      }
    }

  /** Decode ONE scan into the accumulating coefficient blocks (`blocks`
    * in scan order, `comp` the frame component of each): a baseline
    * scan reads whole blocks through [[jpegReadBlock]]; a progressive
    * scan follows G.1.2/G.2 of the spec (the jdphuff walk) — DC first/
    * refine, AC first with EOB runs and ZRL, AC refine with the
    * correction-bit walk.
    */
  private def progDecodeScan(br: JpegBitReader, blocks: Array[Array[Int]], comp: Array[Int],
      restartInterval: Int, ss: Int, se: Int, ah: Int, al: Int,
      dcTabs: Array[JpegHuffTable], acTabs: Array[JpegHuffTable], baseline: Boolean): Unit = {
    val usesDc = baseline || (ss == 0 && ah == 0)
    val usesAc = baseline || ss > 0
    require(comp.distinct.forall(c => (!usesDc || dcTabs(c) != null) && (!usesAc || acTabs(c) != null)),
      "missing Huffman tables for scan")
    require(baseline || ss > 0 || se == 0, "a DC progressive scan must have Se = 0")
    val pred = new Array[Int](dcTabs.length)
    val p1 = 1 << al
    var eobrun = 0
    var rstM = 0
    var b = 0
    while (b < blocks.length) {
      if (restartInterval > 0 && b > 0 && b % restartInterval == 0) {
        // at each interval boundary the stream byte-aligns, carries the
        // next RSTn of the cycle, and resets ALL entropy state (DC
        // prediction, EOB run). G.1.2.x: an EOB run may not span a
        // restart boundary — the encoder flushes it, so a nonzero count
        // here is a corrupt stream and must fail loudly, not silently
        // drop the tail
        require(eobrun == 0, "EOB run crosses a restart boundary")
        br.expectRestart(rstM); rstM = (rstM + 1) & 7
        java.util.Arrays.fill(pred, 0)
      }
      val coefs = blocks(b)
      val c = comp(b)
      if (baseline) {
        val (read, dc) = jpegReadBlock(br, dcTabs(c), acTabs(c), pred(c))
        System.arraycopy(read, 0, coefs, 0, 64); pred(c) = dc
      } else if (ss == 0) {
        if (ah == 0) {
          val s = dcTabs(c).decode(br)
          pred(c) += jpegExtend(br.receive(s), s)
          coefs(0) = pred(c) << al
        } else if (br.readBit() == 1) coefs(0) |= p1
      } else if (ah == 0) {
        // AC first: baseline run/size within the band, values << Al,
        // EOBn ends the band for (1<<r)+ext consecutive blocks
        if (eobrun > 0) eobrun -= 1
        else {
          var k = ss
          var done = false
          while (k <= se && !done) {
            val rs = acTabs(c).decode(br)
            val r = rs >> 4; val s = rs & 0x0F
            if (s == 0) {
              if (r == 15) k += 16
              else { eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0) - 1; done = true }
            } else {
              k += r
              require(k <= se, "AC run overflows the spectral band")
              coefs(JpegZigzag(k)) = jpegExtend(br.receive(s), s) << al
              k += 1
            }
          }
        }
      } else {
        // AC refinement — the G.7 walk: symbols name newly-significant
        // coefficients; every already-nonzero coefficient the walk
        // passes consumes one correction bit; EOB runs consume the
        // remaining band corrections of each member block
        def refine(nat: Int): Unit =
          if (br.readBit() == 1 && (coefs(nat) & p1) == 0)
            coefs(nat) += (if (coefs(nat) >= 0) p1 else -p1)
        var k = ss
        if (eobrun == 0) {
          var ended = false
          while (k <= se && !ended) {
            val rs = acTabs(c).decode(br)
            var r = rs >> 4; val s = rs & 0x0F
            var newVal = 0
            if (s != 0) {
              require(s == 1, "refinement symbols carry size 1 only")
              newVal = if (br.readBit() == 1) p1 else -p1
            } else if (r != 15) {
              eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
              ended = true
            } // r == 15, s == 0: ZRL — newVal stays 0, walk skips 16
            if (!ended) {
              var placed = false
              while (k <= se && !placed) {
                val nat = JpegZigzag(k)
                if (coefs(nat) != 0) refine(nat)
                else if (r == 0) { if (newVal != 0) coefs(nat) = newVal; placed = true }
                else r -= 1
                k += 1
              }
              require(placed || newVal == 0, "refinement run overflows the band")
            }
          }
        }
        if (eobrun > 0) {
          // EOB-run member (including the block that declared it):
          // remaining nonzero-history positions consume correction bits
          while (k <= se) {
            val nat = JpegZigzag(k)
            if (coefs(nat) != 0) refine(nat)
            k += 1
          }
          eobrun -= 1
        }
      }
      b += 1
    }
  }

  /** What the decoder recovers before any IDCT: the frame, the quant
    * tables by id (zigzag order) and each component's natural-order
    * coefficient blocks on its padded grid — the lossless layer.
    */
  private[pipeline] final case class JpegCoefs(frame: JpegFrame,
      quant: Array[Array[Int]], blocks: Array[Array[Array[Int]]]) {
    def quantOf(ci: Int): Array[Int] = {
      val qt = quant(frame.comps(ci).tq)
      require(qt != null, s"missing quant table ${frame.comps(ci).tq}")
      qt
    }
  }

  /** The one decoder. Real parser: every field comes from the BYTES. One
    * marker walk from SOI to EOI over APPn/COM (skipped by length), DQT,
    * DHT, DRI, SOF0/SOF2 and one or more SOS; each scan accumulates its
    * bands and bits into the shared coefficient grids through the scan
    * walker. The caller names the frame kind and the component count it
    * accepts: a stream of any other kind fails at its SOF marker.
    */
  private[pipeline] def jpegDecodeCoefs(bytes: Array[Byte], progressive: Boolean,
      nComps: Int): JpegCoefs = {
    def u8(i: Int): Int = { require(i < bytes.length, "truncated JPEG"); bytes(i) & 0xFF }
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    require(bytes.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8, "not a JPEG: missing SOI")
    var pos = 2
    val quant = new Array[Array[Int]](4)
    val huff = Array.fill(2, 4)(null: JpegHuffTable)
    var frame: JpegFrame = null
    var blocks: Array[Array[Array[Int]]] = null
    var restartInterval = 0
    var scans = 0
    var done = false
    while (!done) {
      require(u8(pos) == 0xFF, f"expected marker at $pos, got 0x${u8(pos)}%02X")
      u8(pos + 1) match {
        case 0xDB => pos = jpegParseDqt(bytes, pos, quant)
        case 0xC4 => pos = jpegParseDht(bytes, pos, huff)
        case 0xDD => // DRI: restart interval in MCUs
          restartInterval = u16(pos + 4)
          pos += 2 + u16(pos + 2)
        case m @ (0xC0 | 0xC2) =>
          require(frame == null, "more than one SOF")
          require((m == 0xC2) == progressive,
            if (progressive) "baseline SOF0 stream fed to the progressive decoder"
            else "progressive SOF2 stream fed to the baseline decoder")
          require(u8(pos + 4) == 8, "only 8-bit precision supported")
          require(u8(pos + 9) == nComps, s"expected a $nComps-component frame, got ${u8(pos + 9)}")
          frame = JpegFrame(progressive, u16(pos + 7), u16(pos + 5), Vector.tabulate(nComps) { i =>
            val hv = u8(pos + 11 + 3 * i)
            require((hv >> 4) >= 1 && (hv >> 4) <= 2 && (hv & 0x0F) >= 1 && (hv & 0x0F) <= 2,
              "only sampling factors 1..2 supported")
            JpegComponent(u8(pos + 10 + 3 * i), hv >> 4, hv & 0x0F, u8(pos + 12 + 3 * i))
          }, 0)
          require(frame.width > 0 && frame.height > 0, "empty frame")
          blocks = Array.tabulate(nComps)(ci =>
            Array.fill(frame.paddedW(ci) * frame.paddedH(ci))(new Array[Int](64)))
          pos += 2 + u16(pos + 2)
        case 0xDA =>
          require(frame != null, "SOS before SOF")
          val ns = u8(pos + 4)
          val comps = Vector.tabulate(ns) { i =>
            val ci = frame.comps.indexWhere(_.id == u8(pos + 5 + 2 * i))
            require(ci >= 0, s"scan names unknown component ${u8(pos + 5 + 2 * i)}")
            ci
          }
          require(ns >= 1 && comps == comps.sorted.distinct, "SOS order must match SOF")
          val dcTabs = new Array[JpegHuffTable](nComps)
          val acTabs = new Array[JpegHuffTable](nComps)
          for (i <- 0 until ns) {
            val tdta = u8(pos + 6 + 2 * i)
            dcTabs(comps(i)) = huff(0)(tdta >> 4); acTabs(comps(i)) = huff(1)(tdta & 0x0F)
          }
          val ss = u8(pos + 5 + 2 * ns); val se = u8(pos + 6 + 2 * ns)
          val ah = u8(pos + 7 + 2 * ns) >> 4; val al = u8(pos + 7 + 2 * ns) & 0x0F
          if (progressive) {
            require(ss <= se && se <= 63, s"bad spectral band [$ss, $se]")
            require(ns == 1 || ss == 0, "interleaved progressive scans are DC-only")
          } else require(ss == 0 && se == 63 && ah == 0 && al == 0, "baseline full-spectral scan expected")
          frame = frame.copy(restartInterval = restartInterval)
          val (seq, comp, every) = jpegScanOrder(frame, blocks, comps)
          val br = new JpegBitReader(bytes, pos + 2 + u16(pos + 2))
          progDecodeScan(br, seq, comp, every, ss, se, ah, al, dcTabs, acTabs, baseline = !progressive)
          scans += 1
          pos = br.pos
        case x if (x >= 0xE0 && x <= 0xEF) || x == 0xFE => // APPn / COM
          pos += 2 + u16(pos + 2)
        case 0xD9 => done = true
        case x => throw new IllegalArgumentException(f"unsupported marker 0x$x%02X")
      }
    }
    require(scans > 0, "EOI before scan data")
    JpegCoefs(frame, quant, blocks)
  }

  /** The plane stage: dequantize component `ci`'s blocks, run
    * [[jpegIdctBlock]] (level shift + clamp included), and crop to its
    * planeW × planeH pixels, row-major. Padding blocks are skipped.
    */
  private def jpegPlane(d: JpegCoefs, ci: Int): Array[Int] = {
    val f = d.frame
    val pw = f.planeW(ci); val ph = f.planeH(ci); val gw = f.paddedW(ci)
    val qt = d.quantOf(ci)
    val px = new Array[Int](pw * ph)
    var b = 0
    while (b < d.blocks(ci).length) {
      val bx = b % gw; val by = b / gw
      if (bx * 8 < pw && by * 8 < ph) {
        val bp = jpegIdctBlock(d.blocks(ci)(b), qt)
        var ly = 0
        while (ly < 8) {
          val y = by * 8 + ly
          var lx = 0
          while (lx < 8) {
            val x = bx * 8 + lx
            if (x < pw && y < ph) px(y * pw + x) = bp(ly * 8 + lx)
            lx += 1
          }
          ly += 1
        }
      }
      b += 1
    }
    px
  }

  /** Structurally decoded grayscale JPEG: dims + quantized coefficient
    * blocks (natural order, raster block order) + the quant table that
    * applies to them — the lossless layer, before IDCT.
    */
  final case class JpegRaw(width: Int, height: Int,
      quantZigzag: Array[Int], blocks: Array[Array[Int]])

  final case class JpegDecoded(width: Int, height: Int, pixels: Array[Int])

  /** Decoded color JPEG: three planes, Y at (width × height), chroma at
    * (chromaWidth × chromaHeight) = ceil-divided by the luma sampling
    * factors (half in both axes for 4:2:0, half-width for 4:2:2, full
    * for 4:4:4), row-major.
    */
  final case class JpegColorDecoded(width: Int, height: Int,
      chromaWidth: Int, chromaHeight: Int,
      yPlane: Array[Int], cbPlane: Array[Int], crPlane: Array[Int])

  private def jpegRaw(d: JpegCoefs): JpegRaw =
    JpegRaw(d.frame.width, d.frame.height, d.quantOf(0), jpegScanOrder(d.frame, d.blocks, Seq(0))._1)

  private def jpegGray(d: JpegCoefs): JpegDecoded =
    JpegDecoded(d.frame.width, d.frame.height, jpegPlane(d, 0))

  private def jpegColor(d: JpegCoefs): JpegColorDecoded = {
    val f = d.frame
    require(f.planeW(1) == f.planeW(2) && f.planeH(1) == f.planeH(2),
      "Cb/Cr sampling factors must match")
    JpegColorDecoded(f.width, f.height, f.planeW(1), f.planeH(1),
      jpegPlane(d, 0), jpegPlane(d, 1), jpegPlane(d, 2))
  }

  /** Per-doc features of a grayscale JPEG corpus (q167, q175): dims,
    * mean luminance, top/bottom row luminance sums.
    */
  private def jpegLumaFeatures(spark: SparkSession, dir: String,
      encode: Long => Array[Byte], decode: Array[Byte] => JpegDecoded): DataFrame = {
    import spark.implicits._
    encodedCorpus(spark, dir)(encode)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = decode(bytes)
        var sum = 0L; var topSum = 0L; var botSum = 0L
        var p = 0
        while (p < d.pixels.length) {
          val y = p / d.width
          val lum = d.pixels(p)
          sum += lum
          if (y == 0) topSum += lum
          if (y == d.height - 1) botSum += lum
          p += 1
        }
        (id, d.width, d.height, sum.toDouble / (d.width.toLong * d.height), topSum, botSum)
      })
      .toDF("doc_id", "width", "height", "mean_lum_raw", "top_row_lum", "bot_row_lum")
      .select(
        col("doc_id"), col("width"), col("height"),
        round(col("mean_lum_raw"), 4).as("mean_lum"),
        col("top_row_lum"), col("bot_row_lum"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc plane features of a color JPEG corpus (q174, q179): dims,
    * mean of each plane (chroma means pin the table-id and interleave
    * order: a Cb/Cr swap or a luma-table mixup shifts them), and the Y
    * plane's bottom-row sum (cumulative MCU walk sensitivity).
    */
  private def jpegPlaneFeatures(spark: SparkSession, dir: String,
      encode: Long => Array[Byte], decode: Array[Byte] => JpegColorDecoded): DataFrame = {
    import spark.implicits._
    encodedCorpus(spark, dir)(encode)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = decode(bytes)
        val cw = d.chromaWidth; val ch = d.chromaHeight
        var ySum = 0L; var cbSum = 0L; var crSum = 0L; var yBot = 0L
        var i = 0
        while (i < d.yPlane.length) { ySum += d.yPlane(i); i += 1 }
        i = 0
        while (i < d.cbPlane.length) { cbSum += d.cbPlane(i); crSum += d.crPlane(i); i += 1 }
        var x = 0
        while (x < d.width) { yBot += d.yPlane((d.height - 1) * d.width + x); x += 1 }
        (id, d.width, d.height,
          ySum.toDouble / (d.width.toLong * d.height),
          cbSum.toDouble / (cw.toLong * ch),
          crSum.toDouble / (cw.toLong * ch),
          yBot)
      })
      .toDF("doc_id", "width", "height", "mean_y_raw", "mean_cb_raw", "mean_cr_raw", "y_bot_row")
      .select(
        col("doc_id"), col("width"), col("height"),
        round(col("mean_y_raw"), 4).as("mean_y"),
        round(col("mean_cb_raw"), 4).as("mean_cb"),
        round(col("mean_cr_raw"), 4).as("mean_cr"),
        col("y_bot_row"))
      .orderBy(col("doc_id"))
  }

  // ---- baseline grayscale JPEG (q167) -------------------------------------

  /** Encode ARBITRARY quantized-coefficient blocks (natural-order 64-int
    * arrays, raster block order for a (w, h) grayscale image) as a
    * spec-compliant baseline JFIF stream. Split out of [[jpegEncode]] so
    * the property suite can round-trip arbitrary coefficient grids
    * through the real codec.
    */
  private[pipeline] def jpegEncodeImage(blocks: Array[Array[Int]], w: Int, h: Int): Array[Byte] =
    jpegEncodeFrame(jpegGrayFrame(progressive = false, w, h, 0), jpegBaselineScript(1), Array(blocks))

  /** Encode the synthesized corpus image for `docId` (coefficients from
    * the integer formulas).
    */
  private[pipeline] def jpegEncode(docId: Long): Array[Byte] = {
    val f = jpegGrayFrame(progressive = false, jpegWidth(docId), jpegHeight(docId), 0)
    jpegEncodeFrame(f, jpegBaselineScript(1),
      jpegSynthBlocks(f)((_, b) => jpegDc(docId, b), (_, b, u, v) => jpegAc(docId, b, u, v)))
  }

  /** Parse + entropy-decode a baseline grayscale JFIF stream down to
    * quantized coefficients.
    */
  private[pipeline] def jpegDecodeRaw(bytes: Array[Byte]): JpegRaw =
    jpegRaw(jpegDecodeCoefs(bytes, progressive = false, 1))

  /** Full decode: entropy decode + dequantization + the exact integer
    * IDCT + level shift + clamp + partial-MCU crop. Pixels row-major.
    */
  private[pipeline] def jpegDecode(bytes: Array[Byte]): JpegDecoded =
    jpegGray(jpegDecodeCoefs(bytes, progressive = false, 1))

  /** Declared query (q167): decode the JPEG corpus and emit per-doc
    * features — dimensions, mean luminance, top/bottom row luminance
    * sums. The oracle regenerates the quantized coefficients from the
    * synthesis formulas and replays dequant + the same integer IDCT in
    * SQL, so every decoder stage (marker walk, DHT canonical codes, bit
    * reader, unstuffing, DC prediction, de-zigzag, dequant, IDCT
    * constants) is load-bearing.
    */
  def jpegFeatures(spark: SparkSession, dir: String): DataFrame =
    jpegLumaFeatures(spark, dir, jpegEncode, jpegDecode)

  /** The [[JpegIdctK]] table rendered as a SQL VALUES list `(i, j, k)` —
    * the q167 oracle inlines it so oracle and decoder share ONE
    * definition of the IDCT constants (and the suite pins that
    * definition to the cosine formula).
    */
  def jpegIdctKSqlValues: String =
    (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${JpegIdctK(u)(x)})").mkString(", ")

  // ---- full-COLOR baseline JPEG (interleaved MCUs; 4:2:0/4:2:2/4:4:4) ----

  /** The color tier of the JPEG decoder — the part of baseline JPEG the
    * grayscale path (q167) doesn't exercise: THREE components with
    * per-doc sampling factors spanning all three common chroma
    * samplings (4:2:0 = 2×2, 4:2:2 = 2×1, 4:4:4 = 1×1 luma against 1×1
    * chroma), so the entropy stream interleaves MCUs whose geometry the
    * decoder must derive from SOF — e.g. 4:2:0's
    * 16×16 MCUs of four Y blocks + one Cb + one Cr, each component with
    * its OWN quantization table (DQT carries two), its own Huffman
    * table pair (DHT carries four), and its own DC prediction chain.
    * Decode must walk the MCU interleave in exactly the spec's order
    * (components in scan order; within a component, blocks
    * left-to-right, top-to-bottom), dequantize per component, and crop
    * each plane to its own dimensions (chroma at half resolution,
    * ceil-divided). Like q167, the corpus is synthesized in the
    * quantized-coefficient domain so decode is bit-exact predictable by
    * the q174 oracle.
    */
  /** Dims chosen so the corpus exercises every crop/interleave shape:
    * w ∈ {16, 28, 13, 32} by docId % 4 — 13 makes the chroma plane
    * width ODD (ceil(13/2) = 7, the ceil-division crop); h ∈ {16, 10,
    * 32} — 32 gives a multi-row MCU grid. Crossed with the docId % 3
    * sampling mode the full combo period is 12: a 32×32 4:4:4 doc
    * (docId ≡ 11 mod 12) carries SIXTEEN 8×8 MCUs, so the RSTn id cycle
    * wraps past RST7 back to RST0 — the wrap a modulo-free decoder
    * misses.
    */
  def jpegColorWidth(docId: Long): Int =
    (16 * (1 + docId % 2) -
      (if (docId % 4 == 1) 4 else if (docId % 4 == 2) 3 else 0)).toInt
  def jpegColorHeight(docId: Long): Int =
    (16 * (if (docId % 4 == 3) 2 else 1) - (if (docId % 4 == 2) 6 else 0)).toInt

  /** Chroma quant table — deliberately different from the luma one so a
    * table-id mixup shifts chroma features and goes red.
    */
  def jpegQuantChroma(u: Int, v: Int): Int = 1 + (u * 5 + v * 3) % 8

  /** Luma sampling factors (h, v) by doc: the corpus mixes all three
    * common chroma samplings — 4:2:0 (2×2), 4:2:2 (2×1), 4:4:4 (1×1);
    * chroma components are always 1×1. The MCU geometry, the chroma
    * plane dims, and the restart cadence all change with the mode, so a
    * decoder pinned to one sampling goes red on two-thirds of the corpus.
    */
  def jpegColorSampling(docId: Long): (Int, Int) = (docId % 3) match {
    case 0 => (2, 2) // 4:2:0 — 16×16 MCUs
    case 1 => (2, 1) // 4:2:2 — 16×8 MCUs
    case _ => (1, 1) // 4:4:4 — 8×8 MCUs
  }

  /** Per-component quantized coefficients: `comp` 0 = Y, 1 = Cb, 2 = Cr;
    * `b` the block index in the COMPONENT's own block grid.
    */
  def jpegColorDc(docId: Long, comp: Int, b: Int): Int =
    ((docId * 5 + comp * 19 + b * 3) % 15 - 7).toInt
  def jpegColorAc(docId: Long, comp: Int, b: Int, u: Int, v: Int): Int = {
    val v0 = ((docId * 7 + comp * 29 + b * 11 + u * 13 + v * 17) % 13 - 6).toInt
    if ((docId * 31 + comp * 41 + b * 17 + u * 7 + v * 23) % 97 < 12 && v0 != 0) v0 else 0
  }

  /** Encode the synthesized color image for `docId`: a spec-compliant
    * interleaved-MCU baseline JFIF (Y at the doc's sampling factors
    * quant 0 tables 0; Cb/Cr 1×1 quant 1 tables 1). DRI 1: restart
    * every MCU — multi-MCU images then carry real RSTn markers
    * (byte-aligned, DC prediction reset, marker id cycling), the
    * recovery scaffolding every hardened JPEG stream uses.
    */
  private[pipeline] def jpegColorEncode(docId: Long): Array[Byte] = {
    val f = jpegColorFrame(progressive = false, jpegColorWidth(docId), jpegColorHeight(docId),
      jpegColorSampling(docId), restartEvery = 1)
    jpegEncodeFrame(f, jpegBaselineScript(3), jpegSynthBlocks(f)(
      (ci, b) => jpegColorDc(docId, ci, b), (ci, b, u, v) => jpegColorAc(docId, ci, b, u, v)))
  }

  /** REAL interleaved-MCU decode of a baseline 3-component stream: SOF0
    * sampling factors, per-component quant + Huffman selection from the
    * SOS mapping, the MCU interleave walk, per-component DC prediction,
    * and per-plane crop. Supports sampling factors 1..2.
    */
  private[pipeline] def jpegColorDecode(bytes: Array[Byte]): JpegColorDecoded =
    jpegColor(jpegDecodeCoefs(bytes, progressive = false, 3))

  /** Declared query (q174): decode the color corpus and emit per-doc
    * plane features. Oracle regenerates all three planes from the
    * per-component formulas + the shared integer IDCT.
    */
  def jpegColorFeatures(spark: SparkSession, dir: String): DataFrame =
    jpegPlaneFeatures(spark, dir, jpegColorEncode, jpegColorDecode)

  // ---- PROGRESSIVE JPEG (SOF2): spectral selection + successive approx --

  /** The progressive tier of the JPEG decoder — what the baseline paths
    * (q167 grayscale, q174 color) don't exercise: a SOF2 frame whose
    * coefficients arrive across SIX scans instead of one. Spectral
    * selection splits the zigzag spectrum into bands (DC; AC 1–5; AC
    * 6–63), and successive approximation splits each coefficient's BITS
    * across scans (first scan delivers bits above Al, refinement scans
    * deliver one bit each). The entropy coding differs from baseline in
    * exactly the ways that make progressive hard:
    *  - EOB RUNS: an EOBn symbol (run-length nibble with size 0) ends
    *    the band for 2^n + ext CONSECUTIVE BLOCKS, so end-of-block state
    *    crosses block boundaries;
    *  - AC refinement interleaves three bit kinds in one stream: Huffman
    *    symbols for newly-significant coefficients, their sign bits, and
    *    CORRECTION bits for every already-nonzero coefficient the
    *    decoder's walk passes — the walk order (G.7 of the spec) is the
    *    only thing that says which bit is which;
    *  - DC uses an arithmetic-shift point transform with the prediction
    *    chain running in the SHIFTED domain, refined by OR-ing in lower
    *    bits.
    * Like q167/q174 the corpus is synthesized in the quantized-
    * coefficient domain, so the q175 oracle replays dequant + the shared
    * integer IDCT from the formulas without touching bytes — every scan
    * layer (band split, bit split, EOB-run bookkeeping, the refinement
    * walk) must reassemble the exact coefficients or the features go red.
    */
  /** Dims: 16/24/32 wide (21 when docId%4==1), 16/24 tall (14 when
    * docId%4==2) — block grids of 4 to 12, so EOB runs span multiple
    * blocks and every band mixes dense and empty blocks.
    */
  def jpegProgWidth(docId: Long): Int =
    (8 * (2 + docId % 3) - (if (docId % 4 == 1) 3 else 0)).toInt
  def jpegProgHeight(docId: Long): Int =
    (8 * (2 + docId % 2) - (if (docId % 4 == 2) 2 else 0)).toInt

  /** Quantized DC of block `b` — range −7..7 so the Al=1 first scan
    * carries bits 3..1 (arithmetic shift) and the refinement carries
    * bit 0.
    */
  def jpegProgDc(docId: Long, b: Int): Int = ((docId * 11 + b * 5) % 15 - 7).toInt

  /** Quantized AC at (u, v) ≠ (0, 0): an 11%-ish irregular gate as in
    * q167, PLUS a block-pair emptiness gate ((docId + b/2) % 3 == 0
    * empties blocks in ADJACENT pairs) so multi-block EOB runs — the
    * progressive-only code path — are guaranteed, not incidental.
    * Values in −6..6: first scans see −3..3 (sizes 1..2), refinements
    * see the low bit; ±1 values become newly-significant only in the
    * refinement pass.
    */
  def jpegProgAc(docId: Long, b: Int, u: Int, v: Int): Int = {
    if ((docId + b / 2) % 3 == 0) 0
    else {
      val v0 = ((docId * 13 + b * 7 + u * 19 + v * 5) % 13 - 6).toInt
      if ((docId * 29 + b * 23 + u * 11 + v * 7) % 89 < 11 && v0 != 0) v0 else 0
    }
  }

  /** Encode ARBITRARY quantized-coefficient blocks as a spec-compliant
    * SOF2 progressive JFIF with the six-scan script. Split out so the
    * suite can round-trip crafted grids through the codec. For this
    * single-component frame every scan is non-interleaved, so the DRI
    * interval counts blocks.
    */
  private[pipeline] def jpegProgressiveEncodeImage(
      blocks: Array[Array[Int]], w: Int, h: Int,
      restartEvery: Int = 0): Array[Byte] =
    jpegEncodeFrame(jpegGrayFrame(progressive = true, w, h, restartEvery), JpegProgGrayScript, Array(blocks))

  /** Encode the synthesized progressive corpus image for `docId` — odd
    * docs carry DRI 3, so every scan type (DC first/refine, AC
    * first/refine) crosses byte-aligned RSTn boundaries with their
    * prediction/EOB-run resets; even docs stay restart-free. The
    * coefficients are unchanged either way, so the q175 oracle needs no
    * restart awareness.
    */
  private[pipeline] def jpegProgressiveEncode(docId: Long): Array[Byte] = {
    val f = jpegGrayFrame(progressive = true, jpegProgWidth(docId), jpegProgHeight(docId),
      restartEvery = if (docId % 2 == 1) 3 else 0)
    jpegEncodeFrame(f, JpegProgGrayScript,
      jpegSynthBlocks(f)((_, b) => jpegProgDc(docId, b), (_, b, u, v) => jpegProgAc(docId, b, u, v)))
  }

  /** Parse + entropy-decode a PROGRESSIVE (SOF2) grayscale JFIF stream
    * down to quantized coefficients: the marker walk accepts multiple
    * SOS segments, each scan accumulating bits/bands into the shared
    * coefficient grid until EOI.
    */
  private[pipeline] def jpegProgressiveDecodeRaw(bytes: Array[Byte]): JpegRaw =
    jpegRaw(jpegDecodeCoefs(bytes, progressive = true, 1))

  /** Full progressive decode: accumulate all scans, then the shared
    * dequant + integer IDCT + crop.
    */
  private[pipeline] def jpegProgressiveDecode(bytes: Array[Byte]): JpegDecoded =
    jpegGray(jpegDecodeCoefs(bytes, progressive = true, 1))

  /** Declared query (q175): decode the progressive corpus and emit the
    * q167 feature shape. The oracle regenerates the coefficients from
    * the PROGRESSIVE formulas and replays dequant + IDCT in SQL — so the
    * multi-scan reassembly (band split, successive-approximation bits,
    * EOB runs, the refinement walk) must be exact, or means/row sums
    * shift and the hash goes red.
    */
  def jpegProgressiveFeatures(spark: SparkSession, dir: String): DataFrame =
    jpegLumaFeatures(spark, dir, jpegProgressiveEncode, jpegProgressiveDecode)

  // ---- PROGRESSIVE COLOR JPEG (SOF2, 3 components) -----------------------

  /** The last JPEG tier: PROGRESSIVE COLOR — what real web images
    * mostly are. Composes the two hard layers the earlier tiers built
    * separately: q174's multi-component geometry (sampling factors, MCU
    * interleave, per-component tables and DC prediction) and q175's
    * multi-scan reassembly (spectral selection, successive
    * approximation, EOB runs, the G.7 refinement walk). The scan script
    * is the spec's canonical color-progressive shape: ONE interleaved
    * DC scan (all components, MCU order, per-component shifted-domain
    * prediction), then per-component NON-INTERLEAVED AC scans — and
    * non-interleaved scans walk the component's REDUCED grid
    * (ceil(planeWidth/8) blocks per line, A.2.2), NOT the padded MCU
    * grid the interleaved DC scan walks. The q179 dims include w=20 and
    * h=18 precisely because they make padded > reduced under 2×
    * sampling — a decoder that walks the wrong grid desyncs there and
    * goes red.
    */
  def jpegProgColorWidth(docId: Long): Int = (docId % 4) match {
    case 0 => 16
    case 1 => 20 // 20 mod 16 = 4: Y padded grid (4 cols) > reduced (3)
    case 2 => 13 // odd chroma ceil-crop
    case _ => 32
  }
  def jpegProgColorHeight(docId: Long): Int =
    if (docId % 2 == 0) 16 else 18 // 18 mod 16 = 2: padded rows > reduced

  /** Per-component quantized coefficients, keyed on the PADDED-grid
    * block index (the synthesis walks the same grid the encoder does).
    * The (docId + comp + b/2) gate empties block PAIRS so per-component
    * AC scans carry multi-block EOB runs.
    */
  def jpegProgColorDc(docId: Long, comp: Int, b: Int): Int =
    ((docId * 17 + comp * 23 + b * 7) % 15 - 7).toInt
  def jpegProgColorAc(docId: Long, comp: Int, b: Int, u: Int, v: Int): Int = {
    if ((docId + comp + b / 2) % 3 == 0) 0
    else {
      val v0 = ((docId * 19 + comp * 31 + b * 13 + u * 7 + v * 11) % 13 - 6).toInt
      if ((docId * 37 + comp * 43 + b * 29 + u * 5 + v * 17) % 89 < 11 && v0 != 0) v0 else 0
    }
  }

  /** Encode the synthesized progressive-color image for `docId`: SOF2,
    * the eight-scan [[JpegProgColorScript]], chroma on its own quant AND
    * Huffman table ids. Odd docs restart every 2 MCUs — in the
    * interleaved DC scans an MCU is the full component cluster; in the
    * non-interleaved AC scans an MCU is one block of that component's
    * reduced grid.
    */
  private[pipeline] def jpegProgressiveColorEncode(docId: Long): Array[Byte] = {
    val f = jpegColorFrame(progressive = true, jpegProgColorWidth(docId), jpegProgColorHeight(docId),
      jpegColorSampling(docId), restartEvery = if (docId % 2 == 1) 2 else 0)
    jpegEncodeFrame(f, JpegProgColorScript, jpegSynthBlocks(f)(
      (ci, b) => jpegProgColorDc(docId, ci, b), (ci, b, u, v) => jpegProgColorAc(docId, ci, b, u, v)))
  }

  /** REAL progressive-color decode: SOF2 component/sampling parse,
    * multi-SOS marker walk, interleaved DC scans over the MCU grid,
    * non-interleaved AC scans over each component's REDUCED grid, then
    * the shared dequant + IDCT + per-plane crop.
    */
  private[pipeline] def jpegProgressiveColorDecode(bytes: Array[Byte]): JpegColorDecoded =
    jpegColor(jpegDecodeCoefs(bytes, progressive = true, 3))

  /** Declared query (q179): decode the progressive-color corpus, q174's
    * feature shape. Oracle: the q174 plane-CTE structure over the q179
    * dims + coefficient formulas — every layer (interleaved DC scans,
    * reduced-grid AC scans, per-component tables, successive
    * approximation) must reassemble the exact coefficients.
    */
  def jpegProgressiveColorFeatures(spark: SparkSession, dir: String): DataFrame =
    jpegPlaneFeatures(spark, dir, jpegProgressiveColorEncode, jpegProgressiveColorDecode)

  // ---- real VIDEO decode (YUV4MPEG2, planar 4:2:0) -----------------------

  /** Sixth real decoder and the first VIDEO one — YUV4MPEG2 (y4m), the
    * uncompressed interchange format every video toolchain (ffmpeg,
    * mjpegtools, codecs' reference implementations) reads and writes.
    * The container is genuinely parsed: the `YUV4MPEG2` magic, the
    * space-separated header tokens (`W<w> H<h> F<n>:<d> I<p> A<n>:<d>
    * C<cs>`), then per frame a `FRAME` marker line (with optional
    * parameters up to its newline) followed by fixed-stride planar
    * 4:2:0 data — a full-res Y plane and quarter-res Cb/Cr planes.
    * Frame count is NOT in the header (y4m is a stream format): the
    * decoder discovers it by walking frame by frame to EOF, validating
    * every marker and plane length.
    *
    * This moves the video modality off the byte-histogram tier the same
    * way BMP first did for images: the ENCODING is trivial (that's what
    * makes a pure-JVM real decoder feasible) but every byte offset is
    * load-bearing — a wrong plane stride, a missed FRAME parameter, or
    * an off-by-one in the 4:2:0 subsampling shifts the features and
    * goes red against the q170 oracle, which regenerates them from the
    * integer synthesis formulas without touching bytes. Temporal
    * features (inter-frame motion) make the FRAME SEQUENCE itself
    * load-bearing, not just one image.
    */
  def y4mWidth(docId: Long): Int = (16 + 8 * (docId % 3)).toInt // 16..32, even
  def y4mHeight(docId: Long): Int = (12 + 4 * (docId % 2)).toInt // 12..16, even
  def y4mFrames(docId: Long): Int = (3 + docId % 4).toInt // 3..6

  /** Luma of pixel (x, y) in frame f — integer formulas the oracle
    * mirrors; the f·31 term makes consecutive frames differ everywhere,
    * so the motion feature sums a dense diff field.
    */
  def y4mY(docId: Long, f: Int, x: Int, y: Int): Int =
    ((docId * 7 + f * 31 + x * 5 + y * 11) % 256).toInt
  /** Chroma planes at quarter resolution ((x, y) are SUBSAMPLED coords). */
  def y4mCb(docId: Long, f: Int, x: Int, y: Int): Int =
    ((docId * 13 + f * 17 + x * 3 + y * 7) % 256).toInt
  def y4mCr(docId: Long, f: Int, x: Int, y: Int): Int =
    ((docId * 19 + f * 23 + x * 9 + y * 13) % 256).toInt

  /** Encode the synthesized clip for `docId` as a spec-compliant y4m
    * stream (C420jpeg chroma siting — full planes, no interlacing).
    */
  private[pipeline] def y4mEncode(docId: Long): Array[Byte] = {
    val w = y4mWidth(docId); val h = y4mHeight(docId); val n = y4mFrames(docId)
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    for (f <- 0 until n) {
      // exercise the optional-parameter path on the first frame marker
      val marker = if (f == 0) "FRAME Xgraft\n" else "FRAME\n"
      out.write(marker.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out.write(y4mY(docId, f, x, y)); x += 1 }
        y += 1
      }
      var cy = 0
      while (cy < h / 2) {
        var cx = 0
        while (cx < w / 2) { out.write(y4mCb(docId, f, cx, cy)); cx += 1 }
        cy += 1
      }
      cy = 0
      while (cy < h / 2) {
        var cx = 0
        while (cx < w / 2) { out.write(y4mCr(docId, f, cx, cy)); cx += 1 }
        cy += 1
      }
    }
    out.toByteArray
  }

  /** Decoded y4m clip: header fields + per-frame planes (`frames(f)` =
    * (Y, Cb, Cr), Y row-major w×h, chroma (w/2)×(h/2)).
    */
  final case class Y4mDecoded(width: Int, height: Int,
      frames: IndexedSeq[(Array[Byte], Array[Byte], Array[Byte])])

  /** REAL y4m parser: magic + header token walk, per-frame marker
    * validation (parameters allowed through the newline), fixed-stride
    * plane reads, frame discovery to EOF.
    */
  private[pipeline] def y4mDecode(bytes: Array[Byte]): Y4mDecoded = {
    var pos = 0
    def readLine(): String = {
      val nl = bytes.indexOf('\n'.toByte, pos)
      require(nl >= 0, "y4m: unterminated header/marker line")
      val s = new String(bytes, pos, nl - pos, java.nio.charset.StandardCharsets.US_ASCII)
      pos = nl + 1
      s
    }
    val header = readLine()
    require(header.startsWith("YUV4MPEG2"), "not a y4m stream: bad magic")
    var w = -1; var h = -1; var cs = "420jpeg"
    header.split(' ').drop(1).foreach { tok =>
      if (tok.nonEmpty) tok.charAt(0) match {
        case 'W' => w = tok.substring(1).toInt
        case 'H' => h = tok.substring(1).toInt
        case 'C' => cs = tok.substring(1)
        case 'F' | 'I' | 'A' | 'X' => // rate/interlace/aspect/extension: accepted
        case c => throw new IllegalArgumentException(s"y4m: unknown header token '$c'")
      }
    }
    require(w > 0 && h > 0, "y4m: missing W/H header tokens")
    require(cs.startsWith("420"), s"y4m: only 4:2:0 chroma supported, got C$cs")
    require(w % 2 == 0 && h % 2 == 0, "y4m: 4:2:0 needs even dimensions")
    // Long-domain sizes: adversarial header dims (W 2^30 H 4) would wrap
    // an Int product to 0 and slip past the truncation require; a plane
    // can never exceed the stream length, so the bound also re-grounds
    // the sizes into safe Int range
    val ySizeL = w.toLong * h; val cSizeL = (w / 2).toLong * (h / 2)
    require(ySizeL + 2 * cSizeL <= bytes.length,
      "y4m: declared frame size exceeds the stream")
    val ySize = ySizeL.toInt; val cSize = cSizeL.toInt
    val frames = IndexedSeq.newBuilder[(Array[Byte], Array[Byte], Array[Byte])]
    while (pos < bytes.length) {
      val marker = readLine()
      require(marker == "FRAME" || marker.startsWith("FRAME "),
        s"y4m: expected FRAME marker, got '${marker.take(16)}'")
      require(pos.toLong + ySize + 2L * cSize <= bytes.length, "y4m: truncated frame planes")
      val yP = java.util.Arrays.copyOfRange(bytes, pos, pos + ySize); pos += ySize
      val cbP = java.util.Arrays.copyOfRange(bytes, pos, pos + cSize); pos += cSize
      val crP = java.util.Arrays.copyOfRange(bytes, pos, pos + cSize); pos += cSize
      frames += ((yP, cbP, crP))
    }
    val fs = frames.result()
    require(fs.nonEmpty, "y4m: no frames")
    Y4mDecoded(w, h, fs)
  }

  /** Declared query (q170): decode the video corpus and emit per-clip
    * features — dims, frame count, mean luma over all frames, mean Cb
    * (pins the chroma plane OFFSET: a stride slip reads Cr or luma
    * bytes), total inter-frame MOTION (Σ |Y_f − Y_{f−1}| over all
    * pixels and consecutive frame pairs — the temporal feature that
    * makes the frame sequence load-bearing), and the last frame's
    * bottom-row luma sum (maximum sensitivity to cumulative offset
    * errors). Oracle regenerates everything from the synthesis formulas.
    */
  def y4mFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    encodedCorpus(spark, dir)(y4mEncode)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = y4mDecode(bytes)
        val n = d.frames.length
        var lumaSum = 0L; var cbSum = 0L; var motion = 0L; var lastBot = 0L
        var f = 0
        while (f < n) {
          val yP = d.frames(f)._1
          var i = 0
          while (i < yP.length) {
            lumaSum += yP(i) & 0xFF
            if (f > 0) motion += math.abs((yP(i) & 0xFF) - (d.frames(f - 1)._1(i) & 0xFF))
            i += 1
          }
          val cbP = d.frames(f)._2
          i = 0
          while (i < cbP.length) { cbSum += cbP(i) & 0xFF; i += 1 }
          f += 1
        }
        val lastY = d.frames(n - 1)._1
        var x = 0
        while (x < d.width) {
          lastBot += lastY((d.height - 1) * d.width + x) & 0xFF
          x += 1
        }
        val yPix = d.width.toLong * d.height * n
        val cPix = (d.width / 2).toLong * (d.height / 2) * n
        (id, d.width, d.height, n,
          lumaSum.toDouble / yPix, cbSum.toDouble / cPix, motion, lastBot)
      })
      .toDF("doc_id", "width", "height", "n_frames",
        "mean_luma_raw", "mean_cb_raw", "motion", "last_bot_luma")
      .select(
        col("doc_id"), col("width"), col("height"), col("n_frames"),
        round(col("mean_luma_raw"), 4).as("mean_luma"),
        round(col("mean_cb_raw"), 4).as("mean_cb"),
        col("motion"), col("last_bot_luma"))
      .orderBy(col("doc_id"))
  }

  // ---- audio frame features (windowed, over the decoded WAV) -------------

  /** Samples per analysis frame for [[wavFrameFeatures]]. */
  val AudioFrameSamples = 16

  /** Declared query (q139): windowed per-frame audio features over the
    * DECODED WAV samples — non-overlapping [[AudioFrameSamples]]-sample
    * frames, each emitting its RMS and zero-crossing count (adjacent
    * same-frame sample pairs with a strict sign change). The
    * decode-then-window composition a feature-extraction pipeline runs
    * before any learned audio model; trailing partial frames are
    * dropped (defined behavior, mirrored by the oracle). One kernel
    * pass, rows fan out |samples|/frame per doc — no shuffle before the
    * output sort.
    */
  def wavFrameFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fl = AudioFrameSamples
    wavTable(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val s = wavDecode(bytes).samples
        val nFrames = s.length / fl
        (0 until nFrames).iterator.map { f =>
          var sumSq = 0L
          var zc = 0
          var i = f * fl
          val end = i + fl
          while (i < end) {
            sumSq += s(i).toLong * s(i)
            if (i > f * fl && (s(i - 1) < 0) != (s(i) < 0) && s(i - 1) != 0 && s(i) != 0)
              zc += 1
            i += 1
          }
          (id, f, math.sqrt(sumSq.toDouble / fl), zc)
        }
      })
      .toDF("doc_id", "frame_idx", "rms_raw", "zcr")
      .select(
        col("doc_id"), col("frame_idx"),
        round(col("rms_raw"), 4).as("f_rms"), col("zcr"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  // ---- real COMPRESSED audio decode (IMA ADPCM / DVI4) -------------------

  /** The compressed-audio twin of the JPEG (image) and GVC (video)
    * codecs: a real IMA/DVI ADPCM decoder, the 4-bit differential codec
    * carried by WAVE format tag 0x0011 (and RTP's DVI4). 4:1 compression
    * vs PCM16 — the classic lossy audio codec whose entire decode is an
    * integer state machine, so it is bit-exact reproducible:
    *
    *  - each block opens with a 4-byte header (initial predictor as a
    *    little-endian int16 — which IS sample 0 — plus the initial
    *    step-table index) followed by packed 4-bit nibbles, two per
    *    byte, LOW nibble first;
    *  - each nibble advances the decoder: `diff = step>>3 (+ step if
    *    bit2) (+ step>>1 if bit1) (+ step>>2 if bit0)`, predictor
    *    ± diff (bit3 = sign) clamped to int16, then the step index
    *    moves by the 8-entry adjustment table, clamped to [0, 88];
    *  - the 89-entry step table is the published IMA spec table.
    *
    * The corpus synthesizes in the NIBBLE domain (the q167/q180
    * precedent: synthesis lives in the coded domain so decode is exactly
    * predictable), packs spec-compliant WAVE(0x0011) containers — fmt
    * extension with samples-per-block, fact chunk, block-aligned data —
    * and [[adpcmDecode]] is a REAL parser: generic RIFF chunk walk (fmt
    * / fact / data located by iterating chunks, not fixed offsets),
    * format-tag and geometry validation, then the state machine over
    * every block. The DuckDB oracle replays the SAME state machine as a
    * recursive CTE (step table inlined as a list literal), so a wrong
    * shift, a missed clamp, a swapped nibble order, or a mis-read block
    * header goes red on the per-doc sample SUM.
    */
  val AdpcmBlockAlign = 12 // 4-byte header + 8 nibble bytes
  val AdpcmSamplesPerBlock = 1 + (AdpcmBlockAlign - 4) * 2 // 17

  /** IMA ADPCM step-size table (89 entries, published spec). */
  val AdpcmStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 38, 42, 46,
    51, 56, 62, 69, 76, 84, 94, 103, 113, 125,
    138, 151, 166, 182, 200, 220, 242, 266, 294, 322,
    358, 394, 434, 478, 526, 580, 638, 702, 772, 850,
    936, 1030, 1134, 1248, 1372, 1510, 1662, 1828, 2012, 2212,
    2435, 2680, 2950, 3246, 3572, 3930, 4326, 4760, 5240, 5766,
    6344, 6978, 7680, 8452, 9302, 10238, 11264, 12396, 13640, 15016,
    16524, 18188, 20032, 22048, 24268, 26722, 29422, 32378, 32767)

  /** IMA index-adjustment table, indexed by the nibble's low 3 bits. */
  val AdpcmIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Blocks per doc: 1–3, so the block walk is load-bearing. */
  def adpcmNumBlocks(docId: Long): Int = (1 + docId % 3).toInt

  /** Block b's header predictor (= sample 0 of the block). */
  def adpcmPred0(docId: Long, b: Int): Int =
    (((docId * 7919L + b.toLong * 4721L) % 65536L) - 32768L).toInt

  /** Block b's initial step index (spans the whole table over the corpus). */
  def adpcmIdx0(docId: Long, b: Int): Int = ((docId * 13L + b.toLong * 7L) % 89L).toInt

  /** Nibble j (0-based) of block b — drives sample j+1. All 16 codes occur. */
  def adpcmNibble(docId: Long, b: Int, j: Int): Int =
    ((docId * 11L + b.toLong * 5L + j.toLong * 3L) % 16L).toInt

  /** Encode one spec-compliant WAVE(0x0011) IMA ADPCM container. */
  private[pipeline] def adpcmEncode(docId: Long): Array[Byte] = {
    val nb = adpcmNumBlocks(docId)
    val dataSize = nb * AdpcmBlockAlign
    val sr = wavSampleRate(docId)
    // chunks: fmt (8+20), fact (8+4), data (8+dataSize)
    val riffSize = 4 + 28 + 12 + 8 + dataSize
    val bb = java.nio.ByteBuffer
      .allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)); bb.putInt(riffSize)
    bb.put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)); bb.putInt(20)
    bb.putShort(0x0011) // wFormatTag: IMA ADPCM
    bb.putShort(1) // mono
    bb.putInt(sr)
    bb.putInt(sr * AdpcmBlockAlign / AdpcmSamplesPerBlock) // avg bytes/sec
    bb.putShort(AdpcmBlockAlign.toShort)
    bb.putShort(4) // bits per (coded) sample
    bb.putShort(2) // cbSize
    bb.putShort(AdpcmSamplesPerBlock.toShort) // wSamplesPerBlock
    bb.put("fact".getBytes(ascii)); bb.putInt(4)
    bb.putInt(nb * AdpcmSamplesPerBlock)
    bb.put("data".getBytes(ascii)); bb.putInt(dataSize)
    var b = 0
    while (b < nb) {
      bb.putShort(adpcmPred0(docId, b).toShort)
      bb.put(adpcmIdx0(docId, b).toByte)
      bb.put(0.toByte) // reserved
      var k = 0
      while (k < AdpcmBlockAlign - 4) {
        val lo = adpcmNibble(docId, b, 2 * k)
        val hi = adpcmNibble(docId, b, 2 * k + 1)
        bb.put(((hi << 4) | lo).toByte)
        k += 1
      }
      b += 1
    }
    bb.array()
  }

  /** Parsed header + fully decoded PCM of a mono IMA ADPCM WAVE. */
  final case class AdpcmDecoded(
      sampleRate: Int, blockAlign: Int, samplesPerBlock: Int,
      samples: Array[Int])

  /** Advance the IMA state machine by one nibble; returns (pred', idx'). */
  @inline private[pipeline] def adpcmStep(pred: Int, idx: Int, nib: Int): (Int, Int) = {
    val step = AdpcmStepTable(idx)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    val p0 = if ((nib & 8) != 0) pred - diff else pred + diff
    val p = if (p0 > 32767) 32767 else if (p0 < -32768) -32768 else p0
    val i0 = idx + AdpcmIndexTable(nib & 7)
    val i = if (i0 > 88) 88 else if (i0 < 0) 0 else i0
    (p, i)
  }

  /** REAL WAVE(0x0011) parse + IMA ADPCM decode: generic RIFF chunk walk
    * (fmt/fact/data found by iteration), geometry checks, then the
    * per-block state machine. Decodes any spec-compliant mono stream.
    */
  private[pipeline] def adpcmDecode(bytes: Array[Byte]): AdpcmDecoded = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def fourcc(off: Int): String = new String(bytes, off, 4, ascii)
    require(fourcc(0) == "RIFF" && fourcc(8) == "WAVE", "not a RIFF/WAVE stream")
    val riffEnd = math.min(bytes.length, 8 + bb.getInt(4))
    var fmtOff = -1; var dataOff = -1; var dataLen = -1; var factSamples = -1
    var off = 12
    while (off + 8 <= riffEnd) {
      val id = fourcc(off)
      val len = bb.getInt(off + 4)
      require(len >= 0 && off + 8 + len <= riffEnd, s"chunk '$id' overruns RIFF")
      id match {
        case "fmt " => fmtOff = off + 8
        case "fact" => factSamples = bb.getInt(off + 8)
        case "data" => dataOff = off + 8; dataLen = len
        case _ => // skip foreign chunks (LIST/INFO/...)
      }
      off += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    require(fmtOff >= 0 && dataOff >= 0, "missing fmt or data chunk")
    val tag = bb.getShort(fmtOff) & 0xFFFF
    require(tag == 0x0011, f"not IMA ADPCM: format tag 0x$tag%04x")
    val channels = bb.getShort(fmtOff + 2).toInt
    require(channels == 1, s"unsupported channel count $channels")
    val sampleRate = bb.getInt(fmtOff + 4)
    val blockAlign = bb.getShort(fmtOff + 12).toInt
    val bits = bb.getShort(fmtOff + 14).toInt
    require(bits == 4, s"unsupported ADPCM bit depth $bits")
    val samplesPerBlock = bb.getShort(fmtOff + 18).toInt
    require(samplesPerBlock == 1 + (blockAlign - 4) * 2,
      s"samples-per-block $samplesPerBlock inconsistent with block align $blockAlign")
    require(dataLen % blockAlign == 0, "data chunk is not block-aligned")
    val nBlocks = dataLen / blockAlign
    val total =
      if (factSamples >= 0) {
        require(factSamples <= nBlocks * samplesPerBlock, "fact count exceeds data")
        factSamples
      } else nBlocks * samplesPerBlock
    val out = new Array[Int](total)
    var w = 0
    var b = 0
    while (b < nBlocks && w < total) {
      val base = dataOff + b * blockAlign
      var pred = bb.getShort(base).toInt
      var idx = bytes(base + 2) & 0xFF
      require(idx <= 88, s"block $b: step index $idx out of range")
      out(w) = pred; w += 1
      var k = 0
      while (k < blockAlign - 4 && w < total) {
        val byte = bytes(base + 4 + k) & 0xFF
        var half = 0
        while (half < 2 && w < total) {
          val nib = if (half == 0) byte & 0x0F else byte >>> 4
          val (p, i) = adpcmStep(pred, idx, nib)
          pred = p; idx = i
          out(w) = pred; w += 1
          half += 1
        }
        k += 1
      }
      b += 1
    }
    AdpcmDecoded(sampleRate, blockAlign, samplesPerBlock, out)
  }

  /** Declared query (q182): decode the compressed-audio corpus and emit
    * per-doc features — container fields (sample_rate, n_samples) plus
    * statistics over every DECODED sample (sum, peak, final predictor).
    * `sum_samples` makes each of the ~40 state-machine transitions per
    * doc load-bearing: one wrong shift, clamp, or nibble order shifts
    * the sum. One kernel pass, no shuffle before the output sort.
    */
  def adpcmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    encodedCorpus(spark, dir)(adpcmEncode)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = adpcmDecode(bytes)
        var sum = 0L
        var peak = 0
        var i = 0
        while (i < d.samples.length) {
          val s = d.samples(i)
          sum += s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        (id, d.sampleRate, d.samples.length, sum, peak, d.samples(d.samples.length - 1))
      })
      .toDF("doc_id", "sample_rate", "n_samples", "sum_samples", "peak", "last_pred")
      .orderBy(col("doc_id"))
  }

  /** Declared query: per-doc media features with the histogram rounded.
    * Oracle-gated: with [[HistBins]] = 16 the bin index is each byte's
    * high nibble, so DuckDB reproduces the histogram exactly from
    * `hex(encode(text))` — the byte-level features are hash-checked
    * cross-engine even though decode SEMANTICS stay stubbed.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = extractFeatures(mediaTable(spark, dir))
    feats
      .toDF()
      .select(
        col("doc_id"),
        col("media_len"),
        col("n_frames"),
        round(col("feat_norm"), 4).as("feat_norm"),
        round(element_at(col("hist"), 1), 4).as("hist_bin0"))
      .orderBy(col("doc_id"))
  }
}
