package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (EXT X5 — SURVEY §2.5): image/audio/video
  * payloads ride as opaque `binary` columns next to a typed metadata
  * struct; decode / feature-extraction runs batched per partition.
  *
  * Decode is REAL for uncompressed formats — [[Multimodal.decodePgm]]
  * (P5 grayscale images) and [[Multimodal.decodeWav]] (RIFF 16-bit PCM
  * audio) parse bytes with no codec library, and
  * [[Multimodal.resizePgm]] is a true nearest-neighbor pixel resize —
  * and for two genuinely COMPRESSED formats: [[Multimodal.decodeGif]]
  * implements GIF89a's LZW entropy coding (both directions) pure-JVM,
  * and [[Multimodal.decodePng]] implements PNG — chunk/CRC walk and all
  * five scanline filters here, DEFLATE via the JDK's `java.util.zip` —
  * and for one TRANSFORM-coded format: [[Multimodal.decodeJpegRaster]]
  * / [[Multimodal.decodeJpegRgb]] are a real JPEG decoder — baseline
  * sequential AND progressive (SOF2: spectral selection, successive
  * approximation, EOB-run coding), grayscale AND 3-component YCbCr
  * color with 4:2:0/4:4:4 chroma and fixed-point YCbCr→RGB — with
  * [[Multimodal.encodeJpeg]] / [[Multimodal.encodeJpegColor]] /
  * [[Multimodal.encodeJpegProgressive]] their encoder twins.
  * Remaining lossy formats (MP3/H.264; arithmetic-coded or
  * hierarchical JPEG) still go through the clearly marked
  * deterministic STUB; either
  * way everything Spark-side is real and load-bearing at scale: the
  * (payload binary, meta struct) schema, the `mapPartitions` batching
  * shape (one iterator per partition, the same contract a
  * vectorized/Arrow UDF batch has), and the feature schema out.
  * Swapping a kernel changes no plan shape.
  */
object Multimodal {

  /** The canonical multimodal record: opaque payload + typed metadata. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], fmt: String, lang: String)

  /** Extracted features: fixed-width vector + byte-level stats. */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, fmt: String, feature: Array[Float])

  /** Pack a text column as a binary payload column with metadata — the
    * harness stand-in for reading image/audio bytes (production path:
    * `spark.read.format("binaryFile")` or a payload column in parquet). */
  def packBinary(df: DataFrame, id: String, text: String, lang: String, fmt: String): DataFrame =
    df.select(
      col(id).as("doc_id"),
      encode(col(text), "UTF-8").as("payload"),
      lit(fmt).as("fmt"),
      col(lang).as("lang"))

  /** Output width of [[stubDecodeFeatures]]. Public so the
    * `x5_features_stub` oracle derives its expected `feat_dim` from this
    * constant instead of hardcoding a mirror value. */
  val stubFeatureDim: Int = 8

  /** STUB decode kernel — deterministic fake "decoder": derives a
    * [[stubFeatureDim]]-wide feature vector from byte statistics. A real
    * pipeline would decode the payload (image → pixels, audio → samples)
    * here; the signature (bytes in, fixed-width float vector out) is the
    * real contract. */
  private def stubDecodeFeatures(payload: Array[Byte]): Array[Float] = {
    val n = payload.length
    val d = stubFeatureDim
    val feat = new Array[Float](d)
    var i = 0
    while (i < n) {
      feat(i % d) += (payload(i) & 0xFF) / 255.0f
      i += 1
    }
    if (n > 0) { var j = 0; while (j < d) { feat(j) /= n; j += 1 } }
    feat
  }

  /** Batched per-partition feature extraction — the Spark plumbing that
    * matters at 100 TB: no per-row task overhead, one iterator pass per
    * partition, typed output schema. This is where a vectorized decode
    * batch (Arrow / pandas-UDF equivalent) plugs in. */
  def extractFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        MediaFeatures(r.doc_id, r.payload.length.toLong, r.fmt, stubDecodeFeatures(r.payload))
      }
    }
  }

  /** Resize analog — deterministic downsample STUB: keep every
    * `factor`-th byte (a real pipeline would pixel-resize / resample
    * audio here; bytes-in → smaller-bytes-out is the real contract).
    * Same batched mapPartitions shape as [[extractFeatures]]. */
  def resizePayloads(records: Dataset[MediaRecord], factor: Int): Dataset[MediaRecord] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val src = r.payload
        val out = new Array[Byte]((src.length + factor - 1) / factor)
        var i = 0
        while (i < out.length) { out(i) = src(i * factor); i += 1 }
        MediaRecord(r.doc_id, out, r.fmt, r.lang)
      }
    }
  }

  // -------------------------------------------------------------------
  // REAL decoders — uncompressed formats are pure byte arithmetic, so
  // they need no codec library: PGM (P5 binary grayscale) and WAV
  // (RIFF PCM 16-bit). The stub above remains the stand-in for
  // compressed formats (JPEG/MP3/H.264 need codecs the container lacks);
  // these kernels prove the decode boundary end-to-end — header walk,
  // dimension parse, pixel/sample statistics — through the same batched
  // mapPartitions shape.
  // -------------------------------------------------------------------

  /** Decoded grayscale image statistics. */
  case class PgmStats(doc_id: Long, width: Int, height: Int, maxval: Int,
      n_pixels: Long, px_sum: Long, px_min: Int, px_max: Int)

  /** Decoded PCM audio statistics (16-bit signed little-endian mono). */
  case class WavStats(doc_id: Long, sample_rate: Int, n_samples: Long,
      duration_micros: Long, sum_abs: Long, peak: Int)

  /** Build a P5 PGM payload (header + raw bytes). Fixture-side twin of
    * [[decodePgm]]; also the writer a real grayscale pipeline would use. */
  def encodePgm(width: Int, height: Int, maxval: Int,
      pixel: Int => Int): Array[Byte] = {
    val header = s"P5\n$width $height\n$maxval\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + width * height)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < width * height) {
      out(header.length + i) = (pixel(i) & 0xFF).toByte; i += 1
    }
    out
  }

  /** (width, height, maxval, raster offset) of a P5 header: magic,
    * whitespace-separated dims (with `#` comment lines, per the netpbm
    * spec), one whitespace byte after maxval, then the raster. */
  private def parsePgmHeader(payload: Array[Byte], docId: Long)
      : (Int, Int, Int, Int) = {
    require(payload.length >= 2 && payload(0) == 'P' && payload(1) == '5',
      s"not a P5 PGM payload (doc $docId)")
    var pos = 2
    def nextInt(): Int = {
      var inComment = false
      while (pos < payload.length &&
          (inComment || payload(pos).toChar.isWhitespace || payload(pos) == '#')) {
        if (payload(pos) == '#') inComment = true
        else if (payload(pos) == '\n') inComment = false
        pos += 1
      }
      var v = 0
      while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
        v = v * 10 + (payload(pos) - '0'); pos += 1
      }
      v
    }
    val (w, h, maxval) = (nextInt(), nextInt(), nextInt())
    pos += 1 // exactly one whitespace byte separates maxval from raster
    require(payload.length - pos >= w * h,
      s"truncated PGM raster: ${payload.length - pos} < ${w * h} (doc $docId)")
    (w, h, maxval, pos)
  }

  /** Parse a binary (P5) PGM and compute exact pixel statistics — pure
    * integer scanning, no library. */
  def decodePgm(docId: Long, payload: Array[Byte]): PgmStats = {
    val (w, h, maxval, off) = parsePgmHeader(payload, docId)
    var (sum, mn, mx) = (0L, 256, -1)
    var i = 0
    while (i < w * h) {
      val p = payload(off + i) & 0xFF
      sum += p; if (p < mn) mn = p; if (p > mx) mx = p
      i += 1
    }
    PgmStats(docId, w, h, maxval, w.toLong * h, sum,
      if (w * h == 0) 0 else mn, if (w * h == 0) 0 else mx)
  }

  /** REAL nearest-neighbor resize of a P5 PGM payload: output pixel
    * (x, y) samples source pixel (x·w0/w1, y·h0/h1) — integer div, the
    * standard NN mapping. Returns a valid PGM payload, so it composes
    * with [[decodePgm]] (the resize gate decodes its own output). */
  def resizePgm(payload: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
    val (w0, h0, maxval, off) = parsePgmHeader(payload, -1L)
    encodePgm(newW, newH, maxval, i => {
      val (x, y) = (i % newW, i / newW)
      payload(off + (y.toLong * h0 / newH).toInt * w0 +
        (x.toLong * w0 / newW).toInt) & 0xFF
    })
  }

  /** Build a minimal RIFF/WAVE payload: 'fmt ' chunk (PCM, mono,
    * 16-bit little-endian) + 'data' chunk. Fixture-side twin of
    * [[decodeWav]]. */
  /** 16-bit mono PCM WAV. `tags` (round 12, session 2) emits a
    * LIST/INFO chunk before `data` — the RIFF metadata convention
    * (INAM title, IART artist, IPRD album, ICRD date, ...): each
    * subchunk is fourcc + LE size + NUL-terminated ASCII text,
    * word-aligned with a pad byte after odd sizes. */
  def encodeWav(sampleRate: Int, samples: Int => Int, nSamples: Int,
      tags: Seq[(String, String)] = Nil): Array[Byte] = {
    val dataBytes = nSamples * 2
    val listBody: Array[Byte] =
      if (tags.isEmpty) Array.empty
      else {
        val b = new java.io.ByteArrayOutputStream()
        b.write("INFO".getBytes("US-ASCII"))
        tags.foreach { case (k, v) =>
          require(k.length == 4 && k.forall(c => c.isUpper || c.isDigit),
            s"wav: INFO tag fourcc must be 4 upper/digit chars, got $k")
          require(v.forall(c => c >= 0x20 && c < 0x7F),
            "wav: INFO text is printable ASCII")
          val tb = v.getBytes("US-ASCII") :+ 0.toByte // NUL-terminated
          b.write(k.getBytes("US-ASCII"))
          b.write(tb.length & 0xFF); b.write((tb.length >> 8) & 0xFF)
          b.write((tb.length >> 16) & 0xFF); b.write((tb.length >> 24) & 0xFF)
          b.write(tb)
          if (tb.length % 2 == 1) b.write(0) // word alignment
        }
        b.toByteArray
      }
    val listChunk = if (listBody.isEmpty) 0 else 8 + listBody.length
    val out = java.nio.ByteBuffer.allocate(44 + listChunk + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + listChunk + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    if (listChunk > 0) {
      out.put("LIST".getBytes("US-ASCII")).putInt(listBody.length)
      out.put(listBody)
    }
    out.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < nSamples) { out.putShort(samples(i).toShort); i += 1 }
    out.array()
  }

  /** LIST/INFO tags of a WAV payload: (fourcc, text) pairs with the
    * NUL terminator stripped; empty when no LIST/INFO chunk exists. */
  def readWavInfo(docId: Long, payload: Array[Byte]): Seq[(String, String)] = {
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", s"not a RIFF payload (doc $docId)")
    buf.getInt
    require(fourcc() == "WAVE", s"not a WAVE payload (doc $docId)")
    val tags = Seq.newBuilder[(String, String)]
    // RIFF word-alignment: every chunk whose size is odd is followed by
    // a pad byte (trailing chunk may legally omit it) — skipping it is
    // what keeps the walk in sync past odd-sized foreign chunks
    def advancePast(chunkEnd: Int, size: Int): Unit = {
      require(size >= 0 && chunkEnd <= buf.limit(),
        s"wav: chunk overruns payload (doc $docId)")
      val padded = chunkEnd + (size & 1)
      buf.position(math.min(padded, buf.limit()))
    }
    while (buf.remaining() >= 8) {
      val (id, size) = (fourcc(), buf.getInt)
      if (id == "LIST" && size >= 4) {
        val end = buf.position() + size
        if (fourcc() == "INFO") {
          while (buf.position() + 8 <= end) {
            val sub = fourcc()
            val slen = buf.getInt
            require(slen >= 0 && buf.position() + slen <= end,
              s"wav: INFO subchunk $sub overruns LIST (doc $docId)")
            val tb = new Array[Byte](slen); buf.get(tb)
            val text = new String(tb, "US-ASCII").takeWhile(_ != 0.toChar)
            tags += ((sub, text))
            if (slen % 2 == 1 && buf.position() < end) buf.get() // pad
          }
        }
        advancePast(end, size)
      } else advancePast(buf.position() + size, size)
    }
    tags.result()
  }

  /** Walk RIFF chunks (generic — tolerates extra chunks before 'data'),
    * require 16-bit mono PCM, and compute sample statistics in exact
    * integers: duration in micros (`n·1e6 / rate`, integer div), Σ|s|,
    * and peak |s|. */
  def decodeWav(docId: Long, payload: Array[Byte]): WavStats = {
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", s"not a RIFF payload (doc $docId)")
    buf.getInt // riff size
    require(fourcc() == "WAVE", s"not a WAVE payload (doc $docId)")
    var (rate, bits, channels) = (0, 0, 0)
    var stats: Option[(Long, Long, Int)] = None
    while (buf.remaining() >= 8 && stats.isEmpty) {
      val (id, size) = (fourcc(), buf.getInt)
      id match {
        case "fmt " =>
          val start = buf.position()
          require(buf.getShort() == 1, s"not PCM (doc $docId)")
          channels = buf.getShort(); rate = buf.getInt()
          buf.getInt; buf.getShort // byte rate, block align
          bits = buf.getShort()
          buf.position(start + size)
        case "data" =>
          require(bits == 16 && channels == 1,
            s"decoder handles 16-bit mono, got $bits-bit ×$channels (doc $docId)")
          val n = size / 2
          var (sumAbs, peak) = (0L, 0)
          var i = 0
          while (i < n) {
            val a = math.abs(buf.getShort().toInt)
            sumAbs += a; if (a > peak) peak = a
            i += 1
          }
          stats = Some((n.toLong, sumAbs, peak))
        case _ => // skip unknown chunk, honoring the RIFF pad byte
          require(size >= 0 && buf.position() + size <= buf.limit(),
            s"wav: chunk $id overruns payload (doc $docId)")
          buf.position(
            math.min(buf.position() + size + (size & 1), buf.limit()))
      }
    }
    val (n, sumAbs, peak) = stats.getOrElse(
      throw new IllegalArgumentException(s"no data chunk (doc $docId)"))
    WavStats(docId, rate, n, n * 1000000L / rate, sumAbs, peak)
  }

  /** Batched decode of a PGM payload column — same mapPartitions shape
    * as [[extractFeatures]]. */
  def decodePgmStats(records: Dataset[MediaRecord]): Dataset[PgmStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.map(r => decodePgm(r.doc_id, r.payload)))
  }

  /** Batched decode of a WAV payload column. */
  def decodeWavStats(records: Dataset[MediaRecord]): Dataset[WavStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.map(r => decodeWav(r.doc_id, r.payload)))
  }

  // -------------------------------------------------------------------
  // REAL compressed-codec decode — GIF (LZW). Unlike PGM/WAV above,
  // the raster here is genuinely entropy-coded: variable-width LZW
  // codes packed LSB-first into 255-byte sub-blocks, dictionary grown
  // per emitted code, width bumps at dictionary powers of two, CLEAR
  // resets mid-stream. Pure-JVM, spec-only (GIF89a), no codec library —
  // this replaces part of the JPEG/MP3/H.264 stub boundary with a real
  // compressed format. Decoder and encoder are independent walks of the
  // spec (the spec pins the decoder against hand-assembled bytes, not
  // just the encoder's output, so a shared bug cannot cancel out).
  // -------------------------------------------------------------------

  /** Decoded GIF statistics: dimensions, palette size, and exact pixel
    * statistics over PALETTE INDICES (the decoded raster). */
  case class GifStats(doc_id: Long, width: Int, height: Int, n_colors: Int,
      n_pixels: Long, idx_sum: Long, idx_min: Int, idx_max: Int,
      n_code_bytes: Long)

  /** Encode a GIF89a: logical screen + global color table (grayscale
    * ramp, `1 << colorBits` entries) + one full-frame image whose raster
    * is LZW-compressed per the GIF spec (variable code width starting at
    * colorBits+1, LSB-first bit packing, CLEAR emitted first, width
    * grows when the next code would not fit, hard 12-bit cap with an
    * explicit CLEAR + dictionary reset). Fixture-side twin of
    * [[decodeGif]] — and a real writer: any GIF decoder renders its
    * output. */
  def encodeGif(width: Int, height: Int, colorBits: Int,
      pixel: Int => Int): Array[Byte] =
    encodeGifPalette(width, height, colorBits, pixel, null)

  /** [[encodeGif]] with an explicit COLOR global palette (r14): packed
    * 0xRRGGBB entries, padded to the 2^colorBits table the format
    * requires; null keeps the grayscale ramp the fixtures default to. */
  def encodeGifPalette(width: Int, height: Int, colorBits: Int,
      pixel: Int => Int, palette: Array[Int],
      interlaced: Boolean = false): Array[Byte] = {
    require(colorBits >= 2 && colorBits <= 8, "GIF needs 2..8 bits/pixel")
    val nColors = 1 << colorBits
    require(palette == null || (palette.nonEmpty &&
      palette.length <= nColors),
      s"gif: palette must have 1..$nColors entries")
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(width); le16(height)
    out.write(0x80 | ((colorBits - 1) << 4) | (colorBits - 1)) // GCT present
    out.write(0); out.write(0) // bg index, aspect
    var c = 0
    while (c < nColors) {
      if (palette == null) { // grayscale ramp palette
        val g = c * 255 / (nColors - 1)
        out.write(g); out.write(g); out.write(g)
      } else {
        val rgb = if (c < palette.length) palette(c) else 0
        out.write((rgb >> 16) & 0xFF); out.write((rgb >> 8) & 0xFF)
        out.write(rgb & 0xFF)
      }
      c += 1
    }
    out.write(0x2C); le16(0); le16(0); le16(width); le16(height)
    out.write(if (interlaced) 0x40 else 0)
    if (interlaced) {
      // transmit rows in the 4-pass order; the decoder's deinterlace
      // is the inverse permutation
      val order = gifInterlaceOrder(height)
      lzwEncodeRaster(out, colorBits, width * height,
        i => pixel(order(i / width) * width + i % width))
    } else lzwEncodeRaster(out, colorBits, width * height, pixel)
    out.write(0x3B)
    out.toByteArray
  }

  /** LZW-compress `n` palette indices and write min-code byte +
    * 255-byte sub-blocks + terminator — the code-stream body shared by
    * the still and animated writers. */
  private def lzwEncodeRaster(out: java.io.ByteArrayOutputStream,
      colorBits: Int, n: Int, pixel: Int => Int): Unit = {
    val nColors = 1 << colorBits
    val minCode = colorBits
    val clear = 1 << minCode; val eoi = clear + 1
    out.write(minCode)
    val code = new java.io.ByteArrayOutputStream()
    var (bitBuf, bitCnt, codeW) = (0L, 0, minCode + 1)
    def emit(v: Int): Unit = {
      bitBuf |= v.toLong << bitCnt; bitCnt += codeW
      while (bitCnt >= 8) { code.write((bitBuf & 0xFF).toInt); bitBuf >>= 8; bitCnt -= 8 }
    }
    // dictionary: (prefix code, appended index) -> code, via a hash map
    val dict = new java.util.HashMap[Long, Integer]()
    var nextCode = eoi + 1
    emit(clear)
    var prev = -1
    var i = 0
    while (i < n) {
      val k = pixel(i) & (nColors - 1)
      if (prev < 0) prev = k
      else {
        val key = prev.toLong << 12 | k
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          emit(prev)
          dict.put(key, nextCode)
          nextCode += 1
          // GIF quirk: the width bump happens when nextCode EXCEEDS the
          // current width's range; at the 12-bit cap, CLEAR and reset.
          if (nextCode > (1 << codeW)) {
            if (codeW < 12) codeW += 1
            else { emit(clear); dict.clear(); nextCode = eoi + 1; codeW = minCode + 1 }
          }
          prev = k
        }
      }
      i += 1
    }
    if (prev >= 0) emit(prev)
    emit(eoi)
    if (bitCnt > 0) code.write((bitBuf & 0xFF).toInt)
    // sub-block the code stream (<=255-byte blocks, zero terminator)
    val bytes = code.toByteArray
    var off = 0
    while (off < bytes.length) {
      val len = math.min(255, bytes.length - off)
      out.write(len); out.write(bytes, off, len); off += len
    }
    out.write(0)
  }

  /** One frame of an animated GIF: (left, top, width, height, delay in
    * centiseconds, pixel fn over the frame's own w·h raster). */
  type GifAnimSpec = (Int, Int, Int, Int, Int, Int => Int)

  /** Encode an ANIMATED GIF89a: logical screen + grayscale-ramp GCT,
    * then per frame a Graphic Control Extension (delay) + image
    * descriptor (sub-rectangle placement) + LZW code stream. The
    * "video" container of the X5 family — every decoder renders it. */
  def encodeGifAnimated(screenW: Int, screenH: Int, colorBits: Int,
      frames: Seq[GifAnimSpec]): Array[Byte] = {
    require(colorBits >= 2 && colorBits <= 8, "GIF needs 2..8 bits/pixel")
    require(frames.nonEmpty, "animated GIF needs at least one frame")
    val nColors = 1 << colorBits
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(screenW); le16(screenH)
    out.write(0x80 | ((colorBits - 1) << 4) | (colorBits - 1))
    out.write(0); out.write(0)
    var c = 0
    while (c < nColors) { // grayscale ramp palette
      val g = c * 255 / (nColors - 1)
      out.write(g); out.write(g); out.write(g); c += 1
    }
    frames.foreach { case (left, top, w, h, delayCs, pixel) =>
      require(left >= 0 && top >= 0 && w > 0 && h > 0 &&
        left + w <= screenW && top + h <= screenH,
        s"frame rect ${left},${top} ${w}x$h outside ${screenW}x$screenH")
      // Graphic Control Extension: no disposal, no transparency
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write(0); le16(delayCs); out.write(0); out.write(0)
      out.write(0x2C); le16(left); le16(top); le16(w); le16(h); out.write(0)
      lzwEncodeRaster(out, colorBits, w * h, pixel)
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** Fully decoded GIF frame: palette indices in row-major order plus
    * the active palette (local if present, else global) as packed
    * 0xRRGGBB ints. */
  case class GifFrame(width: Int, height: Int, nColors: Int,
      raster: Array[Int], nCodeBytes: Long, palette: Array[Int])

  /** One decoded animation frame: geometry, GCE timing, raster of
    * palette indices over the frame's own rectangle. */
  case class GifAnimFrame(frame_id: Int, x_off: Int, y_off: Int,
      width: Int, height: Int, delay_cs: Int, raster: Array[Int])

  /** Decode EVERY frame of a (possibly animated) GIF: walks Graphic
    * Control Extensions (capturing each frame's delay), image
    * descriptors with sub-rectangle placement and optional local
    * palettes, and each frame's own LZW code stream — the real
    * "video frame extraction" under the X5 frame-sampling surface. */
  def decodeGifFrames(docId: Long, payload: Array[Byte]): Seq[GifAnimFrame] = {
    require(payload.length > 13 &&
      new String(payload, 0, 6, "US-ASCII").startsWith("GIF"),
      s"not a GIF payload (doc $docId)")
    def le16(p: Int): Int = (payload(p) & 0xFF) | ((payload(p + 1) & 0xFF) << 8)
    val packed = payload(10) & 0xFF
    val gctSize = if ((packed & 0x80) != 0) 1 << ((packed & 7) + 1) else 0
    var pos = 13 + 3 * gctSize
    val frames = Seq.newBuilder[GifAnimFrame]
    var frameId = 0
    var pendingDelay = 0
    var done = false
    while (!done) {
      require(pos < payload.length, s"gif: truncated stream (doc $docId)")
      (payload(pos) & 0xFF) match {
        case 0x3B => done = true
        case 0x21 => // extension: capture GCE delay, skip the rest
          val label = payload(pos + 1) & 0xFF
          if (label == 0xF9) pendingDelay = le16(pos + 4)
          pos += 2
          while (payload(pos) != 0) pos += 1 + (payload(pos) & 0xFF)
          pos += 1
        case 0x2C =>
          val left = le16(pos + 1); val top = le16(pos + 3)
          val w = le16(pos + 5); val h = le16(pos + 7)
          val localPacked = payload(pos + 9) & 0xFF
          val lctSize =
            if ((localPacked & 0x80) != 0) 1 << ((localPacked & 7) + 1) else 0
          val (raster0, _, after) =
            lzwDecodeRaster(payload, pos + 10 + 3 * lctSize, w, h, docId)
          val raster = if ((localPacked & 0x40) != 0)
            gifDeinterlace(raster0, w, h) else raster0
          frames += GifAnimFrame(frameId, left, top, w, h, pendingDelay, raster)
          frameId += 1; pendingDelay = 0
          pos = after
        case other => throw new IllegalArgumentException(
          f"gif: unexpected block 0x$other%02X at $pos (doc $docId)")
      }
    }
    frames.result()
  }

  /** Per-frame statistics of an animated GIF — the gate-facing form. */
  case class GifFrameStats(doc_id: Long, frame_id: Int, x_off: Int,
      y_off: Int, width: Int, height: Int, delay_cs: Int, n_pixels: Long,
      idx_sum: Long, idx_min: Int, idx_max: Int)

  def gifFrameStats(records: Dataset[MediaRecord]): Dataset[GifFrameStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.flatMap { r =>
      decodeGifFrames(r.doc_id, r.payload).map { f =>
        var s = 0L; var mn = Int.MaxValue; var mx = -1
        var i = 0
        while (i < f.raster.length) {
          val v = f.raster(i); s += v
          if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        GifFrameStats(r.doc_id, f.frame_id, f.x_off, f.y_off, f.width,
          f.height, f.delay_cs, f.raster.length.toLong, s,
          if (f.raster.isEmpty) 0 else mn, if (f.raster.isEmpty) 0 else mx)
      }
    })
  }

  // ---------------------------------------------------------------------
  // AVI (RIFF) container + MJPEG video frames
  // ---------------------------------------------------------------------

  /** Encode an MJPEG AVI: the RIFF layout every `.avi` reader walks —
    * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) JUNK
    * LIST('movi' 00dc…) idx1)` — with each frame a STANDALONE baseline
    * JPEG (MJPEG has no inter-frame prediction; that is what makes it
    * the archival/capture format frame extraction actually meets).
    * A JUNK chunk is emitted before `movi` (real muxers pad for 2k
    * alignment) so the decoder's unknown-chunk skip is exercised by
    * every fixture; odd-sized frames get the RIFF even-padding byte.
    * `microsPerFrame` is the avih/strh timing (rate = 10⁶/µs). */
  def encodeAvi(width: Int, height: Int, microsPerFrame: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && microsPerFrame > 0,
      s"avi: bad geometry ${width}x$height @ $microsPerFrame us")
    require(frames.nonEmpty, "avi: at least one frame")
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF) }
    def fourcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def chunk(id: String, body: Array[Byte]): Unit = {
      fourcc(id); le32(body.length); out.write(body)
      if ((body.length & 1) == 1) out.write(0) // RIFF even padding
    }
    def words(vs: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * vs.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putInt); b.array()
    }
    val maxFrame = frames.map(_.length).max
    // avih: µs/frame, maxBytesPerSec, padding, flags(HASINDEX),
    // totalFrames, initialFrames, streams=1, sugBufSize, w, h, rsvd×4
    val avih = words(microsPerFrame,
      (maxFrame.toLong * 1000000 / microsPerFrame).min(Int.MaxValue).toInt,
      0, 0x10, frames.length, 0, 1, maxFrame, width, height, 0, 0, 0, 0)
    // strh: 'vids'+'MJPG', flags, prio+lang, initFrames, scale=µs,
    // rate=10⁶ (fps = rate/scale), start, length, bufSize, quality=-1,
    // sampleSize=0 (per-frame chunks), rcFrame (two packed words)
    val strh = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("vids".getBytes("US-ASCII")); b.put("MJPG".getBytes("US-ASCII"))
      b.putInt(0); b.putInt(0); b.putInt(0)
      b.putInt(microsPerFrame); b.putInt(1000000)
      b.putInt(0); b.putInt(frames.length); b.putInt(maxFrame)
      b.putInt(-1); b.putInt(0)
      b.putShort(0); b.putShort(0)
      b.putShort(width.toShort); b.putShort(height.toShort)
      b.array()
    }
    // strf: BITMAPINFOHEADER with biCompression='MJPG'
    val strf = {
      val b = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(40); b.putInt(width); b.putInt(height)
      b.putShort(1); b.putShort(24)
      b.put("MJPG".getBytes("US-ASCII"))
      b.putInt(width * height * 3); b.putInt(0); b.putInt(0)
      b.putInt(0); b.putInt(0)
      b.array()
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("LIST".getBytes("US-ASCII"))
      val len = body.length + 4
      o.write(words(len)); o.write(kind.getBytes("US-ASCII")); o.write(body)
      o.toByteArray
    }
    def rawChunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(id.getBytes("US-ASCII")); o.write(words(body.length))
      o.write(body)
      if ((body.length & 1) == 1) o.write(0)
      o.toByteArray
    }
    val strl = list("strl", rawChunk("strh", strh) ++ rawChunk("strf", strf))
    val hdrl = list("hdrl", rawChunk("avih", avih) ++ strl)
    val junk = rawChunk("JUNK", Array.fill[Byte](12)(0))
    val moviBody = new java.io.ByteArrayOutputStream()
    val offsets = Seq.newBuilder[(Int, Int)] // (offset from movi kind, size)
    var moviPos = 4 // after the 'movi' kind fourcc
    frames.foreach { f =>
      offsets += ((moviPos, f.length))
      val c = rawChunk("00dc", f)
      moviBody.write(c); moviPos += c.length
    }
    val movi = list("movi", moviBody.toByteArray)
    // idx1: one AVIOLDINDEX entry per frame (KEYFRAME flag 0x10;
    // offsets relative to the movi kind fourcc, the common convention)
    val idx1 = {
      val o = new java.io.ByteArrayOutputStream()
      offsets.result().foreach { case (off, size) =>
        o.write("00dc".getBytes("US-ASCII")); o.write(words(0x10, off, size))
      }
      rawChunk("idx1", o.toByteArray)
    }
    val riffBody = hdrl ++ junk ++ movi ++ idx1
    fourcc("RIFF"); le32(riffBody.length + 4); fourcc("AVI ")
    out.write(riffBody)
    out.toByteArray
  }

  /** One extracted video frame: index, presentation timing from the
    * stream header, and the decoded grayscale raster. */
  case class AviFrame(frame_id: Int, width: Int, height: Int,
      frame_micros: Long, raster: Array[Int])

  /** Decode every frame of an MJPEG AVI — REAL video frame extraction
    * (the byte-stride `sampleFrames` surface's honest replacement for
    * MJPEG payloads): walks the RIFF chunk tree (even-padded chunks,
    * unknown/JUNK chunks skipped), cross-validates avih geometry and
    * frame count against strh/strf and the movi census, requires the
    * 'vids'/'MJPG' fourcc pair, and feeds each `##dc`/`##db` chunk
    * through the in-house baseline JPEG decoder. Fails loudly on
    * anything else — no silent approximation, same contract as the
    * rest of the codec layer. */
  def decodeAviFrames(docId: Long, payload: Array[Byte]): Seq[AviFrame] = {
    require(payload.length >= 12, s"avi: truncated header (doc $docId)")
    def cc(p: Int): String = new String(payload, p, 4, "US-ASCII")
    def le32(p: Int): Int =
      (payload(p) & 0xFF) | ((payload(p + 1) & 0xFF) << 8) |
      ((payload(p + 2) & 0xFF) << 16) | ((payload(p + 3) & 0xFF) << 24)
    require(cc(0) == "RIFF" && cc(8) == "AVI ",
      s"avi: not a RIFF/AVI payload (doc $docId)")
    val riffEnd = math.min(8L + le32(4), payload.length.toLong).toInt
    var microsPerFrame = 0L
    var declaredFrames = -1
    var declaredW = -1; var declaredH = -1
    var sawVidsMjpg = false
    // strh chunks appear in stream order; stream N's data chunks are
    // tagged 'NNdc'/'NNdb' with NN the two-digit stream number. Track
    // which ordinal the vids/MJPG stream is so a multi-stream AVI
    // (e.g. video + audio, or two video streams) never interleaves
    // OTHER streams' chunks into this stream's frame_id sequence.
    var streamOrdinal = -1
    var vidsStream = -1
    val frames = Seq.newBuilder[AviFrame]
    var frameId = 0
    // walk one LIST body [from, until); recurse into nested LISTs
    def walk(from: Int, until: Int): Unit = {
      var p = from
      while (p + 8 <= until) {
        val id = cc(p); val size = le32(p + 4)
        require(size >= 0 && p + 8 + size <= until,
          s"avi: chunk $id overruns its parent (doc $docId)")
        id match {
          case "LIST" =>
            val kind = cc(p + 8)
            if (kind == "hdrl" || kind == "strl" || kind == "movi")
              walk(p + 12, p + 8 + size)
            // other list kinds (INFO, odml…) are legal — skipped
          case "avih" =>
            microsPerFrame = le32(p + 8).toLong & 0xFFFFFFFFL
            declaredFrames = le32(p + 8 + 16)
            declaredW = le32(p + 8 + 32); declaredH = le32(p + 8 + 36)
          case "strh" =>
            streamOrdinal += 1
            val typ = cc(p + 8); val handler = cc(p + 12)
            if (typ == "vids") {
              require(handler == "MJPG",
                s"avi: unsupported video codec '$handler' (doc $docId) — " +
                  "only MJPG frames decode")
              require(vidsStream < 0,
                s"avi: multiple vids streams (doc $docId) — " +
                  "one video stream per file is the decode contract")
              sawVidsMjpg = true
              vidsStream = streamOrdinal
            }
          case "strf" =>
            if (sawVidsMjpg && size >= 40 && frameId == 0) {
              val comp = cc(p + 8 + 16)
              require(comp == "MJPG",
                s"avi: strf compression '$comp' contradicts MJPG (doc $docId)")
            }
          case dc if dc.substring(2) == "dc" || dc.substring(2) == "db" =>
            require(sawVidsMjpg,
              s"avi: frame chunk before a vids/MJPG strh (doc $docId)")
            require(dc.charAt(0).isDigit && dc.charAt(1).isDigit,
              s"avi: malformed stream number in chunk id '$dc' (doc $docId)")
            val chunkStream = (dc.charAt(0) - '0') * 10 + (dc.charAt(1) - '0')
            // only the vids/MJPG stream's chunks become frames — another
            // stream's '##dc' (a second video, or compressed audio some
            // muxers tag 'dc') must not enter this frame_id sequence
            if (chunkStream == vidsStream) {
              val body = java.util.Arrays.copyOfRange(payload, p + 8, p + 8 + size)
              val (w, h, raster, _) = decodeJpegRaster(body)
              require(declaredW <= 0 || (w == declaredW && h == declaredH),
                s"avi: frame $frameId is ${w}x$h but avih declares " +
                  s"${declaredW}x$declaredH (doc $docId)")
              frames += AviFrame(frameId, w, h, microsPerFrame, raster)
              frameId += 1
            }
          case _ => // JUNK, idx1, INFO text chunks… — legal, skipped
        }
        p += 8 + size + (size & 1) // even padding
      }
    }
    walk(12, riffEnd)
    val out = frames.result()
    require(declaredFrames < 0 || out.length == declaredFrames,
      s"avi: movi holds ${out.length} frames but avih declares " +
        s"$declaredFrames (doc $docId)")
    out
  }

  /** Per-frame statistics of an MJPEG AVI — the gate-facing form. */
  case class AviFrameStats(doc_id: Long, frame_id: Int, width: Int,
      height: Int, frame_micros: Long, n_pixels: Long, px_sum: Long,
      px_min: Int, px_max: Int)

  def aviFrameStats(records: Dataset[MediaRecord]): Dataset[AviFrameStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.flatMap { r =>
      decodeAviFrames(r.doc_id, r.payload).map { f =>
        var s = 0L; var mn = Int.MaxValue; var mx = -1
        var i = 0
        while (i < f.raster.length) {
          val v = f.raster(i); s += v
          if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        AviFrameStats(r.doc_id, f.frame_id, f.width, f.height,
          f.frame_micros, f.raster.length.toLong, s,
          if (f.raster.isEmpty) 0 else mn, if (f.raster.isEmpty) 0 else mx)
      }
    })
  }

  /** LZW-decode one image's code stream (starting at the min-code-size
    * byte): variable-width codes LSB-first across sub-block
    * boundaries, dictionary rebuild, the KwKwK case for a code defined
    * by the very step reading it, CLEAR resets. Returns (raster of
    * `w·h` palette indices, code-stream bytes, position just past the
    * sub-block terminator). */
  private def lzwDecodeRaster(payload: Array[Byte], start: Int, w: Int,
      h: Int, docId: Long): (Array[Int], Long, Int) = {
    var pos = start
    val minCode = payload(pos) & 0xFF; pos += 1
    // concatenate sub-blocks into the code stream
    val code = new java.io.ByteArrayOutputStream()
    var blockLen = payload(pos) & 0xFF
    var nCodeBytes = 0L
    while (blockLen != 0) {
      code.write(payload, pos + 1, blockLen); nCodeBytes += blockLen
      pos += 1 + blockLen; blockLen = payload(pos) & 0xFF
    }
    pos += 1 // the zero terminator
    val cs = code.toByteArray
    val clear = 1 << minCode; val eoi = clear + 1
    // LZW decode: dict entries as (prefix code, appended index); emit
    // by walking prefixes, reversed through a scratch stack
    val prefix = new Array[Int](4096); val last = new Array[Int](4096)
    var nextCode = eoi + 1; var codeW = minCode + 1
    var (bitPos, prevCode) = (0L, -1)
    val raster = new Array[Int](w * h)
    var out = 0
    val stack = new Array[Int](4096)
    def firstOf(c0: Int): Int = {
      var c1 = c0; while (c1 >= clear + 2) c1 = prefix(c1); c1
    }
    def emitSeq(c0: Int): Unit = {
      var (c1, top) = (c0, 0)
      while (c1 >= clear + 2) { stack(top) = last(c1); top += 1; c1 = prefix(c1) }
      stack(top) = c1; top += 1
      while (top > 0) {
        top -= 1
        require(out < raster.length, s"raster overflow (doc $docId)")
        raster(out) = stack(top); out += 1
      }
    }
    var done = false
    while (!done && bitPos + codeW <= cs.length.toLong * 8) {
      var (v, got) = (0, 0)
      while (got < codeW) {
        val b = cs((bitPos >> 3).toInt) & 0xFF
        val bit = (bitPos & 7).toInt
        val take = math.min(8 - bit, codeW - got)
        v |= ((b >> bit) & ((1 << take) - 1)) << got
        got += take; bitPos += take
      }
      if (v == clear) { nextCode = eoi + 1; codeW = minCode + 1; prevCode = -1 }
      else if (v == eoi) done = true
      else {
        if (prevCode < 0) emitSeq(v)
        else {
          // define string(prev) + first(this step's output) as the next
          // dictionary entry; for v == nextCode (KwKwK) that first
          // symbol is first(prev) and the entry is the one being read
          if (nextCode < 4096) {
            prefix(nextCode) = prevCode
            last(nextCode) = firstOf(if (v < nextCode) v else prevCode)
            nextCode += 1
          }
          emitSeq(v)
          // late-change width bump (the GIF convention): once the next
          // entry number needs more bits, subsequent READS widen
          if (nextCode >= (1 << codeW) && codeW < 12) codeW += 1
        }
        prevCode = v
      }
    }
    require(out == raster.length,
      s"decoded $out of ${raster.length} pixels (doc $docId)")
    (raster, nCodeBytes, pos)
  }

  /** Decode a GIF89a payload via [[lzwDecodeRaster]] — returning the
    * raster of palette indices. Skips extension blocks; decodes the
    * first image frame. */
  def decodeGifFrame(docId: Long, payload: Array[Byte]): GifFrame = {
    require(payload.length > 13 &&
      new String(payload, 0, 6, "US-ASCII").startsWith("GIF"),
      s"not a GIF payload (doc $docId)")
    def le16(p: Int): Int = (payload(p) & 0xFF) | ((payload(p + 1) & 0xFF) << 8)
    val packed = payload(10) & 0xFF
    val gctSize = if ((packed & 0x80) != 0) 1 << ((packed & 7) + 1) else 0
    var pos = 13 + 3 * gctSize
    // skip extensions (0x21 introducer + label, then sub-blocks) until
    // the image descriptor (0x2C)
    while ((payload(pos) & 0xFF) == 0x21) {
      pos += 2
      while (payload(pos) != 0) pos += 1 + (payload(pos) & 0xFF)
      pos += 1
    }
    require((payload(pos) & 0xFF) == 0x2C, s"no image descriptor (doc $docId)")
    val (w, h) = (le16(pos + 5), le16(pos + 7))
    val localPacked = payload(pos + 9) & 0xFF
    val lctSize = if ((localPacked & 0x80) != 0) 1 << ((localPacked & 7) + 1) else 0
    val (palOff, palSize) =
      if (lctSize > 0) (pos + 10, lctSize) else (13, gctSize)
    val interlaced = (localPacked & 0x40) != 0
    pos += 10 + 3 * lctSize
    val (raster0, nCodeBytes, _) = lzwDecodeRaster(payload, pos, w, h, docId)
    val raster = if (interlaced) gifDeinterlace(raster0, w, h) else raster0
    val palette = Array.tabulate(palSize) { c =>
      ((payload(palOff + 3 * c) & 0xFF) << 16) |
        ((payload(palOff + 3 * c + 1) & 0xFF) << 8) |
        (payload(palOff + 3 * c + 2) & 0xFF)
    }
    // a crafted GIF whose LZW min-code size exceeds the color table's
    // bits can emit raster indices past the palette — fail loudly by
    // name here (r15), matching the PNG path's PLTE bounds check,
    // instead of an anonymous ArrayIndexOutOfBounds in a rasterizer
    var px = 0
    while (px < raster.length) {
      require(raster(px) < palette.length,
        s"gif: raster index ${raster(px)} outside the " +
          s"${palette.length}-entry color table (doc $docId)")
      px += 1
    }
    GifFrame(w, h, if (lctSize > 0) lctSize else gctSize, raster,
      nCodeBytes, palette)
  }

  /** Grayscale raster of a GIF frame — palette-mapped pixel values.
    * Requires an achromatic palette (r = g = b per entry, which
    * [[encodeGif]]'s grayscale ramp satisfies); a color palette fails
    * loudly rather than smuggling a lossy luma approximation into the
    * integer-exact hash path. */
  def gifGrayRaster(docId: Long, payload: Array[Byte])
      : (Int, Int, Array[Int]) = {
    val f = decodeGifFrame(docId, payload)
    val gray = f.palette.map { rgb =>
      val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
      require(r == g && g == b,
        f"gif: color palette entry 0x$rgb%06X — grayscale hash path " +
          s"needs an achromatic palette (doc $docId)")
      r
    }
    (f.width, f.height, f.raster.map(gray))
  }

  /** Packed-RGB raster of a GIF frame (palette-mapped) — the color
    * twin of [[gifGrayRaster]] with [[decodeJpegRgb]]'s contract. */
  def gifRgbRaster(docId: Long, payload: Array[Byte])
      : (Int, Int, Array[Int]) = {
    val f = decodeGifFrame(docId, payload)
    (f.width, f.height, f.raster.map(ix => 0xFF000000 | f.palette(ix)))
  }

  /** Luma raster of ANY GIF (r14): palette RGB through the same ×2¹⁶
    * fixed-point Y constants as the JPEG and PNG color paths, so one
    * image saved as color GIF / color PNG lands on the SAME luma
    * (both lossless) — color GIFs join the luma hash path without the
    * achromatic-palette restriction [[gifGrayRaster]] keeps for the
    * integer-exact grayscale contract. */
  def gifLumaRaster(docId: Long, payload: Array[Byte])
      : (Int, Int, Array[Int]) = {
    val f = decodeGifFrame(docId, payload)
    val luma = f.palette.map { rgb =>
      val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF
      val b = rgb & 0xFF
      clamp8((FixYR * r + FixYG * g + FixYB * b + 32768) >> 16)
    }
    (f.width, f.height, f.raster.map(luma))
  }

  /** Exact statistics over a decoded GIF raster (palette indices). */
  def decodeGif(docId: Long, payload: Array[Byte]): GifStats = {
    val f = decodeGifFrame(docId, payload)
    var (sum, mn, mx) = (0L, Int.MaxValue, -1)
    var i = 0
    while (i < f.raster.length) {
      val v = f.raster(i)
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    val empty = f.raster.isEmpty
    GifStats(docId, f.width, f.height, f.nColors, f.raster.length.toLong,
      sum, if (empty) 0 else mn, if (empty) 0 else mx, f.nCodeBytes)
  }

  /** Batched decode of a GIF payload column — same mapPartitions shape. */
  def decodeGifStats(records: Dataset[MediaRecord]): Dataset[GifStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.map(r => decodeGif(r.doc_id, r.payload)))
  }

  // -------------------------------------------------------------------
  // PNG — the second genuinely COMPRESSED codec, and the first
  // DEFLATE-based one: entropy coding rides java.util.zip's
  // Inflater/Deflater (part of the JDK, not an external codec library),
  // while everything PNG-specific — chunk walk with CRC verification,
  // IHDR parse, scanline filter reconstruction including the Paeth
  // predictor, sub-byte/16-bit sample packing — is implemented here
  // byte-for-byte per RFC 2083. The one encoder, [[encodePng]], CYCLES
  // the filter type per row (None/Sub/Up/Average/Paeth), so a round
  // trip exercises every filter path on any image taller than four rows.
  // Coverage (r15): the FULL §4.1.1 depth×color-type matrix — gray at
  // 1/2/4/8/16, palette at 1/2/4/8, truecolor/gray+alpha/RGBA at 8/16
  // — sequential and Adam7, with tRNS where the spec allows. Illegal
  // depth×type cells fail loudly at the IHDR, never decode as garbage.
  // -------------------------------------------------------------------

  /** Decoded PNG statistics (gate-facing; integer-only). */
  case class PngStats(doc_id: Long, width: Int, height: Int, bit_depth: Int,
      n_pixels: Long, px_sum: Long, px_min: Int, px_max: Int, n_idat_bytes: Long)

  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def pngCrc(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  private def pngBe32(b: Array[Byte], p: Int): Int = ((b(p) & 0xFF) << 24) |
    ((b(p + 1) & 0xFF) << 16) | ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)

  /** Append one chunk (RFC 2083 §3.2): big-endian body length, type,
    * body, CRC-32 over type + body. */
  private def writePngChunk(out: java.io.ByteArrayOutputStream, typ: String,
      body: Array[Byte]): Unit = {
    def be32(v: Int): Unit = {
      out.write(v >>> 24); out.write(v >>> 16); out.write(v >>> 8); out.write(v)
    }
    val td = typ.getBytes("US-ASCII") ++ body
    be32(body.length)
    out.write(td)
    be32(pngCrc(td, 0, td.length))
  }

  /** The one chunk walk of every PNG reader: signature, then per chunk
    * the overrun guard and the CRC check, handing (type, body offset,
    * body length) to `visit` up to IEND. `where` suffixes the error
    * texts (e.g. " (doc 7)"). */
  private def walkPngChunks(payload: Array[Byte], where: String)(
      visit: (String, Int, Int) => Unit): Unit = {
    require(payload.length >= 8, s"png: truncated signature$where")
    var i = 0
    while (i < 8) {
      require(payload(i) == PngSig(i), s"png: bad signature$where")
      i += 1
    }
    var pos = 8
    var done = false
    while (!done) {
      require(pos + 8 <= payload.length, s"png: truncated chunk header$where")
      val len = pngBe32(payload, pos)
      val typ = new String(payload, pos + 4, 4, "US-ASCII")
      // compare in Long: len near Int.MaxValue wraps the Int sum
      // negative and would slip past the guard into a raw AIOOBE
      require(len >= 0 && pos.toLong + 8 + len + 4 <= payload.length.toLong,
        s"png: truncated $typ chunk$where")
      require(pngCrc(payload, pos + 4, len + 4) == pngBe32(payload, pos + 8 + len),
        s"png: bad CRC in $typ$where")
      if (typ == "IEND") done = true else visit(typ, pos + 8, len)
      pos += 8 + len + 4
    }
  }

  /** Insert chunks right after IHDR (the conventional position for
    * metadata). */
  private def insertAfterIhdr(png: Array[Byte],
      chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    require(png.length >= 33, "png: too short for IHDR")
    val ihdrEnd = 8 + 8 + 13 + 4
    val out = new java.io.ByteArrayOutputStream()
    out.write(png, 0, ihdrEnd)
    chunks.foreach { case (typ, body) => writePngChunk(out, typ, body) }
    out.write(png, ihdrEnd, png.length - ihdrEnd)
    out.toByteArray
  }

  // -------------------------------------------------------------------
  // PNG tEXt + GIF comment metadata — the image siblings of WAV
  // LIST/INFO (r13 image-metadata capstone): crawl PNGs carry tEXt
  // chunks (RFC 2083 §4.2.3: keyword NUL text, latin1), crawl GIFs
  // carry 89a comment extensions (0x21 0xFE + sub-blocks). Both
  // decoders already skip these by construction (PNG: ancillary-chunk
  // skip with CRC check; GIF: extension skip), so tagged streams keep
  // decoding — these are the intake/write sides.
  // -------------------------------------------------------------------

  /** Insert tEXt chunks right after IHDR (the conventional position).
    * Keywords: 1-79 printable latin1, no NUL; text: latin1. */
  def insertPngText(png: Array[Byte],
      tags: Seq[(String, String)]): Array[Byte] =
    insertAfterIhdr(png, tags.map { case (k, v) =>
      require(k.nonEmpty && k.length <= 79 &&
        k.forall(c => c >= 0x20 && c <= 0xFF && c != 0x7F),
        s"png: bad tEXt keyword '$k'")
      require(v.forall(c => c <= 0xFF && c != 0), s"png: bad tEXt text")
      ("tEXt", k.map(_.toByte).toArray ++ Array(0.toByte) ++
        v.map(_.toByte).toArray)
    })

  /** (keyword, text) pairs of every tEXt chunk, CRC-checked like the
    * raster decoder checks its chunks. */
  def readPngText(docId: Long,
      payload: Array[Byte]): Seq[(String, String)] = {
    val tags = Seq.newBuilder[(String, String)]
    walkPngChunks(payload, s" (doc $docId)") { (typ, body, len) =>
      if (typ == "tEXt") {
        var nul = body
        while (nul < body + len && payload(nul) != 0) nul += 1
        require(nul > body && nul < body + len,
          s"png: tEXt chunk without keyword separator (doc $docId)")
        tags += ((new String(payload, body, nul - body, "ISO-8859-1"),
          new String(payload, nul + 1, body + len - nul - 1, "ISO-8859-1")))
      }
    }
    tags.result()
  }

  /** Insert a PNG eXIf chunk (PNG 1.2 extension, standardized 2017:
    * body = the same TIFF block APP1 carries) right after IHDR. */
  def insertPngExif(png: Array[Byte], tiffBlock: Array[Byte]): Array[Byte] =
    insertAfterIhdr(png, Seq(("eXIf", tiffBlock)))

  /** The eXIf chunk's parsed EXIF metadata, or None when absent.
    * CRC-checked like every other chunk walk here. */
  def readPngExif(docId: Long,
      payload: Array[Byte]): Option[Exif.ExifMeta] = {
    var res: Option[Exif.ExifMeta] = None
    walkPngChunks(payload, s" (doc $docId)") { (typ, body, len) =>
      if (typ == "eXIf")
        res = Some(Exif.parseExifTiff(
          java.util.Arrays.copyOfRange(payload, body, body + len), docId))
    }
    res
  }

  /** GIF comment-extension offset: header + logical screen descriptor
    * + global color table (when present). */
  private def gifAfterGct(payload: Array[Byte], docId: Long): Int = {
    require(payload.length >= 13 &&
      new String(payload, 0, 6, "US-ASCII").startsWith("GIF"),
      s"gif: bad header (doc $docId)")
    val packed = payload(10) & 0xFF
    13 + (if ((packed & 0x80) != 0) 3 * (2 << (packed & 7)) else 0)
  }

  /** Insert an 89a comment extension after the global color table
    * (before any image/GCE, where reference encoders put it). Text is
    * cut into ≤255-byte sub-blocks. */
  def insertGifComment(gif: Array[Byte], text: String): Array[Byte] = {
    require(text.forall(c => c >= 0x20 && c <= 0xFF),
      "gif: comment must be printable latin1")
    val at = gifAfterGct(gif, -1L)
    val out = new java.io.ByteArrayOutputStream()
    out.write(gif, 0, at)
    out.write(0x21); out.write(0xFE)
    text.map(_.toByte).grouped(255).foreach { blk =>
      out.write(blk.length); out.write(blk.toArray)
    }
    out.write(0) // block terminator
    out.write(gif, at, gif.length - at)
    out.toByteArray
  }

  /** Every comment extension's text (sub-blocks concatenated), walked
    * with the same extension grammar the frame decoders skip by. */
  def readGifComments(docId: Long, payload: Array[Byte]): Seq[String] = {
    var pos = gifAfterGct(payload, docId)
    val res = Seq.newBuilder[String]
    var done = false
    while (!done) {
      require(pos < payload.length, s"gif: missing trailer (doc $docId)")
      (payload(pos) & 0xFF) match {
        case 0x3B => done = true
        case 0x21 =>
          require(pos + 2 < payload.length,
            s"gif: extension header overruns payload (doc $docId)")
          val label = payload(pos + 1) & 0xFF
          pos += 2
          val text = new java.io.ByteArrayOutputStream()
          var blk = payload(pos) & 0xFF
          while (blk != 0) {
            require(pos + 1 + blk < payload.length,
              s"gif: extension sub-block overruns payload (doc $docId)")
            if (label == 0xFE) text.write(payload, pos + 1, blk)
            pos += 1 + blk
            blk = payload(pos) & 0xFF
          }
          pos += 1
          if (label == 0xFE)
            res += new String(text.toByteArray, "ISO-8859-1")
        case 0x2C =>
          // image descriptor: skip LCT + LZW data sub-blocks
          require(pos + 10 <= payload.length,
            s"gif: image descriptor overruns payload (doc $docId)")
          val packed = payload(pos + 9) & 0xFF
          pos += 10 + (if ((packed & 0x80) != 0) 3 * (2 << (packed & 7))
                       else 0)
          pos += 1 // LZW minimum code size
          require(pos < payload.length,
            s"gif: image data overruns payload (doc $docId)")
          var blk = payload(pos) & 0xFF
          while (blk != 0) {
            require(pos + 1 + blk < payload.length,
              s"gif: image sub-block overruns payload (doc $docId)")
            pos += 1 + blk
            blk = payload(pos) & 0xFF
          }
          pos += 1
        case b => throw new IllegalArgumentException(
          f"gif: unexpected block introducer 0x$b%02X (doc $docId)")
      }
    }
    res.result()
  }

  /** Paeth predictor (RFC 2083 §6.6): nearest of left/above/upper-left
    * to the linear prediction a + b − c, ties broken a, then b. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Channels per color type (RFC 2083 §4.1.1): 0 gray, 2 truecolor,
    * 3 palette index, 4 gray+alpha, 6 truecolor+alpha. The decoder
    * carries ALL FIVE types since r15. */
  private def pngChannels(color: Int): Int = color match {
    case 0 => 1
    case 2 => 3
    case 3 => 1
    case 4 => 2
    case 6 => 4
    case c => throw new IllegalArgumentException(
      s"png: color type $c is not defined by the spec")
  }

  /** The legal depth×type matrix (RFC 2083 §4.1.1 table): gray at
    * 1/2/4/8/16, palette at 1/2/4/8, the multi-channel types at 8/16.
    * Since r15 the decoder carries the WHOLE matrix. */
  private def pngValidateDepth(color: Int, depth: Int): Unit = {
    val ok = color match {
      case 0         => depth == 1 || depth == 2 || depth == 4 ||
        depth == 8 || depth == 16
      case 3         => depth == 1 || depth == 2 || depth == 4 || depth == 8
      case 2 | 4 | 6 => depth == 8 || depth == 16
      case c => throw new IllegalArgumentException(
        s"png: color type $c is not defined by the spec")
    }
    require(ok,
      s"png: depth $depth is not legal for color type $color (RFC 2083 §4.1.1)")
  }

  /** Unpack `count` samples of `depth` bits from reconstructed
    * scanline bytes starting at `byteOff`: sub-byte samples are packed
    * MSB-first within each byte (RFC 2083 §2.3), 16-bit samples are
    * big-endian; 8-bit pass through. Row boundaries always start a
    * fresh byte (padding bits, if any, live at the row's end). */
  private def unpackRow(bytes: Array[Byte], byteOff: Int, depth: Int,
      count: Int, out: Array[Int], outOff: Int): Unit = depth match {
    case 8 =>
      var i = 0
      while (i < count) {
        out(outOff + i) = bytes(byteOff + i) & 0xFF; i += 1
      }
    case 16 =>
      var i = 0
      while (i < count) {
        out(outOff + i) = ((bytes(byteOff + 2 * i) & 0xFF) << 8) |
          (bytes(byteOff + 2 * i + 1) & 0xFF)
        i += 1
      }
    case _ => // 1, 2, 4
      val per = 8 / depth
      val mask = (1 << depth) - 1
      var i = 0
      while (i < count) {
        val b = bytes(byteOff + i / per) & 0xFF
        out(outOff + i) = (b >> (8 - depth * (i % per + 1))) & mask
        i += 1
      }
  }

  /** Shared scanline core: chunk walk (CRC-checked), IHDR validation
    * over the FULL depth×type matrix (r15), PLTE capture, IDAT
    * inflate, the per-BYTE unfilter at the type's filter stride
    * (max(1, channels·depth/8) bytes, RFC 2083 §6.2 — sub-byte depths
    * filter at stride 1), then bit/byte unpack to NATIVE samples.
    * Returns (w, h, colorType, depth, samples row-major in channel
    * order at their native 0..2^depth−1 range, palette or null, raw
    * tRNS body or null, compressed IDAT length). */
  private def pngScanlines(payload: Array[Byte])
      : (Int, Int, Int, Int, Array[Int], Array[Int], Array[Byte], Int) = {
    var width = -1; var height = -1; var color = -1; var depth = -1
    var interlaced = 0
    var palette: Array[Int] = null
    var trns: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    walkPngChunks(payload, "") { (typ, body, len) =>
      typ match {
        case "IHDR" =>
          width = pngBe32(payload, body); height = pngBe32(payload, body + 4)
          depth = payload(body + 8) & 0xFF
          color = payload(body + 9) & 0xFF
          val interlace = payload(body + 12) & 0xFF
          pngValidateDepth(color, depth) // whole matrix carried (r15)
          require(interlace == 0 || interlace == 1,
            s"png: interlace method $interlace is not defined")
          interlaced = interlace
        case "PLTE" =>
          require(len > 0 && len % 3 == 0 && len <= 256 * 3,
            s"png: PLTE length $len is not a palette")
          palette = Array.tabulate(len / 3)(c =>
            ((payload(body + 3 * c) & 0xFF) << 16) |
              ((payload(body + 3 * c + 1) & 0xFF) << 8) |
              (payload(body + 3 * c + 2) & 0xFF))
        case "tRNS" =>
          trns = java.util.Arrays.copyOfRange(payload, body, body + len)
        case "IDAT" => idat.write(payload, body, len)
        case _      => () // ancillary chunks (tEXt, pHYs, …) skipped
      }
    }
    require(width > 0 && height > 0, "png: missing or empty IHDR")
    if (color == 3) require(palette != null,
      "png: palette image without a PLTE chunk")
    // tRNS shape per color type (RFC 2083 §4.2.1): per-index alphas at
    // 3 (at most one per PLTE entry), a 2-byte gray key at 0, a 6-byte
    // RGB key at 2; forbidden with an alpha channel (4 and 6)
    if (trns != null) color match {
      case 3 => require(trns.length <= palette.length,
        s"png: tRNS carries ${trns.length} alphas for a " +
          s"${palette.length}-entry PLTE")
      case 0 => require(trns.length == 2,
        s"png: gray tRNS must be 2 bytes, got ${trns.length}")
      case 2 => require(trns.length == 6,
        s"png: truecolor tRNS must be 6 bytes, got ${trns.length}")
      case _ => throw new IllegalArgumentException(
        s"png: tRNS is forbidden with an alpha channel (color type $color)")
    }
    val channels = pngChannels(color)
    val bitsPerPx = channels * depth
    val filterBpp = math.max(1, bitsPerPx / 8) // §6.2 filter stride
    val rowBytes = (width * bitsPerPx + 7) / 8
    val comp = idat.toByteArray
    val samples = new Array[Int](width * height * channels)
    if (interlaced == 0) {
      val raw = inflateExact(comp, (rowBytes + 1) * height)
      val o = new Array[Byte](rowBytes * height)
      unfilterInto(raw, 0, height, rowBytes, filterBpp, o, 0)
      var r = 0
      while (r < height) {
        unpackRow(o, r * rowBytes, depth, width * channels,
          samples, r * width * channels)
        r += 1
      }
    } else {
      // Adam7 (RFC 2083 §2.6): seven sub-images, each with its own
      // filtered scanlines — filters predict within the PASS, each
      // pass row starts a fresh byte, and reconstructed SAMPLES
      // scatter to (x0 + i·dx, y0 + j·dy)
      val dims = Adam7.map { case (x0, y0, dx, dy) =>
        (math.max(0, (width - x0 + dx - 1) / dx),
          math.max(0, (height - y0 + dy - 1) / dy))
      }
      val total = dims.map { case (pw, ph) =>
        if (pw == 0 || ph == 0) 0 else ((pw * bitsPerPx + 7) / 8 + 1) * ph
      }.sum
      val raw = inflateExact(comp, total)
      var rawOff = 0
      Adam7.zip(dims).foreach { case ((x0, y0, dx, dy), (pw, ph)) =>
        if (pw > 0 && ph > 0) {
          val passRow = (pw * bitsPerPx + 7) / 8
          val pass = new Array[Byte](passRow * ph)
          unfilterInto(raw, rawOff, ph, passRow, filterBpp, pass, 0)
          rawOff += (passRow + 1) * ph
          val rowSamp = new Array[Int](pw * channels)
          var j = 0
          while (j < ph) {
            unpackRow(pass, j * passRow, depth, pw * channels, rowSamp, 0)
            var i = 0
            while (i < pw) {
              val dst = ((y0 + j * dy) * width + (x0 + i * dx)) * channels
              var c = 0
              while (c < channels) {
                samples(dst + c) = rowSamp(i * channels + c); c += 1
              }
              i += 1
            }
            j += 1
          }
        }
      }
    }
    (width, height, color, depth, samples, palette, trns, comp.length)
  }

  /** Build a PNG at ANY legal depth×color-type cell of the RFC 2083
    * §4.1.1 matrix (r15), sequential or Adam7-interlaced — the fixture
    * twin of the generalized decode and the writer a real pipeline
    * producing 16-bit/sub-byte imagery would use. `sample(i, c)`
    * returns the NATIVE value of channel `c` (spec order: gray;
    * R,G,B; palette index; gray,alpha; R,G,B,A) of pixel `i`, range
    * 0..2^depth−1. Sub-byte samples pack MSB-first within each byte
    * (§2.3, rows padded to a byte boundary); 16-bit samples are
    * big-endian. `trnsRaw` is the raw tRNS body in the §4.2.1 shape
    * for the type (per-index alphas at 3, 2-byte gray key at 0,
    * 6-byte RGB key at 2). Filters cycle (pass + row) % 5 at the
    * §6.2 stride max(1, channels·depth/8), so a round trip exercises
    * every filter path. Callers holding packed pixels pass
    * [[packedSample]]. */
  def encodePng(width: Int, height: Int, depth: Int, colorType: Int,
      sample: (Int, Int) => Int, palette: Array[Int] = null,
      trnsRaw: Array[Byte] = null,
      interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, s"png: bad dims ${width}x$height")
    pngValidateDepth(colorType, depth)
    val channels = pngChannels(colorType)
    val maxVal = if (depth == 16) 0xFFFF else (1 << depth) - 1
    if (colorType == 3)
      require(palette != null && palette.nonEmpty &&
        palette.length <= math.min(256, 1 << depth),
        s"png: palette encode at depth $depth needs 1..${math.min(256, 1 << depth)} PLTE entries")
    else require(palette == null, "png: PLTE is color-type-3-only")
    if (trnsRaw != null) colorType match {
      case 3 => require(trnsRaw.length <= palette.length,
        "png: tRNS carries more alphas than PLTE entries")
      case 0 => require(trnsRaw.length == 2,
        "png: gray tRNS key must be 2 bytes")
      case 2 => require(trnsRaw.length == 6,
        "png: truecolor tRNS key must be 6 bytes")
      case _ => throw new IllegalArgumentException(
        s"png: tRNS is forbidden with an alpha channel (color type $colorType)")
    }
    val bitsPerPx = channels * depth
    val filterBpp = math.max(1, bitsPerPx / 8)
    def packRow(vals: Array[Int], count: Int, dst: Array[Byte],
        dstOff: Int): Unit = depth match {
      case 8 =>
        var i = 0
        while (i < count) { dst(dstOff + i) = vals(i).toByte; i += 1 }
      case 16 =>
        var i = 0
        while (i < count) {
          dst(dstOff + 2 * i) = (vals(i) >> 8).toByte
          dst(dstOff + 2 * i + 1) = vals(i).toByte
          i += 1
        }
      case _ =>
        val per = 8 / depth
        var i = 0
        while (i < count) {
          val at = dstOff + i / per
          dst(at) = (dst(at) |
            (vals(i) << (8 - depth * (i % per + 1)))).toByte
          i += 1
        }
    }
    val passes = if (interlaced) Adam7 else Seq((0, 0, 1, 1))
    val raw = new java.io.ByteArrayOutputStream()
    passes.zipWithIndex.foreach { case ((x0, y0, dx, dy), p) =>
      val pw = math.max(0, (width - x0 + dx - 1) / dx)
      val ph = math.max(0, (height - y0 + dy - 1) / dy)
      if (pw > 0 && ph > 0) {
        val passRow = (pw * bitsPerPx + 7) / 8
        val packed = new Array[Byte](passRow * ph)
        val rowVals = new Array[Int](pw * channels)
        var j = 0
        while (j < ph) {
          var i = 0
          while (i < pw) {
            val pix = (y0 + j * dy) * width + (x0 + i * dx)
            var c = 0
            while (c < channels) {
              val v = sample(pix, c)
              require(v >= 0 && v <= maxVal,
                s"png: sample $v outside 0..$maxVal at depth $depth")
              if (colorType == 3) require(v < palette.length,
                s"png: palette index $v outside 0..${palette.length - 1}")
              rowVals(i * channels + c) = v
              c += 1
            }
            i += 1
          }
          packRow(rowVals, pw * channels, packed, j * passRow)
          j += 1
        }
        var r = 0
        while (r < ph) {
          val f = (p + r) % 5
          raw.write(f)
          var x = 0
          while (x < passRow) {
            val at = r * passRow + x
            val cur = packed(at) & 0xFF
            val left = if (x >= filterBpp) packed(at - filterBpp) & 0xFF
              else 0
            val above = if (r > 0) packed(at - passRow) & 0xFF else 0
            val ul = if (x >= filterBpp && r > 0)
              packed(at - passRow - filterBpp) & 0xFF else 0
            val filtered = f match {
              case 0 => cur
              case 1 => cur - left
              case 2 => cur - above
              case 3 => cur - ((left + above) >> 1)
              case _ => cur - paeth(left, above, ul)
            }
            raw.write(filtered & 0xFF)
            x += 1
          }
          r += 1
        }
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!defl.finished()) { val n = defl.deflate(tmp); zout.write(tmp, 0, n) }
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(depth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte)
      .put((if (interlaced) 1 else 0).toByte)
    writePngChunk(out, "IHDR", ihdr.array())
    if (colorType == 3)
      writePngChunk(out, "PLTE", palette.flatMap(c => Seq(
        ((c >> 16) & 0xFF).toByte, ((c >> 8) & 0xFF).toByte,
        (c & 0xFF).toByte)))
    if (trnsRaw != null) writePngChunk(out, "tRNS", trnsRaw)
    writePngChunk(out, "IDAT", zout.toByteArray)
    writePngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** [[encodePng]]'s `sample` for callers holding PACKED 8-bit pixels:
    * `pixel(i)` is a gray value (type 0, masked to its low byte), a
    * palette index (3), 0xRRGGBB (2) or 0xAARRGGBB (6). */
  def packedSample(colorType: Int, pixel: Int => Int): (Int, Int) => Int =
    colorType match {
      case 0 => (i, _) => pixel(i) & 0xFF
      case 3 => (i, _) => pixel(i)
      case 2 | 6 => (i, c) => (pixel(i) >>> (if (c == 3) 24 else 16 - 8 * c)) & 0xFF
      case c => throw new IllegalArgumentException(
        s"png: packed pixels are color types 0/2/3/6, got $c")
    }

  /** GIF 4-pass interlace row order (GIF89a appendix E): the actual
    * raster row for each TRANSMITTED row — rows 0,8,16,… then 4,12,…
    * then 2,6,10,… then 1,3,5,… (r14: previously the interlace bit was
    * silently ignored and an interlaced GIF decoded scrambled). */
  private def gifInterlaceOrder(h: Int): Array[Int] = {
    val order = new Array[Int](h)
    var t = 0
    Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
      var r = start
      while (r < h) { order(t) = r; t += 1; r += step }
    }
    order
  }

  /** Remap a transmitted-order raster to display order when the image
    * descriptor's interlace bit is set. */
  private def gifDeinterlace(raster: Array[Int], w: Int, h: Int)
      : Array[Int] = {
    val order = gifInterlaceOrder(h)
    val out = new Array[Int](raster.length)
    var t = 0
    while (t < h) {
      System.arraycopy(raster, t * w, out, order(t) * w, w)
      t += 1
    }
    out
  }

  /** Adam7 pass origins and strides (x0, y0, dx, dy), RFC 2083 §2.6. */
  private val Adam7 = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
    (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def inflateExact(comp: Array[Byte], n: Int): Array[Byte] = {
    val raw = new Array[Byte](n)
    val inf = new java.util.zip.Inflater()
    inf.setInput(comp)
    var off = 0
    while (off < raw.length) {
      val k = inf.inflate(raw, off, raw.length - off)
      require(k > 0, "png: truncated or corrupt DEFLATE stream")
      off += k
    }
    // surplus scanline data (e.g. an IHDR whose depth/type implies a
    // smaller raster than the stream carries) must fail loudly, not
    // silently decode a prefix (r15): drain any buffered tail —
    // finished() alone can read false when the trailer hasn't been
    // pulled yet
    if (!inf.finished()) {
      val probe = new Array[Byte](1)
      require(inf.inflate(probe) == 0 && inf.finished(),
        "png: IDAT carries more scanline data than the IHDR layout implies")
    }
    inf.end()
    raw
  }

  /** Reconstruct `rows` filtered scanlines of `rowBytes` bytes each
    * (raw layout: filter byte + row) into `out` — the RFC 2083 §6.2
    * per-BYTE filters with predictors reaching back `bpp` bytes. */
  private def unfilterInto(raw: Array[Byte], rawOff: Int, rows: Int,
      rowBytes: Int, bpp: Int, out: Array[Byte], outOff: Int): Unit = {
    var r = 0
    while (r < rows) {
      val base = rawOff + r * (rowBytes + 1)
      val f = raw(base) & 0xFF
      var x = 0
      while (x < rowBytes) {
        val at = outOff + r * rowBytes + x
        val v = raw(base + 1 + x) & 0xFF
        val left = if (x >= bpp) out(at - bpp) & 0xFF else 0
        val above = if (r > 0) out(at - rowBytes) & 0xFF else 0
        val ul = if (x >= bpp && r > 0) out(at - rowBytes - bpp) & 0xFF
          else 0
        val recon = f match {
          case 0 => v
          case 1 => v + left
          case 2 => v + above
          case 3 => v + ((left + above) >> 1)
          case 4 => v + paeth(left, above, ul)
          case other => throw new IllegalArgumentException(
            s"png: bad filter type $other in row $r")
        }
        out(at) = (recon & 0xFF).toByte
        x += 1
      }
      r += 1
    }
  }

  /** Grayscale samples + depth — shared by the raster and stats forms. */
  private def pngGraySamples(payload: Array[Byte])
      : (Int, Int, Int, Array[Int], Int) = {
    val (width, height, color, depth, smp, _, _, nComp) =
      pngScanlines(payload)
    require(color == 0,
      s"png: grayscale raster path needs color type 0, got $color — " +
        "decode color images through decodePngRgb")
    (width, height, depth, smp, nComp)
  }

  /** Decode a grayscale (color type 0) PNG at ANY legal depth
    * (1/2/4/8/16 since r15) to its NATIVE samples — the integer-exact
    * hash-path contract: no rescaling, values 0..2^depth−1. Returns
    * (width, height, raster row-major, compressed IDAT bytes). */
  def decodePngRaster(payload: Array[Byte]): (Int, Int, Array[Int], Int) = {
    val (width, height, _, smp, nComp) = pngGraySamples(payload)
    (width, height, smp, nComp)
  }

  /** Scale a native sample to 8 bits, round-nearest: v·255/max is
    * EXACT bit replication for depths 1/2/4 (×255/×85/×17), identity
    * at 8, and (v·255 + 32767)/65535 at 16 — the deterministic
    * integer form an oracle can replay. */
  private def pngScale8(v: Int, depth: Int): Int = depth match {
    case 8  => v
    case 16 => (v * 255 + 32767) / 65535
    case d  => v * 255 / ((1 << d) - 1)
  }

  /** Decode a PNG of ANY carried color type and depth (the full RFC
    * 2083 matrix since r15) to packed 0xAARRGGBB pixels: channels
    * scaled to 8 bits via [[pngScale8]], alpha 255 where the type has
    * none, color keys compared at the NATIVE depth (§4.2.1 stores the
    * key in the 2-byte field's low bits), palette indices
    * bounds-checked against PLTE. The color twin of
    * [[decodePngRaster]], with the same packed-RGB contract as
    * [[decodeJpegRgb]]. */
  def decodePngRgb(docId: Long,
      payload: Array[Byte]): (Int, Int, Array[Int], Int) = {
    val (w, h, color, depth, smp, palette, trns, nComp) =
      pngScanlines(payload)
    def key16(at: Int): Int =
      if (trns == null) -1
      else ((trns(at) & 0xFF) << 8) | (trns(at + 1) & 0xFF)
    val px = new Array[Int](w * h)
    var i = 0
    color match {
      case 0 =>
        val key = key16(0)
        while (i < px.length) {
          val gv = smp(i)
          val g = pngScale8(gv, depth)
          val a = if (gv == key) 0 else 0xFF
          px(i) = (a << 24) | (g << 16) | (g << 8) | g; i += 1
        }
      case 2 =>
        val (kr, kg, kb) = (key16(0), key16(2), key16(4))
        while (i < px.length) {
          val rv = smp(3 * i); val gv = smp(3 * i + 1)
          val bv = smp(3 * i + 2)
          val a = if (rv == kr && gv == kg && bv == kb) 0 else 0xFF
          px(i) = (a << 24) | (pngScale8(rv, depth) << 16) |
            (pngScale8(gv, depth) << 8) | pngScale8(bv, depth)
          i += 1
        }
      case 3 =>
        // tRNS at type 3 is per-index alpha; indices past its length
        // are opaque (RFC 2083 §4.2.1); PLTE entries are 8-bit at
        // every palette depth
        while (i < px.length) {
          val ix = smp(i)
          require(ix < palette.length,
            s"png: palette index $ix outside PLTE of ${palette.length} (doc $docId)")
          val a = if (trns != null && ix < trns.length) trns(ix) & 0xFF
            else 0xFF
          px(i) = (a << 24) | palette(ix); i += 1
        }
      case 4 =>
        while (i < px.length) {
          val g = pngScale8(smp(2 * i), depth)
          val a = pngScale8(smp(2 * i + 1), depth)
          px(i) = (a << 24) | (g << 16) | (g << 8) | g; i += 1
        }
      case _ => // 6, validated in pngScanlines
        while (i < px.length) {
          px(i) = (pngScale8(smp(4 * i + 3), depth) << 24) |
            (pngScale8(smp(4 * i), depth) << 16) |
            (pngScale8(smp(4 * i + 1), depth) << 8) |
            pngScale8(smp(4 * i + 2), depth)
          i += 1
        }
    }
    (w, h, px, nComp)
  }

  /** Luma raster of any carried PNG — the color-blind hash-path entry:
    * the same ×2¹⁶ fixed-point Y = .299R+.587G+.114B the JPEG codec
    * uses, so one image saved as color PNG and color JPEG lands on the
    * same luma (gray input passes through exactly: the constants sum
    * to 65536). Alpha is ignored (hashing composites nothing). */
  def decodePngLuma(docId: Long,
      payload: Array[Byte]): (Int, Int, Array[Int]) = {
    val (w, h, px, _) = decodePngRgb(docId, payload)
    val out = new Array[Int](px.length)
    var i = 0
    while (i < px.length) {
      val r = (px(i) >> 16) & 0xFF; val g = (px(i) >> 8) & 0xFF
      val b = px(i) & 0xFF
      out(i) = clamp8((FixYR * r + FixYG * g + FixYB * b + 32768) >> 16)
      i += 1
    }
    (w, h, out)
  }

  /** Raster statistics of a decoded grayscale PNG — the gate-facing
    * form. Since r15 reports the NATIVE bit depth and native-sample
    * sums for the whole 1/2/4/8/16 gray matrix. */
  def decodePng(docId: Long, payload: Array[Byte]): PngStats = {
    val (w, h, depth, px, nIdat) = pngGraySamples(payload)
    var sum = 0L; var mn = Int.MaxValue; var mx = -1
    var i = 0
    while (i < px.length) {
      val v = px(i); sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    val empty = px.isEmpty
    PngStats(docId, w, h, depth, px.length.toLong, sum,
      if (empty) 0 else mn, if (empty) 0 else mx, nIdat.toLong)
  }

  /** Batched decode of a PNG payload column — same mapPartitions shape. */
  def decodePngStats(records: Dataset[MediaRecord]): Dataset[PngStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.map(r => decodePng(r.doc_id, r.payload)))
  }

  // -------------------------------------------------------------------
  // GZIP (RFC 1952) — the wrapper 100 TB text corpora actually arrive
  // in (Common Crawl WET/WARC ships gzip'd). Members via the JDK's
  // java.util.zip streams; the op surface is the batched mapPartitions
  // payload transform, same shape as the image decoders.
  // -------------------------------------------------------------------

  /** Compress a payload as a single gzip member. */
  def gzipCompress(payload: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(payload); g.close()
    bos.toByteArray
  }

  /** Decompress a gzip payload (multi-member streams handled by the
    * JDK reader; a corrupt/truncated stream throws — never yields
    * silent partial text). */
  def gunzip(payload: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(payload))
    val out = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    var n = in.read(tmp)
    while (n > 0) { out.write(tmp, 0, n); n = in.read(tmp) }
    in.close()
    out.toByteArray
  }

  /** Batched decompression of a gzip payload column — the ingest-side
    * boundary for compressed text shards. */
  def gunzipPayloads(records: Dataset[MediaRecord]): Dataset[MediaRecord] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it =>
      it.map(r => MediaRecord(r.doc_id, gunzip(r.payload), r.fmt, r.lang)))
  }

  // -------------------------------------------------------------------
  // ZIP (PKWARE APPNOTE) — the ARCHIVE wrapper multimodal corpora
  // arrive in (image/audio dumps ship as .zip far more often than as
  // loose files). The container walk — EOCD scan, central directory,
  // local headers, CRC/size cross-validation — is implemented here;
  // member DEFLATE rides the JDK's raw Inflater/Deflater, the same
  // boundary the gzip section draws. Scope: method 0 (stored) and 8
  // (deflate), no zip64/encryption/split archives — those fail loudly.
  // -------------------------------------------------------------------

  /** Build a ZIP archive from (name, content, store) members — the
    * fixture-side twin of [[decodeZipEntries]] and the writer an
    * archive-sharding pipeline would use. `store = true` keeps the
    * member uncompressed (method 0), else raw DEFLATE (method 8). */
  def encodeZip(members: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    require(members.nonEmpty, "zip: at least one member")
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16(v >>> 16) }
    case class Cd(name: Array[Byte], method: Int, crc: Int, csize: Int,
      usize: Int, off: Int)
    val cds = Seq.newBuilder[Cd]
    members.foreach { case (name, data, store) =>
      val nameB = name.getBytes("UTF-8")
      val c = new java.util.zip.CRC32
      c.update(data)
      val crc = c.getValue.toInt
      val packed = if (store) data else {
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true) // raw deflate
        d.setInput(data); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        while (!d.finished()) { val n = d.deflate(tmp); bos.write(tmp, 0, n) }
        d.end()
        bos.toByteArray
      }
      val method = if (store) 0 else 8
      val off = out.size()
      le32(0x04034B50) // local file header
      le16(20); le16(0); le16(method); le16(0); le16(0x21) // ver/flags/time/date
      le32(crc); le32(packed.length); le32(data.length)
      le16(nameB.length); le16(0)
      out.write(nameB); out.write(packed)
      cds += Cd(nameB, method, crc, packed.length, data.length, off)
    }
    val cdStart = out.size()
    cds.result().foreach { cd =>
      le32(0x02014B50) // central directory header
      le16(20); le16(20); le16(0); le16(cd.method); le16(0); le16(0x21)
      le32(cd.crc); le32(cd.csize); le32(cd.usize)
      le16(cd.name.length); le16(0); le16(0) // name/extra/comment len
      le16(0); le16(0); le32(0) // disk/int attrs/ext attrs
      le32(cd.off)
      out.write(cd.name)
    }
    val cdSize = out.size() - cdStart
    le32(0x06054B50) // EOCD
    le16(0); le16(0); le16(members.length); le16(members.length)
    le32(cdSize); le32(cdStart); le16(0)
    out.toByteArray
  }

  /** Walk a ZIP archive: locate the EOCD (scanning backward through a
    * possible trailing comment), walk the central directory, and for
    * each entry cross-validate the LOCAL header against it (a
    * mismatched name or signature is corruption), extract (stored copy
    * or raw-DEFLATE inflate), and verify the CRC-32 and both sizes —
    * an archive member NEVER decodes as silent garbage. Returns
    * (name, method, content) in central-directory order. */
  def decodeZipEntries(docId: Long, payload: Array[Byte])
      : Seq[(String, Int, Array[Byte])] = {
    def u16(p: Int): Int = (payload(p) & 0xFF) | ((payload(p + 1) & 0xFF) << 8)
    def u32(p: Int): Long = (u16(p) | (u16(p + 2).toLong << 16)) & 0xFFFFFFFFL
    require(payload.length >= 22, s"zip: truncated archive (doc $docId)")
    // EOCD: last occurrence of the signature within comment range
    var eocd = -1
    var p = payload.length - 22
    val floor = math.max(0, payload.length - 22 - 0xFFFF)
    while (eocd < 0 && p >= floor) {
      if (u32(p) == 0x06054B50L &&
          p + 22 + u16(p + 20) == payload.length) eocd = p
      else p -= 1
    }
    require(eocd >= 0, s"zip: no end-of-central-directory record (doc $docId)")
    val nEntries = u16(eocd + 10)
    require(u16(eocd + 4) == 0 && u16(eocd + 6) == 0 &&
      u16(eocd + 8) == nEntries,
      s"zip: split/multi-disk archives unsupported (doc $docId)")
    var cd = u32(eocd + 16).toInt
    val outEntries = Seq.newBuilder[(String, Int, Array[Byte])]
    var e = 0
    while (e < nEntries) {
      require(u32(cd) == 0x02014B50L,
        s"zip: bad central-directory signature at entry $e (doc $docId)")
      val method = u16(cd + 10)
      val crc = u32(cd + 16)
      val csize = u32(cd + 20).toInt
      val usize = u32(cd + 24).toInt
      val nameLen = u16(cd + 28); val extraLen = u16(cd + 30)
      val cmtLen = u16(cd + 32)
      val lho = u32(cd + 42).toInt
      val name = new String(payload, cd + 46, nameLen, "UTF-8")
      require(method == 0 || method == 8,
        s"zip: compression method $method of '$name' unsupported " +
          s"(doc $docId) — stored/deflate only")
      // cross-validate the local header
      require(u32(lho) == 0x04034B50L,
        s"zip: bad local-header signature for '$name' (doc $docId)")
      require((u16(lho + 6) & 0x08) == 0,
        s"zip: streamed (data-descriptor) member '$name' unsupported " +
          s"(doc $docId)")
      val lName = new String(payload, lho + 30, u16(lho + 26), "UTF-8")
      require(lName == name,
        s"zip: local/central name mismatch '$lName' vs '$name' (doc $docId)")
      val dataOff = lho + 30 + u16(lho + 26) + u16(lho + 28)
      require(dataOff + csize <= payload.length,
        s"zip: member '$name' overruns the archive (doc $docId)")
      val content =
        if (method == 0) {
          require(csize == usize,
            s"zip: stored member '$name' size mismatch (doc $docId)")
          java.util.Arrays.copyOfRange(payload, dataOff, dataOff + csize)
        } else {
          val inf = new java.util.zip.Inflater(true) // raw deflate
          inf.setInput(payload, dataOff, csize)
          val buf = new Array[Byte](usize)
          var got = 0
          while (got < usize && !inf.finished()) {
            val n = inf.inflate(buf, got, usize - got)
            require(n > 0 || inf.finished(),
              s"zip: truncated deflate stream in '$name' (doc $docId)")
            got += n
          }
          inf.end()
          require(got == usize,
            s"zip: member '$name' inflated to $got of $usize bytes " +
              s"(doc $docId)")
          buf
        }
      val c = new java.util.zip.CRC32
      c.update(content)
      require(c.getValue == crc,
        s"zip: CRC mismatch in member '$name' (doc $docId)")
      outEntries += ((name, method, content))
      cd += 46 + nameLen + extraLen + cmtLen
      e += 1
    }
    outEntries.result()
  }

  // -------------------------------------------------------------------
  // TAR (POSIX ustar) — the OTHER archive wrapper (.tar.gz corpora):
  // 512-byte headers with octal fields and a checksum, content padded
  // to block boundaries, two zero blocks at the end. Composes with
  // [[gunzip]] for the .tar.gz ingest path.
  // -------------------------------------------------------------------

  /** Build a ustar archive from (name, content) members. */
  def encodeTar(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    require(members.nonEmpty, "tar: at least one member")
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      val nameB = name.getBytes("UTF-8")
      require(nameB.length <= 100, s"tar: name too long: $name")
      val h = new Array[Byte](512)
      System.arraycopy(nameB, 0, h, 0, nameB.length)
      def octal(v: Long, off: Int, len: Int): Unit = {
        val s2 = ("%0" + (len - 1) + "o").format(v)
        System.arraycopy(s2.getBytes("US-ASCII"), 0, h, off, len - 1)
      }
      octal(420, 100, 8) // mode 0644
      octal(0, 108, 8); octal(0, 116, 8) // uid/gid
      octal(data.length.toLong, 124, 12)
      octal(0, 136, 12) // mtime
      h(156) = '0' // typeflag: regular file
      // POSIX ustar magic: 'ustar' NUL at 257..262, version "00" at
      // 263..264 (written byte-explicitly -- a raw NUL inside the
      // string literal made tools treat this source file as binary)
      System.arraycopy("ustar".getBytes("ISO-8859-1"), 0, h, 257, 5)
      h(262) = 0
      h(263) = '0'; h(264) = '0' // version "00"
      // checksum: header with the checksum field AS SPACES
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += h(i) & 0xFF; i += 1 }
      // checksum field layout: SIX octal digits, NUL, space
      System.arraycopy("%06o".format(sum).getBytes("US-ASCII"), 0, h, 148, 6)
      h(154) = 0; h(155) = ' '
      out.write(h)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024)) // two terminating zero blocks
    out.toByteArray
  }

  /** Walk a ustar archive: per-header checksum verified (the field
    * counted as spaces, per POSIX), octal size parse, block-padded
    * content, terminating zero blocks required. Regular files only;
    * other typeflags are skipped (directories) or fail loudly
    * (links/devices — a corpus archive should not contain them). */
  def decodeTarEntries(docId: Long, payload: Array[Byte])
      : Seq[(String, Array[Byte])] = {
    val outEntries = Seq.newBuilder[(String, Array[Byte])]
    var p = 0
    def zeroBlock(off: Int): Boolean =
      (off until off + 512).forall(i => payload(i) == 0)
    var done = false
    while (!done) {
      require(p + 512 <= payload.length,
        s"tar: truncated header at $p (doc $docId)")
      if (zeroBlock(p)) {
        require(p + 1024 <= payload.length && zeroBlock(p + 512),
          s"tar: missing second terminator block (doc $docId)")
        done = true
      } else {
        def octal(off: Int, len: Int): Long = {
          var v = 0L; var i = off
          while (i < off + len && payload(i) != 0 && payload(i) != ' ') {
            val c = payload(i) - '0'
            require(c >= 0 && c <= 7, s"tar: bad octal digit (doc $docId)")
            v = v * 8 + c; i += 1
          }
          v
        }
        // verify checksum with the field blanked to spaces
        val stored = octal(p + 148, 8)
        var sum = 0L
        var i = 0
        while (i < 512) {
          sum += (if (i >= 148 && i < 156) ' '.toInt
            else payload(p + i) & 0xFF)
          i += 1
        }
        require(sum == stored,
          s"tar: header checksum mismatch at $p (doc $docId)")
        val nameEnd = {
          var e = p; while (e < p + 100 && payload(e) != 0) e += 1; e
        }
        val name = new String(payload, p, nameEnd - p, "UTF-8")
        val size = octal(p + 124, 12)
        val tf = payload(p + 156).toChar
        require(tf == '0' || tf == 0.toChar || tf == '5',
          s"tar: unsupported typeflag '$tf' for '$name' (doc $docId)")
        val dataOff = p + 512
        require(dataOff + size <= payload.length,
          s"tar: member '$name' overruns the archive (doc $docId)")
        if (tf != '5') // directories carry no content row
          outEntries += ((name, java.util.Arrays.copyOfRange(
            payload, dataOff, dataOff + size.toInt)))
        p = dataOff + ((size + 511) / 512).toInt * 512
      }
    }
    outEntries.result()
  }

  /** Per-member census of a ZIP column — the gate-facing form.
    * crc_ok is definitionally true for every returned row (decode
    * fails loudly otherwise) — it records that the check RAN. */
  case class ZipEntryStats(doc_id: Long, entry_id: Int, name: String,
      method: Int, n_uncompressed: Long, content_md5: String,
      crc_ok: Boolean)

  def zipStats(records: Dataset[MediaRecord]): Dataset[ZipEntryStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.flatMap { r =>
      decodeZipEntries(r.doc_id, r.payload).zipWithIndex.map {
        case ((name, method, content), i) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          ZipEntryStats(r.doc_id, i, name, method, content.length.toLong,
            md.digest(content).map(b => f"$b%02x").mkString, crc_ok = true)
      }
    })
  }

  /** Per-member census of a .tar.gz column: gunzip → ustar walk —
    * the composed ingest path a `corpus.tar.gz` actually takes. */
  case class TarEntryStats(doc_id: Long, entry_id: Int, name: String,
    n_bytes: Long, content_md5: String)

  def tarGzStats(records: Dataset[MediaRecord]): Dataset[TarEntryStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.flatMap { r =>
      decodeTarEntries(r.doc_id, gunzip(r.payload)).zipWithIndex.map {
        case ((name, content), i) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          TarEntryStats(r.doc_id, i, name, content.length.toLong,
            md.digest(content).map(b => f"$b%02x").mkString)
      }
    })
  }

  /** Frame-sampling analog: cut the payload into `frameBytes`-sized
    * frames and keep every `stride`-th one (as a real pipeline samples
    * video frames) — native substring arithmetic, no decode needed.
    * Returns array<binary>. */
  def sampleFrames(payload: org.apache.spark.sql.Column, frameBytes: Int, stride: Int): org.apache.spark.sql.Column = {
    val nFrames = ceil(length(payload).cast("double") / frameBytes).cast("int")
    transform(
      filter(sequence(lit(0), greatest(nFrames - 1, lit(0))), i => i % stride === 0),
      i => call_function("substring", payload, i * frameBytes + 1, lit(frameBytes)))
  }

  // -------------------------------------------------------------------
  // Image perceptual hashing (average hash) — the image-dedup primitive
  // web-scale corpora actually use (LAION-style pipelines dedup by
  // pHash + Hamming, not by byte digest: re-encoded/resized copies
  // share a perceptual hash and nothing else). 64 bits per image, so a
  // billion-image corpus dedups through the SimHash machinery: band
  // buckets on hash halves, Hamming within buckets — never all-pairs.
  // -------------------------------------------------------------------

  /** 8×8 average hash of a P5 PGM: NN-downsample to 8×8 (the
    * [[resizePgm]] mapping), mean over the 64 samples (integer trunc),
    * bit k set iff pixel k > mean (STRICT — a flat image hashes to all
    * zeros, ties never set bits). Emitted as two 32-bit halves in
    * BIGINTs (`hash_hi` = bits 32–63) so no sign bit ever appears and
    * band-bucketing on a half is a plain equality. */
  case class ImageHash(doc_id: Long, hash_lo: Long, hash_hi: Long,
      n_ones: Long)

  def averageHashPgm(docId: Long, payload: Array[Byte]): ImageHash = {
    // decode to a raster and delegate: the 64-bit contract lives in ONE
    // kernel (averageHashRaster) for all four formats — a duplicated
    // sampling loop here could drift and silently break cross-format
    // pHash clustering
    val (w0, h0, _, off) = parsePgmHeader(payload, docId)
    val px = new Array[Int](w0 * h0)
    var i = 0
    while (i < px.length) { px(i) = payload(off + i) & 0xFF; i += 1 }
    averageHashRaster(docId, w0, h0, px)
  }

  def averageHashes(records: Dataset[MediaRecord]): Dataset[ImageHash] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.map(r => averageHashPgm(r.doc_id, r.payload)))
  }

  // -------------------------------------------------------------------
  // Audio frame analysis — silence detection / energy profiling, the
  // first pass of every speech-data pipeline (VAD gating, clip
  // trimming, loudness bucketing). Integer mean-square energy per
  // frame: σ needs a sqrt, mean-square doesn't, and the silence
  // decision is a threshold compare either way.
  // -------------------------------------------------------------------

  case class AudioFrame(doc_id: Long, frame_id: Long, n_samples: Long,
      energy_ms: Long, is_silence: Boolean)

  /** Chunk-walk a RIFF/WAVE payload and return (little-endian buffer,
    * data offset, sample count, header stats) with the data-chunk
    * length validated against the header census — shared by the
    * frame/spectral/resample ops (the stats ride along so no caller
    * ever decodes the header a second time). */
  private def wavDataWindow(docId: Long, payload: Array[Byte])
      : (java.nio.ByteBuffer, Int, Int, WavStats) = {
    val stats = decodeWav(docId, payload)
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var dataOff = -1; var dataLen = 0
    while (dataOff < 0 && pos + 8 <= payload.length) {
      val id = new String(payload, pos, 4, "US-ASCII")
      val len = buf.getInt(pos + 4)
      if (id == "data") { dataOff = pos + 8; dataLen = len }
      else pos += 8 + len + (len & 1)
    }
    require(dataOff >= 0, s"wav: no data chunk in doc $docId")
    val n = stats.n_samples.toInt
    require(2L * n <= dataLen && dataOff + 2L * n <= payload.length,
      s"wav: data chunk of doc $docId holds ${dataLen / 2} samples " +
        s"but header census says $n")
    (buf, dataOff, n, stats)
  }

  /** Exact spectral anchors of a 16-bit mono WAV — the two DFT bins an
    * integer engine CAN certify bit-for-bit (k = 0 is Σsᵢ, k = N/2 is
    * the alternating sum) plus total power Σsᵢ² (Parseval's left side),
    * all BIGINT-exact. The full spectrum needs irrational twiddles
    * (float — the thing an oracle cannot replay); these three anchor a
    * spectral pipeline's correctness without it. */
  case class AudioSpectral(doc_id: Long, n_samples: Long, dc_bin: Long,
      nyquist_bin: Long, power: Long)

  def audioSpectral(docId: Long, payload: Array[Byte]): AudioSpectral = {
    val (buf, dataOff, n, _) = wavDataWindow(docId, payload)
    var dc = 0L; var ny = 0L; var pw = 0L
    var i = 0
    while (i < n) {
      val s = buf.getShort(dataOff + 2 * i).toLong
      dc += s
      ny += (if ((i & 1) == 0) s else -s)
      pw += s * s
      i += 1
    }
    AudioSpectral(docId, n.toLong, dc, ny, pw)
  }

  def audioSpectrals(records: Dataset[MediaRecord]): Dataset[AudioSpectral] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it =>
      it.map(r => audioSpectral(r.doc_id, r.payload)))
  }

  /** REAL sample-rate reduction by integer decimation: keep every
    * `factor`-th sample and divide the declared rate — the 48→16 kHz /
    * 16→8 kHz step of every speech pipeline (anti-alias filtering is
    * the caller's upstream choice; plain decimation is the exact,
    * oracle-replayable core). Output is a valid WAV, so it composes
    * with [[decodeWav]] — the gate decodes its own output. */
  def resampleWavDecimate(docId: Long, payload: Array[Byte],
      factor: Int): Array[Byte] = {
    require(factor >= 1, s"wav: decimation factor must be >= 1, got $factor")
    val (buf, dataOff, n, stats) = wavDataWindow(docId, payload)
    // the declared output rate is rate/factor EXACTLY or the file lies:
    // a non-dividing factor would silently floor the rate (8000/3 →
    // 2666 declares the wrong duration) — fail loudly like the rest of
    // the codec layer instead
    require(stats.sample_rate % factor == 0,
      s"wav: decimation factor $factor does not divide sample rate " +
        s"${stats.sample_rate} of doc $docId")
    val outN = (n + factor - 1) / factor
    encodeWav(stats.sample_rate / factor,
      i => buf.getShort(dataOff + 2 * i * factor).toInt, outN)
  }

  /** Per-frame mean-square energy over a decoded 16-bit mono WAV:
    * frames of `frameSize` samples (last frame ragged), energy =
    * Σs² div n (exact BIGINT — max 32767² ≈ 1.07e9 per sample, ~1e13
    * per 10k-frame: no overflow until ~8e5-sample frames), silence iff
    * energy < threshold (strict — exactly-at-threshold is sound). */
  def frameEnergy(docId: Long, payload: Array[Byte], frameSize: Int,
      silenceThreshold: Long): Seq[AudioFrame] = {
    val (buf, dataOff, n, _) = wavDataWindow(docId, payload)
    (0 until (n + frameSize - 1) / frameSize).map { f =>
      val from = f * frameSize
      val until = math.min(from + frameSize, n)
      var ss = 0L
      var i = from
      while (i < until) {
        val s = buf.getShort(dataOff + 2 * i).toLong
        ss += s * s; i += 1
      }
      val cnt = (until - from).toLong
      val ms = ss / cnt
      AudioFrame(docId, f.toLong, cnt, ms, ms < silenceThreshold)
    }
  }

  def frameEnergies(records: Dataset[MediaRecord], frameSize: Int,
      silenceThreshold: Long): Dataset[AudioFrame] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it =>
      it.flatMap(r => frameEnergy(r.doc_id, r.payload, frameSize,
        silenceThreshold)))
  }

  // -------------------------------------------------------------------
  // JPEG (ITU-T T.81 baseline sequential DCT) — the first TRANSFORM-
  // coded format here, closing most of the lossy-codec stub boundary:
  // marker walk, DQT/DHT parsing, canonical Huffman entropy decode
  // (with byte stuffing and RST handling), dequantize, de-zigzag, and
  // a real 2-D separable IDCT, all pure JVM. Single-component
  // (grayscale) frames only — the x5 family is grayscale-first, and a
  // 3-component YCbCr frame fails loudly, never decodes as noise.
  //
  // Exactness note for oracles: JPEG is lossy in general, but a block
  // whose 64 samples are CONSTANT has a DC-only spectrum (F00 = 8·(v −
  // 128), every AC exactly 0), so with Q[0] = 8 the quantizer stores
  // the level-shifted value verbatim and the IDCT reconstructs it
  // bit-exactly. Fixtures therefore use per-8×8-block-constant rasters:
  // the full entropy-coding machinery is load-bearing (a one-bit
  // Huffman slip scrambles every later block's DC via the diff chain)
  // while the decoded raster stays SQL-replayable. Non-constant
  // content decodes correctly too — just not bit-predictably — which
  // the ImageIO cross-check spec covers.
  // -------------------------------------------------------------------

  /** Decoded JPEG statistics — the gate-facing form; `n_entropy_bytes`
    * counts the scan's coded bytes (pinned < n_pixels in the gate:
    * proof the transform coding genuinely ran, not a passthrough). */
  case class JpegStats(doc_id: Long, width: Int, height: Int,
      n_pixels: Long, px_sum: Long, px_min: Int, px_max: Int,
      n_entropy_bytes: Long)

  /** Zig-zag scan: natural (row-major) index of each scan position
    * (T.81 Figure 5). */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // T.81 Annex K.3 typical luminance Huffman tables (public spec
  // constants): counts per code length 1..16, then symbol values.
  private val DcLumBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals: Array[Int] = (0 to 11).toArray
  private val AcLumBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val AcLumVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA)

  // T.81 Annex K.3 typical CHROMINANCE tables (public spec constants).
  private val DcChrBits: Array[Int] =
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrVals: Array[Int] = (0 to 11).toArray
  private val AcChrBits: Array[Int] =
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChrVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA)

  /** cos((2x+1)·u·π/16) — shared by FDCT and IDCT. */
  private val DctCos: Array[Array[Double]] = Array.tabulate(8, 8) {
    (x, u) => math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  /** Uniform quant table (all 8s): high quality, and the DC step that
    * makes block-constant content reconstruct bit-exactly (see object
    * section note). */
  def uniformQuantTable(step: Int = 8): Array[Int] = Array.fill(64)(step)

  /** Canonical Huffman codes from (counts-per-length, symbols) —
    * T.81 Annex C. Returns (code, length) per symbol value. */
  private def buildHuffEncoder(bits: Array[Int], vals: Array[Int])
      : Array[(Int, Int)] = {
    val enc = new Array[(Int, Int)](256)
    var code = 0; var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        enc(vals(k)) = (code, len); code += 1; k += 1; i += 1
      }
      code <<= 1; len += 1
    }
    enc
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var nBits = 0
    def put(value: Int, length: Int): Unit = {
      var i = length - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >>> i) & 1); nBits += 1
        if (nBits == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00) // byte stuffing
          acc = 0; nBits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nBits > 0) { // pad with 1s per T.81 F.1.2.3
      put(0x7F, 8 - nBits)
    }
  }

  /** Magnitude category (bit length) of a coefficient — T.81 F.1.2.1. */
  private def bitCategory(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** FDCT + quantize + Huffman-encode one level-shifted 8×8 block;
    * returns the new DC predictor (the quantized DC). Shared by the
    * grayscale and color encoders. */
  private def fdctEncodeBlock(f: Array[Array[Int]], quant: Array[Int],
      dcEnc: Array[(Int, Int)], acEnc: Array[(Int, Int)], bw: BitWriter,
      pred0: Int): Int = {
    val coef = new Array[Int](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { s += f(y)(x) * DctCos(x)(u) * DctCos(y)(v); x += 1 }
          y += 1
        }
        val cu = if (u == 0) InvSqrt2 else 1.0
        val cv = if (v == 0) InvSqrt2 else 1.0
        coef(v * 8 + u) = math.round(0.25 * cu * cv * s /
          quant(v * 8 + u)).toInt
        v += 1
      }
      u += 1
    }
    // DC diff
    val diff = coef(0) - pred0
    val s0 = bitCategory(diff)
    val (c0, l0) = dcEnc(s0)
    bw.put(c0, l0)
    if (s0 > 0) bw.put(if (diff >= 0) diff else diff + (1 << s0) - 1, s0)
    // AC run-length over zig-zag order
    var run = 0
    var k = 1
    while (k < 64) {
      val ac = coef(ZigZag(k))
      if (ac == 0) run += 1
      else {
        while (run >= 16) { val (cz, lz) = acEnc(0xF0); bw.put(cz, lz); run -= 16 }
        val s = bitCategory(ac)
        val (c, l) = acEnc((run << 4) | s)
        bw.put(c, l)
        bw.put(if (ac >= 0) ac else ac + (1 << s) - 1, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ce, le) = acEnc(0x00); bw.put(ce, le) } // EOB
    coef(0)
  }

  /** Encode a baseline single-component (grayscale) JPEG: real FDCT +
    * quantization + Annex-K Huffman entropy coding. Edge blocks clamp-
    * replicate (the standard padding). Fixture-side twin of
    * [[decodeJpegRaster]] and the writer a grayscale archive pipeline
    * would use. */
  def encodeJpeg(width: Int, height: Int, pixel: Int => Int,
      quant: Array[Int] = uniformQuantTable(),
      restartInterval: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, s"jpeg: bad dims ${width}x$height")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255),
      "jpeg: quant table must be 64 entries in [1, 255]")
    require(restartInterval >= 0 && restartInterval <= 0xFFFF,
      s"jpeg: bad restart interval $restartInterval")
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }
    def seg(m: Int, body: Array[Int]): Unit = {
      marker(m); val len = body.length + 2
      out.write(len >>> 8); out.write(len & 0xFF); body.foreach(out.write)
    }
    marker(0xD8) // SOI
    seg(0xDB, Array(0x00) ++ ZigZag.map(quant)) // DQT, 8-bit, id 0
    seg(0xC0, Array(8, height >>> 8, height & 0xFF, width >>> 8,
      width & 0xFF, 1, 1, 0x11, 0)) // SOF0: 1 component, 1×1 sampling
    seg(0xC4, Array(0x00) ++ DcLumBits ++ DcLumVals) // DHT DC 0
    seg(0xC4, Array(0x10) ++ AcLumBits ++ AcLumVals) // DHT AC 0
    if (restartInterval > 0)
      seg(0xDD, Array(restartInterval >>> 8, restartInterval & 0xFF)) // DRI
    seg(0xDA, Array(1, 1, 0x00, 0, 63, 0)) // SOS
    val dcEnc = buildHuffEncoder(DcLumBits, DcLumVals)
    val acEnc = buildHuffEncoder(AcLumBits, AcLumVals)
    var bw = new BitWriter(out)
    var pred = 0
    var mcu = 0
    var rstN = 0
    var by = 0
    while (by * 8 < height) {
      var bx = 0
      while (bx * 8 < width) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush(); marker(0xD0 + rstN) // RSTn, modulo-8 sequence
          rstN = (rstN + 1) % 8; pred = 0
          bw = new BitWriter(out)
        }
        // level-shifted block with clamp-replicated edges
        val f = Array.tabulate(8, 8) { (y, x) =>
          val sy = math.min(by * 8 + y, height - 1)
          val sx = math.min(bx * 8 + x, width - 1)
          (pixel(sy * width + sx) & 0xFF) - 128
        }
        pred = fdctEncodeBlock(f, quant, dcEnc, acEnc, bw, pred)
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    marker(0xD9) // EOI
    out.toByteArray
  }

  /** Encode a baseline 3-component YCbCr JPEG from packed 0xRRGGBB
    * pixels: fixed-point RGB→YCbCr (the forward twin of
    * [[decodeJpegRgb]]'s constants — gray input yields exactly
    * Cb=Cr=128), box-average chroma subsampling (`subsample` 1 =
    * 4:4:4, 2 = 4:2:0), interleaved MCU encode with the Annex-K
    * luminance/chrominance table pairs. `interleave = false` (legal
    * only at 4:4:4, no restart markers) emits THREE single-component
    * sequential scans instead of one interleaved scan — the rare but
    * legal T.81 baseline layout some encoders produce, kept as a
    * fixture source for the decoder's non-interleaved sequential
    * path. */
  def encodeJpegColor(width: Int, height: Int, rgb: Int => Int,
      subsample: Int = 2,
      quantLuma: Array[Int] = uniformQuantTable(),
      quantChroma: Array[Int] = uniformQuantTable(),
      restartInterval: Int = 0,
      interleave: Boolean = true): Array[Byte] = {
    require(interleave || (subsample == 1 && restartInterval == 0),
      "jpeg: non-interleaved encode supports 4:4:4 without restarts only")
    require(width > 0 && height > 0, s"jpeg: bad dims ${width}x$height")
    require(subsample == 1 || subsample == 2,
      s"jpeg: subsample must be 1 (4:4:4) or 2 (4:2:0), got $subsample")
    require(quantLuma.length == 64 && quantChroma.length == 64 &&
      (quantLuma ++ quantChroma).forall(q => q >= 1 && q <= 255),
      "jpeg: quant tables must be 64 entries in [1, 255]")
    require(restartInterval >= 0 && restartInterval <= 0xFFFF,
      s"jpeg: bad restart interval $restartInterval")
    // full-resolution YCbCr planes
    val n = width * height
    val yP = new Array[Int](n); val cbP = new Array[Int](n)
    val crP = new Array[Int](n)
    var i = 0
    while (i < n) {
      val p = rgb(i)
      val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
      yP(i) = clamp8((FixYR * r + FixYG * g + FixYB * b + 32768) >> 16)
      cbP(i) = clamp8(128 + ((FixCbR * r + FixCbG * g + FixCbB * b + 32768) >> 16))
      crP(i) = clamp8(128 + ((FixCrR * r + FixCrG * g + FixCrB * b + 32768) >> 16))
      i += 1
    }
    // box-average chroma subsample (rounded; exact on flat regions)
    val cw = (width + subsample - 1) / subsample
    val ch = (height + subsample - 1) / subsample
    def sub(plane: Array[Int]): Array[Int] =
      if (subsample == 1) plane
      else Array.tabulate(cw * ch) { j =>
        val cx = j % cw; val cy = j / cw
        var s = 0; var cnt = 0
        var dy = 0
        while (dy < subsample) {
          var dx = 0
          while (dx < subsample) {
            val x = cx * subsample + dx; val y = cy * subsample + dy
            if (x < width && y < height) { s += plane(y * width + x); cnt += 1 }
            dx += 1
          }
          dy += 1
        }
        (s + cnt / 2) / cnt
      }
    val cbS = sub(cbP); val crS = sub(crP)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }
    def seg(m: Int, body: Array[Int]): Unit = {
      marker(m); val len = body.length + 2
      out.write(len >>> 8); out.write(len & 0xFF); body.foreach(out.write)
    }
    marker(0xD8) // SOI
    seg(0xDB, Array(0x00) ++ ZigZag.map(quantLuma)
      ++ Array(0x01) ++ ZigZag.map(quantChroma)) // both tables, one DQT
    val ssHV = (subsample << 4) | subsample
    seg(0xC0, Array(8, height >>> 8, height & 0xFF, width >>> 8,
      width & 0xFF, 3, 1, ssHV, 0, 2, 0x11, 1, 3, 0x11, 1)) // SOF0 YCbCr
    seg(0xC4, Array(0x00) ++ DcLumBits ++ DcLumVals)
    seg(0xC4, Array(0x10) ++ AcLumBits ++ AcLumVals)
    seg(0xC4, Array(0x01) ++ DcChrBits ++ DcChrVals)
    seg(0xC4, Array(0x11) ++ AcChrBits ++ AcChrVals)
    if (restartInterval > 0)
      seg(0xDD, Array(restartInterval >>> 8, restartInterval & 0xFF))
    val dcL = buildHuffEncoder(DcLumBits, DcLumVals)
    val acL = buildHuffEncoder(AcLumBits, AcLumVals)
    val dcC = buildHuffEncoder(DcChrBits, DcChrVals)
    val acC = buildHuffEncoder(AcChrBits, AcChrVals)
    def blockFrom(plane: Array[Int], pw: Int, ph: Int, x0: Int, y0: Int) =
      Array.tabulate(8, 8) { (y, x) =>
        plane(math.min(y0 + y, ph - 1) * pw + math.min(x0 + x, pw - 1)) - 128
      }
    if (!interleave) {
      // three sequential scans, one component each, own DC predictor
      val bw8 = (width + 7) / 8; val bh8 = (height + 7) / 8
      Seq((1, yP, quantLuma, dcL, acL, 0x00),
          (2, cbS, quantChroma, dcC, acC, 0x11),
          (3, crS, quantChroma, dcC, acC, 0x11)).foreach {
        case (cid, plane, q, dc, ac, tsel) =>
          seg(0xDA, Array(1, cid, tsel, 0, 63, 0))
          val sbw = new BitWriter(out)
          var pred = 0
          var by = 0
          while (by < bh8) {
            var bx = 0
            while (bx < bw8) {
              pred = fdctEncodeBlock(
                blockFrom(plane, width, height, bx * 8, by * 8),
                q, dc, ac, sbw, pred)
              bx += 1
            }
            by += 1
          }
          sbw.flush()
      }
      marker(0xD9) // EOI
      return out.toByteArray
    }
    seg(0xDA, Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)) // SOS
    var bw = new BitWriter(out)
    val mcusX = (width + 8 * subsample - 1) / (8 * subsample)
    val mcusY = (height + 8 * subsample - 1) / (8 * subsample)
    var predY = 0; var predCb = 0; var predCr = 0
    var mcu = 0; var rstN = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush(); marker(0xD0 + rstN)
          rstN = (rstN + 1) % 8
          predY = 0; predCb = 0; predCr = 0
          bw = new BitWriter(out)
        }
        var v = 0
        while (v < subsample) {
          var h = 0
          while (h < subsample) {
            predY = fdctEncodeBlock(
              blockFrom(yP, width, height,
                (mx * subsample + h) * 8, (my * subsample + v) * 8),
              quantLuma, dcL, acL, bw, predY)
            h += 1
          }
          v += 1
        }
        predCb = fdctEncodeBlock(blockFrom(cbS, cw, ch, mx * 8, my * 8),
          quantChroma, dcC, acC, bw, predCb)
        predCr = fdctEncodeBlock(blockFrom(crS, cw, ch, mx * 8, my * 8),
          quantChroma, dcC, acC, bw, predCr)
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(0xD9) // EOI
    out.toByteArray
  }

  /** Encode a PROGRESSIVE (SOF2) grayscale JPEG with a three-scan
    * script: DC first with successive approximation (Al=1), DC
    * refinement (Ah=1), then the full AC band (spectral selection
    * 1..63, EOB-per-block coding). Fixture-side twin of the decoder's
    * progressive path; block-constant input reconstructs bit-exactly
    * for the same DC-only reason as [[encodeJpeg]]. */
  def encodeJpegProgressive(width: Int, height: Int, pixel: Int => Int,
      quant: Array[Int] = uniformQuantTable(),
      restartInterval: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, s"jpeg: bad dims ${width}x$height")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255),
      "jpeg: quant table must be 64 entries in [1, 255]")
    require(restartInterval >= 0 && restartInterval <= 0xFFFF,
      s"jpeg: bad restart interval $restartInterval")
    // quantize every block up front (scans revisit them)
    val nBx = (width + 7) / 8; val nBy = (height + 7) / 8
    val blocks = Array.tabulate(nBx * nBy) { bi =>
      val bx = bi % nBx; val by = bi / nBx
      val f = Array.tabulate(8, 8) { (y, x) =>
        val sy = math.min(by * 8 + y, height - 1)
        val sx = math.min(bx * 8 + x, width - 1)
        (pixel(sy * width + sx) & 0xFF) - 128
      }
      val coef = new Array[Int](64)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var s = 0.0
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) { s += f(y)(x) * DctCos(x)(u) * DctCos(y)(v); x += 1 }
            y += 1
          }
          val cu = if (u == 0) InvSqrt2 else 1.0
          val cv = if (v == 0) InvSqrt2 else 1.0
          coef(v * 8 + u) = math.round(0.25 * cu * cv * s /
            quant(v * 8 + u)).toInt
          v += 1
        }
        u += 1
      }
      coef
    }
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }
    def seg(m: Int, body: Array[Int]): Unit = {
      marker(m); val len = body.length + 2
      out.write(len >>> 8); out.write(len & 0xFF); body.foreach(out.write)
    }
    marker(0xD8)
    seg(0xDB, Array(0x00) ++ ZigZag.map(quant))
    seg(0xC2, Array(8, height >>> 8, height & 0xFF, width >>> 8,
      width & 0xFF, 1, 1, 0x11, 0)) // SOF2, 1 component
    seg(0xC4, Array(0x00) ++ DcLumBits ++ DcLumVals)
    seg(0xC4, Array(0x10) ++ AcLumBits ++ AcLumVals)
    if (restartInterval > 0)
      seg(0xDD, Array(restartInterval >>> 8, restartInterval & 0xFF))
    val dcEnc = buildHuffEncoder(DcLumBits, DcLumVals)
    val acEnc = buildHuffEncoder(AcLumBits, AcLumVals)
    var pred = 0
    def predReset(): Unit = pred = 0

    /** Run one scan: header, then `body(bw, blockIndex)` per block with
      * restart-marker interleaving. */
    def scan(ss: Int, se: Int, ah: Int, al: Int,
        body: (BitWriter, Int) => Unit): Unit = {
      seg(0xDA, Array(1, 1, 0x00, ss, se, (ah << 4) | al))
      var bw = new BitWriter(out)
      var rstN = 0
      var bi = 0
      while (bi < blocks.length) {
        if (restartInterval > 0 && bi > 0 && bi % restartInterval == 0) {
          bw.flush(); marker(0xD0 + rstN)
          rstN = (rstN + 1) % 8
          bw = new BitWriter(out)
          predReset()
        }
        body(bw, bi)
        bi += 1
      }
      bw.flush()
    }
    // scan 1: DC first, point transform Al=1 (codes dc >> 1 diffs)
    pred = 0
    scan(0, 0, 0, 1, { (bw, bi) =>
      val dc = blocks(bi)(0) >> 1
      val diff = dc - pred; pred = dc
      val s0 = bitCategory(diff)
      val (c0, l0) = dcEnc(s0)
      bw.put(c0, l0)
      if (s0 > 0) bw.put(if (diff >= 0) diff else diff + (1 << s0) - 1, s0)
    })
    // scan 2: DC refinement — the held-back low bit, no Huffman coding
    scan(0, 0, 1, 0, (bw, bi) => bw.put(blocks(bi)(0) & 1, 1))
    // scan 3: the whole AC band, EOB per block (no EOB-run
    // accumulation — the Annex-K table has no EOBn>0 symbols)
    scan(1, 63, 0, 0, { (bw, bi) =>
      val coef = blocks(bi)
      var run = 0
      var k = 1
      while (k < 64) {
        val ac = coef(ZigZag(k))
        if (ac == 0) run += 1
        else {
          while (run >= 16) { val (cz, lz) = acEnc(0xF0); bw.put(cz, lz); run -= 16 }
          val s = bitCategory(ac)
          val (c, l) = acEnc((run << 4) | s)
          bw.put(c, l)
          bw.put(if (ac >= 0) ac else ac + (1 << s) - 1, s)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (ce, le) = acEnc(0x00); bw.put(ce, le) } // EOB
    })
    marker(0xD9)
    out.toByteArray
  }

  /** Huffman DECODE tables per T.81 F.2.2.3: minCode/maxCode/valPtr
    * indexed by code length. */
  private final class HuffDecoder(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var len = 1
      while (len <= 16) {
        if (bits(len - 1) > 0) {
          valPtr(len) = k; minCode(len) = code
          k += bits(len - 1); code += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1; len += 1
      }
    }
    def decode(br: JpegBitReader): Int = {
      var code = br.readBit()
      var len = 1
      while (len <= 16 && (maxCode(len) < 0 || code > maxCode(len))) {
        code = (code << 1) | br.readBit(); len += 1
      }
      require(len <= 16, "jpeg: invalid Huffman code in scan")
      vals(valPtr(len) + code - minCode(len))
    }
  }

  /** Bit reader over the entropy-coded scan: un-stuffs FF00 and stops
    * at any real marker (RST or EOI), whose id the caller inspects. */
  private final class JpegBitReader(data: Array[Byte], start: Int) {
    var pos: Int = start
    private var acc = 0; private var nBits = 0
    var atMarker: Int = -1 // marker byte hit mid-stream, -1 if none
    def readBit(): Int = {
      if (nBits == 0) {
        require(atMarker < 0, "jpeg: scan data exhausted at marker")
        require(pos < data.length, "jpeg: truncated scan")
        var b = data(pos) & 0xFF; pos += 1
        if (b == 0xFF) {
          require(pos < data.length, "jpeg: truncated after FF")
          val m = data(pos) & 0xFF; pos += 1
          if (m != 0x00) { atMarker = m; b = 0 } // marker: feed zero bits
        }
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >>> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Byte-align and consume an expected RST marker (T.81 E.2.4). */
    def expectRestart(): Int = {
      nBits = 0
      if (atMarker < 0) {
        require(pos + 1 < data.length && (data(pos) & 0xFF) == 0xFF,
          "jpeg: expected restart marker")
        atMarker = data(pos + 1) & 0xFF; pos += 2
      }
      val m = atMarker; atMarker = -1
      require(m >= 0xD0 && m <= 0xD7, f"jpeg: expected RSTn, got FF$m%02X")
      m
    }
  }

  /** Sign-extend an s-bit amplitude — T.81 F.2.2.1 EXTEND. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** One decoded frame component: sampling factors, its padded plane
    * (whole MCUs), and the plane's row stride. */
  private final case class JpegPlane(h: Int, v: Int, planeW: Int,
      planeH: Int, data: Array[Int])

  /** Huffman-decode one full sequential block's QUANTIZED coefficients
    * (natural order) into `coef`; returns the new DC predictor. */
  private def decodeBlockCoefs(br: JpegBitReader, dcDec: HuffDecoder,
      acDec: HuffDecoder, pred0: Int, coef: Array[Int]): Int = {
    val s0 = dcDec.decode(br)
    val pred = pred0 + extend(br.receive(s0), s0)
    coef(0) = pred
    var k = 1
    while (k < 64) {
      val rs = acDec.decode(br)
      if (rs == 0x00) k = 64 // EOB
      else if (rs == 0xF0) k += 16 // ZRL
      else {
        k += rs >> 4
        require(k < 64, "jpeg: AC run past end of block")
        coef(ZigZag(k)) = extend(br.receive(rs & 0x0F), rs & 0x0F)
        k += 1
      }
    }
    pred
  }

  /** Dequantize + separable IDCT + level shift + clamp one block of
    * quantized coefficients into `out` (row-major 8×8, 0..255). */
  private def idctBlock(qcoef: Array[Int], off: Int, quant: Array[Int],
      out: Array[Int]): Unit = {
    // separable IDCT: columns (over v) then rows (over u)
    val tmp = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) InvSqrt2 else 1.0
          s += cv * qcoef(off + v * 8 + u) * quant(v * 8 + u) * DctCos(y)(v)
          v += 1
        }
        tmp(y * 8 + u) = s; y += 1
      }
      u += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u2 = 0
        while (u2 < 8) {
          val cu = if (u2 == 0) InvSqrt2 else 1.0
          s += cu * tmp(y * 8 + u2) * DctCos(x)(u2); u2 += 1
        }
        out(y * 8 + x) =
          math.max(0, math.min(255, math.round(0.25 * s).toInt + 128))
        x += 1
      }
      y += 1
    }
  }

  /** General frame decode — baseline sequential (SOF0/1) AND
    * progressive (SOF2, spectral selection + successive approximation
    * + EOB-run coding): full marker walk (DQT 8/16-bit, multi-table
    * DHT, DRI), any number of scans (interleaved DC / non-interleaved
    * band scans), Huffman entropy decode with RST handling, then one
    * dequantize+IDCT pass over the accumulated coefficients. 1 or 3
    * components, sampling factors 1–2 (4:4:4 / 4:2:2 / 4:2:0).
    * Returns (width, height, per-component planes padded to whole
    * MCUs, coded bytes from first scan data to EOI). `allowColor =
    * false` rejects multi-component frames at SOF parse (the grayscale
    * API's contract).
    *
    * Sequential (SOF0/1) scan layouts: ONE full interleaved scan (the
    * overwhelmingly common encoder output) or per-component
    * SINGLE-COMPONENT scans (the rare but legal T.81 layout — each
    * component once, full 0..63 band, walked on its own unpadded
    * grid); a frame that ends with unscanned components, rescans one,
    * or interleaves a strict subset fails loudly. */
  private def decodeJpegPlanes(payload: Array[Byte], allowColor: Boolean)
      : (Int, Int, Array[JpegPlane], Int) = {
    require(payload.length >= 4 && (payload(0) & 0xFF) == 0xFF &&
      (payload(1) & 0xFF) == 0xD8, "jpeg: missing SOI")
    var pos = 2
    def u8(p: Int): Int = payload(p) & 0xFF
    def u16(p: Int): Int = (u8(p) << 8) | u8(p + 1)
    val quantTables = new Array[Array[Int]](4)
    val dcTables = new Array[HuffDecoder](4)
    val acTables = new Array[HuffDecoder](4)
    var width = -1; var height = -1
    var progressive = false
    var restartInterval = 0
    var compId: Array[Int] = null; var compH: Array[Int] = null
    var compV: Array[Int] = null; var compQ: Array[Int] = null
    var nComp = 0; var hMax = 1; var vMax = 1
    var mcusX = 0; var mcusY = 0
    // per-component quantized-coefficient buffers over the MCU-padded
    // block grid (progressive scans accumulate into these; the IDCT
    // runs once at EOI)
    var coefs: Array[Array[Int]] = null
    var compScanned: Array[Boolean] = null
    var bpr: Array[Int] = null // blocks per row (padded grid)
    var firstScanData = -1
    var eoiPos = -1

    def parseSof(body: Int, prog: Boolean): Unit = {
      require(u8(body) == 8, "jpeg: only 8-bit precision supported")
      progressive = prog
      height = u16(body + 1); width = u16(body + 3)
      nComp = u8(body + 5)
      if (!allowColor)
        require(nComp == 1, s"jpeg: only single-component (grayscale) " +
          s"frames supported, got $nComp components")
      require(nComp == 1 || nComp == 3,
        s"jpeg: 1 (grayscale) or 3 (YCbCr) components supported, got $nComp")
      compId = new Array[Int](nComp); compH = new Array[Int](nComp)
      compV = new Array[Int](nComp); compQ = new Array[Int](nComp)
      var c = 0
      while (c < nComp) {
        compId(c) = u8(body + 6 + 3 * c)
        val hv = u8(body + 7 + 3 * c)
        // a one-component frame is always effectively 1×1: every scan
        // is non-interleaved (MCU = one block)
        compH(c) = if (nComp == 1) 1 else hv >> 4
        compV(c) = if (nComp == 1) 1 else hv & 0x0F
        require(nComp == 1 || (compH(c) >= 1 && compH(c) <= 2 &&
          compV(c) >= 1 && compV(c) <= 2),
          s"jpeg: sampling factors 1-2 supported, got ${compH(c)}x${compV(c)}")
        compQ(c) = u8(body + 8 + 3 * c)
        c += 1
      }
      hMax = compH.max; vMax = compV.max
      mcusX = (width + 8 * hMax - 1) / (8 * hMax)
      mcusY = (height + 8 * vMax - 1) / (8 * vMax)
      bpr = Array.tabulate(nComp)(c => mcusX * compH(c))
      coefs = Array.tabulate(nComp)(c =>
        new Array[Int](mcusX * compH(c) * mcusY * compV(c) * 64))
      compScanned = new Array[Boolean](nComp)
    }

    /** Decode one scan's entropy data; returns the byte position of the
      * marker that terminates it. */
    def decodeScan(body: Int, dataStart: Int): Int = {
      val ns = u8(body)
      val scanComp = new Array[Int](ns)
      val dcDec = new Array[HuffDecoder](ns)
      val acDec = new Array[HuffDecoder](ns)
      var sc = 0
      while (sc < ns) {
        val cs = u8(body + 1 + 2 * sc)
        val ci = compId.indexOf(cs)
        require(ci >= 0, s"jpeg: scan component $cs not in frame")
        scanComp(sc) = ci
        dcDec(sc) = dcTables(u8(body + 2 + 2 * sc) >> 4)
        acDec(sc) = acTables(u8(body + 2 + 2 * sc) & 0x0F)
        sc += 1
      }
      val ss = u8(body + 1 + 2 * ns); val se = u8(body + 2 + 2 * ns)
      val ah = u8(body + 3 + 2 * ns) >> 4; val al = u8(body + 3 + 2 * ns) & 0x0F
      if (!progressive) {
        require(ss == 0 && se == 63 && ah == 0 && al == 0,
          "jpeg: baseline scan must cover the full 0..63 band unrefined")
        require(ns == nComp || ns == 1,
          "jpeg: sequential scans are full-interleave or single-component")
        var i2 = 0
        while (i2 < ns) {
          require(!compScanned(scanComp(i2)),
            s"jpeg: component ${scanComp(i2)} scanned twice")
          compScanned(scanComp(i2)) = true
          i2 += 1
        }
      }
      else {
        require(ss <= se && se <= 63, s"jpeg: bad spectral band $ss..$se")
        if (ss == 0) require(se == 0,
          "jpeg: progressive DC and AC may not share a scan")
        else require(ns == 1, "jpeg: progressive AC scans are single-component")
      }
      val needDc = ss == 0
      val needAc = se > 0
      var i = 0
      while (i < ns) {
        if (needDc && ah == 0)
          require(dcDec(i) != null, "jpeg: DC table undefined")
        if (needAc) require(acDec(i) != null, "jpeg: AC table undefined")
        i += 1
      }
      val br = new JpegBitReader(payload, dataStart)
      val preds = new Array[Int](ns)
      var eobrun = 0

      def acFirstBlock(buf: Array[Int], off: Int, ac: HuffDecoder): Unit = {
        if (eobrun > 0) eobrun -= 1
        else {
          var k = ss
          var done = false
          while (k <= se && !done) {
            val rs = ac.decode(br); val r = rs >> 4; val sN = rs & 0x0F
            if (sN == 0) {
              if (r == 15) k += 16 // ZRL
              else {
                eobrun = (1 << r) - 1 + (if (r > 0) br.receive(r) else 0)
                done = true
              }
            } else {
              k += r
              require(k <= se, "jpeg: AC run past band end")
              buf(off + ZigZag(k)) = extend(br.receive(sN), sN) << al
              k += 1
            }
          }
        }
      }

      def acRefineBlock(buf: Array[Int], off: Int, ac: HuffDecoder): Unit = {
        val p1 = 1 << al; val m1 = -1 << al
        var k = ss
        if (eobrun == 0) {
          var done = false
          while (k <= se && !done) {
            val rs = ac.decode(br); var r = rs >> 4; val sN = rs & 0x0F
            var newVal = 0
            if (sN == 0) {
              if (r < 15) {
                // NO −1 here: the current block is finished by the
                // correction sweep below, which does the decrement —
                // unlike AC-first, where the skip-whole-block check
                // consumes the run and the −1 lands at decode time
                eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
                done = true
              } // r == 15: ZRL — fall through, skip 16 zero-history slots
            } else {
              require(sN == 1, "jpeg: refinement magnitude must be 1")
              newVal = if (br.readBit() == 1) p1 else m1
            }
            if (!done) {
              var placed = false
              while (k <= se && !placed) {
                val z = off + ZigZag(k)
                if (buf(z) != 0) {
                  // correction bit for an already-nonzero coefficient
                  if (br.readBit() == 1 && (buf(z) & p1) == 0)
                    buf(z) += (if (buf(z) >= 0) p1 else m1)
                } else if (r == 0) {
                  if (newVal != 0) buf(z) = newVal
                  placed = true
                } else r -= 1
                k += 1
              }
            }
          }
        }
        if (eobrun > 0) {
          // EOB run covers this block: only correction bits remain
          while (k <= se) {
            val z = off + ZigZag(k)
            if (buf(z) != 0) {
              if (br.readBit() == 1 && (buf(z) & p1) == 0)
                buf(z) += (if (buf(z) >= 0) p1 else m1)
            }
            k += 1
          }
          eobrun -= 1
        }
      }

      def decodeOneProg(sc: Int, bx: Int, by: Int): Unit = {
        val ci = scanComp(sc)
        val buf = coefs(ci)
        val off = (by * bpr(ci) + bx) * 64
        if (ss == 0) {
          if (ah == 0) { // DC first
            val s0 = dcDec(sc).decode(br)
            preds(sc) += extend(br.receive(s0), s0)
            buf(off) = preds(sc) << al
          } else { // DC refine
            if (br.readBit() == 1) buf(off) |= (1 << al)
          }
        } else {
          if (ah == 0) acFirstBlock(buf, off, acDec(sc))
          else acRefineBlock(buf, off, acDec(sc))
        }
      }

      val scratch = new Array[Int](64)
      def decodeOneSeq(sc: Int, bx: Int, by: Int): Unit = {
        val ci = scanComp(sc)
        java.util.Arrays.fill(scratch, 0)
        preds(sc) = decodeBlockCoefs(br, dcDec(sc), acDec(sc), preds(sc),
          scratch)
        System.arraycopy(scratch, 0, coefs(ci), (by * bpr(ci) + bx) * 64, 64)
      }

      def unit(sc: Int, bx: Int, by: Int): Unit =
        if (!progressive) decodeOneSeq(sc, bx, by)
        else decodeOneProg(sc, bx, by)

      var unitCount = 0
      def maybeRestart(): Unit =
        if (restartInterval > 0 && unitCount > 0 &&
            unitCount % restartInterval == 0) {
          br.expectRestart()
          java.util.Arrays.fill(preds, 0)
          eobrun = 0
        }

      if (ns > 1) { // interleaved MCU order
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            maybeRestart()
            var sc = 0
            while (sc < ns) {
              val ci = scanComp(sc)
              var v = 0
              while (v < compV(ci)) {
                var h = 0
                while (h < compH(ci)) {
                  unit(sc, mx * compH(ci) + h, my * compV(ci) + v)
                  h += 1
                }
                v += 1
              }
              sc += 1
            }
            unitCount += 1
            mx += 1
          }
          my += 1
        }
      } else { // non-interleaved: the component's own (unpadded) grid
        val ci = scanComp(0)
        val compW = (width * compH(ci) + hMax - 1) / hMax
        val compHt = (height * compV(ci) + vMax - 1) / vMax
        val bw = (compW + 7) / 8; val bh = (compHt + 7) / 8
        var by = 0
        while (by < bh) {
          var bx = 0
          while (bx < bw) {
            maybeRestart()
            unit(0, bx, by)
            unitCount += 1
            bx += 1
          }
          by += 1
        }
      }
      // find the terminating marker
      if (br.atMarker >= 0) br.pos - 2
      else {
        var p = br.pos
        var found = -1
        while (found < 0) {
          require(p + 1 < payload.length, "jpeg: no marker after scan")
          val b0 = u8(p); val b1 = u8(p + 1)
          if (b0 == 0xFF && b1 != 0x00 && !(b1 >= 0xD0 && b1 <= 0xD7))
            found = p
          else p += 1
        }
        found
      }
    }

    var done = false
    while (!done) {
      require(pos + 2 <= payload.length, "jpeg: truncated marker stream")
      require(u8(pos) == 0xFF, f"jpeg: expected marker, got ${u8(pos)}%02X")
      val m = u8(pos + 1)
      if (m == 0xD9) { eoiPos = pos; done = true }
      else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) pos += 2 // TEM/stray RST
      else {
        require(pos + 4 <= payload.length, "jpeg: truncated marker stream")
        val len = u16(pos + 2)
        val body = pos + 4
        require(body + len - 2 <= payload.length,
          f"jpeg: truncated FF$m%02X segment")
        m match {
          case 0xDB => // DQT: one or more tables
            var p = body
            while (p < body + len - 2) {
              val pq = u8(p) >> 4; val tq = u8(p) & 0x0F
              require(pq <= 1 && tq <= 3, "jpeg: bad DQT header")
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(ZigZag(i)) = if (pq == 0) u8(p + 1 + i)
                               else u16(p + 1 + 2 * i)
                i += 1
              }
              quantTables(tq) = t
              p += 1 + (if (pq == 0) 64 else 128)
            }
            pos += 2 + len
          case 0xC4 => // DHT: one or more tables
            var p = body
            while (p < body + len - 2) {
              val tc = u8(p) >> 4; val th = u8(p) & 0x0F
              require(tc <= 1 && th <= 3, "jpeg: bad DHT header")
              val bits = Array.tabulate(16)(i => u8(p + 1 + i))
              val n = bits.sum
              val vals = Array.tabulate(n)(i => u8(p + 17 + i))
              val dec = new HuffDecoder(bits, vals)
              if (tc == 0) dcTables(th) = dec else acTables(th) = dec
              p += 17 + n
            }
            pos += 2 + len
          case 0xC0 | 0xC1 => parseSof(body, prog = false); pos += 2 + len
          case 0xC2 => parseSof(body, prog = true); pos += 2 + len
          case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB | 0xCD |
               0xCE | 0xCF => throw new IllegalArgumentException(
            f"jpeg: SOF FF$m%02X (lossless/arithmetic/hierarchical) " +
              "not supported")
          case 0xDD => restartInterval = u16(body); pos += 2 + len
          case 0xDA =>
            require(compId != null, "jpeg: SOS before SOF")
            val dataStart = body + len - 2
            if (firstScanData < 0) firstScanData = dataStart
            pos = decodeScan(body, dataStart)
          case _ => pos += 2 + len // APPn / COM / others skipped
        }
      }
    }
    require(width > 0 && height > 0, "jpeg: missing SOF")
    require(firstScanData >= 0, "jpeg: no scan before EOI")
    if (!progressive)
      require(compScanned.forall(identity),
        "jpeg: sequential frame ended with unscanned components")
    // one dequantize + IDCT pass over the accumulated coefficients
    val planes = Array.tabulate(nComp) { c =>
      JpegPlane(compH(c), compV(c), mcusX * 8 * compH(c),
        mcusY * 8 * compV(c),
        new Array[Int](mcusX * 8 * compH(c) * mcusY * 8 * compV(c)))
    }
    val block = new Array[Int](64)
    var c = 0
    while (c < nComp) {
      val q = quantTables(compQ(c))
      require(q != null, s"jpeg: quant table ${compQ(c)} undefined")
      val pl = planes(c)
      val rows = mcusY * compV(c)
      var by = 0
      while (by < rows) {
        var bx = 0
        while (bx < bpr(c)) {
          idctBlock(coefs(c), (by * bpr(c) + bx) * 64, q, block)
          var y = 0
          while (y < 8) {
            System.arraycopy(block, y * 8, pl.data,
              (by * 8 + y) * pl.planeW + bx * 8, 8)
            y += 1
          }
          bx += 1
        }
        by += 1
      }
      c += 1
    }
    (width, height, planes, eoiPos - firstScanData)
  }

  /** Decode a baseline sequential single-component JPEG: full marker
    * walk (DQT 8/16-bit, multi-table DHT, DRI), Huffman entropy decode
    * with RST handling, dequantize, de-zigzag, separable IDCT, level
    * shift + clamp. Returns (width, height, raster row-major 0..255,
    * entropy-coded scan bytes). Progressive (SOF2) and multi-component
    * (color) frames fail loudly with a named error — color goes
    * through [[decodeJpegRgb]]. */
  def decodeJpegRaster(payload: Array[Byte]): (Int, Int, Array[Int], Int) = {
    val (w, h, planes, nEnt) = decodeJpegPlanes(payload, allowColor = false)
    val pl = planes(0)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      System.arraycopy(pl.data, y * pl.planeW, px, y * w, w)
      y += 1
    }
    (w, h, px, nEnt)
  }

  // libjpeg-convention fixed-point color constants (×2¹⁶, public):
  // R−Y = 1.402·Cr', B−Y = 1.772·Cb', G−Y = −0.344136·Cb' − 0.714136·Cr'
  private val FixRCr = 91881; private val FixBCb = 116130
  private val FixGCb = 22554; private val FixGCr = 46802
  // forward: Y = .299R+.587G+.114B; Cb/Cr coefficient rows sum to 0 so
  // gray input (r=g=b) yields EXACTLY Cb=Cr=128
  private val FixYR = 19595; private val FixYG = 38470; private val FixYB = 7471
  private val FixCbR = -11059; private val FixCbG = -21709; private val FixCbB = 32768
  private val FixCrR = 32768; private val FixCrG = -27439; private val FixCrB = -5329

  private def clamp8(v: Int): Int = math.max(0, math.min(255, v))

  /** Decode a baseline JPEG to packed 0xRRGGBB pixels: grayscale
    * frames replicate the luma; YCbCr frames upsample chroma by
    * sample replication and convert with the ×2¹⁶ fixed-point
    * constants above (arithmetic-shift floor — the documented,
    * SQL-replayable rounding). */
  def decodeJpegRgb(payload: Array[Byte]): (Int, Int, Array[Int], Int) = {
    val (w, h, planes, nEnt) = decodeJpegPlanes(payload, allowColor = true)
    val px = new Array[Int](w * h)
    if (planes.length == 1) {
      val pl = planes(0)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = pl.data(y * pl.planeW + x)
          px(y * w + x) = (g << 16) | (g << 8) | g
          x += 1
        }
        y += 1
      }
    } else {
      val Array(py, pcb, pcr) = planes
      val hMax = planes.map(_.h).max; val vMax = planes.map(_.v).max
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def at(pl: JpegPlane): Int =
            pl.data((y * pl.v / vMax) * pl.planeW + (x * pl.h / hMax))
          val yy = at(py)
          val cb = at(pcb) - 128; val cr = at(pcr) - 128
          val r = clamp8(yy + ((FixRCr * cr + 32768) >> 16))
          val g = clamp8(yy - ((FixGCb * cb + FixGCr * cr + 32768) >> 16))
          val b = clamp8(yy + ((FixBCb * cb + 32768) >> 16))
          px(y * w + x) = (r << 16) | (g << 8) | b
          x += 1
        }
        y += 1
      }
    }
    (w, h, px, nEnt)
  }

  /** Raster statistics of a decoded JPEG — the gate-facing form. */
  def decodeJpeg(docId: Long, payload: Array[Byte]): JpegStats = {
    val (w, h, px, nEnt) = decodeJpegRaster(payload)
    var sum = 0L; var mn = Int.MaxValue; var mx = -1
    var i = 0
    while (i < px.length) {
      val v = px(i); sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    val empty = px.isEmpty
    JpegStats(docId, w, h, px.length.toLong, sum,
      if (empty) 0 else mn, if (empty) 0 else mx, nEnt.toLong)
  }

  /** Batched decode of a JPEG payload column — same mapPartitions shape. */
  def decodeJpegStats(records: Dataset[MediaRecord]): Dataset[JpegStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.map(r => decodeJpeg(r.doc_id, r.payload)))
  }

  /** Decoded color-JPEG statistics: exact per-channel sums over the
    * RGB raster. */
  case class JpegColorStats(doc_id: Long, width: Int, height: Int,
      n_pixels: Long, r_sum: Long, g_sum: Long, b_sum: Long,
      n_entropy_bytes: Long)

  def decodeJpegColor(docId: Long, payload: Array[Byte]): JpegColorStats = {
    val (w, h, px, nEnt) = decodeJpegRgb(payload)
    var rs = 0L; var gs = 0L; var bs = 0L
    var i = 0
    while (i < px.length) {
      rs += (px(i) >> 16) & 0xFF; gs += (px(i) >> 8) & 0xFF
      bs += px(i) & 0xFF
      i += 1
    }
    JpegColorStats(docId, w, h, px.length.toLong, rs, gs, bs, nEnt.toLong)
  }

  /** Batched color decode — same mapPartitions shape. */
  def decodeJpegColorStats(records: Dataset[MediaRecord])
      : Dataset[JpegColorStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it =>
      it.map(r => decodeJpegColor(r.doc_id, r.payload)))
  }

  /** Average-hash of a decoded raster — the format-independent kernel
    * under [[averageHashPgm]], so JPEG/PNG/GIF rasters hash through the
    * SAME 64-bit contract and re-encoded copies collide across formats. */
  def averageHashRaster(docId: Long, w: Int, h: Int, raster: Array[Int])
      : ImageHash = {
    val px = new Array[Long](64)
    var k = 0
    var sum = 0L
    while (k < 64) {
      val (x, y) = (k % 8, k / 8)
      px(k) = raster((y.toLong * h / 8).toInt * w + (x.toLong * w / 8).toInt)
      sum += px(k); k += 1
    }
    val mean = sum / 64
    var (lo, hi, ones) = (0L, 0L, 0L)
    k = 0
    while (k < 64) {
      if (px(k) > mean) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        ones += 1
      }
      k += 1
    }
    ImageHash(docId, lo, hi, ones)
  }

  /** Average-hash a JPEG payload via the shared raster kernel. */
  def averageHashJpeg(docId: Long, payload: Array[Byte]): ImageHash = {
    val (w, h, px, _) = decodeJpegRaster(payload)
    averageHashRaster(docId, w, h, px)
  }

  /** cos((2x+1)·u·π/64) for the 32-point DCT the perceptual hash reads
    * — the N=32 sibling of the codec's 8-point [[DctCos]] table. */
  private val DctCos32: Array[Array[Double]] = Array.tabulate(32, 32) {
    (x, u) => math.cos((2 * x + 1) * u * math.Pi / 64)
  }

  /** DCT perceptual hash of a decoded raster — the classic pHash, and
    * the LOSSY-TOLERANT sibling of [[averageHashRaster]] (which only
    * collides when the decoded raster is bit-identical). Pipeline:
    * box-average the raster onto a 32×32 grid, 2-D DCT-II (the same
    * transform family as the JPEG codec's FDCT, at N=32), keep the
    * top-left 8×8 coefficient block (the low-frequency mass), and set
    * bit k (k = 1..63) when coefficient k exceeds the MEDIAN of the 63
    * AC coefficients; bit 0 (DC = overall brightness) is always 0, so
    * the hash is brightness-offset-tolerant and exactly 31/32 ones by
    * construction of the median split. Requantization noise (the same
    * image saved at two JPEG qualities) perturbs pixels but barely
    * moves low-frequency DCT mass, so re-encoded copies land within a
    * small Hamming distance — the property the requant dedup gate
    * certifies. Scale shape: one O(32²·8·2·32) kernel per image, no
    * shuffle; pairing happens downstream on 16-bit band keys. */
  def dctHashRaster(docId: Long, w: Int, h: Int, raster: Array[Int])
      : ImageHash = {
    require(w > 0 && h > 0 && raster.length >= w * h,
      s"phash: bad raster ${w}x$h (${raster.length} px) of doc $docId")
    // box-average onto 32×32: cell (gx, gy) averages the half-open
    // pixel window [gx·w/32, (gx+1)·w/32) × [gy·h/32, (gy+1)·h/32)
    // (windows clamp to ≥1 px, so small rasters sample-replicate)
    val g = new Array[Double](32 * 32)
    var gy = 0
    while (gy < 32) {
      val y0 = (gy.toLong * h / 32).toInt
      val y1 = math.max(((gy + 1).toLong * h / 32).toInt, y0 + 1)
      var gx = 0
      while (gx < 32) {
        val x0 = (gx.toLong * w / 32).toInt
        val x1 = math.max(((gx + 1).toLong * w / 32).toInt, x0 + 1)
        var s = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) { s += raster(y * w + x); x += 1 }
          y += 1
        }
        val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
        g(gy * 32 + gx) = s.toDouble / n
        gx += 1
      }
      gy += 1
    }
    // separable DCT-II, only the u,v < 8 corner is ever read:
    // rows first (32 rows × 8 frequencies), then columns (8×8)
    val rows = new Array[Double](32 * 8)
    var y = 0
    while (y < 32) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 32) { s += g(y * 32 + x) * DctCos32(x)(u); x += 1 }
        rows(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val coef = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 32) { s += rows(yy * 8 + u) * DctCos32(yy)(v); yy += 1 }
        // snap float dust to exact 0 — analytically-zero coefficients
        // (flat regions) otherwise land at ±1e-13 and the median split
        // below would set ARBITRARY bits on a featureless image; real
        // signal is O(10²⁺), so 1e-6 only catches the dust
        coef(v * 8 + u) = if (math.abs(s) < 1e-6) 0.0 else s
        u += 1
      }
      v += 1
    }
    // median of the 63 ACs (DC excluded: brightness invariance)
    val acs = java.util.Arrays.copyOfRange(coef, 1, 64)
    java.util.Arrays.sort(acs)
    val median = (acs(30) + acs(31)) / 2
    var (lo, hi, ones) = (0L, 0L, 0L)
    var k = 1
    while (k < 64) {
      if (coef(k) > median) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        ones += 1
      }
      k += 1
    }
    ImageHash(docId, lo, hi, ones)
  }

  /** DCT-hash a JPEG payload via the shared raster kernel. */
  def dctHashJpeg(docId: Long, payload: Array[Byte]): ImageHash = {
    val (w, h, px, _) = decodeJpegRaster(payload)
    dctHashRaster(docId, w, h, px)
  }

  /** DCT-hash a PNG payload via the shared raster kernel. */
  def dctHashPng(docId: Long, payload: Array[Byte]): ImageHash = {
    val (w, h, px, _) = decodePngRaster(payload)
    dctHashRaster(docId, w, h, px)
  }

  /** DCT-hash a PGM payload via the shared raster kernel. */
  def dctHashPgm(docId: Long, payload: Array[Byte]): ImageHash = {
    val (w0, h0, _, off) = parsePgmHeader(payload, docId)
    val px = new Array[Int](w0 * h0)
    var i = 0
    while (i < px.length) { px(i) = payload(off + i) & 0xFF; i += 1 }
    dctHashRaster(docId, w0, h0, px)
  }

  /** DCT-hash a (grayscale-palette) GIF payload via the shared raster
    * kernel. */
  def dctHashGif(docId: Long, payload: Array[Byte]): ImageHash = {
    val (w, h, px) = gifGrayRaster(docId, payload)
    dctHashRaster(docId, w, h, px)
  }

  // ---------------------------------------------------------------------
  // Media-type sniffing + dispatch (corpus intake front door)
  // ---------------------------------------------------------------------

  /** Magic-byte media-type detection — the FIRST pass a multimodal
    * intake runs over a blob column whose extensions/content-types are
    * untrusted (they always are). Returns a stable type tag or
    * "unknown"; never throws on short/garbage payloads. RIFF payloads
    * are sub-typed by the form fourcc (WAVE/AVI ); MPEG audio requires
    * a full valid MPEG-1 header, not just two sync bytes, so random
    * 0xFF runs don't misclassify. */
  def sniffMediaType(payload: Array[Byte]): String = {
    def at(i: Int): Int = payload(i) & 0xFF
    if (payload.length < 4) "unknown"
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G')
      "image/png"
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8')
      "image/gif"
    else if (at(0) == 0xFF && at(1) == 0xD8) "image/jpeg"
    else if (at(0) == 'P' && at(1) == 'K' && at(2) == 0x03 && at(3) == 0x04)
      "application/zip"
    else if (at(0) == 'P' && at(1) == '5') "image/x-pgm"
    else if (at(0) == 'f' && at(1) == 'L' && at(2) == 'a' && at(3) == 'C')
      "audio/flac"
    else if (at(0) == 0x1F && at(1) == 0x8B) "application/gzip"
    else if ((at(0) == 'I' && at(1) == 'I' && at(2) == 42 && at(3) == 0) ||
        (at(0) == 'M' && at(1) == 'M' && at(2) == 0 && at(3) == 42))
      "image/tiff" // standalone TIFF (r15): II*\0 / MM\0*
    else if (payload.length >= 12 && at(0) == 'R' && at(1) == 'I' &&
        at(2) == 'F' && at(3) == 'F') {
      new String(payload, 8, 4, "US-ASCII") match {
        case "WAVE" => "audio/wav"
        case "AVI " => "video/avi"
        case _ => "unknown"
      }
    } else if (payload.length >= 512 && at(257) == 'u' && at(258) == 's' &&
        at(259) == 't' && at(260) == 'a' && at(261) == 'r')
      "application/x-tar"
    else if (at(0) == 'I' && at(1) == 'D' && at(2) == '3')
      "audio/mpeg" // ID3v2-tagged MPEG audio (the common crawl shape)
    else if (at(0) == 0xFF && (at(1) & 0xE0) == 0xE0 &&
        (try { MpegAudio.parseHeader(payload, 0, -1L); true }
         catch { case _: IllegalArgumentException => false }))
      "audio/mpeg"
    else "unknown"
  }

  /** Sniff-and-dispatch: detect the type, route through the matching
    * decoder, and return one UNIFIED census row per blob — media_type,
    * payload size, and the type's natural unit count (pixels for
    * stills, frames×pixels for video, samples for audio, bytes for
    * gzip'd text). Unknown payloads are COUNTED, not thrown: at intake
    * the junk rate is a metric, not an error. Decode FAILURES on a
    * recognized type still throw — a payload that lies about being a
    * PNG is corruption, not junk. */
  case class MediaSniff(doc_id: Long, media_type: String, n_bytes: Long,
      n_units: Long)

  def sniffStats(records: Dataset[MediaRecord]): Dataset[MediaSniff] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.map { r =>
      val t = sniffMediaType(r.payload)
      val units: Long = t match {
        case "image/png" =>
          // the COLOR decode entry (r15): a crawl PNG of any carried
          // color type / depth censuses its pixels — the gray-only
          // raster path would refuse color payloads here
          val (w, h, _, _) = decodePngRgb(r.doc_id, r.payload)
          w.toLong * h
        case "image/gif" =>
          decodeGifFrames(r.doc_id, r.payload)
            .map(f => f.width.toLong * f.height).sum
        case "image/jpeg" =>
          val (w, h, _, _) = decodeJpegRaster(r.payload); w.toLong * h
        case "image/x-pgm" =>
          val (w, h, _, _) = parsePgmHeader(r.payload, r.doc_id)
          w.toLong * h
        case "application/gzip" => gunzip(r.payload).length.toLong
        case "image/tiff" =>
          val t2 = Tiff.decodeTiff(r.doc_id, r.payload)
          t2.width.toLong * t2.height
        case "application/zip" =>
          decodeZipEntries(r.doc_id, r.payload).map(_._3.length.toLong).sum
        case "application/x-tar" =>
          decodeTarEntries(r.doc_id, r.payload).map(_._2.length.toLong).sum
        case "audio/wav" => decodeWav(r.doc_id, r.payload).n_samples
        case "audio/flac" =>
          val (_, chans) = Flac.decodeFlac(r.doc_id, r.payload)
          chans.map(_.length.toLong).sum
        case "video/avi" =>
          decodeAviFrames(r.doc_id, r.payload)
            .map(f => f.width.toLong * f.height).sum
        case "audio/mpeg" =>
          // intake census strips ID3 tags / Xing first frame so tagged
          // crawl files count their AUDIO samples, like bare streams
          MpegAudio.mp3IntakeCensus(r.doc_id, r.payload).nSamples
        case _ => 0L
      }
      MediaSniff(r.doc_id, t, r.payload.length.toLong, units)
    })
  }

  /** Average-hash a PNG payload via the shared raster kernel. */
  def averageHashPng(docId: Long, payload: Array[Byte]): ImageHash = {
    val (w, h, px, _) = decodePngRaster(payload)
    averageHashRaster(docId, w, h, px)
  }

  /** Average-hash a (grayscale-palette) GIF payload via the shared
    * raster kernel. */
  def averageHashGif(docId: Long, payload: Array[Byte]): ImageHash = {
    val (w, h, px) = gifGrayRaster(docId, payload)
    averageHashRaster(docId, w, h, px)
  }
}
