package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRecord

/** X5 — multimodal plumbing: schema, batching shape, and the stub
  * kernels' VALUES (the oracle only gates doc_id/n_bytes/fmt plumbing and
  * the feature width; the numbers are pinned here). */
class MultimodalSpec extends AnyFunSuite with SparkTestBase {
  import Multimodal._

  private def records(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    packBinary(rows.toDF("doc_id", "text"), "doc_id", "text", lang = "text", fmt = "text/plain")
      .withColumn("lang", lit("en")).as[MediaRecord]
  }

  test("extractFeatures: width, byte count, and exact stub values") {
    val s = spark; import s.implicits._
    val out = extractFeatures(records((1L, "abcdefghij"), (2L, ""))).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).n_bytes == 10L && out(1L).fmt == "text/plain")
    assert(out(1L).feature.length == stubFeatureDim)
    // "abcdefghij": slot j sums bytes at positions j, j+8, ... then /n.
    // slot 0 = ('a' + 'i')/255/10; slot 2..7 = single byte /255/10.
    val b = "abcdefghij".getBytes("UTF-8").map(_ & 0xFF)
    val expect = Array.tabulate(stubFeatureDim) { j =>
      (b.indices.filter(_ % stubFeatureDim == j).map(b(_) / 255.0f).sum / 10).toFloat
    }
    out(1L).feature.zip(expect).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-6f)
    }
    // empty payload: defined, all-zero vector (no div-by-zero)
    assert(out(2L).n_bytes == 0L && out(2L).feature.forall(_ == 0.0f))
  }

  test("resizePayloads keeps every factor-th byte, ceil length") {
    val s = spark; import s.implicits._
    val out = resizePayloads(records((1L, "abcdefghij")), factor = 4).collect().head
    assert(new String(out.payload, "UTF-8") == "aei") // ceil(10/4)=3: bytes 0,4,8
  }

  test("sampleFrames cuts frames and strides") {
    val s = spark; import s.implicits._
    val df = records((1L, "abcdefghij")).toDF()
    val frames = df.select(sampleFrames(col("payload"), frameBytes = 3, stride = 2).as("f"))
      .selectExpr("transform(f, x -> decode(x, 'UTF-8')) AS f")
      .as[Seq[String]].collect().head
    // frames of 3 bytes: abc, def, ghi, j — keep every 2nd: abc, ghi
    assert(frames == Seq("abc", "ghi"))
  }

  test("PGM decode: round trip, netpbm comment headers, truncation error") {
    // 3×2, pixels 10..15: stats by hand
    val p = encodePgm(3, 2, 255, i => 10 + i)
    val st = decodePgm(7L, p)
    assert(st == PgmStats(7L, 3, 2, 255, 6L, 75L, 10, 15))
    // a header with # comment lines (the formula gate never emits them)
    val commented = ("P5\n# made by hand\n3 2\n# maxval next\n255\n"
      .getBytes("US-ASCII") ++ p.drop(p.length - 6))
    assert(decodePgm(8L, commented) == st.copy(doc_id = 8L))
    // truncated raster fails loudly, not with garbage stats
    val e = intercept[IllegalArgumentException](decodePgm(9L, p.dropRight(1)))
    assert(e.getMessage.contains("truncated"))
    // non-PGM magic rejected
    intercept[IllegalArgumentException](decodePgm(9L, "JFIF".getBytes))
  }

  test("PGM resize: NN mapping by hand; identity resize preserves the raster") {
    // 4×2 source, pixel(i) = i: resize to 2×1 samples (0·4/2 + 0, 0·4/2 + 2) = px 0, 2
    val src = encodePgm(4, 2, 255, i => i)
    val half = decodePgm(1L, resizePgm(src, 2, 1))
    assert(half.width == 2 && half.height == 1 && half.px_sum == 0L + 2L)
    // identity resize: bit-equal payload (NN at same dims maps i -> i)
    assert(java.util.Arrays.equals(resizePgm(src, 4, 2), src))
    // upscale 4×2 → 8×2: each source pixel sampled twice per row
    val up = decodePgm(1L, resizePgm(src, 8, 2))
    assert(up.n_pixels == 16L && up.px_sum == 2L * (0 until 8).sum)
  }

  test("WAV decode: hand stats, unknown chunk skipped, non-PCM rejected") {
    // samples −3, 4, −5: Σ|s| = 12, peak 5; rate 8000 → 3 samples = 375 µs
    val w = encodeWav(8000, Seq(-3, 4, -5)(_), 3)
    assert(decodeWav(1L, w) == WavStats(1L, 8000, 3L, 375L, 12L, 5))
    // an extra chunk between fmt and data must be skipped, not parsed
    val (head, data) = w.splitAt(36)
    val extra = head ++ "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII") ++ data
    assert(decodeWav(2L, extra) == WavStats(2L, 8000, 3L, 375L, 12L, 5))
    // compressed (non-PCM audioFormat) rejected loudly
    val nonPcm = w.clone(); nonPcm(20) = 2 // audioFormat field
    val e = intercept[IllegalArgumentException](decodeWav(3L, nonPcm))
    assert(e.getMessage.contains("not PCM"))
  }

  test("WAV LIST/INFO tags (round 12): NUL-terminated word-aligned " +
      "subchunks round-trip (odd and even text lengths), the tagged " +
      "stream still decodes, untagged streams have no tags") {
    val tags = Seq("INAM" -> "A Title", "IART" -> "Someone",
      "ICRD" -> "2005") // 7(odd→pad), 7, 4 — both alignments hit
    val w = encodeWav(44100, Seq(1, -2, 3, -4)(_), 4, tags = tags)
    assert(readWavInfo(5L, w) == tags)
    assert(decodeWav(5L, w) == WavStats(5L, 44100, 4L,
      4L * 1000000L / 44100L, 10L, 4))
    assert(readWavInfo(6L, encodeWav(8000, Seq(1)(_), 1)).isEmpty)
    assert(sniffMediaType(w) == "audio/wav")
  }

  test("WAV RIFF word alignment: an odd-sized foreign chunk before " +
      "LIST/data carries a pad byte — both walks skip it and stay in " +
      "sync; a chunk size overrunning the payload fails loudly") {
    val tags = Seq("INAM" -> "T")
    val base = encodeWav(44100, Seq(1, -2, 3, -4)(_), 4, tags = tags)
    // splice `junk` (size 5, odd -> 1 pad byte) right after "WAVE"
    val junk = java.nio.ByteBuffer.allocate(8 + 5 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    junk.put("junk".getBytes("US-ASCII")).putInt(5)
      .put(Array[Byte](9, 8, 7, 6, 5)).put(0.toByte)
    val spliced = java.nio.ByteBuffer
      .allocate(base.length + junk.capacity())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    spliced.put(base, 0, 12).put(junk.array())
      .put(base, 12, base.length - 12)
    val w = spliced.array()
    // fix the RIFF size field (bytes 4-7) to cover the spliced chunk
    java.nio.ByteBuffer.wrap(w).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, w.length - 8)
    assert(readWavInfo(7L, w) == tags)
    assert(decodeWav(7L, w) == WavStats(7L, 44100, 4L,
      4L * 1000000L / 44100L, 10L, 4))
    // a foreign chunk whose size overruns the payload is loud, not a
    // silent desync
    val bad = w.clone()
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, 1 << 20) // junk chunk size -> 1 MiB
    val e = intercept[IllegalArgumentException](readWavInfo(8L, bad))
    assert(e.getMessage.contains("overruns payload"))
    val e2 = intercept[IllegalArgumentException](decodeWav(8L, bad))
    assert(e2.getMessage.contains("overruns payload"))
  }

  test("PNG tEXt + GIF comment metadata (r13): tags round-trip with " +
      "correct CRCs / sub-block grammar, the tagged streams still " +
      "decode to the same raster, untagged streams have no tags") {
    val pix = (i: Int) => (i * 11) % 256
    // PNG: odd+even text lengths, CRC-checked by the reader
    val tags = Seq("Title" -> "A Graft Image", "Author" -> "someone")
    val png = encodePng(16, 8, 8, 0, packedSample(0, pix))
    val tagged = insertPngText(png, tags)
    assert(readPngText(1L, tagged) == tags)
    assert(readPngText(2L, png).isEmpty)
    val (w0, h0, r0, _) = decodePngRaster(png)
    val (w1, h1, r1, _) = decodePngRaster(tagged)
    assert(w0 == w1 && h0 == h1 && r0.sameElements(r1))
    // corrupt the tEXt CRC: loud, not silent
    val bad = tagged.clone(); bad(41) = (bad(41) ^ 1).toByte
    intercept[IllegalArgumentException](readPngText(3L, bad))
    // GIF: comment extension before the image, incl. a >255-byte text
    // that must split into sub-blocks
    val gif = encodeGif(12, 6, 4, i => pix(i) % 16)
    val long = "x" * 300
    val gtag = insertGifComment(insertGifComment(gif, "hello crawl"), long)
    assert(readGifComments(4L, gtag) == Seq(long, "hello crawl"))
    assert(readGifComments(5L, gif).isEmpty)
    val f0 = decodeGifFrame(6L, gif)
    val f1 = decodeGifFrame(7L, gtag)
    assert(f0.raster.sameElements(f1.raster))
  }

  test("GIF decode: hand-assembled LZW byte vector (decoder pinned independently of the encoder)") {
    // 3×1 image, pixels [1,1,2], 4-color palette, min code size 2:
    // codes CLEAR(4) 1 1 2 EOI(5) at 3 bits LSB-first = bytes 4C 54.
    // Hand-packed so a shared encoder/decoder bug cannot cancel out.
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val handmade =
      "GIF89a".getBytes("US-ASCII") ++
      b(3, 0, 1, 0, 0x91, 0, 0) ++                 // LSD: 3×1, GCT 4 entries
      b(0, 0, 0, 0x55, 0x55, 0x55, 0xAA, 0xAA, 0xAA, 0xFF, 0xFF, 0xFF) ++
      b(0x2C, 0, 0, 0, 0, 3, 0, 1, 0, 0) ++        // image descriptor
      b(2) ++                                      // LZW min code size
      b(2, 0x4C, 0x54) ++                          // one 2-byte sub-block
      b(0, 0x3B)                                   // terminator, trailer
    val f = decodeGifFrame(1L, handmade)
    assert(f.width == 3 && f.height == 1 && f.nColors == 4)
    assert(f.raster.toSeq == Seq(1, 1, 2))
    // the encoder must produce these exact bytes from the same raster —
    // pinning BOTH directions to the spec's bit layout
    assert(java.util.Arrays.equals(encodeGif(3, 1, 2, Seq(1, 1, 2)(_)), handmade))
    // an extension block (e.g. graphic control) before the image
    // descriptor must be skipped, not parsed as raster
    val withExt =
      handmade.take(25) ++ b(0x21, 0xF9, 4, 0, 0, 0, 0, 0) ++ handmade.drop(25)
    assert(decodeGifFrame(2L, withExt).raster.toSeq == Seq(1, 1, 2))
  }

  test("PNG decode: hand-assembled stored-DEFLATE vector pins every filter type independently of the encoder") {
    // 3×5 grayscale image, one row per filter type. Filtered bytes are
    // hand-computed (Paeth predictions worked out in the comments of the
    // raster below); the zlib stream is a STORED block (BTYPE=00), so
    // the decoder's inflate+unfilter path is pinned with no Deflater in
    // the loop.
    val expected = Seq(
      10, 20, 30, // row0 None
      5, 15, 25, // row1 Sub:    filtered 5,10,10
      6, 18, 26, // row2 Up:      filtered 1,3,1
      8, 20, 30, // row3 Average: filtered 5,7,7
      12, 22, 32) // row4 Paeth:  filtered 4,2,2 (predictor = above each time)
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val raw = b(0, 10, 20, 30, 1, 5, 10, 10, 2, 1, 3, 1, 3, 5, 7, 7, 4, 4, 2, 2)
    val adler = { val a = new java.util.zip.Adler32; a.update(raw); a.getValue }
    val idat = b(0x78, 0x01, 0x01, 20, 0, 0xEB, 0xFF) ++ raw ++
      b(((adler >> 24) & 0xFF).toInt, ((adler >> 16) & 0xFF).toInt,
        ((adler >> 8) & 0xFF).toInt, (adler & 0xFF).toInt)
    def be32(v: Long): Array[Byte] = b(((v >> 24) & 0xFF).toInt,
      ((v >> 16) & 0xFF).toInt, ((v >> 8) & 0xFF).toInt, (v & 0xFF).toInt)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val td = typ.getBytes("US-ASCII") ++ data
      val c = new java.util.zip.CRC32; c.update(td)
      be32(data.length.toLong) ++ td ++ be32(c.getValue)
    }
    val sig = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    val ihdr = be32(3) ++ be32(5) ++ b(8, 0, 0, 0, 0)
    val handmade = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
    val (w, h, px, nIdat) = decodePngRaster(handmade)
    assert(w == 3 && h == 5 && nIdat == idat.length)
    assert(px.toSeq == expected)
    // stats form
    assert(decodePng(4L, handmade) ==
      PngStats(4L, 3, 5, 8, 15L, expected.sum.toLong, 5, 32, idat.length.toLong))
    // an ancillary chunk between IHDR and IDAT must be skipped
    val withText = sig ++ chunk("IHDR", ihdr) ++
      chunk("tEXt", "k\u0000v".getBytes("US-ASCII")) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
    assert(decodePngRaster(withText)._3.toSeq == expected)
    // IDAT split across two chunks must concatenate
    val (i1, i2) = idat.splitAt(9)
    val split = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", i1) ++
      chunk("IDAT", i2) ++ chunk("IEND", Array.emptyByteArray)
    assert(decodePngRaster(split)._3.toSeq == expected)
    // corrupted IDAT byte → CRC failure, loud, never garbage pixels
    val bad = handmade.clone()
    val idatDataOff = sig.length + (12 + 13) + 8 + 3
    bad(idatDataOff) = (bad(idatDataOff) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](decodePngRaster(bad))
    assert(e.getMessage.contains("CRC"))
    // bad signature / truncation rejected
    intercept[IllegalArgumentException](decodePngRaster("JFIF1234".getBytes))
    intercept[IllegalArgumentException](decodePngRaster(handmade.dropRight(6)))
    // an ILLEGAL depth×type cell (palette at 16-bit, RFC 2083 §4.1.1)
    // fails at the IHDR by name — the r14 type-4 boundary is GONE
    // (gray+alpha decodes since r15; see the depth-matrix battery)
    val badIhdr = be32(3) ++ be32(5) ++ b(16, 3, 0, 0, 0)
    val badCell = sig ++ chunk("IHDR", badIhdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
    val e2 = intercept[IllegalArgumentException](decodePngRaster(badCell))
    assert(e2.getMessage.contains("not legal for color type"))
  }

  test("PNG round trip + cross-check against the JDK's ImageIO codec, both directions") {
    val rng = new scala.util.Random(177)
    // noise and structured rasters, heights ≥ 5 so the cycling encoder
    // exercises every filter; plus 1×1 and single-row edge shapes
    for ((w, h) <- Seq((23, 9), (64, 64), (1, 1), (7, 1), (1, 7))) {
      val px = Array.fill(w * h)(rng.nextInt(256))
      val enc = encodePng(w, h, 8, 0, packedSample(0, px(_)))
      val (dw, dh, dec, _) = decodePngRaster(enc)
      assert(dw == w && dh == h && dec.toSeq == px.toSeq, s"round trip ${w}x$h")
      // independent reference decoder: javax.imageio must read our bytes
      // to the same pixels
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
      assert(img.getWidth == w && img.getHeight == h)
      val viaJdk = for (y <- 0 until h; x <- 0 until w)
        yield img.getRaster.getSample(x, y, 0)
      assert(viaJdk == px.toSeq, s"ImageIO disagrees on ${w}x$h")
    }
    // …and our decoder must read the JDK ENCODER's output (independent
    // writer: filters/zlib stream chosen by ImageIO, not by us)
    val w = 31; val h = 17
    val px = Array.tabulate(w * h)(i => (i * 7 + i / w * 3) % 256)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(y * w + x))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val (dw, dh, dec, _) = decodePngRaster(baos.toByteArray)
    assert(dw == w && dh == h && dec.toSeq == px.toSeq)
    // run-structured data must genuinely compress through DEFLATE
    val runs = Array.tabulate(100 * 100)(i => (i / 50) % 16)
    assert(decodePng(1L, encodePng(100, 100, 8, 0,
      packedSample(0, runs(_)))).n_idat_bytes < 10000L / 3)
  }

  test("GZIP: round trip bit-exact, genuine compression, corrupt stream fails loudly") {
    val rng = new scala.util.Random(7)
    val text = Array.fill(5000)(('a' + rng.nextInt(4)).toByte)
    val gz = gzipCompress(text)
    assert(java.util.Arrays.equals(gunzip(gz), text))
    assert(gz.length < text.length, "4-letter text must compress")
    // incompressible noise round-trips too (stored blocks)
    val noise = Array.fill(2048)(rng.nextInt(256).toByte)
    assert(java.util.Arrays.equals(gunzip(gzipCompress(noise)), noise))
    assert(gunzip(gzipCompress(Array.emptyByteArray)).isEmpty)
    // non-gzip and truncated payloads throw, never return partial text
    intercept[java.io.IOException](gunzip(text))
    intercept[java.io.IOException](gunzip(gz.take(4)))
  }

  test("GIF round trip: random rasters survive encode→decode bit-exactly, incl. the 12-bit dictionary cap") {
    val rng = new scala.util.Random(77)
    // small repetitive raster (dictionary stays narrow) …
    val small = Array.fill(500)(rng.nextInt(4))
    val smallGif = encodeGif(50, 10, 2, small(_))
    assert(decodeGifFrame(1L, smallGif).raster.toSeq == small.toSeq)
    // … and a large NOISE raster at 8 bpp: 40k random bytes push the
    // dictionary past 4096 entries, forcing the mid-stream CLEAR +
    // width reset path on both sides
    val noise = Array.fill(200 * 200)(rng.nextInt(256))
    val noiseGif = encodeGif(200, 200, 8, noise(_))
    assert(decodeGifFrame(2L, noiseGif).raster.toSeq == noise.toSeq)
    // run-length data must genuinely compress; noise must not explode
    val runs = Array.tabulate(10000)(i => (i / 50) % 16)
    val runsGif = encodeGif(100, 100, 4, runs(_))
    assert(decodeGif(3L, runsGif).n_code_bytes < 10000L / 3)
    // non-GIF payload rejected loudly
    intercept[IllegalArgumentException](decodeGifFrame(9L, "JFIF".getBytes))
  }

  test("averageHashPgm: hand bits on a half/half image, flat image all-zero, resize path") {
    import graft.ops.Multimodal._
    // 8×8, top 4 rows = 200, bottom 4 rows = 100: mean = 150 → bits
    // 0..31 set (top half), 32..63 clear; n_ones = 32
    val half = encodePgm(8, 8, 255, i => if (i < 32) 200 else 100)
    val h = averageHashPgm(1L, half)
    assert(h == ImageHash(1L, 0xFFFFFFFFL, 0L, 32L))
    // flat image: p > mean never true (STRICT) → all zeros
    assert(averageHashPgm(2L, encodePgm(8, 8, 255, _ => 77)) ==
      ImageHash(2L, 0L, 0L, 0L))
    // non-8×8 input goes through the NN mapping: a 16×16 blowup of the
    // same half/half pattern must hash identically
    val big = encodePgm(16, 16, 255, i => if (i / 16 < 8) 200 else 100)
    assert(averageHashPgm(3L, big).hash_lo == 0xFFFFFFFFL &&
      averageHashPgm(3L, big).hash_hi == 0L)
  }

  test("frameEnergy: exact per-frame mean-square, ragged tail, strict threshold") {
    import graft.ops.Multimodal._
    // 250 samples: frames of 100, 100, 50. Frame 0 all ±100 (ms =
    // 10000 — exactly AT the threshold: NOT silence, strict <);
    // frame 1 all 3 (ms = 9); frame 2 ragged, all 1000 (ms = 1e6)
    val wav = encodeWav(8000, i =>
      if (i < 100) { if (i % 2 == 0) 100 else -100 }
      else if (i < 200) 3 else 1000, 250)
    val fs = frameEnergy(7L, wav, 100, 10000L)
    assert(fs == Seq(
      AudioFrame(7L, 0L, 100L, 10000L, false),
      AudioFrame(7L, 1L, 100L, 9L, true),
      AudioFrame(7L, 2L, 50L, 1000000L, false)))
  }

  test("JPEG: block-constant raster round-trips bit-exactly through " +
      "the full FDCT/Huffman/IDCT chain") {
    import graft.ops.Multimodal._
    // 3×2 blocks of distinct constants — the DC diff chain crosses
    // every block; one Huffman slip anywhere scrambles all later DCs
    val (w, h) = (24, 16)
    def blockVal(i: Int): Int = {
      val (x, y) = (i % w, i / w)
      ((x / 8) * 97 + (y / 8) * 41 + 13) % 256
    }
    val jpg = encodeJpeg(w, h, blockVal)
    val (dw, dh, px, nEnt) = decodeJpegRaster(jpg)
    assert(dw == w && dh == h)
    assert(px.indices.forall(i => px(i) == blockVal(i)))
    assert(nEnt > 0 && nEnt < w * h) // transform coding genuinely ran
  }

  test("JPEG: non-multiple-of-8 dims crop correctly and edge blocks " +
      "stay exact under clamp padding") {
    import graft.ops.Multimodal._
    val (w, h) = (20, 11) // partial right and bottom blocks
    def blockVal(i: Int): Int = ((i % w) / 8 * 50 + (i / w) / 8 * 30 + 5) % 256
    val (dw, dh, px, _) = decodeJpegRaster(encodeJpeg(w, h, blockVal))
    assert(dw == w && dh == h && px.length == w * h)
    assert(px.indices.forall(i => px(i) == blockVal(i)))
  }

  test("JPEG: restart markers reset the DC predictor and decode " +
      "identically") {
    import graft.ops.Multimodal._
    val (w, h) = (40, 24) // 5×3 = 15 MCUs → RSTs at 4, 8, 12
    def blockVal(i: Int): Int = ((i % w) / 8 * 31 + (i / w) / 8 * 7) % 256
    val plain = encodeJpeg(w, h, blockVal)
    val rst = encodeJpeg(w, h, blockVal, restartInterval = 4)
    assert(rst.length > plain.length) // DRI + RST markers present
    val (_, _, px, _) = decodeJpegRaster(rst)
    assert(px.indices.forall(i => px(i) == blockVal(i)))
  }

  test("JPEG: decoder agrees with the JDK ImageIO reference on a " +
      "non-constant image (±1 IDCT tolerance)") {
    import graft.ops.Multimodal._
    val (w, h) = (37, 29)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until h).foreach(y => (0 until w).foreach { x =>
      val v = (x * x * 7 + y * 13 + x * y) % 256
      img.getRaster.setSample(x, y, 0, v)
    })
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val (dw, dh, px, _) = decodeJpegRaster(bytes) // foreign encoder!
    assert(dw == w && dh == h)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    (0 until h).foreach(y => (0 until w).foreach { x =>
      val d = math.abs(px(y * w + x) - ref.getRaster.getSample(x, y, 0))
      maxDiff = math.max(maxDiff, d)
    })
    assert(maxDiff <= 1, s"IDCT disagreement: max pixel diff $maxDiff")
  }

  test("JPEG: unsupported SOFs and multi-component frames fail loudly; " +
      "stats and cross-format hash agree with the PGM twin") {
    import graft.ops.Multimodal._
    // SOF3 (lossless) rejected by name
    def seg(m: Int, body: Array[Int]): Array[Byte] =
      (Array(0xFF, m, (body.length + 2) >>> 8, (body.length + 2) & 0xFF)
        ++ body).map(_.toByte)
    val sof3l = Array(0xFF, 0xD8).map(_.toByte) ++
      seg(0xC3, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    val e1 = intercept[IllegalArgumentException](decodeJpegRaster(sof3l))
    assert(e1.getMessage.contains("not supported"))
    // 3-component (color) frame rejected by name
    val sof3 = Array(0xFF, 0xD8).map(_.toByte) ++
      seg(0xC0, Array(8, 0, 8, 0, 8, 3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    val e2 = intercept[IllegalArgumentException](decodeJpegRaster(sof3))
    assert(e2.getMessage.contains("single-component"))
    // stats form + cross-format dedup: JPEG and PGM twins of the same
    // block-constant raster produce the same pixels, hence same hash
    val (w, h) = (16, 16)
    def blockVal(i: Int): Int = if ((i % w) / 8 == 0 && (i / w) / 8 == 0) 200 else 60
    val st = decodeJpeg(5L, encodeJpeg(w, h, blockVal))
    assert(st.width == 16 && st.height == 16 && st.n_pixels == 256L)
    assert(st.px_min == 60 && st.px_max == 200)
    assert(st.px_sum == 64L * 200 + 192L * 60)
    val hj = averageHashJpeg(5L, encodeJpeg(w, h, blockVal))
    val hp = averageHashPgm(5L, encodePgm(w, h, 255, blockVal))
    assert(hj == hp)
  }

  test("progressive JPEG: three-scan SA script round-trips " +
      "block-constant rasters bit-exactly, with and without restarts") {
    import graft.ops.Multimodal._
    val (w, h) = (24, 16)
    def blockVal(i: Int): Int = {
      val (x, y) = (i % w, i / w)
      ((x / 8) * 97 + (y / 8) * 41 + 13) % 256
    }
    val prog = encodeJpegProgressive(w, h, blockVal)
    val (dw, dh, px, nEnt) = decodeJpegRaster(prog)
    assert(dw == w && dh == h && nEnt > 0)
    assert(px.indices.forall(i => px(i) == blockVal(i)))
    // the sequential encode of the same raster decodes identically
    val (_, _, px2, _) = decodeJpegRaster(encodeJpeg(w, h, blockVal))
    assert(px.sameElements(px2))
    // restart markers inside every scan (DC first/refine + AC band)
    val rst = encodeJpegProgressive(w, h, blockVal, restartInterval = 2)
    assert(rst.length > prog.length)
    val (_, _, px3, _) = decodeJpegRaster(rst)
    assert(px3.sameElements(px2))
    // non-multiple-of-8 dims through the progressive path
    def bv2(i: Int): Int = ((i % 20) / 8 * 50 + (i / 20) / 8 * 30 + 5) % 256
    val (pw, ph, px4, _) = decodeJpegRaster(encodeJpegProgressive(20, 11, bv2))
    assert(pw == 20 && ph == 11)
    assert(px4.indices.forall(i => px4(i) == bv2(i)))
  }

  test("progressive JPEG: decoder agrees with ImageIO's own progressive " +
      "output (AC refinement + EOB runs from a foreign encoder)") {
    import graft.ops.Multimodal._
    import javax.imageio._
    val (w, h) = (37, 29)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until h).foreach(y => (0 until w).foreach { x =>
      img.getRaster.setSample(x, y, 0, (x * x * 7 + y * 13 + x * y) % 256)
    })
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    val bytes = bos.toByteArray
    // confirm the payload really is progressive (SOF2 present)
    assert(bytes.sliding(2).exists(p =>
      (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xC2))
    val (dw, dh, px, _) = decodeJpegRaster(bytes)
    assert(dw == w && dh == h)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    (0 until h).foreach(y => (0 until w).foreach { x =>
      maxDiff = math.max(maxDiff,
        math.abs(px(y * w + x) - ref.getRaster.getSample(x, y, 0)))
    })
    assert(maxDiff <= 1, s"progressive disagreement: max diff $maxDiff")
    // and a COLOR progressive payload through the RGB path
    val cimg = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach(y => (0 until 32).foreach { x =>
      val mx = x / 16; val my = y / 16
      cimg.setRGB(x, y, ((50 + mx * 120) << 16) | ((80 + my * 90) << 8) |
        (210 - mx * 60 - my * 40))
    })
    val writer2 = ImageIO.getImageWritersByFormatName("jpg").next()
    val param2 = writer2.getDefaultWriteParam
    param2.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val bos2 = new java.io.ByteArrayOutputStream()
    val ios2 = ImageIO.createImageOutputStream(bos2)
    writer2.setOutput(ios2)
    writer2.write(null, new IIOImage(cimg, null, null), param2)
    ios2.close(); writer2.dispose()
    val cbytes = bos2.toByteArray
    val (cw2, ch2, cpx, _) = decodeJpegRgb(cbytes)
    assert(cw2 == 32 && ch2 == 32)
    val cref = ImageIO.read(new java.io.ByteArrayInputStream(cbytes))
    def nearEdge(t: Int): Boolean = (t % 16) < 2 || (t % 16) >= 14
    var cMax = 0
    (0 until 32).foreach(y => (0 until 32).foreach { x =>
      if (!nearEdge(x) && !nearEdge(y)) {
        val e = cref.getRGB(x, y); val g = cpx(y * 32 + x)
        Seq(16, 8, 0).foreach { sh =>
          cMax = math.max(cMax,
            math.abs(((e >> sh) & 0xFF) - ((g >> sh) & 0xFF)))
        }
      }
    })
    assert(cMax <= 3, s"color progressive disagreement: max diff $cMax")
  }

  test("color JPEG: gray content through the 3-component 4:2:0 pipeline " +
      "is bit-exact; colored MCUs round-trip within fixed-point tolerance") {
    import graft.ops.Multimodal._
    // per-MCU-constant GRAY (r=g=b): forward conversion yields exactly
    // (Y=v, Cb=Cr=128), every block is DC-only, decode is bit-exact
    val (w, h) = (32, 48) // 2×3 MCUs at 4:2:0
    def grayVal(i: Int): Int = {
      val mx = (i % w) / 16; val my = (i / w) / 16
      (37 + mx * 81 + my * 57) % 256
    }
    val jpg = encodeJpegColor(w, h, i => {
      val v = grayVal(i); (v << 16) | (v << 8) | v
    })
    val (dw, dh, px, nEnt) = decodeJpegRgb(jpg)
    assert(dw == w && dh == h && nEnt > 0)
    assert(px.indices.forall { i =>
      val v = grayVal(i); px(i) == ((v << 16) | (v << 8) | v)
    })
    // per-MCU-constant COLOR: Y/Cb/Cr planes reconstruct exactly, so
    // the only loss is the forward+inverse fixed-point color transform
    // — bounded at ±2 per channel
    def colorVal(i: Int): Int = {
      val mx = (i % w) / 16; val my = (i / w) / 16
      (((30 + mx * 90) % 256) << 16) | (((60 + my * 70) % 256) << 8) |
        ((200 - mx * 40 - my * 30 + 512) % 256)
    }
    val cjpg = encodeJpegColor(w, h, colorVal, restartInterval = 2)
    val (_, _, cpx, _) = decodeJpegRgb(cjpg)
    cpx.indices.foreach { i =>
      val e = colorVal(i); val g = cpx(i)
      Seq(16, 8, 0).foreach { sh =>
        val d = math.abs(((e >> sh) & 0xFF) - ((g >> sh) & 0xFF))
        assert(d <= 2, s"pixel $i shift $sh: diff $d")
      }
    }
    // 4:4:4 path decodes the same gray fixture exactly too
    val j444 = encodeJpegColor(w, h, i => {
      val v = grayVal(i); (v << 16) | (v << 8) | v
    }, subsample = 1)
    val (_, _, p444, _) = decodeJpegRgb(j444)
    assert(p444.indices.forall { i =>
      val v = grayVal(i); p444(i) == ((v << 16) | (v << 8) | v)
    })
    // grayscale JPEGs pass through decodeJpegRgb as replicated luma
    val gj = encodeJpeg(16, 16, i => 99)
    val (_, _, gp, _) = decodeJpegRgb(gj)
    assert(gp.forall(_ == 0x636363))
  }

  test("color JPEG: decoder agrees with the JDK ImageIO reference on a " +
      "foreign-encoded color image") {
    import graft.ops.Multimodal._
    val (w, h) = (32, 32) // whole MCUs, flat color per MCU
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach { x =>
      val mx = x / 16; val my = y / 16
      img.setRGB(x, y, ((50 + mx * 120) << 16) | ((80 + my * 90) << 8) |
        (210 - mx * 60 - my * 40))
    })
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val (dw, dh, px, _) = decodeJpegRgb(bytes)
    assert(dw == w && dh == h)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    // ImageIO's reader interpolates chroma across sample boundaries
    // ("fancy upsampling") while this decoder replicates — a legal
    // T.81 difference that only shows WHERE CHROMA CHANGES, so compare
    // away from the planted 16-px color edges and require near-exact
    // agreement there
    def nearEdge(t: Int): Boolean = (t % 16) < 2 || (t % 16) >= 14
    var maxDiff = 0
    var compared = 0
    (0 until h).foreach(y => (0 until w).foreach { x =>
      if (!nearEdge(x) && !nearEdge(y)) {
        compared += 1
        val e = ref.getRGB(x, y); val g = px(y * w + x)
        Seq(16, 8, 0).foreach { sh =>
          maxDiff = math.max(maxDiff,
            math.abs(((e >> sh) & 0xFF) - ((g >> sh) & 0xFF)))
        }
      }
    })
    assert(compared >= w * h / 2)
    assert(maxDiff <= 3, s"color disagreement vs ImageIO: max diff $maxDiff")
  }

  test("audio: exact spectral anchors and decimation resample by hand") {
    import graft.ops.Multimodal._
    // 4 samples: 100, -50, 30, -80
    val wav = encodeWav(8000, Seq(100, -50, 30, -80), 4)
    val sp = audioSpectral(9L, wav)
    assert(sp == AudioSpectral(9L, 4L, 0L, 260L,
      100L * 100 + 50 * 50 + 30 * 30 + 80 * 80))
    // decimate by 2: keeps samples 0 and 2 (100, 30), rate halves
    val half = resampleWavDecimate(9L, wav, 2)
    val st = decodeWav(9L, half)
    assert(st.sample_rate == 4000 && st.n_samples == 2L)
    assert(st.sum_abs == 130L && st.peak == 100)
    // odd count: ceil keeps the ragged head sample
    val wav5 = encodeWav(8000, Seq(1, 2, 3, 4, 5), 5)
    assert(decodeWav(9L, resampleWavDecimate(9L, wav5, 2)).n_samples == 3L)
    // factor 1 is the identity
    assert(decodeWav(9L, resampleWavDecimate(9L, wav, 1)).sum_abs ==
      decodeWav(9L, wav).sum_abs)
  }

  test("animated GIF: multi-frame decode recovers geometry, delays, and " +
      "every frame's raster; still GIFs read as one delay-0 frame") {
    import graft.ops.Multimodal._
    // two frames: full-screen then an offset sub-rectangle
    val f0 = (i: Int) => (i / 5) % 16
    val f1 = (i: Int) => (i * 3 + 1) % 16
    val anim = encodeGifAnimated(20, 12, 4, Seq(
      (0, 0, 20, 12, 10, f0),
      (4, 2, 8, 8, 25, f1)))
    val frames = decodeGifFrames(1L, anim)
    assert(frames.length == 2)
    val a = frames(0)
    assert((a.x_off, a.y_off, a.width, a.height, a.delay_cs) == (0, 0, 20, 12, 10))
    assert(a.raster.indices.forall(i => a.raster(i) == f0(i)))
    val bF = frames(1)
    assert((bF.x_off, bF.y_off, bF.width, bF.height, bF.delay_cs) == (4, 2, 8, 8, 25))
    assert(bF.raster.indices.forall(i => bF.raster(i) == f1(i)))
    // a single-frame still (no GCE) is one frame with delay 0
    val still = decodeGifFrames(2L, encodeGif(10, 8, 4, i => i % 16))
    assert(still.length == 1 && still.head.delay_cs == 0)
    assert(still.head.raster.indices.forall(i => still.head.raster(i) == i % 16))
    // frame rect outside the logical screen is rejected at encode
    intercept[IllegalArgumentException](
      encodeGifAnimated(10, 10, 4, Seq((8, 8, 4, 4, 0, _ => 0))))
  }

  test("cross-format averageHash: PGM/JPEG/PNG/GIF of one raster agree; " +
      "color GIF palette rejected") {
    import graft.ops.Multimodal._
    val (w, h) = (16, 16)
    def pix(i: Int): Int = {
      val bx = (i % w) / 8; val by = (i / w) / 8
      (40 + bx * 150 + by * 55) % 256
    }
    val hp = averageHashPgm(1L, encodePgm(w, h, 255, pix))
    assert(averageHashJpeg(1L, encodeJpeg(w, h, pix)) == hp)
    assert(averageHashPng(1L, encodePng(w, h, 8, 0, packedSample(0, pix))) == hp)
    // 8-bit GIF: the grayscale ramp palette is the identity map
    assert(averageHashGif(1L, encodeGif(w, h, 8, pix)) == hp)
    // sub-8-bit GIF still hashes (palette g = c·255/(n−1), achromatic)
    val g4 = averageHashGif(2L, encodeGif(w, h, 4, i => pix(i) % 16))
    assert(g4.doc_id == 2L)
    // a color palette must fail loudly, not approximate luma
    val gif = encodeGif(w, h, 4, i => pix(i) % 16)
    gif(14) = 99.toByte // perturb G of palette entry 0 → chromatic
    val e = intercept[IllegalArgumentException](averageHashGif(3L, gif))
    assert(e.getMessage.contains("achromatic"))
  }

  test("DCT pHash: brightness-offset invariant, requant twins within " +
      "Hamming 2, distinct images far apart, flat-vs-structured split") {
    import graft.ops.Multimodal._
    val (w, h) = (64, 64)
    def mix(a: Long): Long = {
      var x = a * 0x9E3779B97F4A7C15L
      x ^= x >>> 32; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29; x
    }
    def pix(id: Long)(i: Int): Int = {
      val bx = (i % w) / 8; val by = (i / w) / 8
      math.floorMod(mix(id * 64 + by * 8 + bx), 256).toInt
    }
    def fp(hsh: ImageHash): Long =
      (hsh.hash_hi << 32) | (hsh.hash_lo & 0xFFFFFFFFL)
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // same image at quality 4 vs 24: decoded rasters DIFFER (lossy),
    // hashes nearly agree — the property averageHash cannot provide
    val hq = encodeJpeg(w, h, pix(7L), uniformQuantTable(4))
    val lq = encodeJpeg(w, h, pix(7L), uniformQuantTable(24))
    assert(!java.util.Arrays.equals(
      decodeJpegRaster(hq)._3, decodeJpegRaster(lq)._3))
    assert(ham(fp(dctHashJpeg(1L, hq)), fp(dctHashJpeg(2L, lq))) <= 2)
    // distinct images stay far apart (probed floor is 18; assert > 8,
    // the gate's verify threshold)
    val other = dctHashJpeg(3L, encodeJpeg(w, h, pix(8L),
      uniformQuantTable(4)))
    assert(ham(fp(dctHashJpeg(1L, hq)), fp(other)) > 8)
    // DC exclusion: a global brightness offset leaves the hash fixed
    val base = dctHashRaster(4L, w, h,
      Array.tabulate(w * h)(i => 60 + pix(9L)(i) / 2))
    val brighter = dctHashRaster(5L, w, h,
      Array.tabulate(w * h)(i => 90 + pix(9L)(i) / 2))
    assert((base.hash_lo, base.hash_hi) ==
      (brighter.hash_lo, brighter.hash_hi))
    // flat image: no AC exceeds the (zero) median — all 63 bits clear
    val flat = dctHashRaster(6L, 8, 8, Array.fill(64)(130))
    assert(flat.hash_lo == 0L && flat.hash_hi == 0L && flat.n_ones == 0L)
    // median split: elements 31..62 of the sorted 63 ACs sit above the
    // (30,31)-midpoint median, so a distinct-valued spectrum sets
    // exactly 32 bits — never more
    assert(base.n_ones <= 32)
  }

  test("AVI/MJPEG: frame extraction round-trips block-exact rasters, " +
      "skips JUNK, validates codec and frame census") {
    import graft.ops.Multimodal._
    val (w, h) = (16, 16)
    def frame(j: Int)(i: Int): Int = {
      val bx = (i % w) / 8; val by = (i / w) / 8
      (9 * j + bx * 50 + by * 120) % 256
    }
    val avi = encodeAvi(w, h, 40000,
      (0 until 3).map(j => encodeJpeg(w, h, frame(j))))
    val fs = decodeAviFrames(1L, avi)
    assert(fs.map(_.frame_id) == Seq(0, 1, 2))
    assert(fs.forall(f => f.width == w && f.height == h &&
      f.frame_micros == 40000L))
    // block-constant content decodes bit-exactly per frame
    (0 until 3).foreach { j =>
      assert(fs(j).raster.toSeq == (0 until w * h).map(frame(j)))
    }
    // odd-sized frame payloads ride the RIFF even-padding byte
    val odd = encodeAvi(8, 8, 1000, Seq(encodeJpeg(8, 8, _ => 33)))
    assert(decodeAviFrames(2L, odd).head.raster.forall(_ == 33))
    // a non-MJPG vids handler fails loudly, not approximately
    val bad = avi.clone()
    val strhAt = {
      var p = -1
      for (i <- 0 until bad.length - 4
           if p < 0 && new String(bad, i, 4, "US-ASCII") == "vids") p = i
      p
    }
    bad(strhAt + 4) = 'H'.toByte; bad(strhAt + 5) = '2'.toByte
    bad(strhAt + 6) = '6'.toByte; bad(strhAt + 7) = '4'.toByte
    val e1 = intercept[IllegalArgumentException](decodeAviFrames(3L, bad))
    assert(e1.getMessage.contains("unsupported video codec"))
    // a frame-count lie in avih is caught against the movi census
    val lie = avi.clone()
    val avihAt = {
      var p = -1
      for (i <- 0 until lie.length - 4
           if p < 0 && new String(lie, i, 4, "US-ASCII") == "avih") p = i
      p
    }
    lie(avihAt + 8 + 16) = 9 // dwTotalFrames: 3 → 9
    val e2 = intercept[IllegalArgumentException](decodeAviFrames(4L, lie))
    assert(e2.getMessage.contains("declares"))
  }

  test("AVI/MJPEG: a second stream's data chunks never enter the video " +
      "frame sequence") {
    import graft.ops.Multimodal._
    val (w, h) = (16, 16)
    def frame(j: Int)(i: Int): Int = (9 * j + 40 * ((i % w) / 8)) % 256
    val avi = encodeAvi(w, h, 40000,
      (0 until 3).map(j => encodeJpeg(w, h, frame(j))))
    def le32(b: Array[Byte], p: Int): Int =
      (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) |
      ((b(p + 2) & 0xFF) << 16) | ((b(p + 3) & 0xFF) << 24)
    def wr32(b: Array[Byte], p: Int, v: Int): Unit = {
      b(p) = v.toByte; b(p + 1) = (v >> 8).toByte
      b(p + 2) = (v >> 16).toByte; b(p + 3) = (v >> 24).toByte
    }
    // splice a '01dc' chunk of NON-JPEG garbage (stream 1 — no strh of
    // ours) at the end of the movi body, patching movi LIST + RIFF sizes
    val moviKind = {
      var p = -1
      for (i <- 0 until avi.length - 4
           if p < 0 && new String(avi, i, 4, "US-ASCII") == "movi") p = i
      p
    }
    val listAt = moviKind - 8
    val moviSize = le32(avi, listAt + 4)
    val insertAt = listAt + 8 + moviSize
    val garbage = Array.tabulate[Byte](10)(i => (37 * i + 5).toByte)
    val chunk = "01dc".getBytes("US-ASCII") ++ {
      val s = new Array[Byte](4); wr32(s, 0, garbage.length); s
    } ++ garbage // 10 is even — no pad byte
    val twoStream = new Array[Byte](avi.length + chunk.length)
    System.arraycopy(avi, 0, twoStream, 0, insertAt)
    System.arraycopy(chunk, 0, twoStream, insertAt, chunk.length)
    System.arraycopy(avi, insertAt, twoStream, insertAt + chunk.length,
      avi.length - insertAt)
    wr32(twoStream, listAt + 4, moviSize + chunk.length)
    wr32(twoStream, 4, le32(avi, 4) + chunk.length)
    // before the stream-index filter this garbage hit the JPEG decoder;
    // now only stream 0's chunks become frames, and the avih census
    // (3 video frames) still agrees
    val fs = decodeAviFrames(9L, twoStream)
    assert(fs.map(_.frame_id) == Seq(0, 1, 2))
    (0 until 3).foreach { j =>
      assert(fs(j).raster.toSeq == (0 until w * h).map(frame(j)))
    }
  }

  test("DCT pHash cross-format: lossless PNG/PGM/GIF decodes of one " +
      "raster hash identically; a quant-24 JPEG of it lands within the " +
      "verify radius") {
    import graft.ops.Multimodal._
    val (w, h) = (64, 64)
    def pix(i: Int): Int = {
      val bx = (i % w) / 8; val by = (i / w) / 8
      (37 + bx * 29 + by * 111 + bx * by * 7) % 256
    }
    def fp(hsh: ImageHash): Long =
      (hsh.hash_hi << 32) | (hsh.hash_lo & 0xFFFFFFFFL)
    val hp = dctHashPng(1L, encodePng(w, h, 8, 0, packedSample(0, pix)))
    assert(fp(dctHashPgm(2L, encodePgm(w, h, 255, pix))) == fp(hp))
    assert(fp(dctHashGif(3L, encodeGif(w, h, 8, pix))) == fp(hp))
    val hj = dctHashJpeg(4L, encodeJpeg(w, h, pix, uniformQuantTable(24)))
    assert(java.lang.Long.bitCount(fp(hj) ^ fp(hp)) <= 8)
  }

  test("media sniff: magic bytes classify all eight types, RIFF is " +
      "sub-typed, 0xFF garbage is NOT mpeg, short/junk payloads are " +
      "unknown (never thrown)") {
    import graft.ops.Multimodal._
    val (w, h) = (16, 16)
    def pix(i: Int): Int = (i * 7) % 256
    assert(sniffMediaType(encodePng(w, h, 8, 0, packedSample(0, pix))) ==
      "image/png")
    assert(sniffMediaType(encodeGif(w, h, 8, pix)) == "image/gif")
    assert(sniffMediaType(encodeJpeg(w, h, pix)) == "image/jpeg")
    assert(sniffMediaType(encodePgm(w, h, 255, pix)) == "image/x-pgm")
    assert(sniffMediaType(gzipCompress("abc".getBytes)) ==
      "application/gzip")
    assert(sniffMediaType(encodeWav(8000, _ => 7, 40)) == "audio/wav")
    assert(sniffMediaType(encodeAvi(w, h, 1000,
      Seq(encodeJpeg(w, h, pix)))) == "video/avi")
    assert(sniffMediaType(graft.ops.MpegAudio.syntheticStream(2, 96, 1)) ==
      "audio/mpeg")
    // FLAC (round 11): magic + the dispatcher's unit count = samples
    // summed over channels (decode verifies CRC/MD5 on the way)
    val flacPcm = Array.tabulate(600)(i => (i * 37) % 2000 - 1000)
    val flac = graft.ops.Flac.encodeFlac(Array(flacPcm, flacPcm), 48000,
      blockSize = 256)
    assert(sniffMediaType(flac) == "audio/flac")
    locally {
      import spark.implicits._
      val st = sniffStats(Seq(MediaRecord(77L, flac, "flac", "xx")).toDS())
        .collect()(0)
      assert(st.media_type == "audio/flac" && st.n_units == 1200L)
    }
    // a COLOR png (r15): the sniff census must count its pixels, not
    // refuse through the gray-only raster path
    locally {
      import spark.implicits._
      val cpng = encodePng(w, h, 8, 2, packedSample(2,
        i => (pix(i) << 16) | (pix(i + 1) << 8) | pix(i + 2)))
      val st = sniffStats(Seq(MediaRecord(78L, cpng, "png", "xx")).toDS())
        .collect()(0)
      assert(st.media_type == "image/png" && st.n_units == (w * h).toLong)
    }
    // two sync-looking bytes with an invalid rest must NOT be mpeg
    // (0xFF 0xFF = reserved layer after the ID bits)
    assert(sniffMediaType(Array[Byte](0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0xFF.toByte)) == "unknown")
    // a RIFF of neither WAVE nor AVI form is unknown, not a guess
    val riff = "RIFF\u0004\u0000\u0000\u0000ACON".getBytes("ISO-8859-1")
    assert(sniffMediaType(riff) == "unknown")
    assert(sniffMediaType(Array[Byte](1, 2)) == "unknown")
    assert(sniffMediaType(Array.empty[Byte]) == "unknown")
  }

  test("non-interleaved sequential JPEG: three single-component scans " +
      "decode to the same planes as the interleaved twin; a frame " +
      "ending with unscanned components fails loudly") {
    import graft.ops.Multimodal._
    val (w, h) = (20, 12) // non-multiple-of-8 dims exercise edge blocks
    def rgb(i: Int): Int = {
      val x = i % w; val y = i / w
      val r = (x * 11 + y * 3) % 256; val g = (x * 5 + y * 17) % 256
      val b = (x + y * 29) % 256
      (r << 16) | (g << 8) | b
    }
    val inter = encodeJpegColor(w, h, rgb, subsample = 1)
    val nonInt = encodeJpegColor(w, h, rgb, subsample = 1,
      interleave = false)
    assert(inter.toSeq != nonInt.toSeq) // genuinely different layouts
    val (wi, hi, pi, _) = decodeJpegRgb(inter)
    val (wn, hn, pn, _) = decodeJpegRgb(nonInt)
    assert((wi, hi) == (wn, hn))
    assert(pi.toSeq == pn.toSeq) // same coefficients → identical pixels
    // chop the last scan off (keep SOI..second scan, append EOI):
    // the frame ends with an unscanned component → loud
    val lastSos = {
      var p = -1
      var i = 2
      while (i < nonInt.length - 1) {
        if ((nonInt(i) & 0xFF) == 0xFF && (nonInt(i + 1) & 0xFF) == 0xDA)
          p = i
        i += 1
      }
      p
    }
    val chopped = nonInt.take(lastSos) ++ Array[Byte](0xFF.toByte, 0xD9.toByte)
    val e = intercept[IllegalArgumentException](decodeJpegRgb(chopped))
    assert(e.getMessage.contains("unscanned"))
  }

  test("ZIP: stored+deflate round trip, EOCD behind a trailing comment, " +
      "CRC/name/method corruption all loud") {
    import graft.ops.Multimodal._
    val a = Array.tabulate[Byte](300)(i => (i * 37 % 251).toByte)
    val b = "the quick brown fox ".getBytes("UTF-8")
    val zip = encodeZip(Seq(("x/a.bin", a, true), ("b.txt", b, false)))
    val es = decodeZipEntries(1L, zip)
    assert(es.map(e => (e._1, e._2)) == Seq(("x/a.bin", 0), ("b.txt", 8)))
    assert(es(0)._3.toSeq == a.toSeq && es(1)._3.toSeq == b.toSeq)
    // a trailing archive comment shifts the EOCD off the end; the
    // backward scan must still find THE EOCD (comment-length sanity
    // check rejects false signatures inside the comment)
    val comment = "trailing comment bytes".getBytes("UTF-8")
    val commented = zip.clone()
    commented(zip.length - 2) = (comment.length & 0xFF).toByte
    val withComment = commented ++ comment
    assert(decodeZipEntries(2L, withComment).map(_._1) ==
      Seq("x/a.bin", "b.txt"))
    // flip a content byte of the STORED member → CRC mismatch
    val bad = zip.clone()
    bad(40) = (bad(40) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](decodeZipEntries(3L, bad))
    assert(e1.getMessage.contains("CRC mismatch"))
    // corrupt the local header name → local/central mismatch
    val badName = zip.clone()
    badName(30) = 'Z'.toByte
    val e2 = intercept[IllegalArgumentException](
      decodeZipEntries(4L, badName))
    assert(e2.getMessage.contains("name mismatch"))
    // unsupported method in the central directory → named error
    val badMethod = zip.clone()
    val cdStart = {
      var p = -1; var i = 0
      while (i < badMethod.length - 4) {
        if ((badMethod(i) & 0xFF) == 0x50 && (badMethod(i + 1) & 0xFF) == 0x4B
            && (badMethod(i + 2) & 0xFF) == 0x01) p = if (p < 0) i else p
        i += 1
      }
      p
    }
    badMethod(cdStart + 10) = 12 // bzip2
    val e3 = intercept[IllegalArgumentException](
      decodeZipEntries(5L, badMethod))
    assert(e3.getMessage.contains("method 12"))
    // no EOCD at all
    val e4 = intercept[IllegalArgumentException](
      decodeZipEntries(6L, zip.take(zip.length - 30)))
    assert(e4.getMessage.contains("end-of-central-directory"))
    // sniff integration
    assert(sniffMediaType(zip) == "application/zip")
    assert(sniffMediaType(encodeTar(Seq(("t", b)))) == "application/x-tar")
  }

  test("TAR: ustar round trip through gzip, block padding, checksum " +
      "and typeflag guards") {
    import graft.ops.Multimodal._
    val a = Array.tabulate[Byte](700)(i => (i % 251).toByte) // 2 blocks
    val b = Array.emptyByteArray // zero-length member is legal
    val tar = encodeTar(Seq(("dir/a.bin", a), ("empty", b)))
    assert(tar.length % 512 == 0)
    val es = decodeTarEntries(1L, tar)
    assert(es.map(_._1) == Seq("dir/a.bin", "empty"))
    assert(es(0)._2.toSeq == a.toSeq && es(1)._2.isEmpty)
    // the composed .tar.gz path
    assert(decodeTarEntries(2L, gunzip(gzipCompress(tar)))
      .map(_._1) == Seq("dir/a.bin", "empty"))
    // flip a header byte → checksum mismatch, loud
    val bad = tar.clone()
    bad(100) = '7'.toByte // mode field
    val e1 = intercept[IllegalArgumentException](decodeTarEntries(3L, bad))
    assert(e1.getMessage.contains("checksum mismatch"))
    // a symlink typeflag is rejected by name (checksum must still pass,
    // so recompute it after the flag edit — field counted as spaces)
    val link = tar.clone()
    link(156) = '2'.toByte
    java.util.Arrays.fill(link, 148, 156, ' '.toByte)
    var sum = 0L
    (0 until 512).foreach(i => sum += link(i) & 0xFF)
    System.arraycopy("%06o".format(sum).getBytes("US-ASCII"), 0, link, 148, 6)
    link(154) = 0; link(155) = ' '.toByte
    val e2 = intercept[IllegalArgumentException](decodeTarEntries(4L, link))
    assert(e2.getMessage.contains("typeflag"))
    // chopping the terminator is loud
    val e3 = intercept[IllegalArgumentException](
      decodeTarEntries(5L, tar.take(tar.length - 1024)))
    assert(e3.getMessage.contains("truncated header") ||
      e3.getMessage.contains("terminator"))
  }

  test("truncation guards compute in Long / check bounds (r13 advisor): " +
      "a PNG chunk length near Int.MaxValue and a GIF cut mid-extension " +
      "or mid-descriptor fail by name, never a raw index exception") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val sig = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    // len = 0x7FFFFFF8: pos+8+len+4 wraps negative in Int and would
    // slip past the guard into pngCrc -> AIOOBE without the Long compare
    val hugePng = sig ++ b(0x7F, 0xFF, 0xFF, 0xF8) ++
      "tEXt".getBytes("US-ASCII")
    val e1 = intercept[IllegalArgumentException](readPngText(30L, hugePng))
    assert(e1.getMessage.contains("truncated tEXt chunk"))
    val e2 = intercept[IllegalArgumentException](readPngExif(31L, hugePng))
    assert(e2.getMessage.contains("truncated tEXt chunk"))
    val e3 = intercept[IllegalArgumentException](decodePngRaster(hugePng))
    assert(e3.getMessage.contains("truncated tEXt chunk"))
    // GIF89a header + LSD (13 bytes, no GCT) then a lone 0x21: the
    // extension label/length bytes are past the end
    val gifHead = "GIF89a".getBytes("US-ASCII") ++ b(3, 0, 1, 0, 0, 0, 0)
    val e4 = intercept[IllegalArgumentException](
      readGifComments(32L, gifHead ++ b(0x21)))
    assert(e4.getMessage.contains("extension header overruns payload"))
    // image descriptor cut before its packed byte
    val e5 = intercept[IllegalArgumentException](
      readGifComments(33L, gifHead ++ b(0x2C, 0, 0, 0)))
    assert(e5.getMessage.contains("image descriptor overruns payload"))
    // descriptor complete but LZW min-code-size byte missing
    val e6 = intercept[IllegalArgumentException](
      readGifComments(34L, gifHead ++ b(0x2C, 0, 0, 0, 0, 1, 0, 1, 0, 0)))
    assert(e6.getMessage.contains("image data overruns payload"))
  }

  test("color PNG (r14): truecolor/palette/RGBA round-trip exactly, " +
      "grayscale content lands on the identical luma through every " +
      "path, and a hand-assembled Sub-filtered RGB vector pins the " +
      "byte-at-bpp filter arithmetic independently of the encoder") {
    val w = 16; val h = 8; val n = w * h
    def rgb(i: Int): Int = (((i * 37 + 11) % 256) << 16) |
      (((i * 91 + 5) % 256) << 8) | ((i * 53 + 2) % 256)
    // type 2 (truecolor): exact, alpha forced FF
    val p2 = encodePng(w, h, 8, 2, packedSample(2, rgb))
    val (w2, h2, px2, _) = decodePngRgb(1L, p2)
    assert(w2 == w && h2 == h)
    assert((0 until n).forall(i => px2(i) == (0xFF000000 | rgb(i))),
      "truecolor must round-trip exactly")
    // type 6 (RGBA): alpha carried exactly
    def argb(i: Int): Int = (((i * 7 + 3) % 256) << 24) | rgb(i)
    val p6 = encodePng(w, h, 8, 6, packedSample(6, argb))
    val (_, _, px6, _) = decodePngRgb(2L, p6)
    assert((0 until n).forall(i => px6(i) == argb(i)),
      "RGBA must round-trip exactly, alpha included")
    // type 3 (palette): 16 colors, indices map through PLTE
    val pal = Array.tabulate(16)(c => (c * 17 << 16) | (255 - c * 13 << 8) | c * 5)
    val p3 = encodePng(w, h, 8, 3, packedSample(3, i => (i * 3) % 16), pal)
    val (_, _, px3, _) = decodePngRgb(3L, p3)
    assert((0 until n).forall(i =>
      px3(i) == (0xFF000000 | pal((i * 3) % 16))))
    // gray content: type-2 of (g,g,g) decodes to the same luma as the
    // grayscale codec (the fixed-point Y constants sum to 2^16, so
    // gray passes through EXACTLY)
    val gray = (i: Int) => (i * 11) % 256
    val pg2 = encodePng(w, h, 8, 2, packedSample(2, i => gray(i) * 0x010101))
    val (_, _, luma) = decodePngLuma(4L, pg2)
    val (_, _, g0, _) =
      decodePngRaster(encodePng(w, h, 8, 0, packedSample(0, gray)))
    assert(luma.sameElements(g0), "gray-through-color luma must be exact")
    // the grayscale raster path refuses color images by name
    val eGray = intercept[IllegalArgumentException](decodePngRaster(p2))
    assert(eGray.getMessage.contains("decodePngRgb"))
    // a LYING header (truecolor data relabeled gray+alpha — type 4 is
    // carried since r15, so the smaller 2-channel layout now implies
    // less scanline data than the stream holds) fails loudly instead
    // of silently decoding a prefix
    val p4hdr = p2.clone(); p4hdr(25) = 4 // IHDR color-type byte
    // (CRC now wrong — recompute so the layout check fires, not the CRC)
    val ihdrTd = "IHDR".getBytes("US-ASCII") ++
      java.util.Arrays.copyOfRange(p4hdr, 16, 29)
    val crcC = new java.util.zip.CRC32; crcC.update(ihdrTd)
    val crc = crcC.getValue
    p4hdr(29) = (crc >>> 24).toByte; p4hdr(30) = (crc >>> 16).toByte
    p4hdr(31) = (crc >>> 8).toByte; p4hdr(32) = crc.toByte
    val e4 = intercept[IllegalArgumentException](decodePngRgb(5L, p4hdr))
    assert(e4.getMessage.contains("more scanline data"))
    // hand-assembled type-2 vector: 2x1 RGB, Sub filter — left
    // predictor must reach back bpp=3 BYTES, not 1
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val raw = b(1, 10, 20, 30, 3, 4, 5) // filter 1; px1 = px0 + (3,4,5)
    val adler = { val a = new java.util.zip.Adler32; a.update(raw); a.getValue }
    val idat = b(0x78, 0x01, 0x01, 7, 0, 0xF8, 0xFF) ++ raw ++
      b(((adler >> 24) & 0xFF).toInt, ((adler >> 16) & 0xFF).toInt,
        ((adler >> 8) & 0xFF).toInt, (adler & 0xFF).toInt)
    def be32(v: Long): Array[Byte] = b(((v >> 24) & 0xFF).toInt,
      ((v >> 16) & 0xFF).toInt, ((v >> 8) & 0xFF).toInt, (v & 0xFF).toInt)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val td = typ.getBytes("US-ASCII") ++ data
      val c = new java.util.zip.CRC32; c.update(td)
      be32(data.length.toLong) ++ td ++ be32(c.getValue)
    }
    val sig = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    val ihdr = be32(2) ++ be32(1) ++ b(8, 2, 0, 0, 0)
    val handmade = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
    val (hw, hh, hpx, _) = decodePngRgb(6L, handmade)
    assert(hw == 2 && hh == 1)
    assert(hpx(0) == 0xFF0A141E && hpx(1) == 0xFF0D1823,
      f"hand vector decoded 0x${hpx(0)}%08X 0x${hpx(1)}%08X")
    // palette image without PLTE is loud
    val noPlte = sig ++ chunk("IHDR", be32(2) ++ be32(1) ++ b(8, 3, 0, 0, 0)) ++
      chunk("IDAT", idat) ++ chunk("IEND", Array.emptyByteArray)
    val eP = intercept[IllegalArgumentException](decodePngRgb(7L, noPlte))
    assert(eP.getMessage.contains("without a PLTE"))
  }

  test("color GIF luma/RGB (r14): an explicit color palette round-trips " +
      "through the GIF codec, gifRgbRaster matches the PNG type-3 twin " +
      "pixel-for-pixel, gifLumaRaster shares the JPEG/PNG luma " +
      "constants, and the integer-exact gray path still refuses color") {
    val w = 12; val h = 6
    val pal = Array.tabulate(16)(c => (c * 15 << 16) | (200 - c * 9 << 8) | c * 11)
    val idx = (i: Int) => (i * 5 + 2) % 16
    val gif = encodeGifPalette(w, h, 4, idx, pal)
    val png = encodePng(w, h, 8, 3, packedSample(3, idx), pal)
    val (gw, gh, grgb) = gifRgbRaster(10L, gif)
    val (pw, ph, prgb, _) = decodePngRgb(11L, png)
    assert(gw == pw && gh == ph && grgb.sameElements(prgb),
      "one palette image in two lossless containers must decode equal")
    val (_, _, gl) = gifLumaRaster(12L, gif)
    val (_, _, plm) = decodePngLuma(13L, png)
    assert(gl.sameElements(plm))
    // the luma really is the shared fixed-point formula
    (0 until w * h).foreach { i =>
      val rgb = pal(idx(i))
      val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
      assert(gl(i) == ((19595 * r + 38470 * g + 7471 * b + 32768) >> 16))
    }
    // gray ramp through the luma path is the identity (constants sum 2^16)
    val grayGif = encodeGif(w, h, 4, i => (i + 1) % 16)
    val (_, _, gg) = gifLumaRaster(14L, grayGif)
    val (_, _, ggray) = gifGrayRaster(15L, grayGif)
    assert(gg.sameElements(ggray))
    // the integer-exact achromatic contract is untouched: color refuses
    val e = intercept[IllegalArgumentException](gifGrayRaster(16L, gif))
    assert(e.getMessage.contains("achromatic"))
    // palette larger than the table refuses at encode
    intercept[IllegalArgumentException](
      encodeGifPalette(w, h, 2, idx, pal)) // 16 entries > 2^2
  }

  test("Adam7 interlace (r14): interlaced gray/truecolor/palette/RGBA " +
      "decode pixel-identically to their sequential twins at sizes " +
      "that exercise empty and ragged passes; filters restart per pass") {
    // sizes chosen to hit the corner geometry: 1x1 (only pass 1),
    // 3x3 (passes 5-7 ragged, several empty), 8x8 (every pass exactly
    // once per cell), 13x7 and 20x11 (ragged everything)
    val sizes = Seq((1, 1), (3, 3), (8, 8), (13, 7), (20, 11))
    sizes.foreach { case (w, h) =>
      def packed(ct: Int, px: Int => Int, lace: Boolean) =
        encodePng(w, h, 8, ct, packedSample(ct, px), interlaced = lace)
      val gray = (i: Int) => (i * 29 + 7) % 256
      val (sw, sh, sp, _) = decodePngRaster(packed(0, gray, false))
      val (iw, ih, ip, _) = decodePngRaster(packed(0, gray, true))
      assert(sw == iw && sh == ih && sp.sameElements(ip),
        s"gray ${w}x$h: interlaced != sequential")
      val rgb = (i: Int) => (((i * 37 + 11) % 256) << 16) |
        (((i * 91 + 5) % 256) << 8) | ((i * 53 + 2) % 256)
      val (_, _, s2, _) = decodePngRgb(20L, packed(2, rgb, false))
      val (_, _, i2, _) = decodePngRgb(21L, packed(2, rgb, true))
      assert(s2.sameElements(i2), s"rgb ${w}x$h: interlaced != sequential")
      val argb = (i: Int) => (((i * 7 + 3) % 256) << 24) | rgb(i)
      val (_, _, s6, _) = decodePngRgb(22L, packed(6, argb, false))
      val (_, _, i6, _) = decodePngRgb(23L, packed(6, argb, true))
      assert(s6.sameElements(i6), s"rgba ${w}x$h")
      val pal = Array.tabulate(16)(c => (c * 17 << 16) | (c * 3 << 8) | c)
      val idx = (i: Int) => (i * 3 + 1) % 16
      val (_, _, s3, _) = decodePngRgb(24L,
        encodePng(w, h, 8, 3, packedSample(3, idx), pal))
      val (_, _, i3, _) = decodePngRgb(25L,
        encodePng(w, h, 8, 3, packedSample(3, idx), pal, interlaced = true))
      assert(s3.sameElements(i3), s"palette ${w}x$h")
    }
    // undefined interlace method stays loud
    val plain = encodePng(4, 4, 8, 0, packedSample(0, _ => 7))
    val bad = plain.clone(); bad(28) = 2 // IHDR interlace byte
    val td = "IHDR".getBytes("US-ASCII") ++
      java.util.Arrays.copyOfRange(bad, 16, 29)
    val c = new java.util.zip.CRC32; c.update(td)
    val v = c.getValue
    bad(29) = (v >>> 24).toByte; bad(30) = (v >>> 16).toByte
    bad(31) = (v >>> 8).toByte; bad(32) = v.toByte
    val e = intercept[IllegalArgumentException](decodePngRaster(bad))
    assert(e.getMessage.contains("interlace method 2"))
  }

  test("GIF interlace (r14): interlaced frames decode pixel-identically " +
      "to sequential twins (the interlace bit was previously IGNORED — " +
      "an interlaced GIF decoded scrambled with no error); the 4-pass " +
      "row order is pinned by hand on a 10-row image") {
    Seq((3, 1), (8, 8), (12, 6), (7, 10), (16, 17)).foreach { case (w, h) =>
      val idx = (i: Int) => (i * 7 + 1) % 16
      val pal = Array.tabulate(16)(c => c * 0x010101)
      val seqG = encodeGifPalette(w, h, 4, idx, pal)
      val lace = encodeGifPalette(w, h, 4, idx, pal, interlaced = true)
      val fs = decodeGifFrame(30L, seqG)
      val fl = decodeGifFrame(31L, lace)
      assert(fs.raster.sameElements(fl.raster), s"${w}x$h interlaced")
      // the two streams really differ on the wire (rows permuted)
      if (h > 4) assert(!seqG.sameElements(lace))
      // animated walk takes the same path
      assert(decodeGifFrames(32L, lace).head.raster
        .sameElements(fs.raster))
    }
    // hand pin of the GIF89a appendix-E pass order at h=10: transmitted
    // rows land on 0,8, 4, 2,6, 1,3,5,7,9
    val h = 10; val w = 1
    // pixel value = its actual row index; transmit interlaced and check
    // the decoder restores row r to value r
    val lace10 = encodeGifPalette(w, h, 4, i => i % 16, null,
      interlaced = true)
    val f10 = decodeGifFrame(33L, lace10)
    assert(f10.raster.toSeq == (0 until 10).map(_ % 16))
    // and the raw transmission order is the appendix-E permutation:
    // decode WITHOUT deinterlacing by clearing the interlace bit
    // (descriptor packed byte sits 10 bytes into the descriptor that
    // follows the 13-byte header + 48-byte GCT)
    val noBit = lace10.clone(); noBit(13 + 48 + 9) = 0
    assert(decodeGifFrame(34L, noBit).raster.toSeq ==
      Seq(0, 8, 4, 2, 6, 1, 3, 5, 7, 9))
  }

  test("PNG tRNS transparency (r14): per-index palette alphas, gray and " +
      "RGB color keys all land in the decoded alpha channel exactly; " +
      "shape violations and tRNS-with-alpha-channel are loud") {
    val w = 8; val h = 4
    // type 3: 8 palette entries, alphas only for the first 5 -> the
    // rest are opaque per spec
    val pal = Array.tabulate(8)(c => c * 0x030201)
    val alphas = Array(0, 64, 128, 192, 255)
    val idx = (i: Int) => i % 8
    val p3 = encodePng(w, h, 8, 3, packedSample(3, idx), pal,
      alphas.map(_.toByte))
    val (_, _, px3, _) = decodePngRgb(40L, p3)
    (0 until w * h).foreach { i =>
      val a = if (idx(i) < 5) alphas(idx(i)) else 255
      assert(px3(i) == ((a << 24) | pal(idx(i))),
        f"i=$i got 0x${px3(i)}%08X")
    }
    // type 0: gray color key via a hand-built tRNS chunk (encoder is
    // type-3-only, so splice the chunk between IHDR and IDAT)
    val gray = encodePng(w, h, 8, 0, packedSample(0, i => i % 8))
    def chunkOf(typ: String, data: Array[Byte]): Array[Byte] = {
      val td = typ.getBytes("US-ASCII") ++ data
      val c = new java.util.zip.CRC32; c.update(td)
      val be = (v: Long) => Array(((v >> 24) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        (v & 0xFF).toByte)
      be(data.length.toLong) ++ td ++ be(c.getValue)
    }
    val ihdrEnd = 8 + 12 + 13
    val g5 = gray.take(ihdrEnd) ++
      chunkOf("tRNS", Array[Byte](0, 5)) ++ gray.drop(ihdrEnd)
    val (_, _, pxg, _) = decodePngRgb(41L, g5)
    (0 until w * h).foreach { i =>
      val g = i % 8
      val a = if (g == 5) 0 else 0xFF
      assert(pxg(i) == ((a << 24) | (g << 16) | (g << 8) | g))
    }
    // type 2: RGB color key (6 bytes, 2 per channel)
    val rgb = (i: Int) => ((i % 3) << 16) | 0x0207
    val p2 = encodePng(w, h, 8, 2, packedSample(2, rgb))
    val key2 = Array[Byte](0, 1, 0, 2, 0, 7) // keys out pixels with r=1
    val p2k = p2.take(ihdrEnd) ++ chunkOf("tRNS", key2) ++ p2.drop(ihdrEnd)
    val (_, _, px2, _) = decodePngRgb(42L, p2k)
    (0 until w * h).foreach { i =>
      val a = if (i % 3 == 1) 0 else 0xFF
      assert(px2(i) == ((a << 24) | rgb(i)))
    }
    // violations: wrong key length, too many palette alphas, tRNS on
    // an alpha-channel image
    val badLen = gray.take(ihdrEnd) ++
      chunkOf("tRNS", Array[Byte](5)) ++ gray.drop(ihdrEnd)
    val e1 = intercept[IllegalArgumentException](decodePngRgb(43L, badLen))
    assert(e1.getMessage.contains("must be 2 bytes"))
    intercept[IllegalArgumentException](encodePng(w, h, 8, 3,
      packedSample(3, idx), pal, Array.fill(9)(1.toByte)))
    val p6 = encodePng(w, h, 8, 6, packedSample(6, i => 0x11000000 | rgb(i)))
    val p6t = p6.take(ihdrEnd) ++ chunkOf("tRNS", Array[Byte](0, 1)) ++
      p6.drop(ihdrEnd)
    val e2 = intercept[IllegalArgumentException](decodePngRgb(44L, p6t))
    assert(e2.getMessage.contains("forbidden with an alpha channel"))
  }

  test("PNG depth matrix (r15): all 15 legal depth×type cells of RFC " +
      "2083 §4.1.1 round-trip natively through encodePngEx, sequential " +
      "AND Adam7; gray stats report the native depth; illegal cells " +
      "and out-of-range samples are loud") {
    val matrix = Seq(0 -> Seq(1, 2, 4, 8, 16), 2 -> Seq(8, 16),
      3 -> Seq(1, 2, 4, 8), 4 -> Seq(8, 16), 6 -> Seq(8, 16))
    def s8(v: Int, d: Int): Int =
      if (d == 8) v else if (d == 16) (v * 255 + 32767) / 65535
      else v * 255 / ((1 << d) - 1)
    val w = 13; val h = 7 // ragged against every Adam7 pass geometry
    for ((ct, depths) <- matrix; depth <- depths;
        lace <- Seq(false, true)) {
      val tag = s"ct=$ct depth=$depth lace=$lace"
      val nCh = ct match {
        case 0 | 3 => 1; case 2 => 3; case 4 => 2; case _ => 4
      }
      val maxV = if (depth == 16) 0xFFFF else (1 << depth) - 1
      val pal = if (ct == 3)
        Array.tabulate(math.min(1 << depth, 16))(c => c * 0x050301 + 7)
      else null
      val lim = if (ct == 3) pal.length else maxV + 1
      def sample(i: Int, c: Int): Int = (i * (3 + 2 * c) + 7 * c + depth) % lim
      val png = encodePng(w, h, depth, ct, sample, pal,
        interlaced = lace)
      if (ct == 0) {
        // native-sample contract + stats carry the real depth
        val (dw, dh, smp, _) = decodePngRaster(png)
        assert(dw == w && dh == h, tag)
        (0 until w * h).foreach(i => assert(smp(i) == sample(i, 0),
          s"$tag native i=$i"))
        val st = decodePng(7L, png)
        assert(st.bit_depth == depth &&
          st.px_sum == (0 until w * h).map(i => sample(i, 0).toLong).sum,
          tag)
      }
      // packed-RGB contract: every channel scaled by the documented
      // integer formula (exact replication below 8, round-nearest /257
      // form at 16)
      val (rw, rh, px, _) = decodePngRgb(8L, png)
      assert(rw == w && rh == h, tag)
      (0 until w * h).foreach { i =>
        val exp = ct match {
          case 0 =>
            val g = s8(sample(i, 0), depth)
            0xFF000000 | (g << 16) | (g << 8) | g
          case 2 => 0xFF000000 | (s8(sample(i, 0), depth) << 16) |
            (s8(sample(i, 1), depth) << 8) | s8(sample(i, 2), depth)
          case 3 => 0xFF000000 | pal(sample(i, 0))
          case 4 =>
            val g = s8(sample(i, 0), depth)
            (s8(sample(i, 1), depth) << 24) | (g << 16) | (g << 8) | g
          case _ => (s8(sample(i, 3), depth) << 24) |
            (s8(sample(i, 0), depth) << 16) |
            (s8(sample(i, 1), depth) << 8) | s8(sample(i, 2), depth)
        }
        assert(px(i) == exp, f"$tag i=$i got 0x${px(i)}%08X want 0x$exp%08X")
      }
    }
    // illegal cells refuse at encode AND decode (decode side pinned in
    // the handmade-vector test); out-of-range samples refuse at encode
    intercept[IllegalArgumentException](
      encodePng(2, 2, 16, 3, (_, _) => 0, Array(1)))
    intercept[IllegalArgumentException](
      encodePng(2, 2, 4, 2, (_, _) => 0))
    val eRange = intercept[IllegalArgumentException](
      encodePng(2, 2, 4, 0, (_, _) => 16))
    assert(eRange.getMessage.contains("outside 0..15"))
  }

  test("PNG sub-byte and 16-bit sample layout pinned BY HAND (r15): " +
      "MSB-first packing with row padding (stored-DEFLATE vector, no " +
      "Deflater in the loop); 16-bit filters predict at stride 2") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def be32(v: Long): Array[Byte] = b(((v >> 24) & 0xFF).toInt,
      ((v >> 16) & 0xFF).toInt, ((v >> 8) & 0xFF).toInt, (v & 0xFF).toInt)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val td = typ.getBytes("US-ASCII") ++ data
      val c = new java.util.zip.CRC32; c.update(td)
      be32(data.length.toLong) ++ td ++ be32(c.getValue)
    }
    def stored(raw: Array[Byte]): Array[Byte] = {
      val adler = { val a = new java.util.zip.Adler32; a.update(raw); a.getValue }
      b(0x78, 0x01, 0x01, raw.length & 0xFF, raw.length >> 8,
        ~raw.length & 0xFF, (~raw.length >> 8) & 0xFF) ++ raw ++
        b(((adler >> 24) & 0xFF).toInt, ((adler >> 16) & 0xFF).toInt,
          ((adler >> 8) & 0xFF).toInt, (adler & 0xFF).toInt)
    }
    val sig = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    // depth-2 gray, 5×2: samples 3,1,0,2,3 / 1,2,3,0,1 pack MSB-first
    // as 11_01_00_10 11_000000 / 01_10_11_00 01_000000 with 6 padding
    // bits closing each row
    val ihdr2 = be32(5) ++ be32(2) ++ b(2, 0, 0, 0, 0)
    val raw2 = b(0, 0xD2, 0xC0, 0, 0x6C, 0x40)
    val png2 = sig ++ chunk("IHDR", ihdr2) ++
      chunk("IDAT", stored(raw2)) ++ chunk("IEND", Array.emptyByteArray)
    val (w2, h2, smp2, _) = decodePngRaster(png2)
    assert(w2 == 5 && h2 == 2 &&
      smp2.toSeq == Seq(3, 1, 0, 2, 3, 1, 2, 3, 0, 1))
    // depth-1 gray, 10×1: 1010 1100 11 → 0xAC 0xC0
    val ihdr1 = be32(10) ++ be32(1) ++ b(1, 0, 0, 0, 0)
    val png1 = sig ++ chunk("IHDR", ihdr1) ++
      chunk("IDAT", stored(b(0, 0xAC, 0xC0))) ++
      chunk("IEND", Array.emptyByteArray)
    assert(decodePngRaster(png1)._3.toSeq ==
      Seq(1, 0, 1, 0, 1, 1, 0, 0, 1, 1))
    // depth-16 gray 2×2 with a Sub-filtered second row: filter bytes
    // predict at stride TWO, so recon = raw + out[at−2] per RFC 2083
    // §6.2 — row1 raw (0x01,0x00, 0x00,0xFF) over row-local left
    // yields 0x0100, 0x0100+0x00FF=0x01FF
    val ihdr16 = be32(2) ++ be32(2) ++ b(16, 0, 0, 0, 0)
    val raw16 = b(0, 0x12, 0x34, 0xAB, 0xCD, // row0 None: 0x1234 0xABCD
      1, 0x01, 0x00, 0x00, 0xFF) // row1 Sub at stride 2
    val png16 = sig ++ chunk("IHDR", ihdr16) ++
      chunk("IDAT", stored(raw16)) ++ chunk("IEND", Array.emptyByteArray)
    assert(decodePngRaster(png16)._3.toSeq ==
      Seq(0x1234, 0xABCD, 0x0100, 0x01FF))
  }

  test("PNG 16-bit and sub-byte depths cross-check against the JDK's " +
      "ImageIO codec in both directions (r15)") {
    val rng = new scala.util.Random(315)
    // 16-bit gray: our encoder → ImageIO reader, native samples
    val (w, h) = (11, 6)
    val g16 = Array.fill(w * h)(rng.nextInt(65536))
    val enc16 = encodePng(w, h, 16, 0, (i, _) => g16(i))
    val img16 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc16))
    assert(img16.getWidth == w && img16.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img16.getRaster.getSample(x, y, 0) == g16(y * w + x),
        s"ImageIO disagrees at ($x,$y)")
    // …and the reverse: the JDK ENCODER's 16-bit output reads natively
    val jdk = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      jdk.getRaster.setSample(x, y, 0, g16(y * w + x))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(jdk, "png", baos))
    val (dw, dh, dec, _) = decodePngRaster(baos.toByteArray)
    assert(dw == w && dh == h && dec.toSeq == g16.toSeq)
    // 16-bit truecolor: our encoder → ImageIO, per-band native samples
    val rgb16 = Array.fill(w * h * 3)(rng.nextInt(65536))
    val encC = encodePng(w, h, 16, 2, (i, c) => rgb16(3 * i + c))
    val imgC = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(encC))
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      assert(imgC.getRaster.getSample(x, y, c) == rgb16(3 * (y * w + x) + c))
    // sub-byte gray (1/2/4): ImageIO's raster carries the native bits
    for (d <- Seq(1, 2, 4)) {
      val px = Array.fill(w * h)(rng.nextInt(1 << d))
      val encD = encodePng(w, h, d, 0, (i, _) => px(i))
      val imgD = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encD))
      for (y <- 0 until h; x <- 0 until w)
        assert(imgD.getRaster.getSample(x, y, 0) == px(y * w + x),
          s"depth $d at ($x,$y)")
    }
  }

  test("PNG tRNS at depth (r15): 16-bit gray and RGB color keys " +
      "compare at the NATIVE depth, sub-byte palette alphas apply, " +
      "and type-4/6 tRNS stays forbidden through encodePngEx") {
    val w = 8; val h = 3
    // 16-bit gray key 0x1234: only exact native matches go transparent
    val gv = Array.tabulate(w * h)(i => if (i % 5 == 0) 0x1234 else 0x1233 + i)
    val gKey = encodePng(w, h, 16, 0, (i, _) => gv(i),
      trnsRaw = Array[Byte](0x12, 0x34))
    val (_, _, pxg, _) = decodePngRgb(60L, gKey)
    (0 until w * h).foreach { i =>
      val a = if (gv(i) == 0x1234) 0 else 0xFF
      assert((pxg(i) >>> 24) == a, s"gray16 key i=$i")
    }
    // 16-bit RGB key: all three channels must match natively
    val kr = 0x0102; val kg = 0xFFFE; val kb = 0x8000
    def rv(i: Int) = if (i % 4 == 0) kr else i
    def gv2(i: Int) = if (i % 4 == 0) kg else 2 * i + 1
    def bv(i: Int) = if (i % 2 == 0) kb else i + 3 // matches b alone on 2-mod
    val cKey = encodePng(w, h, 16, 2,
      (i, c) => c match { case 0 => rv(i); case 1 => gv2(i); case _ => bv(i) },
      trnsRaw = Array[Byte](0x01, 0x02, 0xFF.toByte, 0xFE.toByte,
        0x80.toByte, 0x00))
    val (_, _, pxc, _) = decodePngRgb(61L, cKey)
    (0 until w * h).foreach { i =>
      val a = if (i % 4 == 0) 0 else 0xFF // only full-triple matches
      assert((pxc(i) >>> 24) == a, s"rgb16 key i=$i")
    }
    // depth-2 palette with per-index alphas for entries 0..1
    val pal = Array(0x111111, 0x222222, 0x333333, 0x444444)
    val p2t = encodePng(w, h, 2, 3, (i, _) => i % 4, pal,
      trnsRaw = Array[Byte](10, 200.toByte))
    val (_, _, pxp, _) = decodePngRgb(62L, p2t)
    (0 until w * h).foreach { i =>
      val a = (i % 4) match { case 0 => 10; case 1 => 200; case _ => 255 }
      assert(pxp(i) == ((a << 24) | pal(i % 4)), s"pal2 i=$i")
    }
    // alpha-channel types refuse tRNS at encode, matching the decoder
    intercept[IllegalArgumentException](encodePng(2, 2, 16, 4,
      (_, _) => 0, trnsRaw = Array[Byte](0, 0)))
    intercept[IllegalArgumentException](encodePng(2, 2, 8, 6,
      (_, _) => 0, trnsRaw = Array[Byte](0, 0)))
  }

  test("encodePng refuses malformed packed input by name, sequential " +
      "and Adam7: a palette index outside PLTE, PLTE on a non-palette " +
      "type") {
    val pal = Array(0x102030, 0x405060, 0x708090)
    Seq(false, true).foreach { lace =>
      val e1 = intercept[IllegalArgumentException](encodePng(4, 2, 8, 3,
        packedSample(3, i => i % 4), pal, interlaced = lace))
      assert(e1.getMessage.contains("palette index 3 outside 0..2"),
        e1.getMessage)
      Seq(0, 2, 6).foreach { ct =>
        val e2 = intercept[IllegalArgumentException](encodePng(4, 2, 8, ct,
          packedSample(ct, _ => 7), pal, interlaced = lace))
        assert(e2.getMessage.contains("PLTE is color-type-3-only"),
          e2.getMessage)
      }
    }
  }

  test("GIF raster indices outside the color table fail loudly by name " +
      "(r15 advisor): a crafted GIF whose LZW min-code size exceeds " +
      "the declared palette bits names the doc, not an anonymous AIOOBE") {
    // encode 4 pixels 0..3 at colorBits=2 (4-entry GCT), then shrink
    // the DECLARED table to 2 entries: patch the screen descriptor's
    // GCT-size bits and drop palette entries 2..3 (6 bytes at 19..24).
    // The LZW stream still carries min-code 2 → raster indices 2,3.
    val g = encodeGif(4, 1, 2, i => i)
    val crafted = (g.take(19) ++ g.drop(25)).toArray
    crafted(10) = 0x80.toByte // GCT present, size bits 0 → 2 entries
    val e = intercept[IllegalArgumentException](decodeGifFrame(99L, crafted))
    assert(e.getMessage.contains("outside the 2-entry color table") &&
      e.getMessage.contains("doc 99"))
    // the untouched encode still decodes — the guard is not overbroad
    assert(decodeGifFrame(100L, g).raster.toSeq == Seq(0, 1, 2, 3))
  }
}
