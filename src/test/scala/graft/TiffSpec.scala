package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Exif, Multimodal, Tiff}

/** Standalone TIFF 6.0 intake (r15): baseline gray/RGB/palette at
  * 8-bit, both endiannesses, MULTI-STRIP assembly, metadata through
  * the shared EXIF walk, ImageIO cross-checks, loud boundaries. */
class TiffSpec extends AnyFunSuite {
  import Tiff._

  test("baseline round trips: gray (both photometrics incl. the " +
      "WhiteIsZero inversion), RGB, palette; both endiannesses; " +
      "single- AND multi-strip layouts reassemble identically") {
    val w = 13; val h = 11
    def gray(i: Int) = (i * 7 + 3) % 256
    def rgb(i: Int) = (((i * 37) % 256) << 16) | (((i * 91 + 5) % 256) << 8) |
      ((i * 53 + 2) % 256)
    val pal = Array.tabulate(256)(c => (c << 16) | (((c * 3) % 256) << 8) |
      ((c * 7) % 256))
    for (be <- Seq(false, true); rps <- Seq(h, 4, 1)) {
      val tag = s"be=$be rps=$rps"
      // photometric 1 (BlackIsZero)
      val t1 = decodeTiff(1L, encodeTiff(w, h, 1, gray, rps, be))
      assert(t1.width == w && t1.height == h && t1.bigEndian == be &&
        t1.nStrips == (h + rps - 1) / rps, tag)
      (0 until w * h).foreach(i => assert(t1.rgb(i) ==
        (0xFF000000 | (gray(i) * 0x010101)), s"$tag gray i=$i"))
      // photometric 0 (WhiteIsZero): stored inverted, decode restores
      val t0 = decodeTiff(2L, encodeTiff(w, h, 0, gray, rps, be))
      (0 until w * h).foreach(i => assert(t0.rgb(i) ==
        (0xFF000000 | (gray(i) * 0x010101)), s"$tag w0 i=$i"))
      // RGB
      val t2 = decodeTiff(3L, encodeTiff(w, h, 2, rgb, rps, be))
      assert(t2.samplesPerPixel == 3, tag)
      (0 until w * h).foreach(i => assert(t2.rgb(i) ==
        (0xFF000000 | rgb(i)), s"$tag rgb i=$i"))
      // palette: ColorMap v·257 round-trips the 8-bit channels exactly
      val t3 = decodeTiff(4L, encodeTiff(w, h, 3, i => (i * 5) % 256, rps,
        be, palette = pal))
      (0 until w * h).foreach(i => assert(t3.rgb(i) ==
        (0xFF000000 | pal((i * 5) % 256)), s"$tag pal i=$i"))
    }
    // multi-strip == single-strip pixel-for-pixel (the assembly pin)
    val one = decodeTiff(5L, encodeTiff(w, h, 2, rgb, h, bigEndian = false))
    val many = decodeTiff(6L, encodeTiff(w, h, 2, rgb, 2, bigEndian = true))
    assert(one.rgb.sameElements(many.rgb) && many.nStrips == 6)
  }

  test("metadata rides the same IFD through the shared EXIF walk: " +
      "Make/DateTime parsed, structure tags counted-not-parsed-through") {
    val enc = encodeTiff(8, 4, 1, i => i % 256, 2, bigEndian = true,
      make = Some("scanner-x"), dateTime = Some("2021:03:04 05:06:07"))
    val t = decodeTiff(7L, enc)
    assert(t.meta.make.contains("scanner-x"))
    assert(t.meta.dateTime.contains("2021:03:04 05:06:07"))
    assert(t.meta.bigEndian)
    // the image-structure tags are unknown to the EXIF walk — counted
    assert(t.meta.nUnknownTags >= 8,
      s"structure tags must be censused, got ${t.meta.nUnknownTags}")
  }

  test("ImageIO cross-checks BOTH directions: our gray/RGB TIFFs read " +
      "natively by the JDK reader; a JDK-written TIFF (its own strip " +
      "layout, not ours) decodes to the same pixels") {
    val rng = new scala.util.Random(299)
    val (w, h) = (21, 9)
    val g = Array.fill(w * h)(rng.nextInt(256))
    for (be <- Seq(false, true); rps <- Seq(h, 3)) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encodeTiff(w, h, 1, g(_), rps, be)))
      assert(img != null, s"JDK reader rejected be=$be rps=$rps")
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == g(y * w + x),
          s"be=$be rps=$rps ($x,$y)")
    }
    val rgbPx = Array.fill(w * h)(rng.nextInt(1 << 24))
    val imgC = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      encodeTiff(w, h, 2, rgbPx(_), 4, bigEndian = true)))
    for (y <- 0 until h; x <- 0 until w) {
      val p = rgbPx(y * w + x)
      assert(imgC.getRaster.getSample(x, y, 0) == ((p >> 16) & 0xFF) &&
        imgC.getRaster.getSample(x, y, 1) == ((p >> 8) & 0xFF) &&
        imgC.getRaster.getSample(x, y, 2) == (p & 0xFF), s"rgb ($x,$y)")
    }
    // reverse: the JDK TIFF writer chooses its own layout — our intake
    // must read it (uncompressed gray)
    val jdk = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      jdk.getRaster.setSample(x, y, 0, g(y * w + x))
    val baos = new java.io.ByteArrayOutputStream()
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    wr.setOutput(ios)
    val param = wr.getDefaultWriteParam
    // uncompressed: the JDK TIFF plugin has no "None" compression type
    // — disabling compression is the spelled-out way
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    wr.write(null, new javax.imageio.IIOImage(jdk, null, null), param)
    ios.close(); wr.dispose()
    val t = decodeTiff(9L, baos.toByteArray)
    assert(t.width == w && t.height == h)
    (0 until w * h).foreach(i => assert((t.rgb(i) & 0xFF) == g(i),
      s"JDK-written TIFF i=$i"))
  }

  test("sniff front door classifies TIFF by magic (both orders) and " +
      "censuses pixel units through the real decoder") {
    val enc = encodeTiff(6, 5, 1, i => i % 256, 2, bigEndian = false)
    assert(Multimodal.sniffMediaType(enc) == "image/tiff")
    assert(Multimodal.sniffMediaType(
      encodeTiff(6, 5, 1, i => i % 256, 2, bigEndian = true)) == "image/tiff")
  }

  test("boundaries and corruption are loud by name: compression, " +
      "photometric, bit depth, strip extent/byte-count lies, missing " +
      "ColorMap, truncation") {
    val good = encodeTiff(8, 6, 1, i => i % 256, 2, bigEndian = false)
    // patch Compression (tag 0x0103) value to 5 (LZW): find the entry
    // by scanning the IFD — LE, IFD offset at 4
    def le16(b: Array[Byte], at: Int) = (b(at) & 0xFF) | ((b(at + 1) & 0xFF) << 8)
    def le32(b: Array[Byte], at: Int) = (b(at) & 0xFFL) | ((b(at + 1) & 0xFFL) << 8) |
      ((b(at + 2) & 0xFFL) << 16) | ((b(at + 3) & 0xFFL) << 24)
    val ifd = le32(good, 4).toInt
    val n = le16(good, ifd)
    def entryAt(tag: Int): Int = (0 until n).map(i => ifd + 2 + 12 * i)
      .find(at => le16(good, at) == tag).get
    val lzw = good.clone(); lzw(entryAt(0x0103) + 8) = 5
    val e1 = intercept[IllegalArgumentException](decodeTiff(20L, lzw))
    assert(e1.getMessage.contains("compression 5 is a named boundary"))
    val pm = good.clone(); pm(entryAt(0x0106) + 8) = 6 // YCbCr
    val e2 = intercept[IllegalArgumentException](decodeTiff(21L, pm))
    assert(e2.getMessage.contains("photometric 6 is a named boundary"))
    val b16 = good.clone(); b16(entryAt(0x0102) + 8) = 16
    val e3 = intercept[IllegalArgumentException](decodeTiff(22L, b16))
    assert(e3.getMessage.contains("16-bit samples are a named boundary"))
    // a strip byte count that lies about its extent — use a
    // SINGLE-strip file so the count is inline at the entry's value
    // field (multi-strip counts live out-of-line behind an offset)
    val one = encodeTiff(8, 6, 1, i => i % 256, 6, bigEndian = false)
    val ifd1 = le32(one, 4).toInt
    val n1 = le16(one, ifd1)
    val cntAt = (0 until n1).map(i => ifd1 + 2 + 12 * i)
      .find(at => le16(one, at) == 0x0117).get
    val cnt = one.clone()
    cnt(cntAt + 8) = (cnt(cntAt + 8) + 1).toByte
    val e4 = intercept[IllegalArgumentException](decodeTiff(23L, cnt))
    assert(e4.getMessage.contains("layout needs"))
    // palette image whose ColorMap is missing: relabel a gray file as
    // photometric 3 (entry offsets found against THIS file's IFD)
    val noMap = encodeTiff(4, 4, 1, i => i % 16, 4, bigEndian = false)
    val ifd2 = le32(noMap, 4).toInt
    val n2 = le16(noMap, ifd2)
    val pmAt = (0 until n2).map(i => ifd2 + 2 + 12 * i)
      .find(at => le16(noMap, at) == 0x0106).get
    noMap(pmAt + 8) = 3
    val e5 = intercept[IllegalArgumentException](decodeTiff(24L, noMap))
    assert(e5.getMessage.contains("without ColorMap"))
    // truncation mid-strip
    val e6 = intercept[IllegalArgumentException](
      decodeTiff(25L, good.take(20)))
    assert(e6.getMessage.toLowerCase.contains("overrun"))
    intercept[IllegalArgumentException](decodeTiff(26L, "NOPE".getBytes))
  }

  test("TIFF joins the cross-format image stack: the same raster saved " +
      "as TIFF and PNG decodes to identical packed RGB") {
    val w = 16; val h = 8
    def rgb(i: Int) = (((i * 37) % 256) << 16) | (((i * 91 + 5) % 256) << 8) |
      ((i * 53 + 2) % 256)
    val viaTiff = decodeTiff(30L, encodeTiff(w, h, 2, rgb, 3,
      bigEndian = true)).rgb
    val (_, _, viaPng, _) = Multimodal.decodePngRgb(31L,
      Multimodal.encodePng(w, h, 8, 2, Multimodal.packedSample(2, rgb)))
    assert(viaTiff.sameElements(viaPng))
  }
}
