package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Exif, Multimodal}
import graft.ops.Exif.ExifMeta

class ExifSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int): Array[Byte] =
    Multimodal.encodeJpeg(w, h, i => (i * 7) % 256)

  test("EXIF APP1 round-trip in BOTH endiannesses: every carried field " +
      "replays exactly (ASCII NUL-terminated, SHORT/LONG dims, exact " +
      "rationals), spliced after SOI like camera firmware writes it") {
    Seq(false, true).foreach { be =>
      val meta = ExifMeta(bigEndian = be,
        description = Some("a test image"), make = Some("graftcam"),
        model = Some("GC-1"), orientation = Some(6),
        artist = Some("A. Person"),
        dateTime = Some("2013:05:02 12:00:00"),
        exposureTime = Some((1L, 125L)), fNumber = Some((28L, 10L)),
        iso = Some(400), dateTimeOriginal = Some("2013:05:01 08:30:00"),
        pixelX = Some(16L), pixelY = Some(8L))
      val tagged = Exif.insertJpegSegments(gray(16, 8),
        Seq(Exif.encodeJfifApp0(72, 96), Exif.encodeExifApp1(meta)))
      val c = Exif.readJpegMeta(1L, tagged)
      assert(c.exif.contains(meta), s"be=$be: ${c.exif}")
      assert(c.jfif.exists(j => j.major == 1 && j.minor == 2 &&
        j.units == 1 && j.xDensity == 72 && j.yDensity == 96))
      assert(c.nComments == 0 && c.nUnknownApps == 0)
      assert(c.metaBytes > 0)
    }
  }

  test("unknown APPn segments and COM are counted and skipped; GPS " +
      "pointer and MakerNote-style unknown tags are counted, never " +
      "parsed through; the bare stream has no metadata") {
    val meta = ExifMeta(bigEndian = false, make = Some("m"),
      orientation = Some(1))
    val tagged = Exif.insertJpegSegments(gray(8, 8),
      Seq(Exif.encodeAppSegment(5, Array[Byte](1, 2, 3)),
        Exif.encodeExifApp1(meta),
        Exif.encodeJpegComment("crawl junk"),
        Exif.encodeAppSegment(13, Array[Byte](9))))
    val c = Exif.readJpegMeta(2L, tagged)
    assert(c.nUnknownApps == 2 && c.nComments == 1)
    assert(c.exif.exists(e => e.make.contains("m") && e.nUnknownTags == 0))
    val bare = Exif.readJpegMeta(3L, gray(8, 8))
    assert(bare.jfif.isEmpty && bare.exif.isEmpty && bare.metaBytes == 0)
    // MakerNote is vendor-opaque by spec: encoded as tag 0x927C, the
    // intake counts it as unknown and never parses it (both the inline
    // <=4-byte form and the offset form)
    Seq(3, 40).foreach { n =>
      val mn = ExifMeta(bigEndian = true, iso = Some(200),
        makerNote = Some(Array.tabulate(n)(_.toByte)))
      val cm = Exif.readJpegMeta(7L, Exif.insertJpegSegments(gray(8, 8),
        Seq(Exif.encodeExifApp1(mn))))
      assert(cm.exif.exists(e => e.nUnknownTags == 1 &&
        e.makerNote.isEmpty && e.iso.contains(200)), s"n=$n: ${cm.exif}")
    }
  }

  test("strip removes every APPn/COM segment and the stripped stream " +
      "decodes to the SAME raster as the tagged one (the decoder skips " +
      "tags by length; strip just makes the bytes canonical)") {
    val base = gray(24, 16)
    val meta = ExifMeta(bigEndian = true, model = Some("GC-2"),
      orientation = Some(3), pixelX = Some(24L), pixelY = Some(16L))
    val tagged = Exif.insertJpegSegments(base,
      Seq(Exif.encodeJfifApp0(300, 300, units = 2),
        Exif.encodeExifApp1(meta), Exif.encodeJpegComment("c")))
    val stripped = Exif.stripJpegMeta(4L, tagged)
    assert(stripped.sameElements(base), "strip must recover the bare bytes")
    val (w1, h1, r1, _) = Multimodal.decodeJpegRaster(tagged)
    val (w2, h2, r2, _) = Multimodal.decodeJpegRaster(stripped)
    assert(w1 == w2 && h1 == h2 && r1.sameElements(r2))
    assert(Exif.readJpegMeta(5L, stripped).metaBytes == 0)
  }

  test("GPS sub-IFD: hemisphere refs and EXACT deg/min/sec rational " +
      "triplets round-trip in both endiannesses; unknown GPS tags " +
      "(altitude) are counted-and-skipped; malformed refs loud") {
    Seq(false, true).foreach { be =>
      val g = Exif.Gps('S', Seq((37L, 1L), (46L, 1L), (299L, 10L)),
        'W', Seq((122L, 1L), (25L, 1L), (101L, 10L)))
      val meta = ExifMeta(bigEndian = be, make = Some("gc"),
        orientation = Some(1), gps = Some(g))
      val c = Exif.readJpegMeta(20L, Exif.insertJpegSegments(gray(8, 8),
        Seq(Exif.encodeExifApp1(meta))))
      val e = c.exif.get
      assert(e.gps.contains(g), s"be=$be: ${e.gps}")
      assert(e.nUnknownTags == 0 && e.make.contains("gc"))
    }
    // no GPS -> no pointer emitted, none parsed
    val plain = Exif.readJpegMeta(21L, Exif.insertJpegSegments(gray(8, 8),
      Seq(Exif.encodeExifApp1(ExifMeta(bigEndian = false,
        iso = Some(100)))))).exif.get
    assert(plain.gps.isEmpty && plain.nUnknownTags == 0)
    intercept[IllegalArgumentException](
      Exif.Gps('X', Seq((1L, 1L), (1L, 1L), (1L, 1L)),
        'E', Seq((1L, 1L), (1L, 1L), (1L, 1L))))
    intercept[IllegalArgumentException](
      Exif.Gps('N', Seq((1L, 1L)), 'E', Seq((1L, 1L), (1L, 1L), (1L, 1L))))
    intercept[IllegalArgumentException](
      Exif.encodeExifApp1(ExifMeta(bigEndian = false, gps = Some(
        Exif.Gps('N', Seq((1L, 1L), (1L, 0L), (1L, 1L)),
          'E', Seq((1L, 1L), (1L, 1L), (1L, 1L)))))))
  }

  test("orientation normalization: all 8 EXIF orientations recover the " +
      "upright raster bit-exactly on a non-square asymmetric image; " +
      "rotations 6/8 are mutual inverses, the rest self-inverse; " +
      "PNG eXIf carries the tag losslessly end-to-end") {
    val (w, h) = (5, 3)
    val upright = Array.tabulate(w * h)(i => (i * 37 + 11) % 256)
    (1 to 8).foreach { o =>
      // stored = what a camera writing orientation o produces: the
      // upright scene transformed by the INVERSE of o's display fix
      val inv = Exif.inverseOrientation(o)
      val (sw, sh, stored) = Exif.applyOrientation(w, h, upright, inv)
      if (o >= 5) assert(sw == h && sh == w) else assert(sw == w && sh == h)
      val (nw, nh, norm) = Exif.applyOrientation(sw, sh, stored, o)
      assert(nw == w && nh == h && norm.sameElements(upright),
        s"orientation $o did not recover upright")
    }
    intercept[IllegalArgumentException](
      Exif.applyOrientation(w, h, upright, 0))
    intercept[IllegalArgumentException](
      Exif.applyOrientation(w, h, upright.take(5), 1))
    // PNG eXIf end-to-end: lossless codec -> exact normalization
    Seq(false, true).foreach { be =>
      val o = if (be) 6 else 7
      val inv = Exif.inverseOrientation(o)
      val (sw, sh, stored) = Exif.applyOrientation(w, h, upright, inv)
      val png = Multimodal.insertPngExif(
        Multimodal.encodePng(sw, sh, 8, 0,
          Multimodal.packedSample(0, stored(_))),
        Exif.encodeExifTiff(ExifMeta(bigEndian = be,
          orientation = Some(o), make = Some("gc"))))
      val meta = Multimodal.readPngExif(10L, png).get
      assert(meta.orientation.contains(o) && meta.bigEndian == be &&
        meta.make.contains("gc"))
      val (dw, dh, raster, _) = Multimodal.decodePngRaster(png)
      val (nw, nh, norm) =
        Exif.applyOrientation(dw, dh, raster, meta.orientation.get)
      assert(nw == w && nh == h && norm.sameElements(upright))
      assert(Multimodal.readPngExif(11L,
        Multimodal.encodePng(sw, sh, 8, 0,
          Multimodal.packedSample(0, stored(_)))).isEmpty)
    }
  }

  test("corruption and spec violations fail loudly by name: bad TIFF " +
      "byte-order mark, wrong magic, field data overrunning the block, " +
      "a known tag with an off-spec type, orientation out of range") {
    val meta = ExifMeta(bigEndian = false, make = Some("vendor"),
      orientation = Some(2), exposureTime = Some((1L, 60L)))
    val app1 = Exif.encodeExifApp1(meta)
    val tiffAt = 4 + 6 // segment header + "Exif\0\0"
    def corrupt(f: Array[Byte] => Unit): Array[Byte] = {
      val c = app1.clone(); f(c); c
    }
    def intake(seg: Array[Byte]): Exif.JpegMetaInfo =
      Exif.readJpegMeta(6L, Exif.insertJpegSegments(gray(8, 8), Seq(seg)))
    val e1 = intercept[IllegalArgumentException](intake(
      corrupt(c => { c(tiffAt) = 'X'; c(tiffAt + 1) = 'X' })))
    assert(e1.getMessage.contains("byte-order"))
    val e2 = intercept[IllegalArgumentException](intake(
      corrupt(c => c(tiffAt + 2) = 99)))
    assert(e2.getMessage.contains("magic"))
    // IFD0 entry 0 is Make (ascending tag order): its value offset is
    // at tiff+8(hdr)+2(count)+8 — smash it past the block
    val e3 = intercept[IllegalArgumentException](intake(
      corrupt { c =>
        val at = tiffAt + 8 + 2 + 8
        c(at) = 0xFF.toByte; c(at + 1) = 0xFF.toByte
      }))
    assert(e3.getMessage.contains("overruns"))
    // flip Make's type from ASCII(2) to SHORT(3)
    val e4 = intercept[IllegalArgumentException](intake(
      corrupt { c => c(tiffAt + 8 + 2 + 2) = 3 }))
    assert(e4.getMessage.contains("must be ASCII"))
    intercept[IllegalArgumentException](
      Exif.encodeExifApp1(ExifMeta(bigEndian = false, orientation = Some(9))))
    // orientation 0 planted in the segment is loud at intake too
    val e5 = intercept[IllegalArgumentException](intake(corrupt { c =>
      // entry 1 is Orientation (0x0112 > 0x010F): value at +12 entry
      val at = tiffAt + 8 + 2 + 12 + 8
      c(at) = 0; c(at + 1) = 0
    }))
    assert(e5.getMessage.contains("orientation"))
  }

  test("field COUNT corruption fails loudly by name (r13 advisor): a " +
      "negative count (u32 high bit) and an sz*count Int overflow both " +
      "hit the named guard instead of wrapping past extent validation") {
    // minimal little-endian block: IFD0 = [Make, ExifPointer]
    val t1 = Exif.encodeExifTiff(ExifMeta(bigEndian = false,
      make = Some("vendorname")))
    // Make entry at 10: tag(2) typ(2) count@14(4) value(4)
    val c1 = t1.clone(); c1(17) = 0x80.toByte // count -> 0x8000000B < 0
    val e1 = intercept[IllegalArgumentException](Exif.parseExifTiff(c1, 20L))
    assert(e1.getMessage.contains("field count overruns TIFF block"))
    // unknown-tag path (the silent one pre-fix): MakerNote entry with
    // type smashed to RATIONAL(5, size 8) and count 0x30000000 so
    // 8*count overflows Int to negative -- must be loud, not counted
    val t2 = Exif.encodeExifTiff(ExifMeta(bigEndian = false,
      makerNote = Some(Array[Byte](1, 2, 3, 4, 5, 6))))
    // IFD0=[ExifPointer]@8 (18 B), ExifIFD@26: ExifVersion@28, MakerNote@40
    assert((t2(40) & 0xFF) == 0x7C && (t2(41) & 0xFF) == 0x92) // tag check
    val c2 = t2.clone()
    c2(42) = 5; c2(43) = 0          // type RATIONAL
    c2(44) = 0; c2(45) = 0; c2(46) = 0; c2(47) = 0x30 // count 0x30000000
    val e2 = intercept[IllegalArgumentException](Exif.parseExifTiff(c2, 21L))
    assert(e2.getMessage.contains("field count overruns TIFF block"))
    // sanity: the uncorrupted blocks still parse
    assert(Exif.parseExifTiff(t1, 22L).make.contains("vendorname"))
    assert(Exif.parseExifTiff(t2, 23L).nUnknownTags == 1)
  }

  test("Interoperability sub-IFD and IFD1 thumbnail (r14): the index " +
      "and the embedded JPEG round-trip both endiannesses, the " +
      "thumbnail decodes, sub-IFD unknown tags are counted, and " +
      "compression/offset/SOI corruption is loud") {
    val thumb = Multimodal.encodeJpeg(8, 8, i => (i * 11) % 256)
    Seq(false, true).foreach { be =>
      val meta = ExifMeta(bigEndian = be, make = Some("gc"),
        orientation = Some(1), interopIndex = Some("R98"),
        thumbnail = Some(thumb))
      val block = Exif.encodeExifTiff(meta)
      val p = Exif.parseExifTiff(block, 60L)
      assert(p.interopIndex.contains("R98") && p.make.contains("gc"))
      assert(p.thumbnail.exists(_.sameElements(thumb)),
        s"be=$be: thumbnail bytes must round-trip exactly")
      // the carried thumbnail really is a decodable JPEG
      val (tw, th, _, _) = Multimodal.decodeJpegRaster(p.thumbnail.get)
      assert(tw == 8 && th == 8)
      assert(p.nUnknownTags == 0)
      // and the same through the full APP1 + marker walk
      val tagged = Exif.insertJpegSegments(
        Multimodal.encodeJpeg(16, 8, i => (i * 7) % 256),
        Seq(Exif.encodeExifApp1(meta)))
      val c = Exif.readJpegMeta(61L, tagged)
      assert(c.exif.get.thumbnail.exists(_.sameElements(thumb)) &&
        c.exif.get.interopIndex.contains("R98"))
    }
    // THM (DCF thumbnail file) and R03 (DCF option) index values carry
    assert(Exif.parseExifTiff(Exif.encodeExifTiff(ExifMeta(
      bigEndian = false, interopIndex = Some("THM"))), 62L)
      .interopIndex.contains("THM"))
    // corruption: thumbnail SOI flipped inside the block is loud
    val block = Exif.encodeExifTiff(ExifMeta(bigEndian = false,
      interopIndex = Some("R98"), thumbnail = Some(thumb)))
    val pre = thumb.take(8)
    val tIdx = block.indices.find(i => i + 8 <= block.length &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(block, i, i + 8), pre)).get
    val badSoi = block.clone(); badSoi(tIdx + 1) = 0xD9.toByte
    val e1 = intercept[IllegalArgumentException](
      Exif.parseExifTiff(badSoi, 63L))
    assert(e1.getMessage.contains("no JPEG SOI"))
    // corruption: IFD1 compression != 6 (LE entry bytes for tag 0x0103
    // SHORT 1 value 6) is loud by name
    val compEntry = Array[Byte](0x03, 0x01, 3, 0, 1, 0, 0, 0, 6, 0, 0, 0)
    val cIdx = block.indices.find(i => i + 12 <= block.length &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(block, i, i + 12), compEntry)).get
    val badComp = block.clone(); badComp(cIdx + 8) = 1
    val e2 = intercept[IllegalArgumentException](
      Exif.parseExifTiff(badComp, 64L))
    assert(e2.getMessage.contains("not JPEG (6)"))
    // corruption: thumbnail length overrunning the block is loud (the
    // JIFLen entry follows compression's in ascending-tag order; its
    // value is at +8 of the THIRD ifd1 entry -- smash the length high)
    val lenEntryPre = Array[Byte](0x02, 0x02, 4, 0, 1, 0, 0, 0)
    val lIdx = block.indices.find(i => i + 8 <= block.length &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(block, i, i + 8), lenEntryPre)).get
    val badLen = block.clone(); badLen(lIdx + 8 + 2) = 0x7F.toByte
    val e3 = intercept[IllegalArgumentException](
      Exif.parseExifTiff(badLen, 65L))
    assert(e3.getMessage.contains("overruns TIFF block"))
    // encode refuses a non-JPEG thumbnail outright
    intercept[IllegalArgumentException](Exif.encodeExifTiff(ExifMeta(
      bigEndian = false, thumbnail = Some(Array[Byte](1, 2, 3, 4, 5)))))
  }
}
