package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MpegAudio
import graft.ops.MpegAudio._

class MpegAudioSpec extends AnyFunSuite {

  /** [granule][channel] specs of plain spectra at one big_values. */
  private def monoGrans(lines: Seq[Array[Int]], gains: Seq[Int],
      bv: Int = 0): Seq[Seq[Mp3GranSpec]] =
    lines.zip(gains).map { case (l, gg) => Seq(Mp3GranSpec(l, gg, bv)) }

  private def stereoGrans(lines: Seq[(Array[Int], Array[Int])],
      gains: Seq[(Int, Int)], bv: Int = 0): Seq[Seq[Mp3GranSpec]] =
    lines.zip(gains).map { case ((a, b), (ga, gb)) =>
      Seq(Mp3GranSpec(a, ga, bv), Mp3GranSpec(b, gb, bv))
    }

  /** MSB-first packer for hand-built frames. */
  private final class Packer {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var n = 0
    def put(v: Int, bits: Int): this.type = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >>> i) & 1); n += 1
        if (n == 8) { out.write(acc); acc = 0; n = 0 }
        i -= 1
      }
      this
    }
    def toFrame(frameBytes: Int): Array[Byte] = {
      while (n != 0) put(0, 1)
      java.util.Arrays.copyOf(out.toByteArray, frameBytes)
    }
  }

  /** Header for mono 48 kHz, protection absent. */
  private def header(p: Packer, layer: Int, kbpsIdx: Int): Packer =
    p.put(0xFFF, 12).put(1, 1).put(4 - layer, 2).put(1, 1)
      .put(kbpsIdx, 4).put(1, 2).put(0, 2).put(3, 2).put(0, 6)

  test("header parse + census: every layer/bitrate round-trips through " +
      "syntheticStream; truncation and desync fail loudly") {
    for ((layer, kbps) <- Seq((1, 96), (1, 448), (2, 56), (2, 384),
        (3, 56), (3, 320))) {
      val st = MpegAudio.syntheticStream(layer, kbps, 3)
      val fs = MpegAudio.walkFrames(1L, st)
      assert(fs.length == 3)
      assert(fs.forall(f => f.layer == layer && f.bitrate_kbps == kbps &&
        f.sample_rate == 48000))
      assert(fs.map(_.byte_off) ==
        Seq(0L, fs.head.frame_bytes.toLong, 2L * fs.head.frame_bytes))
      assert(fs.head.n_samples == (if (layer == 1) 384 else 1152))
      // a truncated tail frame is an error, not a silent partial census
      val e = intercept[IllegalArgumentException](
        MpegAudio.walkFrames(2L, st.dropRight(1)))
      assert(e.getMessage.contains("overruns"))
    }
    // garbage after a valid frame = desync, loud
    val ok = MpegAudio.syntheticStream(2, 64, 1)
    val e2 = intercept[IllegalArgumentException](
      MpegAudio.walkFrames(3L, ok ++ Array[Byte](0x12, 0x34, 0x56, 0x78)))
    assert(e2.getMessage.contains("syncword"))
  }

  test("silent synthetic frames of all three layers decode to exact " +
      "zeros; stereo and alloc-15 rejected") {
    for (layer <- 1 to 3) {
      val pcm = MpegAudio.decodeMpegAudio(1L,
        MpegAudio.syntheticStream(layer,
          if (layer == 1) 128 else 96, 2))
      assert(pcm.length == (if (layer == 1) 768 else 2304))
      // a zero body is a legal silent frame in every layer (L3: zero
      // side info = reservoir-free, part2_3_length 0, empty spectrum)
      assert(pcm.forall(_ == 0.0))
    }
    val stereo = MpegAudio.syntheticStream(2, 96, 1)
    stereo(3) = 0x00 // mode 00 = stereo
    val e = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudio(3L, stereo))
    assert(e.getMessage.contains("mono"))
    val badAlloc = MpegAudio.syntheticStream(1, 128, 1)
    badAlloc(4) = 0xF0.toByte // first Layer I allocation nibble = 15
    val e2 = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudio(4L, badAlloc))
    assert(e2.getMessage.contains("forbidden alloc"))
  }

  test("Layer II scfsi patterns: hand-built frames with shared " +
      "scalefactors decode bit-identically to their explicit twins") {
    val kbpsIdx = 3 // 56 kbps → 168-byte frames
    // one active subband (sb 0, alloc 1 → 3 levels, grouped 5-bit codes)
    def frame(scfsi: Int, sfs: Seq[Int], codes: Seq[Int]): Array[Byte] = {
      val p = header(new Packer, 2, kbpsIdx)
      p.put(1, 4) // alloc sb0
      (1 until 27).foreach(sb => p.put(0, if (sb < 11) 4 else if (sb < 23) 3 else 2))
      p.put(scfsi, 2)
      sfs.foreach(p.put(_, 6))
      codes.foreach(p.put(_, 5))
      p.toFrame(168)
    }
    val codes = (0 until 12).map(gr => (gr * 7) % 27) // arbitrary 3-level groups
    // scfsi 2 (one sf for all parts) ≡ scfsi 0 with that sf three times
    val a = MpegAudio.decodeMpegAudio(1L, frame(2, Seq(4), codes))
    val b = MpegAudio.decodeMpegAudio(1L, frame(0, Seq(4, 4, 4), codes))
    assert(a.toSeq == b.toSeq)
    assert(a.exists(_ != 0.0)) // the path genuinely synthesizes signal
    // scfsi 1 → (a, a, b); scfsi 3 → (a, b, b)
    val c = MpegAudio.decodeMpegAudio(1L, frame(1, Seq(7, 13), codes))
    val d = MpegAudio.decodeMpegAudio(1L, frame(0, Seq(7, 7, 13), codes))
    assert(c.toSeq == d.toSeq)
    val e = MpegAudio.decodeMpegAudio(1L, frame(3, Seq(7, 13), codes))
    val f = MpegAudio.decodeMpegAudio(1L, frame(0, Seq(7, 13, 13), codes))
    assert(e.toSeq == f.toSeq)
    // a forbidden scalefactor index fails loudly
    val g = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudio(1L, frame(0, Seq(63, 0, 0), codes)))
    assert(g.getMessage.contains("forbidden scalefactor"))
  }

  test("round-trip SNR floors: tonal PCM through both layers at " +
      "several bitrates stays above the gate's pinned floor") {
    val n = 1152 * 4
    def tone(f1: Double, a1: Double, f2: Double, a2: Double): Array[Short] =
      Array.tabulate(n) { i =>
        val v = a1 * math.sin(2 * math.Pi * f1 * i / 48000.0) +
          a2 * math.sin(2 * math.Pi * f2 * i / 48000.0)
        math.round(v * 32767).toShort
      }
    val pcm = tone(440, 0.55, 6100, 0.3)
    for ((layer, kbps) <- Seq((1, 128), (1, 384), (2, 96), (2, 192))) {
      val rt = MpegAudio.roundTripStats(1L, pcm, layer, kbps, 25)
      assert(rt.snr_ok, s"L$layer@$kbps: snr ${rt.snr_db} dB below floor")
      assert(rt.snr_db >= 30, s"L$layer@$kbps: snr ${rt.snr_db} dB")
      assert(rt.n_frames == (if (layer == 1) 12 else 4))
      assert(rt.n_samples == n.toLong)
    }
    // higher bitrate must not be worse by more than jitter
    val lo = MpegAudio.roundTripStats(1L, pcm, 2, 96, 0).snr_db
    val hi = MpegAudio.roundTripStats(1L, pcm, 2, 192, 0).snr_db
    assert(hi >= lo - 1)
  }

  test("audio fingerprint: top-4 band ranks survive the 96-vs-192 kbps " +
      "round trip, differ across tone sets, and stay inside sblimit") {
    import graft.ops.MpegAudio
    def clip(bands: Array[Int]): Array[Short] = {
      val amps = Array(0.5, 0.25, 0.12, 0.06)
      Array.tabulate(2304) { i =>
        var v = 0.0
        var b = 0
        while (b < 4) {
          v += amps(b) * math.sin(
            2 * math.Pi * (bands(b) + 0.5) * 750.0 * i / 48000.0)
          b += 1
        }
        math.round(v * 32767).toShort
      }
    }
    val a = clip(Array(2, 9, 17, 25))
    def fps(pcm: Array[Short], kbps: Int) =
      MpegAudio.audioFingerprints(MpegAudio.decodeMpegAudio(1L,
        MpegAudio.encodeMp2(pcm, kbps)))
    assert(fps(a, 96) == fps(a, 192)) // cross-bitrate identical
    // the fingerprint actually names the planted bands, best first
    val fp = fps(a, 192).head._2
    assert((0 until 4).map(r => (fp >> (5 * (3 - r))) & 31) ==
      Seq(2, 9, 17, 25))
    // a different tone set fingerprints differently
    val b = clip(Array(3, 10, 18, 26))
    assert(fps(b, 96).head._2 != fps(a, 96).head._2)
    // a tone ABOVE table B.2a's sblimit (subband 27+) is dropped by
    // the codec — the round trip must NOT preserve its rank slot
    val hi = clip(Array(2, 9, 17, 28))
    val hiFp = fps(hi, 192).head._2
    assert((hiFp & 31) != 28)
  }

  test("CRC-16 protection: protected frames round-trip bit-identically " +
      "to unprotected audio; a side-info flip fails loudly; a sample-" +
      "data flip is (per the standard) NOT the CRC's job") {
    import graft.ops.MpegAudio
    val pcm = Array.tabulate(2304)(i =>
      (math.sin(2 * math.Pi * 700 * i / 48000.0) * 15000).toShort)
    for (layer <- 1 to 2) {
      val kbps = if (layer == 1) 192 else 96
      val plain = if (layer == 1) MpegAudio.encodeMp1(pcm, kbps)
        else MpegAudio.encodeMp2(pcm, kbps)
      val prot = if (layer == 1) MpegAudio.encodeMp1(pcm, kbps, withCrc = true)
        else MpegAudio.encodeMp2(pcm, kbps, withCrc = true)
      assert(prot.length == plain.length) // CRC rides the ancillary slack
      // the 16-bit CRC word comes out of the allocation budget, so the
      // bitstreams differ — but quality must be equivalent
      val snrPlain = MpegAudio.roundTripStats(1L, pcm, layer, kbps, 0).snr_db
      val snrProt = MpegAudio.roundTripStats(1L, pcm, layer, kbps, 0,
        withCrc = true).snr_db
      assert(snrProt >= snrPlain - 2, s"L$layer: $snrProt vs $snrPlain dB")
      // flip one ALLOCATION bit (byte 6 = first side-info byte of a
      // protected frame) → CRC mismatch, loud
      val bad = prot.clone()
      bad(6) = (bad(6) ^ 0x10).toByte
      val e = intercept[IllegalArgumentException](
        MpegAudio.decodeMpegAudio(2L, bad))
      assert(e.getMessage.contains("CRC mismatch"))
      // flip one bit deep in SAMPLE data → decodes fine (different
      // audio): the standard protects side info only
      val deep = prot.clone()
      val frameLen = MpegAudio.walkFrames(3L, prot).head.frame_bytes
      deep(frameLen - 3) = (deep(frameLen - 3) ^ 0x01).toByte
      MpegAudio.decodeMpegAudio(3L, deep): Unit
    }
  }

  test("44.1 kHz padding: the fractional slot accumulator pads exactly " +
      "the frames that keep the byte rate exact, and the walker " +
      "recovers every boundary") {
    import graft.ops.MpegAudio
    // Layer II @ 128 kbps / 44.1 kHz: 144000·128/44100 = 417.96… —
    // nearly every frame pads (m/fs ≈ 0.96)
    val st = MpegAudio.syntheticStream(2, 128, 8, 44100)
    val fs = MpegAudio.walkFrames(1L, st)
    assert(fs.length == 8)
    val unit = 144000 * 128
    val (base, m) = (unit / 44100, unit % 44100)
    fs.zipWithIndex.foreach { case (f, j) =>
      val pad = ((j + 1).toLong * m) / 44100 - (j.toLong * m) / 44100
      assert(f.frame_bytes == base + pad.toInt, s"frame $j")
      assert(f.byte_off == j.toLong * base + (j.toLong * m) / 44100)
    }
    assert(fs.map(_.frame_bytes).distinct.size == 2) // both sizes occur
    // Layer I pads a whole 4-byte SLOT, not a byte
    val l1 = MpegAudio.walkFrames(2L,
      MpegAudio.syntheticStream(1, 128, 8, 44100))
    assert(l1.map(_.frame_bytes).distinct.sorted ==
      Seq(4 * (12000 * 128 / 44100), 4 * (12000 * 128 / 44100 + 1)))
  }

  test("Layer III: planted spectra round-trip bit-exactly through the " +
      "reservoir-free stream (side info, Huffman tables 0/1/B, CRC, " +
      "requantization)") {
    import graft.ops.MpegAudio
    // 2 frames = 4 granules; lines in both the big-values and count1
    // regions, mixed signs, per-granule gains
    val granules = (0 until 4).map { g =>
      val spec = new Array[Int](576)
      spec(2 * g) = 1             // big-values region (pairs 0..15)
      spec(2 * g + 1) = -1
      spec(40 + 18 * g) = -1      // count1 region
      spec(300 + 4 * g) = 1
      spec(571) = 1               // near the top of the spectrum
      spec
    }
    val gains = Seq(200, 210, 190, 226)
    Seq(false, true).foreach { crc =>
      val enc = MpegAudio.encodeMp3(monoGrans(granules, gains, 16), 192,
        withCrc = crc)
      val frames = MpegAudio.walkFrames(7L, enc)
      assert(frames.length == 2 && frames.forall(_.layer == 3))
      val spectra = MpegAudio.mp3StreamSpectra(7L, enc)
      assert(spectra.length == 4)
      spectra.zipWithIndex.foreach { case (xr, g) =>
        val gain = math.pow(2.0, (gains(g) - 210) / 4.0)
        (0 until 576).foreach { i =>
          val want = granules(g)(i) * gain
          assert(math.abs(xr(i) - want) < 1e-12,
            s"granule $g line $i: got ${xr(i)} want $want")
        }
      }
      // full PCM chain runs and yields finite, nonzero output
      val pcm = MpegAudio.decodeMpegAudio(7L, enc)
      assert(pcm.length == 2304)
      assert(pcm.forall(v => !v.isNaN && !v.isInfinite))
      assert(pcm.exists(math.abs(_) > 1e-6))
    }
  }

  test("Layer III: a planted single-subband tone dominates that " +
      "subband's synthesis energy (alias/IMDCT/overlap/inversion chain)") {
    import graft.ops.MpegAudio
    // one tone per granule, mid-subband lines (away from the alias
    // butterflies at subband boundaries), repeated over 4 frames so the
    // overlap-add reaches steady state
    Seq(3, 11, 26).foreach { sb =>
      val spec = new Array[Int](576)
      spec(18 * sb + 8) = 1
      spec(18 * sb + 9) = -1
      val granules = Seq.fill(8)(spec)
      val enc = MpegAudio.encodeMp3(monoGrans(granules, Seq.fill(8)(214)), 192)
      val pcm = MpegAudio.decodeMpegAudio(8L, enc)
      val fps = MpegAudio.audioFingerprints(pcm)
      // skip frame 0 (filterbank + overlap warm-up); every later
      // frame's TOP energy band must be the planted subband
      fps.drop(1).foreach { case (f, fp) =>
        val top = ((fp >> 15) & 31).toInt
        assert(top == sb, s"frame $f: top band $top, planted $sb")
      }
    }
  }

  test("Layer III bit reservoir: densely-packed streams carry nonzero " +
      "main_data_begin on every tail frame, round-trip granule spectra " +
      "bit-exactly, and decode to the SAME PCM as the flat layout") {
    import graft.ops.MpegAudio
    // sparse granules at a high bitrate: data ≪ region, so the
    // back-pointer climbs to the 511-byte spec cap with legal stuffing
    val granules = (0 until 8).map { g =>
      val spec = new Array[Int](576)
      spec(18 * (2 + g % 20) + 4) = 1
      spec(40 + 4 * g) = -1
      spec
    }
    val gains = (0 until 8).map(g => 200 + g)
    Seq(false, true).foreach { crc =>
      val enc = MpegAudio.encodeMp3(monoGrans(granules, gains), 224,
        reservoir = true, withCrc = crc)
      val census = MpegAudio.mp3ReservoirCensus(31L, enc)
      assert(census.length == 4)
      assert(census.head._2 == 0, "first frame has no history to point into")
      assert(census.tail.forall(_._2 > 0),
        s"every tail frame must use the reservoir: $census")
      assert(census.map(_._2).max <= 511)
      val spectra = MpegAudio.mp3StreamSpectra(31L, enc)
      assert(spectra.length == 8)
      spectra.zipWithIndex.foreach { case (xr, g) =>
        val gain = math.pow(2.0, (gains(g) - 210) / 4.0)
        (0 until 576).foreach { i =>
          assert(math.abs(xr(i) - granules(g)(i) * gain) < 1e-12,
            s"granule $g line $i")
        }
      }
      // the flat (main_data_begin = 0) layout of the SAME granules must
      // decode to identical spectra and identical PCM — the reservoir is
      // pure transport
      val flat = MpegAudio.encodeMp3(monoGrans(granules, gains), 224,
        withCrc = crc)
      assert(MpegAudio.mp3ReservoirCensus(31L, flat).forall(_._2 == 0))
      MpegAudio.mp3StreamSpectra(31L, flat).zip(spectra).foreach {
        case (a, b) => assert(a.sameElements(b))
      }
      val pcm = MpegAudio.decodeMpegAudio(31L, enc)
      val pcmFlat = MpegAudio.decodeMpegAudio(31L, flat)
      assert(pcm.length == 4 * 1152)
      assert(pcm.exists(math.abs(_) > 1e-6))
      assert(pcm.sameElements(pcmFlat))
    }
    // big-values region through the reservoir too
    val enc2 = MpegAudio.encodeMp3(monoGrans(granules, gains, 16), 224,
      reservoir = true)
    val s2 = MpegAudio.mp3StreamSpectra(32L, enc2)
    assert(s2.length == 8)
    // a reservoir stream CUT mid-history fails loudly: drop frame 0 and
    // frame 1's back-pointer has nothing to point into
    val resv = MpegAudio.encodeMp3(monoGrans(granules, gains), 224,
      reservoir = true)
    val frames = MpegAudio.walkFrames(31L, resv)
    val cut = resv.drop(frames(1).byte_off.toInt)
    val e = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudio(33L, cut))
    assert(e.getMessage.contains("reservoir underflow"))
  }

  test("Layer III stereo: MS and plain-stereo planted spectra round-trip " +
      "through flat and reservoir transport; the MS matrix reconstructs L/R") {
    import graft.ops.MpegAudio
    val nGr = 4
    val granules = (0 until nGr).map { g =>
      val m = new Array[Int](576); val s = new Array[Int](576)
      m(18 * (3 + g) + 5) = 1
      m(2 * g) = -1             // big-values region line (pairs 0..15)
      s(18 * (14 + g) + 7) = -1
      s(2 * g + 1) = 1
      (m, s)
    }
    val gains = (0 until nGr).map(g => (200 + g, 206 - g))
    for (ms <- Seq(true, false); resv <- Seq(true, false);
        crc <- Seq(true, false)) {
      val enc = MpegAudio.encodeMp3(stereoGrans(granules, gains, 16), 256,
        mode = if (ms) 1 else 0, modeExt = if (ms) 2 else 0,
        reservoir = resv, withCrc = crc)
      val census = MpegAudio.mp3ChannelModeCensus(21L, enc)
      assert(census.length == 2)
      assert(census.forall { case (_, mode, ext, _) =>
        mode == (if (ms) 1 else 0) && ext == (if (ms) 2 else 0) })
      if (resv) assert(census.tail.forall(_._4 > 0))
      else assert(census.forall(_._4 == 0))
      val spectra = MpegAudio.mp3StreamSpectraStereo(21L, enc)
      assert(spectra.length == nGr)
      val inv = 1.0 / math.sqrt(2.0)
      spectra.zipWithIndex.foreach { case (xrs, g) =>
        val g0 = math.pow(2.0, (gains(g)._1 - 210) / 4.0)
        val g1 = math.pow(2.0, (gains(g)._2 - 210) / 4.0)
        (0 until 576).foreach { i =>
          val m = granules(g)._1(i) * g0
          val sv = granules(g)._2(i) * g1
          val (wl, wr) = if (ms) ((m + sv) * inv, (m - sv) * inv) else (m, sv)
          assert(math.abs(xrs(0)(i) - wl) < 1e-12, s"gr $g L line $i (ms=$ms)")
          assert(math.abs(xrs(1)(i) - wr) < 1e-12, s"gr $g R line $i (ms=$ms)")
        }
      }
      val chans = MpegAudio.decodeMpegAudioChannels(21L, enc)
      assert(chans.length == 2 && chans.forall(_.length == 2 * 1152))
      assert(chans.forall(_.forall(v => !v.isNaN && !v.isInfinite)))
      assert(chans.forall(_.exists(math.abs(_) > 1e-9)))
    }
  }

  test("Layer III stereo: an M-only tone lands identically on both " +
      "channels; an S-only tone lands anti-phase (the MS matrix in PCM)") {
    import graft.ops.MpegAudio
    val m = new Array[Int](576); m(18 * 7 + 8) = 1
    val z = new Array[Int](576)
    val encM = MpegAudio.encodeMp3(stereoGrans(Seq.fill(8)((m, z)),
      Seq.fill(8)((214, 214))), 256, mode = 1, modeExt = 2)
    val cM = MpegAudio.decodeMpegAudioChannels(22L, encM)
    cM(0).indices.foreach(i => assert(math.abs(cM(0)(i) - cM(1)(i)) < 1e-12))
    assert(cM(0).exists(math.abs(_) > 1e-6))
    val encS = MpegAudio.encodeMp3(stereoGrans(Seq.fill(8)((z, m)),
      Seq.fill(8)((214, 214))), 256, mode = 1, modeExt = 2)
    val cS = MpegAudio.decodeMpegAudioChannels(23L, encS)
    cS(0).indices.foreach(i => assert(math.abs(cS(0)(i) + cS(1)(i)) < 1e-12))
    assert(cS(0).exists(math.abs(_) > 1e-6))
  }

  test("stereo boundaries: intensity-patched streams now DECODE " +
      "(round 12 — MS applies below the intensity region, positions " +
      "above); Layer II stereo and mid-stream channel change still " +
      "fail loudly by name") {
    import graft.ops.MpegAudio
    val spec = new Array[Int](576); spec(40) = 1
    val st = MpegAudio.encodeMp3(stereoGrans(Seq((spec, spec), (spec, spec)),
      Seq((210, 210), (210, 210))), 256, mode = 1, modeExt = 2)
    // set mode_extension bit 0 (intensity) on every frame header
    val frames = MpegAudio.walkFrames(24L, st)
    val intens = st.clone()
    frames.foreach(f => intens(f.byte_off.toInt + 3) =
      (intens(f.byte_off.toInt + 3) | 0x10).toByte)
    // the census SEES the mode without decoding (intake-scan path)
    assert(MpegAudio.mp3ChannelModeCensus(24L, intens).forall(_._3 == 3))
    // the planted line (40) sits below the intensity region (side
    // channel rzero = 44 → first whole band at 50 for 48 kHz), so the
    // intensity-patched decode must EQUAL the plain-MS decode
    val msOut = MpegAudio.decodeMpegAudioChannels(24L, st)
    val inOut = MpegAudio.decodeMpegAudioChannels(24L, intens)
    (0 until 2).foreach { ch =>
      assert(msOut(ch).length == inOut(ch).length)
      msOut(ch).indices.foreach(i =>
        assert(math.abs(msOut(ch)(i) - inOut(ch)(i)) < 1e-12))
    }
    // Layer II stereo: patch a valid mono L2 stream's mode bits
    val mp2 = MpegAudio.syntheticStream(2, 96, 3)
    val mp2st = mp2.clone()
    MpegAudio.walkFrames(25L, mp2).foreach(f =>
      mp2st(f.byte_off.toInt + 3) = (mp2st(f.byte_off.toInt + 3) & 0x3F).toByte)
    val e2 = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudioChannels(25L, mp2st))
    assert(e2.getMessage.contains("named boundary"))
    // mid-stream channel change: a mono stream concatenated with stereo
    val mono = MpegAudio.encodeMp3(monoGrans(Seq(spec, spec), Seq(210, 210)),
      256)
    val e3 = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudioChannels(26L, mono ++ st))
    assert(e3.getMessage.contains("channel-count change"))
    // and the mono entry point refuses stereo streams by name
    val e4 = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudio(27L, st))
    assert(e4.getMessage.contains("mono surface"))
  }

  test("Layer III: out-of-regime streams fail loudly by name") {
    import graft.ops.MpegAudio
    val spec = new Array[Int](576); spec(100) = 1
    val enc = MpegAudio.encodeMp3(monoGrans(Seq(spec, spec), Seq(210, 210)),
      192)
    // corrupting main_data_begin (first 9 bits after the 4-byte header)
    // must name the bit-reservoir boundary
    val res = enc.clone(); res(4) = 0x80.toByte
    val e1 = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudio(9L, res))
    assert(e1.getMessage.contains("bit-reservoir"))
    // window_switching bit of granule 0: side-info bit index
    // 18 (mdb/priv/scfsi) + 33 (part23/bv/gain/sfc) = 51 after the
    // 4-byte header -> byte 10, MSB-first bit 3 (mask 0x10). With the
    // flag corrupted ON, the next 2 bits (the old table_select high
    // bits, 00) parse as block_type 0 — reserved under window
    // switching, the named error (round 12: switching itself decodes;
    // the corruption is caught by the grammar, not a blanket refusal)
    val wsf = enc.clone(); wsf(10) = (wsf(10) | 0x10).toByte
    val e2 = intercept[IllegalArgumentException](
      MpegAudio.decodeMpegAudio(9L, wsf))
    assert(e2.getMessage.contains("block_type 0 is reserved"))
  }

  test("every header writer refuses a bitrate outside its layer's table " +
    "by name instead of writing index 15") {
    val spec = new Array[Int](576); spec(100) = 1
    val writers: Seq[(String, () => Array[Byte])] = Seq(
      "layer-3 bitrate 100" -> (() =>
        MpegAudio.encodeMp3(monoGrans(Seq(spec, spec), Seq(210, 210)), 100)),
      "layer-3 bitrate 100" -> (() =>
        MpegAudio.makeMp3InfoFrame(100, mono = true, 1, 0, vbr = false)),
      "layer-2 bitrate 40" -> (() => MpegAudio.syntheticStream(2, 40, 1)),
      "layer-1 bitrate 0" -> (() => MpegAudio.syntheticStream(1, 0, 1)))
    writers.foreach { case (name, write) =>
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains(s"bad $name"), e.getMessage)
    }
    // the table's own top entry still writes a header the walker accepts
    val ok = MpegAudio.encodeMp3(monoGrans(Seq(spec, spec), Seq(210, 210)), 320)
    assert(MpegAudio.walkFrames(1L, ok).length == 1)
  }

  test("window switching satisfies TDAC perfect reconstruction (round " +
      "12): a forward-MDCT'd signal through the long→start→short→stop→" +
      "long window chain overlap-adds back to a constant multiple of " +
      "itself — the only validator the formula-defined windows admit") {
    import graft.ops.MpegAudio
    val (winLong, winStart, winShort, winStop) = MpegAudio.mp3WindowTables
    def basis36(n: Int, k: Int): Double =
      math.cos(math.Pi / 72.0 * (2 * n + 19) * (2 * k + 1))
    def basis12(n: Int, k: Int): Double =
      math.cos(math.Pi / 24.0 * (2 * n + 7) * (2 * k + 1))
    // smooth deterministic signal, blocks hop by 18 with 36-sample span
    val nBlocks = 8
    val x = Array.tabulate(18 * (nBlocks + 1) + 18)(i =>
      math.sin(0.05 * i) + 0.4 * math.cos(0.31 * i + 1.0))
    val blockTypes = Array(0, 0, 1, 2, 3, 0, 1, 2) // chain incl. both transitions
    def winOf(bt: Int): Array[Double] = bt match {
      case 0 => winLong; case 1 => winStart; case 3 => winStop
      case _ => throw new IllegalStateException("short handled separately")
    }
    val out = new Array[Double](x.length)
    for (b <- 0 until nBlocks) {
      val off = 18 * b
      if (blockTypes(b) == 2) {
        // three 12-point MDCTs hopping by 6 over the middle 24 samples.
        // The 12-point IMDCT·MDCT pair carries round-trip constant 6 vs
        // the 36-point pair's 18, so the FORWARD coefficients scale by
        // 3 — the compensation a real encoder bakes into quantization
        // (the decoder IMDCT is normative); the test targets WINDOW
        // alias cancellation, which needs matched amplitudes
        for (w <- 0 until 3) {
          val xk = Array.tabulate(6)(k =>
            3.0 * (0 until 12).map(n =>
              x(off + 6 + 6 * w + n) * winShort(n) * basis12(n, k)).sum)
          for (n <- 0 until 12)
            out(off + 6 + 6 * w + n) +=
              (0 until 6).map(k => xk(k) * basis12(n, k)).sum * winShort(n)
        }
      } else {
        val win = winOf(blockTypes(b))
        val xk = Array.tabulate(18)(k =>
          (0 until 36).map(n => x(off + n) * win(n) * basis36(n, k)).sum)
        for (n <- 0 until 36)
          out(off + n) +=
            (0 until 18).map(k => xk(k) * basis36(n, k)).sum * win(n)
      }
    }
    // interior samples (fully covered by two overlapping blocks) must be
    // a CONSTANT multiple of the input — measure the constant on the
    // first all-long region, then hold it through every transition
    val c = out(30) / x(30)
    assert(c > 1.0, s"degenerate reconstruction constant $c")
    (24 until 18 * nBlocks).foreach { i =>
      assert(math.abs(out(i) - c * x(i)) < 1e-9 * math.max(1.0, math.abs(c * x(i))),
        s"TDAC broke at sample $i (block ${i / 18}): ${out(i)} vs ${c * x(i)}")
    }
  }

  test("short blocks + subblock gains + short scalefactors round-trip " +
      "bit-exactly through the advanced fixture encoder (round 12)") {
    import graft.ops.MpegAudio
    val omap = MpegAudio.mp3ShortOrderMap(48000)
    val (_, sfbS) = MpegAudio.mp3SfbTables(48000)
    // decoded-order position of (band, window, line-in-band)
    def decPos(b: Int, w: Int, i: Int): Int =
      3 * sfbS(b) + w * (sfbS(b + 1) - sfbS(b)) + i
    val sfShort = Array.tabulate(12, 3)((b, w) => (b + 2 * w) % 4)
    val sbg = Array(0, 1, 2)
    val lines = new Array[Int](576)
    val planted = Seq((2, 0, 1, 1), (5, 1, 2, -1), (8, 2, 3, 1), (11, 0, 0, -1))
    planted.foreach { case (b, w, i, v) => lines(decPos(b, w, i)) = v }
    val g = MpegAudio.Mp3GranSpec(lines = lines, globalGain = 205,
      blockType = 2, scalefacCompress = 9, sfShort = sfShort,
      subblockGain = sbg, scalefacScale = true)
    val enc = MpegAudio.encodeMp3(Seq(Seq(g), Seq(g)), 256)
    val spectra = MpegAudio.mp3StreamSpectra(70L, enc)
    assert(spectra.length == 2)
    val expected = new Array[Double](576)
    planted.foreach { case (b, w, i, v) =>
      val sc = math.pow(2.0, (205 - 210) / 4.0 - 2.0 * sbg(w) - 1.0 * sfShort(b)(w))
      expected(omap(decPos(b, w, i))) = v * sc
    }
    spectra.foreach { xr =>
      (0 until 576).foreach(i => assert(math.abs(xr(i) - expected(i)) < 1e-12,
        s"short-block spectrum mismatch at line $i: ${xr(i)} vs ${expected(i)}"))
    }
    // PCM-domain check: energy must land in the planted lines' SUBBANDS
    // (validates the reorder + 12-point IMDCT independently of the map)
    val tone = new Array[Int](576)
    val sb = 7
    // plant one line per window at natural subband 7 → decoded positions
    // are wherever the map sends them; invert the map
    val inv = new Array[Int](576)
    omap.zipWithIndex.foreach { case (nat, dec) => inv(nat) = dec }
    (0 until 3).foreach(w => tone(inv(18 * sb + 6 * w + 2)) = 1)
    val g2 = MpegAudio.Mp3GranSpec(lines = tone, globalGain = 230, blockType = 2)
    val enc2 = MpegAudio.encodeMp3(Seq.fill(4)(Seq(g2)), 256)
    val pcm = MpegAudio.decodeMpegAudio(71L, enc2)
    MpegAudio.audioFingerprints(pcm).drop(1).foreach { case (_, fp) =>
      assert(((fp >> 15) & 31).toInt == sb,
        s"short-block energy landed in subband ${(fp >> 15) & 31}, not $sb")
    }
  }

  test("nonzero long scalefactors + preflag + scalefac_scale round-trip " +
      "bit-exactly (round 12): per-band gains follow the requant " +
      "formula closed-form") {
    import graft.ops.MpegAudio
    val (sfbL, _) = MpegAudio.mp3SfbTables(48000)
    val pretab = MpegAudio.mp3PretabValues
    val sf = Array.tabulate(21)(b => (b * 5) % 8) // fits slen (3,3) = sfc 13
    val lines = new Array[Int](576)
    val plantedBands = Seq(1, 7, 12, 16, 19)
    plantedBands.foreach(b => lines(sfbL(b)) = if (b % 2 == 0) 1 else -1)
    Seq(false, true).foreach { pre =>
      Seq(false, true).foreach { sfs =>
        val g = MpegAudio.Mp3GranSpec(lines = lines, globalGain = 210,
          scalefacCompress = 13, sfLong = sf, preflag = pre,
          scalefacScale = sfs)
        val enc = MpegAudio.encodeMp3(Seq(Seq(g), Seq(g)), 224)
        val spectra = MpegAudio.mp3StreamSpectra(72L, enc)
        val mult = if (sfs) 1.0 else 0.5
        spectra.foreach { xr =>
          plantedBands.foreach { b =>
            val want = (if (b % 2 == 0) 1.0 else -1.0) *
              math.pow(2.0, -mult * (sf(b) + (if (pre) pretab(b) else 0)))
            assert(math.abs(xr(sfbL(b)) - want) < 1e-12,
              s"band $b (pre=$pre sfs=$sfs): ${xr(sfbL(b))} vs $want")
          }
        }
      }
    }
  }

  test("intensity stereo reconstructs positions exactly (round 12): " +
      "L = xr·tan(p·π/12)/(1+tan), R = xr/(1+tan), position 6 = all " +
      "left, position 7 = pass-through") {
    import graft.ops.MpegAudio
    val (sfbL, _) = MpegAudio.mp3SfbTables(48000)
    val lines = new Array[Int](576)
    // plant one line in every band so every position is exercised
    (0 until 21).foreach(b => lines(sfbL(b)) = 1)
    val isPos = Array.tabulate(21)(b => b % 8)
    val g = MpegAudio.Mp3GranSpec(lines = lines, globalGain = 210)
    val enc = MpegAudio.encodeMp3(
      Seq.fill(2)(MpegAudio.mp3IntensityGranule(g, isPos)), 320,
      mode = 1, modeExt = 1)
    assert(MpegAudio.mp3ChannelModeCensus(73L, enc).forall(c =>
      c._2 == 1 && (c._3 & 1) == 1))
    val spectra = MpegAudio.mp3StreamSpectraStereo(73L, enc)
    assert(spectra.length == 2)
    spectra.foreach { xrs =>
      (0 until 21).foreach { b =>
        val i = sfbL(b)
        val p = isPos(b)
        val (wl, wr) =
          if (p == 7) (1.0, 0.0) // illegal position: decoder keeps L, R=0 stays
          else if (p == 6) (1.0, 0.0)
          else {
            val r = math.tan(p * math.Pi / 12.0)
            (r / (1 + r), 1.0 / (1 + r))
          }
        assert(math.abs(xrs(0)(i) - wl) < 1e-12,
          s"band $b pos $p L: ${xrs(0)(i)} vs $wl")
        assert(math.abs(xrs(1)(i) - wr) < 1e-12,
          s"band $b pos $p R: ${xrs(1)(i)} vs $wr")
      }
    }
    // PCM decode runs clean end-to-end (synthesis over both channels)
    val chans = MpegAudio.decodeMpegAudioChannels(73L, enc)
    assert(chans.length == 2 && chans(0).exists(math.abs(_) > 1e-9))
    assert(chans(0).forall(v => !v.isNaN && !v.isInfinite))
  }

  test("mixed blocks decode (round 12): two long-windowed subbands " +
      "below, short windows above — long-region lines requantize with " +
      "long sfb 0-7 scalefactors (no subblock gain), short-region lines " +
      "with short bands 3-11 + per-window gains; spectra exact, PCM " +
      "energy lands in the planted subbands of BOTH regions") {
    import graft.ops.MpegAudio
    val (sfbL, sfbS) = MpegAudio.mp3SfbTables(48000)
    val omap = MpegAudio.mp3ShortOrderMap(48000, mixed = true)
    val sfLong = Array.tabulate(21)(b => if (b < 8) (b * 3) % 8 else 0)
    val sfShort = Array.tabulate(12, 3)((b, w) =>
      if (b >= 3) (b + w) % 4 else 0)
    val sbg = Array(1, 0, 2)
    val lines = new Array[Int](576)
    // long region: line 20 sits in long sfb 5 ([20,24))
    lines(20) = 1
    // short region: decoded pos of (band 7, window 2, line 0):
    // 36 + Σ_{b=3..6} 3·width(b) + 2·width(7)
    val decPos7 = 36 + (3 until 7).map(b => 3 * (sfbS(b + 1) - sfbS(b))).sum +
      2 * (sfbS(8) - sfbS(7))
    lines(decPos7) = -1
    val g = MpegAudio.Mp3GranSpec(lines = lines, globalGain = 208,
      blockType = 2, mixedBlock = true, scalefacCompress = 13,
      sfLong = sfLong, sfShort = sfShort, subblockGain = sbg,
      scalefacScale = true)
    val enc = MpegAudio.encodeMp3(Seq(Seq(g), Seq(g)), 256)
    val spectra = MpegAudio.mp3StreamSpectra(95L, enc)
    assert(spectra.length == 2)
    val gain = math.pow(2.0, (208 - 210) / 4.0)
    val expected = new Array[Double](576)
    expected(20) = gain * math.pow(2.0, -1.0 * sfLong(5)) // long sfb 5, mult 1
    expected(omap(decPos7)) =
      -gain * math.pow(2.0, -2.0 * sbg(2) - 1.0 * sfShort(7)(2))
    spectra.foreach { xr =>
      (0 until 576).foreach(i => assert(math.abs(xr(i) - expected(i)) < 1e-12,
        s"mixed spectrum mismatch at line $i: ${xr(i)} vs ${expected(i)}"))
    }
    // PCM: long-region line 20 is subband 1; the short-region line maps
    // to subband omap(decPos7)/18 — both must receive the energy
    val sbLong = 20 / 18
    val sbShort = omap(decPos7) / 18
    val toneL = new Array[Int](576); toneL(18 * sbLong + 4) = 1
    val gL = MpegAudio.Mp3GranSpec(lines = toneL, globalGain = 230,
      blockType = 2, mixedBlock = true)
    val pcmL = MpegAudio.decodeMpegAudio(96L,
      MpegAudio.encodeMp3(Seq.fill(4)(Seq(gL)), 256))
    MpegAudio.audioFingerprints(pcmL).drop(1).foreach { case (_, fp) =>
      assert(((fp >> 15) & 31).toInt == sbLong,
        s"mixed long-region energy in subband ${(fp >> 15) & 31}, not $sbLong")
    }
    val inv = new Array[Int](576)
    omap.zipWithIndex.foreach { case (nat, dec) => inv(nat) = dec }
    val toneS = new Array[Int](576)
    (0 until 3).foreach(w => toneS(inv(18 * sbShort + 6 * w + 2)) = 1)
    val gS = MpegAudio.Mp3GranSpec(lines = toneS, globalGain = 230,
      blockType = 2, mixedBlock = true)
    val pcmS = MpegAudio.decodeMpegAudio(97L,
      MpegAudio.encodeMp3(Seq.fill(4)(Seq(gS)), 256))
    MpegAudio.audioFingerprints(pcmS).drop(1).foreach { case (_, fp) =>
      assert(((fp >> 15) & 31).toInt == sbShort,
        s"mixed short-region energy in subband ${(fp >> 15) & 31}, not $sbShort")
    }
    // mixed with a non-short block type fails loudly at encode
    val bad = intercept[IllegalArgumentException](
      MpegAudio.encodeMp3(Seq(
        Seq(MpegAudio.Mp3GranSpec(lines = new Array[Int](576), globalGain = 210,
          blockType = 1, mixedBlock = true)),
        Seq(MpegAudio.Mp3GranSpec(lines = new Array[Int](576), globalGain = 210))),
        256))
    assert(bad.getMessage.contains("mixed_block_flag needs block_type 2"))
  }

  test("scfsi granule-sharing decodes (round 12): shared groups copy " +
      "granule 1's scalefactors and consume no bits, non-shared groups " +
      "read fresh values — spectra exact under every 4-bit pattern") {
    import graft.ops.MpegAudio
    val (sfbL, _) = MpegAudio.mp3SfbTables(48000)
    (0 until 16).foreach { scfsi =>
      def shared(b: Int): Boolean = {
        val grp = if (b < 6) 0 else if (b < 11) 1 else if (b < 16) 2 else 3
        ((scfsi >> (3 - grp)) & 1) == 1
      }
      val sf0 = Array.tabulate(21)(b => (b * 3) % 8)
      val sf1 = Array.tabulate(21)(b => if (shared(b)) sf0(b) else (b * 5 + 1) % 8)
      val lines = new Array[Int](576)
      (0 until 21).foreach(b => lines(sfbL(b)) = 1)
      val g0 = MpegAudio.Mp3GranSpec(lines = lines, globalGain = 210,
        scalefacCompress = 13, sfLong = sf0)
      val g1 = g0.copy(sfLong = sf1)
      val enc = MpegAudio.encodeMp3(Seq(Seq(g0), Seq(g1)), 256, scfsi = scfsi)
      val spectra = MpegAudio.mp3StreamSpectra(80L + scfsi, enc)
      assert(spectra.length == 2)
      Seq(sf0, sf1).zip(spectra).foreach { case (sf, xr) =>
        (0 until 21).foreach { b =>
          val want = math.pow(2.0, -0.5 * sf(b))
          assert(math.abs(xr(sfbL(b)) - want) < 1e-12,
            s"scfsi=$scfsi band $b: ${xr(sfbL(b))} vs $want")
        }
      }
    }
    // a shared-group mismatch between granules fails loudly at encode
    val bad = intercept[IllegalArgumentException] {
      val lines = new Array[Int](576); lines(0) = 1
      val g0 = MpegAudio.Mp3GranSpec(lines = lines, globalGain = 210,
        scalefacCompress = 13, sfLong = Array.fill(21)(2))
      val g1 = g0.copy(sfLong = Array.fill(21)(3))
      MpegAudio.encodeMp3(Seq(Seq(g0), Seq(g1)), 256, scfsi = 8)
    }
    assert(bad.getMessage.contains("scfsi-shared band"))
    // scfsi with short blocks is malformed, both directions by name
    val badShort = intercept[IllegalArgumentException] {
      val g = MpegAudio.Mp3GranSpec(lines = new Array[Int](576),
        globalGain = 210, blockType = 2)
      MpegAudio.encodeMp3(Seq(Seq(g), Seq(g)), 256, scfsi = 1)
    }
    assert(badShort.getMessage.contains("long scalefactor layout"))
  }

  test("encodeMp3 refuses malformed input by name: an odd granule " +
      "count (mono and stereo), main data past the region (flat and " +
      "reservoir), scfsi on stereo") {
    val z = new Array[Int](576)
    val eMono = intercept[IllegalArgumentException](
      MpegAudio.encodeMp3(monoGrans(Seq.fill(3)(z), Seq.fill(3)(210)), 128))
    assert(eMono.getMessage.contains("even number of granules"))
    val eSt = intercept[IllegalArgumentException](MpegAudio.encodeMp3(
      stereoGrans(Seq.fill(3)((z, z)), Seq.fill(3)((210, 210))), 256,
      mode = 1, modeExt = 2))
    assert(eSt.getMessage.contains("even number of granules"))
    // every line nonzero in the big-values region: 1440 Huffman bits per
    // granule against a 75-byte region at 32 kbps
    val dense = Array.tabulate(576)(i => if (i % 3 == 0) -1 else 1)
    Seq(false, true).foreach { resv =>
      val e = intercept[IllegalArgumentException](MpegAudio.encodeMp3(
        monoGrans(Seq.fill(4)(dense), Seq.fill(4)(210), 288), 32,
        reservoir = resv))
      assert(e.getMessage.contains("raise the bitrate"), e.getMessage)
    }
    val eScfsi = intercept[IllegalArgumentException](MpegAudio.encodeMp3(
      stereoGrans(Seq.fill(2)((z, z)), Seq.fill(2)((210, 210))), 256,
      mode = 0, scfsi = 8))
    assert(eScfsi.getMessage.contains("mono streams only"), eScfsi.getMessage)
  }

  test("intensity on short blocks (round 12, session 2): each window's " +
      "zero bound is determined separately, positions come from the " +
      "side channel's short scalefactor slots (band 12 reuses 11), MS " +
      "applies below each window's bound when also set; spectra exact") {
    import graft.ops.MpegAudio
    val (_, sfbS) = MpegAudio.mp3SfbTables(48000)
    def width(b: Int) = sfbS(b + 1) - sfbS(b)
    def decPos(b: Int, w: Int): Int =
      (0 until b).map(bb => 3 * width(bb)).sum + w * width(b)
    def natLine(b: Int, w: Int): Int = {
      val f = sfbS(b)
      18 * (f / 6) + 6 * w + (f % 6)
    }
    // left: one line planted at the first frequency of EVERY (band,
    // window); side: data only in bands < bound_w, bound_w = w
    val linesL = new Array[Int](576)
    (0 until 12).foreach(b => (0 until 3).foreach(w =>
      linesL(decPos(b, w)) = 1))
    val linesS = new Array[Int](576)
    (0 until 3).foreach(w => (0 until w).foreach(b =>
      linesS(decPos(b, w)) = if ((b + w) % 2 == 0) 1 else -1))
    val posOf = Array.tabulate(12, 3)((b, w) => (b + w) % 8)
    val sfS = Array.tabulate(12, 3)((b, w) => if (b >= w) posOf(b)(w) else 0)
    val gl = MpegAudio.Mp3GranSpec(lines = linesL, globalGain = 210,
      blockType = 2)
    val gr = MpegAudio.Mp3GranSpec(lines = linesS, globalGain = 210,
      blockType = 2, scalefacCompress = 13, sfShort = sfS)
    Seq(1, 3).foreach { modeExt =>
      val enc = MpegAudio.encodeMp3(Seq.fill(2)(Seq(gl, gr)), 320,
        mode = 1, modeExt = modeExt)
      val census = MpegAudio.mp3ChannelModeCensus(100L + modeExt, enc)
      assert(census.forall(c => c._2 == 1 && (c._3 & 1) == 1))
      val spectra = MpegAudio.mp3StreamSpectraStereo(100L + modeExt, enc)
      assert(spectra.length == 2)
      val inv = 1.0 / math.sqrt(2.0)
      spectra.foreach { xrs =>
        (0 until 13).foreach { b =>
          (0 until 3).foreach { w =>
            // band 12 exists in the layout but neither channel planted
            // data there; it still takes band 11's position (no-op on
            // zero lines) — only check planted lines
            if (b < 12) {
              val i = natLine(b, w)
              val lv = 1.0
              val sv = if (b < w) (if ((b + w) % 2 == 0) 1.0 else -1.0) else 0.0
              val (el, er) =
                if (b >= w) { // intensity region of window w
                  val p = posOf(b)(w)
                  if (p == 7) (lv, 0.0)
                  else if (p == 6) (lv, 0.0)
                  else {
                    val r = math.tan(p * math.Pi / 12.0)
                    (lv * r / (1 + r), lv / (1 + r))
                  }
                } else if (modeExt == 3) // MS below the bound
                  ((lv + sv) * inv, (lv - sv) * inv)
                else (lv, sv) // intensity-only: below-bound passes through
              assert(math.abs(xrs(0)(i) - el) < 1e-12,
                s"modeExt=$modeExt b=$b w=$w L: ${xrs(0)(i)} vs $el")
              assert(math.abs(xrs(1)(i) - er) < 1e-12,
                s"modeExt=$modeExt b=$b w=$w R: ${xrs(1)(i)} vs $er")
            }
          }
        }
      }
      // PCM decode runs clean end-to-end through short-block synthesis
      val chans = MpegAudio.decodeMpegAudioChannels(102L + modeExt, enc)
      assert(chans.length == 2 && chans(0).exists(math.abs(_) > 1e-9))
      assert(chans.forall(_.forall(v => !v.isNaN && !v.isInfinite)))
    }
    // intensity on MIXED blocks stays a named boundary
    val gm = MpegAudio.Mp3GranSpec(lines = new Array[Int](576),
      globalGain = 210, blockType = 2, mixedBlock = true)
    val encBad = MpegAudio.encodeMp3(Seq.fill(2)(Seq(gl, gm)), 320,
      mode = 1, modeExt = 1)
    val e = intercept[IllegalArgumentException](
      MpegAudio.mp3StreamSpectraStereo(105L, encBad))
    assert(e.getMessage.contains("mixed-block"), e.getMessage)
  }

  test("intake census: 'TAG' read at length-128 inside a BARE stream " +
      "is a false ID3v1 positive — stripping 128 bytes breaks frame " +
      "tiling, so the census falls back to the untrimmed walk; a " +
      "stream that fails both ways surfaces the original error") {
    val spec = new Array[Int](576); spec(40) = 1
    val audio = MpegAudio.encodeMp3(monoGrans(Seq.fill(4)(spec),
      Seq.fill(4)(210)), 160) // 2 frames x 480 B at 48 kHz
    val off = audio.length - 128
    // the planted magic lands strictly inside frame 2's data bytes
    // (frame starts at 480; 832 - 480 = 352 >> header+side info)
    assert(off == 832 && audio.length == 960)
    val bare = audio.clone()
    bare(off) = 'T'; bare(off + 1) = 'A'; bare(off + 2) = 'G'
    val c = MpegAudio.mp3IntakeCensus(900L, bare)
    assert(c.id3v1.isEmpty && c.audioEnd == bare.length &&
      c.nAudioFrames == 2 && c.nSamples == 2 * 1152L)
    // a REAL trailing ID3v1 tag still strips (tiling holds trimmed)
    val tagged = audio ++ graft.ops.Id3.encodeId3v1("t", "a", "alb",
      "2004", "c", 3, 17)
    val ct = MpegAudio.mp3IntakeCensus(901L, tagged)
    assert(ct.id3v1.exists(_.title == "t") && ct.audioEnd == audio.length)
    // corrupt both ways: truncated audio + fake TAG -> loud failure
    val corrupt = java.util.Arrays.copyOfRange(bare, 0, bare.length - 7)
    val junk = corrupt.clone()
    junk(junk.length - 128) = 'T'; junk(junk.length - 127) = 'A'
    junk(junk.length - 126) = 'G'
    val e = intercept[IllegalArgumentException](
      MpegAudio.mp3IntakeCensus(902L, junk))
    assert(e.getMessage.contains("doc 902"), e.getMessage)
  }
}
