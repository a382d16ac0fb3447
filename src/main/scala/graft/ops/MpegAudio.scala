package graft.ops

import org.apache.spark.sql.Dataset

/** MPEG-1 audio (ISO/IEC 11172-3) for the multimodal boundary: a real
  * frame-header walker for Layers I–III, and a Layer I + Layer II
  * subband codec (both directions) with the polyphase filterbank.
  *
  * What is EXACT ISO layout here (closed-form, high-confidence public
  * knowledge): the 32-bit header (syncword/ID/layer/bitrate index/
  * sample-rate index/padding/mode), the frame-length formulas (slots),
  * the Layer I bitstream (4-bit allocations, 6-bit scalefactors, 12
  * samples/subband), the Layer II bitstream in the table-B.2a regime
  * (27-subband allocation menus, scfsi patterns, 3/5/9-level sample
  * grouping), the scalefactor table (2·2^(-i/3) — the spec's table is
  * exactly this, rounded), and the requantization constants C=(L+1)/L,
  * D=2/(L+1) (the spec's per-class table in closed form; the composed
  * dequant collapses to the symmetric midrise s = sf·(2c−L+1)/L).
  *
  * What is DELIBERATELY NOT the spec's numeric table: the 512-tap
  * prototype window. Table C.3 is a numerically-designed filter with
  * no closed form, and this container has no foreign MPEG codec to
  * validate a from-memory transcription against — a silently-wrong
  * table would be worse than a documented substitute. The filterbank
  * here uses the ISO STRUCTURE (32-band cosine modulation
  * cos((2k+1)(n−16)π/64), 512-tap overlap) over a computed
  * Kaiser-windowed sinc prototype with a self-calibrating chain gain,
  * and the encoder uses the matched analysis window, so the pair is a
  * genuine near-perfect-reconstruction pseudo-QMF bank (round-trip SNR
  * is measured and gated, not assumed). Decoding a FOREIGN MP2 file
  * therefore reconstructs through a slightly different lowpass than a
  * reference decoder — same subband samples, different window — which
  * is the honest boundary short of transcribing C.3 unverifiably.
  * Layer III decode is REAL (rounds 10–12): side info both forms,
  * reservoir, scalefactors (long + short layouts, preflag/pretab,
  * scalefac_scale), window switching (start/short/stop with subblock
  * gains, reorder, 12-point IMDCTs — the window chain is validated by
  * a numerical TDAC perfect-reconstruction test), MS and INTENSITY
  * joint stereo, alias reduction, and the shared polyphase synthesis;
  * see the Layer III section note for the remaining named boundaries
  * (chiefly Huffman code tables 2–31 — thousands of code/length pairs
  * with no internal structure that would catch a mis-remembered entry,
  * the same no-foreign-validator bar as Table C.3).
  *
  * Scale shape: pure per-payload kernels under `mapPartitions`, zero
  * shuffle — like the rest of the codec layer, 100 TB throughput is
  * cores × per-core frames/s.
  */
object MpegAudio {

  // ------------------------------------------------------------------
  // Bit IO (MSB-first, no stuffing — MPEG audio is a plain bit stream)
  // ------------------------------------------------------------------

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var n = 0
    def put(value: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >>> i) & 1); n += 1
        if (n == 8) { out.write(acc); acc = 0; n = 0 }
        i -= 1
      }
    }
    def bitCount: Long = out.size.toLong * 8 + n
    def padToByte(): Unit = if (n > 0) put(0, 8 - n)
    def toBytes: Array[Byte] = { padToByte(); out.toByteArray }
  }

  private final class BitReader(payload: Array[Byte], fromByte: Int) {
    private var pos = fromByte.toLong * 8
    def read(bits: Int): Int = {
      var v = 0; var i = 0
      while (i < bits) {
        val b = (pos >>> 3).toInt
        require(b < payload.length, "mpeg: bit stream truncated")
        v = (v << 1) | ((payload(b) >>> (7 - (pos & 7).toInt)) & 1)
        pos += 1; i += 1
      }
      v
    }
    def bytePos: Int = ((pos + 7) >>> 3).toInt
    def bitPosition: Long = pos // for part2_3_length accounting (Layer III)
  }

  // ------------------------------------------------------------------
  // Frame header (all MPEG-1 layers)
  // ------------------------------------------------------------------

  private val BitrateKbps: Map[Int, Array[Int]] = Map(
    1 -> Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
      384, 416, 448),
    2 -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
      320, 384),
    3 -> Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
      256, 320))
  private val SampleRates = Array(44100, 48000, 32000)

  /** One parsed MPEG-1 audio frame header. `frameBytes` includes the
    * header (the slot formulas of §2.4.3.1). `mode` is the 2-bit
    * channel mode (0 stereo, 1 joint stereo, 2 dual channel, 3 single);
    * `modeExt` the 2-bit mode_extension (for Layer III joint stereo:
    * bit 0 = intensity, bit 1 = MS — §2.4.2.3). */
  case class FrameHeader(layer: Int, bitrateKbps: Int, sampleRate: Int,
      padding: Boolean, crcProtected: Boolean, mono: Boolean,
      frameBytes: Int, samplesPerFrame: Int, mode: Int = 3, modeExt: Int = 0)

  def parseHeader(payload: Array[Byte], off: Int, docId: Long): FrameHeader = {
    require(off + 4 <= payload.length, s"mpeg: truncated header (doc $docId)")
    def b(i: Int) = payload(off + i) & 0xFF
    require(b(0) == 0xFF && (b(1) & 0xE0) == 0xE0,
      s"mpeg: no syncword at byte $off (doc $docId)")
    require((b(1) & 0x18) == 0x18, // ID bits 11 = MPEG-1 (no 2/2.5)
      s"mpeg: not MPEG-1 at byte $off (doc $docId)")
    val layer = (b(1) >> 1) & 3 match {
      case 3 => 1; case 2 => 2; case 1 => 3
      case _ => throw new IllegalArgumentException(
        s"mpeg: reserved layer at byte $off (doc $docId)")
    }
    val crc = (b(1) & 1) == 0
    val bi = (b(2) >> 4) & 0xF
    require(bi >= 1 && bi <= 14,
      s"mpeg: free-format/bad bitrate index $bi (doc $docId)")
    val si = (b(2) >> 2) & 3
    require(si < 3, s"mpeg: reserved sample rate (doc $docId)")
    val pad = ((b(2) >> 1) & 1) == 1
    val mode = (b(3) >> 6) & 3
    val modeExt = (b(3) >> 4) & 3
    val kbps = BitrateKbps(layer)(bi)
    val fs = SampleRates(si)
    val bytes =
      if (layer == 1) (12 * kbps * 1000 / fs + (if (pad) 1 else 0)) * 4
      else 144 * kbps * 1000 / fs + (if (pad) 1 else 0)
    FrameHeader(layer, kbps, fs, pad, crc, mode == 3, bytes,
      if (layer == 1) 384 else 1152, mode, modeExt)
  }

  /** Header-level census of a back-to-back MPEG-1 audio stream (all
    * three layers — this is the walk a corpus-intake duration/bitrate
    * scan runs; it does not touch sample data). Requires frames to
    * tile the payload exactly — a mid-stream desync fails loudly. */
  case class MpegFrameInfo(frame_id: Int, layer: Int, bitrate_kbps: Int,
      sample_rate: Int, n_samples: Int, frame_bytes: Int, byte_off: Long)

  def walkFrames(docId: Long, payload: Array[Byte]): Seq[MpegFrameInfo] = {
    val out = Seq.newBuilder[MpegFrameInfo]
    var off = 0; var id = 0
    while (off < payload.length) {
      val h = parseHeader(payload, off, docId)
      require(off + h.frameBytes <= payload.length,
        s"mpeg: frame $id overruns payload (doc $docId)")
      out += MpegFrameInfo(id, h.layer, h.bitrateKbps, h.sampleRate,
        h.samplesPerFrame, h.frameBytes, off.toLong)
      off += h.frameBytes; id += 1
    }
    require(id > 0, s"mpeg: empty stream (doc $docId)")
    out.result()
  }

  // ------------------------------------------------------------------
  // CRC-16 frame protection (§2.4.3.1 / Annex A: poly x¹⁶+x¹⁵+x²+1,
  // init 0xFFFF, MSB-first, covering header bits 16–31 plus the
  // layer's side info — Layer I: the 4-bit allocations; Layer II:
  // allocations + scfsi. Sample data is deliberately UNPROTECTED by
  // the standard (an audio bit flip is inaudible; a side-info flip
  // desyncs the whole frame).
  // ------------------------------------------------------------------

  private def crc16Update(crc0: Int, bytes: Array[Byte], fromBit: Long,
      nBits: Int): Int = {
    var crc = crc0
    var i = 0L
    while (i < nBits) {
      val p = fromBit + i
      val bit = (bytes((p >> 3).toInt) >> (7 - (p & 7).toInt)) & 1
      val msb = (crc >> 15) & 1
      crc = (crc << 1) & 0xFFFF
      if ((msb ^ bit) == 1) crc ^= 0x8005
      i += 1
    }
    crc
  }

  /** CRC of one frame at `off`: header bits 16–31, then `sideBits` of
    * side info starting right after the 2-byte CRC word. */
  private def frameCrc(payload: Array[Byte], off: Int, sideBits: Int): Int =
    crc16Update(
      crc16Update(0xFFFF, payload, (off + 2).toLong * 8, 16),
      payload, (off + 6).toLong * 8, sideBits)

  // ------------------------------------------------------------------
  // Quantization tables (closed forms)
  // ------------------------------------------------------------------

  /** Scalefactors: 2·2^(−i/3), i = 0..62 (index 63 is forbidden). The
    * spec's table B.1 is exactly this sequence, printed rounded. */
  private val ScaleFactor: Array[Double] =
    Array.tabulate(63)(i => 2.0 * math.pow(2.0, -i / 3.0))

  /** Layer II table B.2a (the 48 kHz / 56–192 kbps-per-channel regime
    * this codec supports): allocation-field widths and quantizer menus
    * (allocation code → number of levels; 0 = subband silent). */
  private val SbLimit = 27
  private val Nbal: Array[Int] =
    Array.tabulate(SbLimit)(sb => if (sb < 11) 4 else if (sb < 23) 3 else 2)
  private val MenuLow: Array[Int] = Array(0, 3, 7, 15, 31, 63, 127, 255,
    511, 1023, 2047, 4095, 8191, 16383, 32767, 65535)
  private val MenuMid: Array[Int] = Array(0, 3, 5, 7, 9, 15, 31, 63, 127,
    255, 511, 1023, 2047, 4095, 8191, 65535)
  private val MenuHigh: Array[Int] = Array(0, 3, 5, 7, 9, 15, 31, 65535)
  private val MenuTop: Array[Int] = Array(0, 3, 5, 65535)
  private def menu(sb: Int): Array[Int] =
    if (sb < 3) MenuLow else if (sb < 11) MenuMid
    else if (sb < 23) MenuHigh else MenuTop

  /** Grouped classes (3 consecutive samples in one base-L code) and
    * their code widths — §2.4.3.3.4. */
  private def grouped(levels: Int): Boolean =
    levels == 3 || levels == 5 || levels == 9
  private def groupBits(levels: Int): Int = levels match {
    case 3 => 5; case 5 => 7; case 9 => 10
    case _ => throw new IllegalStateException(s"not a grouped class: $levels")
  }
  /** Bits of one UNGROUPED code: levels are 2^nb − 1. */
  private def codeBits(levels: Int): Int =
    32 - java.lang.Integer.numberOfLeadingZeros(levels)

  /** Requantize one code: the spec's s = sf·C·(s''' + D) with
    * C = (L+1)/L and D = 2/(L+1), s''' = 2c/(L+1) − 1 — algebraically
    * the symmetric midrise sf·(2c − L + 1)/L. */
  private def dequant(code: Int, levels: Int, sf: Double): Double = {
    val C = (levels + 1).toDouble / levels
    val D = 2.0 / (levels + 1)
    sf * (C * (2.0 * code / (levels + 1) - 1.0 + D))
  }

  /** Quantize x = s/sf ∈ [−1, 1] onto the L-level midrise (inverse of
    * [[dequant]]); codes 0..L−1. */
  private def quant(x: Double, levels: Int): Int = {
    val c = math.round((x * levels + levels - 1) / 2.0).toInt
    math.max(0, math.min(levels - 1, c))
  }

  // ------------------------------------------------------------------
  // Polyphase filterbank (ISO structure, computed prototype window)
  // ------------------------------------------------------------------

  /** 512-tap prototype: root-raised-cosine, rolloff α=1, symbol period
    * T=64 (|H|² symmetric about the subband half-width π/64), centered
    * at 255.5 so the half-sample grid never hits the formula's
    * singular points. RRC is POWER-COMPLEMENTARY by construction —
    * |H(ω)|² + |H(π/32 − ω)|² = const across the overlap region —
    * which is the pseudo-QMF adjacent-band alias-cancellation
    * condition; measured broadband cascade SNR is ~42 dB (truncation
    * ripple floor), in-band tones ~54 dB. See the module doc for why
    * this is computed rather than a from-memory Table C.3. */
  private val Proto: Array[Double] = {
    val T = 64.0
    val h = Array.tabulate(512) { n =>
      val t = n - 255.5
      val x = 4.0 * t / T
      (4.0 / (math.Pi * T)) * math.cos(2 * math.Pi * t / T) / (1.0 - x * x)
    }
    val sum = h.sum
    h.map(_ / sum) // ΣProto = 1 → analysis DC gain is bounded
  }

  /** cos((2k+1)(n−16)π/64) modulation, n taken mod 128 (period). */
  private val Mod: Array[Array[Double]] = Array.tabulate(32, 128) {
    (k, n) => math.cos((2 * k + 1) * (n - 16) * math.Pi / 64)
  }

  /** Analysis: 32 subband samples from the newest 512 input samples
    * (x(end) newest): S[k] = Σ_n Proto[n]·Mod[k][n]·x[end−n]. */
  private def analyze(x: Array[Double], end: Int): Array[Double] = {
    val s = new Array[Double](32)
    var k = 0
    while (k < 32) {
      var acc = 0.0; var n = 0
      while (n < 512) {
        acc += Proto(n) * Mod(k)(n & 127) * x(end - n); n += 1
      }
      s(k) = acc; k += 1
    }
    s
  }

  /** Synthesis modulation cos((2k+1)(n+16)π/64) — the ISO V/U/W index
    * dance in direct form. Unrolling the spec's 1024-entry V FIFO and
    * the U selection shows block t's subband vector S contributes
    * exactly 32·h[n]·cos((2k+1)(n+16)π/64)·S[k] to output sample
    * 32t+n, n = 0..511 (the V/U sign quirks cancel against the
    * synthesis window's own sign pattern, leaving the positive
    * prototype and the +16 phase — the classic pseudo-QMF pair whose
    * ∓16 phase split is what cancels adjacent-band aliasing). */
  private val SynMod: Array[Array[Double]] = Array.tabulate(32, 128) {
    (k, n) => math.cos((2 * k + 1) * (n + 16) * math.Pi / 64)
  }

  /** Overlap-add one subband block at `blockStart` = 32·t (forward in
    * time); `gain` folds the measured analysis→synthesis chain gain. */
  private def synthesizeBlock(s: Array[Double], acc: Array[Double],
      blockStart: Int, gain: Double): Unit = {
    val g = new Array[Double](128)
    var n = 0
    while (n < 128) {
      var a = 0.0; var k = 0
      while (k < 32) { a += s(k) * SynMod(k)(n); k += 1 }
      g(n) = a; n += 1
    }
    n = 0
    while (n < 512) {
      val pos = blockStart + n
      if (pos < acc.length) acc(pos) += gain * 32.0 * Proto(n) * g(n & 127)
      n += 1
    }
  }

  /** Measured cascade group delay (sharply peaked in a broadband
    * correlation scan — neighbors are −40 dB): 481 samples, the
    * MPEG-1 filterbank's own documented 512 − 31 delay. Trimmed at
    * decode so decode(encode(pcm)) aligns sample-for-sample. */
  private val CascadeDelay = 481

  /** Measured steady-state DC gain of analyze→synthesize at unit
    * input — the self-calibration that replaces a magic constant
    * (deterministic: pure function of the prototype). */
  private val ChainGain: Double = {
    val x = Array.fill(2048)(1.0)
    val acc = new Array[Double](2048)
    var t = 0
    while (32 * t + 511 < 2048) {
      synthesizeBlock(analyze(x, 32 * t + 511), acc, 32 * t, 1.0)
      t += 1
    }
    1.0 / acc(1024) // fully-overlapped centre sample of the cascade
  }

  // ------------------------------------------------------------------
  // Layer II encode/decode (mono, 48 kHz, table-B.2a regime)
  // ------------------------------------------------------------------

  private val Mp2Rate = 48000

  /** Encode 16-bit mono 48 kHz PCM as MPEG-1 Layer II. Allocation is
    * greedy by quantization-error reduction per bit (amplitude-driven —
    * rate control without the psychoacoustic model, which the spec
    * leaves non-normative anyway); scfsi=0 (all three scalefactors
    * transmitted — always legal); remaining bits are zero ancillary
    * data, as the spec allows. PCM length is truncated to whole
    * 1152-sample frames. */
  def encodeMp2(pcm: Array[Short], bitrateKbps: Int,
      withCrc: Boolean = false): Array[Byte] = {
    require(Array(56, 64, 80, 96, 112, 128, 160, 192).contains(bitrateKbps),
      s"mp2: bitrate $bitrateKbps outside the B.2a mono regime")
    val nFrames = pcm.length / 1152
    require(nFrames > 0, "mp2: need at least 1152 samples")
    val frameBytes = 144 * bitrateKbps * 1000 / Mp2Rate // exact at 48 kHz
    val out = new java.io.ByteArrayOutputStream()
    // analysis FIFO over the whole signal (zero history before t=0)
    val x = new Array[Double](pcm.length + 512)
    var i = 0
    while (i < pcm.length) { x(512 + i) = pcm(i) / 32768.0; i += 1 }
    var f = 0
    while (f < nFrames) {
      // 36 granule-blocks of 32 subband samples for this frame
      val sub = Array.ofDim[Double](36, 32)
      var t = 0
      while (t < 36) {
        // newest sample of block t sits at x[512 + f·1152 + 32t + 31]
        val blk = analyze(x, 512 + f * 1152 + 32 * t + 31)
        System.arraycopy(blk, 0, sub(t), 0, 32)
        t += 1
      }
      out.write(encodeMp2Frame(sub, bitrateKbps, frameBytes, withCrc))
      f += 1
    }
    out.toByteArray
  }

  /** The one frame-header writer. A bitrate outside the layer's table
    * (or 0, free format, which this codec never writes) is refused by
    * name: its `indexOf` of -1 would otherwise land as index 15. */
  private def writeHeader(bw: BitWriter, layer: Int, bitrateKbps: Int,
      crcProtected: Boolean = false, srIdx: Int = 1,
      padding: Boolean = false, mode: Int = 3, modeExt: Int = 0): Unit = {
    val bitrateIdx = BitrateKbps(layer).indexOf(bitrateKbps)
    require(bitrateIdx >= 1, s"mpeg: bad layer-$layer bitrate $bitrateKbps")
    bw.put(0xFFF, 12) // sync
    bw.put(1, 1) // ID: MPEG-1
    bw.put(4 - layer, 2) // layer bits: I→11, II→10, III→01
    bw.put(if (crcProtected) 0 else 1, 1) // protection (0 = CRC present)
    bw.put(bitrateIdx, 4)
    bw.put(srIdx, 2) // sample rate index (1 = 48 kHz, the codec rate)
    bw.put(if (padding) 1 else 0, 1) // padding slot
    bw.put(0, 1) // private
    bw.put(mode, 2) // channel mode (3 = single channel)
    bw.put(modeExt, 2); bw.put(0, 1); bw.put(0, 1); bw.put(0, 2) // ext/copy/orig/emph
  }

  private def encodeMp2Frame(sub: Array[Array[Double]], bitrateKbps: Int,
      frameBytes: Int, withCrc: Boolean): Array[Byte] = {
    // per-subband, per-third scalefactor indices and amplitudes
    val sfIdx = Array.ofDim[Int](SbLimit, 3)
    val maxAmp = new Array[Double](SbLimit)
    var sb = 0
    while (sb < SbLimit) {
      var part = 0
      while (part < 3) {
        var m = 0.0
        var t = 12 * part
        while (t < 12 * (part + 1)) {
          m = math.max(m, math.abs(sub(t)(sb))); t += 1
        }
        // smallest scalefactor (largest index) still covering the peak
        var idx = 0
        while (idx + 1 < 63 && ScaleFactor(idx + 1) >= m + 1e-12) idx += 1
        sfIdx(sb)(part) = idx
        maxAmp(sb) = math.max(maxAmp(sb), m)
        part += 1
      }
      sb += 1
    }
    // greedy allocation: fixed costs first, then bump the subband with
    // the largest peak/levels ratio while its next step fits
    val fixedBits = 32 + (if (withCrc) 16 else 0) + Nbal.sum
    val budget = frameBytes * 8
    val alloc = new Array[Int](SbLimit) // menu indices
    def stepCost(sb2: Int): Int = {
      val m2 = menu(sb2)
      val cur = alloc(sb2); val nxt = cur + 1
      if (nxt >= m2.length) Int.MaxValue
      else {
        val cb = if (grouped(m2(nxt))) 12 * groupBits(m2(nxt))
          else 36 * codeBits(m2(nxt))
        val pb = if (cur == 0) 2 + 18 // scfsi + 3 scalefactors
          else 0
        val prev = if (cur == 0) 0
          else if (grouped(m2(cur))) 12 * groupBits(m2(cur))
          else 36 * codeBits(m2(cur))
        cb - prev + pb
      }
    }
    var used = fixedBits
    var progress = true
    while (progress) {
      progress = false
      // most-deserving subband: peak error ∝ maxAmp/levels
      var best = -1; var bestScore = 0.0
      var s2 = 0
      while (s2 < SbLimit) {
        val cost = stepCost(s2)
        if (cost != Int.MaxValue && used + cost <= budget) {
          val lv = if (alloc(s2) == 0) 1 else menu(s2)(alloc(s2))
          val score = (maxAmp(s2) + 1e-9) / lv
          if (score > bestScore) { bestScore = score; best = s2 }
        }
        s2 += 1
      }
      if (best >= 0 && bestScore > 1e-9) {
        used += stepCost(best); alloc(best) += 1; progress = true
      }
    }
    val bw = new BitWriter // side info + samples (header prepended below)
    sb = 0
    while (sb < SbLimit) { bw.put(alloc(sb), Nbal(sb)); sb += 1 }
    sb = 0
    while (sb < SbLimit) { if (alloc(sb) > 0) bw.put(0, 2); sb += 1 } // scfsi 0
    sb = 0
    while (sb < SbLimit) {
      if (alloc(sb) > 0) {
        bw.put(sfIdx(sb)(0), 6); bw.put(sfIdx(sb)(1), 6)
        bw.put(sfIdx(sb)(2), 6)
      }
      sb += 1
    }
    // samples: 12 granules × 3 samples
    var gr = 0
    while (gr < 12) {
      sb = 0
      while (sb < SbLimit) {
        if (alloc(sb) > 0) {
          val lv = menu(sb)(alloc(sb))
          def code(t: Int): Int = {
            val sf = ScaleFactor(sfIdx(sb)(t / 12))
            quant(sub(t)(sb) / sf, lv)
          }
          if (grouped(lv)) {
            val c = code(3 * gr) + lv * code(3 * gr + 1) +
              lv * lv * code(3 * gr + 2)
            bw.put(c, groupBits(lv))
          } else {
            val nb = codeBits(lv)
            bw.put(code(3 * gr), nb); bw.put(code(3 * gr + 1), nb)
            bw.put(code(3 * gr + 2), nb)
          }
        }
        sb += 1
      }
      gr += 1
    }
    require(32 + (if (withCrc) 16 else 0) + bw.bitCount <= budget,
      s"mp2: frame overflow ${bw.bitCount} > $budget bits")
    val head = new BitWriter
    writeHeader(head, 2, bitrateKbps, withCrc)
    val headBytes = head.toBytes
    val body = bw.toBytes
    val out = new java.io.ByteArrayOutputStream()
    out.write(headBytes)
    if (withCrc) {
      val sideBits = Nbal.sum + 2 * alloc.count(_ > 0)
      val crc = crc16Update(crc16Update(0xFFFF, headBytes, 16, 16),
        body, 0, sideBits)
      out.write(crc >> 8); out.write(crc & 0xFF)
    }
    out.write(body)
    java.util.Arrays.copyOf(out.toByteArray, frameBytes) // zero ancillary tail
  }

  // ------------------------------------------------------------------
  // Layer I encode (mono, 48 kHz) — the simpler sibling
  // ------------------------------------------------------------------

  /** Encode 16-bit mono 48 kHz PCM as MPEG-1 Layer I (384-sample
    * frames, uniform 4-bit allocation codes 0..14 → 2..15-bit
    * quantizers, one scalefactor per active subband). */
  def encodeMp1(pcm: Array[Short], bitrateKbps: Int,
      withCrc: Boolean = false): Array[Byte] = {
    require(BitrateKbps(1).indexOf(bitrateKbps) >= 1,
      s"mp1: bad bitrate $bitrateKbps")
    val nFrames = pcm.length / 384
    require(nFrames > 0, "mp1: need at least 384 samples")
    val frameBytes = (12 * bitrateKbps * 1000 / Mp2Rate) * 4
    val out = new java.io.ByteArrayOutputStream()
    val x = new Array[Double](pcm.length + 512)
    var i = 0
    while (i < pcm.length) { x(512 + i) = pcm(i) / 32768.0; i += 1 }
    var f = 0
    while (f < nFrames) {
      val sub = Array.ofDim[Double](12, 32)
      var t = 0
      while (t < 12) {
        val blk = analyze(x, 512 + f * 384 + 32 * t + 31)
        System.arraycopy(blk, 0, sub(t), 0, 32)
        t += 1
      }
      out.write(encodeMp1Frame(sub, bitrateKbps, frameBytes, withCrc))
      f += 1
    }
    out.toByteArray
  }

  private def encodeMp1Frame(sub: Array[Array[Double]], bitrateKbps: Int,
      frameBytes: Int, withCrc: Boolean): Array[Byte] = {
    val sfIdx = new Array[Int](32)
    val maxAmp = new Array[Double](32)
    var sb = 0
    while (sb < 32) {
      var m = 0.0; var t = 0
      while (t < 12) { m = math.max(m, math.abs(sub(t)(sb))); t += 1 }
      var idx = 0
      while (idx + 1 < 63 && ScaleFactor(idx + 1) >= m + 1e-12) idx += 1
      sfIdx(sb) = idx; maxAmp(sb) = m
      sb += 1
    }
    val budget = frameBytes * 8
    val alloc = new Array[Int](32) // 0 = silent, 1..14 → (alloc+1)-bit codes
    def cost(a: Int): Int = if (a == 0) 0 else 6 + 12 * (a + 1)
    var used = 32 + (if (withCrc) 16 else 0) + 4 * 32
    var progress = true
    while (progress) {
      progress = false
      var best = -1; var bestScore = 0.0
      var s2 = 0
      while (s2 < 32) {
        if (alloc(s2) < 14) {
          val d = cost(alloc(s2) + 1) - cost(alloc(s2))
          if (used + d <= budget) {
            val lv = if (alloc(s2) == 0) 1 else (1 << (alloc(s2) + 1)) - 1
            val score = (maxAmp(s2) + 1e-9) / lv
            if (score > bestScore) { bestScore = score; best = s2 }
          }
        }
        s2 += 1
      }
      if (best >= 0 && bestScore > 1e-9) {
        used += cost(alloc(best) + 1) - cost(alloc(best))
        alloc(best) += 1; progress = true
      }
    }
    val bw = new BitWriter // side info + samples (header prepended below)
    sb = 0
    while (sb < 32) { bw.put(alloc(sb), 4); sb += 1 }
    sb = 0
    while (sb < 32) { if (alloc(sb) > 0) bw.put(sfIdx(sb), 6); sb += 1 }
    var t = 0
    while (t < 12) {
      sb = 0
      while (sb < 32) {
        if (alloc(sb) > 0) {
          val nb = alloc(sb) + 1
          val lv = (1 << nb) - 1
          bw.put(quant(sub(t)(sb) / ScaleFactor(sfIdx(sb)), lv), nb)
        }
        sb += 1
      }
      t += 1
    }
    require(32 + (if (withCrc) 16 else 0) + bw.bitCount <= budget,
      s"mp1: frame overflow ${bw.bitCount} > $budget bits")
    val head = new BitWriter
    writeHeader(head, 1, bitrateKbps, withCrc)
    val headBytes = head.toBytes
    val body = bw.toBytes
    val out = new java.io.ByteArrayOutputStream()
    out.write(headBytes)
    if (withCrc) {
      val crc = crc16Update(crc16Update(0xFFFF, headBytes, 16, 16),
        body, 0, 4 * 32)
      out.write(crc >> 8); out.write(crc & 0xFF)
    }
    out.write(body)
    java.util.Arrays.copyOf(out.toByteArray, frameBytes)
  }

  // ------------------------------------------------------------------
  // Decode (Layers I and II)
  // ------------------------------------------------------------------

  /** Decode an MPEG-1 audio stream to per-channel PCM doubles in
    * [−1, 1] (pre-clamp); `n_samples` per channel. Mono Layers I/II/III
    * as in [[decodeMpegAudio]]; STEREO is supported for Layer III —
    * plain stereo / dual channel decode as independent channels, joint
    * stereo in the MS regime applies the §2.4.3.4.9.2 matrix
    * li=(mi+si)/√2, ri=(mi−si)/√2 to the requantized spectra (both
    * channels' granule data read jointly from the one shared main-data
    * / reservoir stream), and INTENSITY stereo (mode_extension bit 0,
    * round 12) reconstructs positions per scalefactor band above the
    * side channel's zero part — see [[mp3ApplyStereo]]. What fails
    * LOUDLY by name: Layer I/II stereo (the subband codec here is the
    * mono B.2a regime) and a mid-stream channel-count change. */
  def decodeMpegAudioChannels(docId: Long,
      payload: Array[Byte]): Array[Array[Double]] = {
    val frames = walkFrames(docId, payload)
    val total = frames.map(_.n_samples).sum
    val nch = if (parseHeader(payload, 0, docId).mono) 1 else 2
    val accs = Array.fill(nch)(new Array[Double](total + 1024))
    val mp3States = Array.fill(nch)(new Mp3State)
    val mp3Resv = new Mp3Reservoir
    var outBase = 0
    frames.foreach { fi =>
      val h = parseHeader(payload, fi.byte_off.toInt, docId)
      require((if (h.mono) 1 else 2) == nch,
        s"mpeg: mid-stream channel-count change (doc $docId)")
      val off = fi.byte_off.toInt
      if (h.layer == 3)
        decodeMp3Frame(payload, off, h, mp3States, mp3Resv, accs, outBase, docId)
      else {
        require(h.mono,
          s"mpeg: layer ${h.layer} stereo is a named boundary of this codec " +
            s"(the subband pair is the mono regime; doc $docId)")
        val br = new BitReader(payload,
          off + 4 + (if (h.crcProtected) 2 else 0))
        if (h.layer == 1)
          decodeMp1Frame(br, accs(0), outBase, docId, payload, off, h.crcProtected)
        else {
          require(h.sampleRate == Mp2Rate && h.bitrateKbps >= 56,
            s"mpeg: layer II outside the B.2a regime " +
              s"(${h.sampleRate} Hz @ ${h.bitrateKbps} kbps, doc $docId)")
          decodeMp2Frame(br, accs(0), outBase, docId, payload, off, h.crcProtected)
        }
      }
      outBase += fi.n_samples
    }
    accs.map(acc =>
      java.util.Arrays.copyOfRange(acc, CascadeDelay, CascadeDelay + total))
  }

  /** Decode a mono MPEG-1 Layer I/II/III stream to PCM doubles in
    * [−1, 1] (pre-clamp). Layer II is supported in the table-B.2a
    * regime the encoder emits (48 kHz); Layer III in the long-block
    * regime (see the Layer III section's scope note); anything else —
    * including stereo, which [[decodeMpegAudioChannels]] carries for
    * Layer III — fails loudly. */
  def decodeMpegAudio(docId: Long, payload: Array[Byte]): Array[Double] = {
    require(parseHeader(payload, 0, docId).mono,
      s"mpeg: decodeMpegAudio is the mono surface — use " +
        s"decodeMpegAudioChannels for stereo (doc $docId)")
    decodeMpegAudioChannels(docId, payload)(0)
  }

  private def decodeMp1Frame(br: BitReader, acc: Array[Double],
      outBase: Int, docId: Long, payload: Array[Byte], frameOff: Int,
      crcProtected: Boolean): Unit = {
    val alloc = Array.fill(32)(br.read(4))
    require(alloc.forall(_ != 15), s"mpeg: forbidden alloc 15 (doc $docId)")
    if (crcProtected) {
      val want = ((payload(frameOff + 4) & 0xFF) << 8) |
        (payload(frameOff + 5) & 0xFF)
      val got = frameCrc(payload, frameOff, 4 * 32)
      require(got == want,
        f"mpeg: layer I CRC mismatch $got%04x != $want%04x (doc $docId)")
    }
    val sf = new Array[Double](32)
    var sb = 0
    while (sb < 32) {
      if (alloc(sb) > 0) {
        val idx = br.read(6)
        require(idx < 63, s"mpeg: forbidden scalefactor 63 (doc $docId)")
        sf(sb) = ScaleFactor(idx)
      }
      sb += 1
    }
    val s = new Array[Double](32)
    var t = 0
    while (t < 12) {
      sb = 0
      while (sb < 32) {
        s(sb) = if (alloc(sb) == 0) 0.0 else {
          val nb = alloc(sb) + 1
          dequant(br.read(nb), (1 << nb) - 1, sf(sb))
        }
        sb += 1
      }
      synthesizeBlock(s, acc, outBase + 32 * t, ChainGain)
      t += 1
    }
  }

  private def decodeMp2Frame(br: BitReader, acc: Array[Double],
      outBase: Int, docId: Long, payload: Array[Byte], frameOff: Int,
      crcProtected: Boolean): Unit = {
    val alloc = Array.tabulate(SbLimit)(sb => br.read(Nbal(sb)))
    val scfsi = Array.tabulate(SbLimit)(sb =>
      if (alloc(sb) > 0) br.read(2) else 0)
    if (crcProtected) {
      val want = ((payload(frameOff + 4) & 0xFF) << 8) |
        (payload(frameOff + 5) & 0xFF)
      val got = frameCrc(payload, frameOff,
        Nbal.sum + 2 * alloc.count(_ > 0))
      require(got == want,
        f"mpeg: layer II CRC mismatch $got%04x != $want%04x (doc $docId)")
    }
    val sf = Array.ofDim[Double](SbLimit, 3)
    var sb = 0
    while (sb < SbLimit) {
      if (alloc(sb) > 0) {
        def one(): Double = {
          val idx = br.read(6)
          require(idx < 63, s"mpeg: forbidden scalefactor 63 (doc $docId)")
          ScaleFactor(idx)
        }
        scfsi(sb) match {
          case 0 => sf(sb)(0) = one(); sf(sb)(1) = one(); sf(sb)(2) = one()
          case 1 => val a = one(); val b = one()
            sf(sb)(0) = a; sf(sb)(1) = a; sf(sb)(2) = b
          case 2 => val a = one()
            sf(sb)(0) = a; sf(sb)(1) = a; sf(sb)(2) = a
          case 3 => val a = one(); val b = one()
            sf(sb)(0) = a; sf(sb)(1) = b; sf(sb)(2) = b
        }
      }
      sb += 1
    }
    val sub = Array.ofDim[Double](36, 32)
    var gr = 0
    while (gr < 12) {
      sb = 0
      while (sb < SbLimit) {
        if (alloc(sb) > 0) {
          val lv = menu(sb)(alloc(sb))
          val part = (3 * gr) / 12
          if (grouped(lv)) {
            var c = br.read(groupBits(lv))
            var j = 0
            while (j < 3) {
              sub(3 * gr + j)(sb) = dequant(c % lv, lv, sf(sb)(part))
              c /= lv; j += 1
            }
          } else {
            val nb = codeBits(lv)
            var j = 0
            while (j < 3) {
              sub(3 * gr + j)(sb) = dequant(br.read(nb), lv, sf(sb)(part))
              j += 1
            }
          }
        }
        sb += 1
      }
      gr += 1
    }
    var t = 0
    while (t < 36) {
      synthesizeBlock(sub(t), acc, outBase + 32 * t, ChainGain)
      t += 1
    }
  }

  // ------------------------------------------------------------------
  // Audio fingerprinting (cross-bitrate dedup)
  // ------------------------------------------------------------------

  /** Per-frame audio fingerprint: the 32 subband ENERGIES of one
    * 1152-sample frame (36 analysis blocks through the same polyphase
    * filterbank the codec runs), reduced to the top-4 energy band
    * indices packed descending into a long — a coarse tonal
    * "constellation" code. Band energies are what lossy coding
    * preserves (that is the codec's whole design target), so the SAME
    * audio decoded from different bitrates fingerprints identically as
    * long as the dominant bands are amplitude-separated, while
    * different content lights different bands — the audio sibling of
    * the image DCT pHash. Ties break toward the lower band index. */
  def frameFingerprint(pcm: Array[Double], frameStart: Int): Long = {
    // pad the analysis FIFO with what precedes the frame (zeros before 0)
    val x = new Array[Double](512 + 1152)
    var i = 0
    while (i < 512 + 1152) {
      val src = frameStart + i - 512
      x(i) = if (src >= 0 && src < pcm.length) pcm(src) else 0.0
      i += 1
    }
    val energy = new Array[Double](32)
    var t = 0
    while (t < 36) {
      val s = analyze(x, 512 + 32 * t + 31)
      var k = 0
      while (k < 32) { energy(k) += s(k) * s(k); k += 1 }
      t += 1
    }
    var fp = 0L
    val taken = new Array[Boolean](32)
    var r = 0
    while (r < 4) {
      var best = -1; var bestE = -1.0
      var k = 0
      while (k < 32) {
        if (!taken(k) && energy(k) > bestE) { bestE = energy(k); best = k }
        k += 1
      }
      taken(best) = true
      fp = (fp << 5) | best
      r += 1
    }
    fp
  }

  /** All whole-frame fingerprints of a PCM buffer. */
  def audioFingerprints(pcm: Array[Double]): Seq[(Int, Long)] =
    (0 until pcm.length / 1152).map(f => (f, frameFingerprint(pcm, 1152 * f)))

  /** Fixture helper: a back-to-back stream of `nFrames` VALID headers
    * with zero bodies at 48 kHz. For Layers I/II a zero body is a
    * well-formed SILENT frame (every allocation code 0 → no
    * scalefactors, no samples, ancillary zeros); for Layer III it is a
    * header-only shell — exactly what the census walker (which never
    * touches sample data) is specified over. */
  def syntheticStream(layer: Int, bitrateKbps: Int, nFrames: Int,
      sampleRate: Int = Mp2Rate): Array[Byte] = {
    require(nFrames > 0, "mpeg: need at least one frame")
    val srIdx = SampleRates.indexOf(sampleRate)
    require(srIdx >= 0, s"mpeg: bad sample rate $sampleRate")
    // CBR slot arithmetic with the standard fractional-remainder
    // padding rule: when 144000·kbps (12000·kbps slots for Layer I)
    // does not divide the sample rate, the accumulated remainder rolls
    // a padding slot into exactly the frames that keep the long-run
    // byte rate EXACT — pad_f = ⌊(f+1)m/fs⌋ − ⌊f·m/fs⌋. 48 kHz and
    // the 32 kHz Layer II/III cases divide evenly (m = 0, no padding);
    // 44.1 kHz pads for real, which is what exercises the walker's
    // padding path.
    val unit = (if (layer == 1) 12000 else 144000) * bitrateKbps
    val base = unit / sampleRate
    val m = unit % sampleRate
    val out = new java.io.ByteArrayOutputStream()
    var rem = 0
    var f = 0
    while (f < nFrames) {
      rem += m
      val pad = rem >= sampleRate
      if (pad) rem -= sampleRate
      val units = base + (if (pad) 1 else 0)
      val frameBytes = if (layer == 1) 4 * units else units
      val bw = new BitWriter
      writeHeader(bw, layer, bitrateKbps, crcProtected = false, srIdx, pad)
      out.write(java.util.Arrays.copyOf(bw.toBytes, frameBytes))
      f += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Gate-facing batched forms
  // ------------------------------------------------------------------

  import Multimodal.MediaRecord

  def mpegFrameCensus(records: Dataset[MediaRecord])
      : Dataset[(Long, Int, Int, Int, Int, Int, Int, Long)] = {
    import records.sparkSession.implicits._
    records.mapPartitions(it => it.flatMap { r =>
      walkFrames(r.doc_id, r.payload).map(f => (r.doc_id, f.frame_id,
        f.layer, f.bitrate_kbps, f.sample_rate, f.n_samples,
        f.frame_bytes, f.byte_off))
    })
  }

  /** Round-trip stats: PCM → Layer I/II → PCM, with the SNR measured
    * over the filterbank's steady-state region (the first/last 481
    * samples are transient — the 512-tap overlap has no history).
    * snr_db is floored to an int for stable gating. */
  case class MpegRoundTrip(doc_id: Long, layer: Int, n_frames: Int,
      bitrate_kbps: Int, sample_rate: Int, n_samples: Long, snr_db: Int,
      snr_ok: Boolean)

  def roundTripStats(docId: Long, pcm: Array[Short], layer: Int,
      bitrateKbps: Int, snrFloorDb: Int,
      withCrc: Boolean = false): MpegRoundTrip = {
    val enc = if (layer == 1) encodeMp1(pcm, bitrateKbps, withCrc)
      else encodeMp2(pcm, bitrateKbps, withCrc)
    val frames = walkFrames(docId, enc)
    val out = decodeMpegAudio(docId, enc)
    var sig = 0.0; var err = 0.0
    var i = 512
    while (i < out.length - 512) {
      val ref = pcm(i) / 32768.0
      sig += ref * ref
      val d = out(i) - ref
      err += d * d
      i += 1
    }
    val snr = if (err <= 0) 120.0
      else 10.0 * math.log10(math.max(sig, 1e-12) / err)
    MpegRoundTrip(docId, layer, frames.length, bitrateKbps,
      frames.head.sample_rate, out.length.toLong, math.floor(snr).toInt,
      snr >= snrFloorDb)
  }

  // ------------------------------------------------------------------
  // Layer III (mono, long blocks)
  //
  // Scope — read before trusting this decoder on foreign files. What
  // is REAL: the full side-info grammar (ISO 11172-3 §2.4.1.7 mono
  // layout, CRC-16 over the 136 side-info bits), THE BIT RESERVOIR
  // (main_data_begin back-pointers into the concatenated main-data
  // regions of preceding frames — §2.4.2.7 / §2.4.3.4.1; the decoder
  // keeps an O(511 + frame) byte FIFO and positions each frame's
  // granule read by the pointer, exactly like a production decoder;
  // both encoder directions below emit and round-trip it),
  // scalefactor bit consumption for every scalefac_compress index,
  // Huffman decode of the big-values region (spec table 1) and the
  // count1 region (spec count1 table B — the fixed 4-bit complement
  // code), requantization |ix|^(4/3)·2^((global_gain−210)/4),
  // alias-reduction butterflies (long blocks), the 36-point IMDCT
  // under the long/start/stop windows and the 3×12-point IMDCT for
  // short blocks (round 12 — the window chain validated by a TDAC
  // perfect-reconstruction test), NONZERO SCALEFACTORS in both long
  // and short layouts applied through the per-rate sfb boundary
  // tables (round 12 — see the transcription note at Mp3SfbLong),
  // preflag/pretab, scalefac_scale, per-window subblock gains, the
  // short-block reorder, scfsi granule-sharing, MS and INTENSITY
  // joint stereo, per-subband
  // overlap-add, frequency inversion, and the shared polyphase
  // synthesis, and MIXED blocks (the long-below/short-above hybrid:
  // two long-windowed subbands with long sfb 0-7 scalefactors under
  // the single sb0/sb1 alias boundary, short windows with per-window
  // gains above — completing the window-switching grammar). What
  // fails LOUDLY by name: big-values Huffman tables 2–31 (only
  // the two tables whose code assignments are reconstructible with
  // certainty from the public spec are carried — thousands of
  // code/length pairs with no structural self-check is the same
  // no-foreign-validator honesty boundary as the Layer I/II prototype
  // filter and the Table C.3 note in the module doc; a silently
  // mis-remembered code would decode garbage, a named refusal is
  // diagnosable), count1 table A, intensity on
  // a MIXED-block granule (pure short-block intensity decodes since
  // round-12 session 2: per-window zero bounds, positions in the short
  // scalefactor slots, MS below each window's bound), and a
  // main_data_begin pointing before
  // the stream start (a cut stream — reservoir underflow). The
  // encoders are spectral-domain FIXTURE GENERATORS (lines in
  // {−1,0,1}, amplitude via global_gain/scalefactors), not
  // rate-controlled production encoders — they exist so every decode
  // path above is exercised by formula-replayable streams and
  // round-trips bit-exactly. One writer, [[encodeMp3]], covers the
  // whole surface: mono or stereo with any mode_extension, the
  // round-12 grammar (block types, scalefactors, subblock gains,
  // preflag, scalefac_scale, scfsi), frame-local main data
  // (main_data_begin = 0) or the reservoir, which packs the main-data
  // stream densely across frames so every tail frame carries a
  // nonzero back-pointer, up to the 9-bit 511 cap with spec-legal
  // stuffing past it; [[mp3IntensityGranule]] plants per-band
  // intensity positions.
  // ------------------------------------------------------------------

  /** scalefac_compress → (slen1, slen2), ISO table. slen1 covers sfb
    * 0–10 (11 bands), slen2 sfb 11–20 (10 bands) for long blocks;
    * for short blocks slen1 covers bands 0–5, slen2 bands 6–11 (×3
    * windows each). */
  private val Mp3Slen: Array[(Int, Int)] = Array(
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3))

  /** MPEG-1 Layer III scalefactor-band boundaries (ISO 11172-3 annex
    * B table 3-B.8), per sample rate: 22 long bands (23 boundaries,
    * last = 576) and 13 short bands per window (14 boundaries, last =
    * 192). TRANSCRIPTION NOTE (the module's no-foreign-validator
    * honesty protocol): these tables are carried because they are (a)
    * tiny, (b) replicated verbatim across every public decoder
    * (libmad, minimp3, pdmp3, the dist10 reference sources), and (c)
    * structurally self-checkable — strictly increasing, fixed entry
    * counts, fixed terminals — all asserted at class load below.
    * Huffman code tables 2–31 meet none of those bars (thousands of
    * code/length pairs with no internal consistency that would catch a
    * mis-remembered entry) and remain the named boundary. */
  private val Mp3SfbLong: Map[Int, Array[Int]] = Map(
    44100 -> Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90,
      110, 134, 162, 196, 238, 288, 342, 418, 576),
    48000 -> Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88,
      106, 128, 156, 190, 230, 276, 330, 384, 576),
    32000 -> Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102,
      126, 156, 194, 240, 296, 364, 448, 550, 576))
  private val Mp3SfbShort: Map[Int, Array[Int]] = Map(
    44100 -> Array(0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192),
    48000 -> Array(0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192),
    32000 -> Array(0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192))
  locally { // structural self-checks (see the transcription note)
    Mp3SfbLong.values.foreach { t =>
      assert(t.length == 23 && t.head == 0 && t.last == 576 &&
        t.sliding(2).forall(p => p(0) < p(1)), "mp3: bad long sfb table")
    }
    Mp3SfbShort.values.foreach { t =>
      assert(t.length == 14 && t.head == 0 && t.last == 192 &&
        t.sliding(2).forall(p => p(0) < p(1)), "mp3: bad short sfb table")
    }
  }

  /** preflag pretab (ISO §2.4.3.4.5): the fixed high-band scalefactor
    * offsets added when preflag is set, sfb 0–21. */
  private val Mp3Pretab: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0)

  /** Public accessors for gates/specs that replay the decode formulas
    * closed-form: (long sfb boundaries, short sfb boundaries) and the
    * pretab. */
  def mp3SfbTables(sampleRate: Int): (Array[Int], Array[Int]) =
    (Mp3SfbLong(sampleRate).clone(), Mp3SfbShort(sampleRate).clone())
  def mp3PretabValues: Array[Int] = Mp3Pretab.clone()

  /** Window tables exposed for the MpegAudioSpec TDAC test — the
    * perfect-reconstruction check is the only validator these
    * formula-defined windows admit (no foreign decoder available). */
  private[graft] def mp3WindowTables:
      (Array[Double], Array[Double], Array[Double], Array[Double]) =
    (Mp3WinLong, Mp3WinStart, Mp3WinShort, Mp3WinStop)

  /** Big-values Huffman table 1 (2×2, no linbits): (x,y) → (code,len).
    * The only big-values table carried — see the scope note above. */
  private val Mp3Table1: Map[(Int, Int), (Int, Int)] = Map(
    (0, 0) -> (1, 1), (0, 1) -> (1, 3), (1, 0) -> (1, 2), (1, 1) -> (0, 3))

  /** Alias-reduction coefficients ci (ISO 2.4.3.4.10.1);
    * cs = 1/√(1+ci²), ca = ci/√(1+ci²). */
  private val AliasCi = Array(-0.6, -0.535, -0.33, -0.185, -0.095,
    -0.041, -0.0142, -0.0037)
  private val AliasCs = AliasCi.map(c => 1.0 / math.sqrt(1 + c * c))
  private val AliasCa = AliasCi.map(c => c / math.sqrt(1 + c * c))

  /** Block-type windows (ISO §2.4.3.4.10.3, definitional formulas):
    * 0 = long sine, 1 = start (long rise, flat, short fall), 3 = stop
    * (time-mirror of start), and the 12-point short window. The
    * long/start/short/stop sequence satisfies perfect reconstruction
    * (TDAC) — `MpegAudioSpec` verifies the chain NUMERICALLY against a
    * forward MDCT, which is the validator these formula tables admit. */
  private val Mp3WinLong: Array[Double] =
    Array.tabulate(36)(n => math.sin(math.Pi / 36.0 * (n + 0.5)))
  private val Mp3WinStart: Array[Double] = Array.tabulate(36) { n =>
    if (n < 18) math.sin(math.Pi / 36.0 * (n + 0.5))
    else if (n < 24) 1.0
    else if (n < 30) math.sin(math.Pi / 12.0 * (n - 18 + 0.5))
    else 0.0
  }
  private val Mp3WinStop: Array[Double] = Array.tabulate(36) { n =>
    if (n < 6) 0.0
    else if (n < 12) math.sin(math.Pi / 12.0 * (n - 6 + 0.5))
    else if (n < 18) 1.0
    else math.sin(math.Pi / 36.0 * (n + 0.5))
  }
  private val Mp3WinShort: Array[Double] =
    Array.tabulate(12)(n => math.sin(math.Pi / 12.0 * (n + 0.5)))

  /** 36-point IMDCT basis cos(π/72 · (2n+19)(2k+1)) times the window
    * for block types 0 (long), 1 (start), 3 (stop). */
  private val Imdct36ByType: Map[Int, Array[Array[Double]]] =
    Map(0 -> Mp3WinLong, 1 -> Mp3WinStart, 3 -> Mp3WinStop).map {
      case (bt, win) => bt -> Array.tabulate(36, 18) { (n, k) =>
        math.cos(math.Pi / 72.0 * (2 * n + 19) * (2 * k + 1)) * win(n)
      }
    }

  /** 12-point IMDCT basis cos(π/24 · (2n+7)(2k+1)) times the short
    * window — the per-window transform of block type 2. */
  private val Imdct12: Array[Array[Double]] = Array.tabulate(12, 6) {
    (n, k) => math.cos(math.Pi / 24.0 * (2 * n + 7) * (2 * k + 1)) *
      Mp3WinShort(n)
  }

  private case class Mp3Granule(part23: Int, bigValues: Int, globalGain: Int,
      scalefacCompress: Int, tableSelect: Array[Int], count1TableB: Boolean,
      blockType: Int, subblockGain: Array[Int],
      preflag: Boolean, scalefacScale: Boolean,
      region0Count: Int, region1Count: Int, mixedBlock: Boolean = false)

  /** One decoded channel-granule: the natural-order requantized
    * spectrum, the long-block scalefactors (intensity positions when
    * this is the side channel of an intensity stream), the first
    * all-zero line (rzero — the intensity region starts at the first
    * scalefactor band at or above it), and the block type. */
  private case class Mp3DecodedGranule(xr: Array[Double], sfLong: Array[Int],
      rzero: Int, blockType: Int, mixedBlock: Boolean = false,
      sfShort: Array[Array[Int]] = null, isBoundShort: Array[Int] = null)

  /** One channel-granule's 59-bit side-info block (§2.4.1.7) — the
    * shared grammar of the 17-byte mono and 32-byte stereo layouts.
    * Both side-info forms are carried (round 12): the normal-window
    * form (3 table selects + explicit region counts) and the
    * window-switching form (block_type, mixed_block_flag, 2 table
    * selects, 3 subblock gains — 22 bits either way). */
  private def readMp3GranuleInfo(br: BitReader, docId: Long): Mp3Granule = {
    val part23 = br.read(12)
    val bigValues = br.read(9)
    require(bigValues * 2 <= 576,
      s"mpeg: layer III big_values $bigValues exceeds the spectrum (doc $docId)")
    val globalGain = br.read(8)
    val sfc = br.read(4)
    val wsf = br.read(1)
    val g =
      if (wsf == 1) {
        val bt = br.read(2)
        require(bt != 0,
          s"mpeg: layer III window_switching with block_type 0 is reserved " +
            s"(doc $docId)")
        val mixed = br.read(1)
        require(mixed == 0 || bt == 2,
          s"mpeg: layer III mixed_block_flag with block_type $bt (doc $docId)")
        val ts = Array(br.read(5), br.read(5), 0)
        val sbg = Array(br.read(3), br.read(3), br.read(3))
        val preflag = br.read(1)
        val sfScale = br.read(1)
        val c1t = br.read(1)
        // regions are implicit for window-switched granules: region0 =
        // the first 36 lines, region1 = the rest (§2.4.2.7)
        Mp3Granule(part23, bigValues, globalGain, sfc, ts, c1t == 1,
          bt, sbg, preflag == 1, sfScale == 1, -1, -1, mixed == 1)
      } else {
        val ts = Array.fill(3)(br.read(5))
        val r0 = br.read(4); val r1 = br.read(3)
        val preflag = br.read(1)
        val sfScale = br.read(1)
        val c1t = br.read(1)
        Mp3Granule(part23, bigValues, globalGain, sfc, ts, c1t == 1,
          0, Array(0, 0, 0), preflag == 1, sfScale == 1, r0, r1)
      }
    if (bigValues > 0)
      g.tableSelect.take(if (wsf == 1) 2 else 3).foreach(t => require(t <= 1,
        s"mpeg: layer III big-values Huffman table $t not carried (only the " +
          s"spec-reconstructible tables 0 and 1 are; doc $docId)"))
    g
  }

  /** scfsi band groups (§2.4.2.7): long sfb ranges whose granule-2
    * scalefactors may be SHARED from granule 1 — 0–5, 6–10, 11–15,
    * 16–20, selected by the per-channel 4-bit scfsi (MSB = group 0). */
  private val Mp3ScfsiGroups: Array[Int] = Array(0, 6, 11, 16, 21)
  private def scfsiShared(scfsi: Int, sfb: Int): Boolean = {
    val grp = if (sfb < 6) 0 else if (sfb < 11) 1 else if (sfb < 16) 2 else 3
    ((scfsi >> (3 - grp)) & 1) == 1
  }

  /** Parse the side info (17 bytes mono / 32 bytes stereo, §2.4.1.7) →
    * (main_data_begin, per-channel scfsi, granules[granule][channel]).
    * scfsi granule-sharing is DECODED since round 12. */
  private def readMp3SideInfo(br: BitReader, nch: Int,
      docId: Long): (Int, Array[Int], Array[Array[Mp3Granule]]) = {
    val mainDataBegin = br.read(9)
    br.read(if (nch == 1) 5 else 3) // private_bits
    val scfsi = Array.fill(nch)(br.read(4))
    val grs = Array.fill(2)(Array.fill(nch)(readMp3GranuleInfo(br, docId)))
    // scfsi is defined on the long scalefactor layout only (§2.4.2.7):
    // a short-block granule in a nonzero-scfsi channel is malformed
    var ch = 0
    while (ch < nch) {
      require(scfsi(ch) == 0 ||
        (grs(0)(ch).blockType != 2 && grs(1)(ch).blockType != 2),
        s"mpeg: layer III scfsi=${scfsi(ch)} with short blocks (doc $docId)")
      ch += 1
    }
    (mainDataBegin, scfsi, grs)
  }

  /** Decoded-position → natural-position map for short (block type 2)
    * granules: Huffman order is [scalefactor band][window][line]; the
    * IMDCT order is [subband][window][line-in-window] (18·sb + 6·w +
    * f%6 for per-window frequency f). Public so fixture gates can plant
    * spectra in decoded order and replay the natural order closed-form
    * — the map's correctness is validated INDEPENDENTLY by the
    * PCM-domain tone checks (a wrong map moves energy to the wrong
    * polyphase subband). */
  def mp3ShortOrderMap(sampleRate: Int): Array[Int] =
    mp3ShortOrderMap(sampleRate, mixed = false)

  /** `mixed = true` gives the MIXED-block order: the first 36 lines
    * (the two long-windowed subbands, long sfb 0–7) are identity, the
    * short part starts at short band 3 (per-window frequency 12). */
  def mp3ShortOrderMap(sampleRate: Int, mixed: Boolean): Array[Int] = {
    val s = Mp3SfbShort(sampleRate)
    val map = new Array[Int](576)
    var pos = 0
    if (mixed) while (pos < 36) { map(pos) = pos; pos += 1 }
    var b = if (mixed) 3 else 0
    while (b < 13) {
      var w = 0
      while (w < 3) {
        var f = s(b)
        while (f < s(b + 1)) {
          map(pos) = 18 * (f / 6) + 6 * w + (f % 6)
          pos += 1; f += 1
        }
        w += 1
      }
      b += 1
    }
    map
  }

  /** Decode one granule's main data to the requantized NATURAL-ORDER
    * 576-line spectrum (pre-alias-reduction; short blocks reordered).
    * Applies scalefactors (long and short layouts), preflag/pretab,
    * scalefac_scale, and per-window subblock gains. Consumes exactly
    * part2_3_length bits or fails loudly. */
  private def decodeMp3GranuleSpectrum(br: BitReader, g: Mp3Granule,
      sampleRate: Int, scfsi: Int, prevSf: Array[Int],
      docId: Long): Mp3DecodedGranule = {
    val start = br.bitPosition
    val (s1, s2) = Mp3Slen(g.scalefacCompress)
    val short = g.blockType == 2
    val sfLong = new Array[Int](22)       // sfb 0-20 coded; 21 stays 0
    val sfShort = Array.ofDim[Int](13, 3) // bands 0-11 coded; 12 stays 0
    if (short && g.mixedBlock) {
      // mixed layout (§2.4.2.7): slen1 covers long sfb 0-7 AND short
      // bands 3-5; slen2 covers short bands 6-11
      var i = 0
      while (i < 8) { sfLong(i) = br.read(s1); i += 1 }
      var b = 3
      while (b < 12) {
        var w = 0
        while (w < 3) {
          sfShort(b)(w) = br.read(if (b < 6) s1 else s2); w += 1
        }
        b += 1
      }
    } else if (short) {
      var b = 0
      while (b < 12) {
        var w = 0
        while (w < 3) {
          sfShort(b)(w) = br.read(if (b < 6) s1 else s2); w += 1
        }
        b += 1
      }
    } else {
      // scfsi (round 12): bands in a SHARED group copy granule 1's
      // values and consume NO bits; scfsi is 0 for the first granule
      var i = 0
      while (i < 21) {
        sfLong(i) =
          if (scfsi != 0 && scfsiShared(scfsi, i)) {
            require(prevSf != null,
              s"mpeg: internal scfsi state error (doc $docId)")
            prevSf(i)
          } else if (i < 11) br.read(s1) else br.read(s2)
        i += 1
      }
    }
    // integer line decode, in HUFFMAN (decoded) order
    val dec = new Array[Int](576)
    val sfbL = Mp3SfbLong(sampleRate)
    // big-values region boundaries in lines (normal form: explicit sfb
    // counts; window-switched form: 36 / rest — §2.4.2.7)
    val r0end =
      if (g.region0Count >= 0) sfbL(math.min(g.region0Count + 1, 22))
      else 36
    val r1end =
      if (g.region0Count >= 0)
        sfbL(math.min(g.region0Count + 1 + g.region1Count + 1, 22))
      else 576
    var line = 0
    var p = 0
    while (p < g.bigValues) {
      val region = if (line < r0end) 0 else if (line < r1end) 1 else 2
      val tsel = g.tableSelect(if (g.region0Count >= 0) region
        else math.min(region, 1))
      if (tsel == 1) {
        // table 1 codes: 1→(0,0)  01→(1,0)  001→(0,1)  000→(1,1)
        val (x, y) =
          if (br.read(1) == 1) (0, 0)
          else if (br.read(1) == 1) (1, 0)
          else if (br.read(1) == 1) (0, 1) else (1, 1)
        dec(line) = if (x > 0 && br.read(1) == 1) -x else x
        dec(line + 1) = if (y > 0 && br.read(1) == 1) -y else y
      } // table 0: both lines zero, zero bits
      line += 2; p += 1
    }
    while (br.bitPosition - start < g.part23 && line + 3 < 576) {
      require(g.count1TableB,
        s"mpeg: layer III count1 table A not carried — named boundary (doc $docId)")
      val c = (~br.read(4)) & 0xF
      var j = 0
      while (j < 4) {
        if (((c >> (3 - j)) & 1) != 0)
          dec(line + j) = if (br.read(1) == 1) -1 else 1
        j += 1
      }
      line += 4
    }
    require(br.bitPosition - start == g.part23,
      s"mpeg: layer III part2_3_length mismatch — read ${br.bitPosition - start}" +
        s" of ${g.part23} bits (doc $docId)")
    val rzero = line
    // requantization: |ix|^(4/3) · 2^((gg−210)/4) scaled per band by
    // 2^(−mult·(sf+pretab)) (long) or per band+window by
    // 2^(−2·subblock_gain) · 2^(−mult·sf) (short), mult ∈ {0.5, 1}
    val mult = if (g.scalefacScale) 1.0 else 0.5
    val gain = math.pow(2.0, (g.globalGain - 210) / 4.0)
    val xr = new Array[Double](576)
    def mag(v: Int, sc: Double): Double = {
      val a = math.pow(math.abs(v).toDouble, 4.0 / 3.0) * sc
      if (v < 0) -a else a
    }
    if (short) {
      val sfbS = Mp3SfbShort(sampleRate)
      val omap = mp3ShortOrderMap(sampleRate, g.mixedBlock)
      var pos = 0
      if (g.mixedBlock) {
        // long region (lines 0-35, long sfb 0-7): long formula, no
        // subblock gain; pretab is zero through sfb 7 but applied for
        // uniformity
        var b = 0
        var i = 0
        while (i < 36) {
          while (sfbL(b + 1) <= i) b += 1
          if (dec(i) != 0) {
            val sf = sfLong(b) + (if (g.preflag) Mp3Pretab(b) else 0)
            xr(i) = mag(dec(i), gain * math.pow(2.0, -mult * sf))
          }
          i += 1
        }
        pos = 36
      }
      // per-window intensity bounds (§2.4.3.4.9.3: short blocks
      // determine the zero part for each window separately): bound(w) =
      // one past the last band with ANY nonzero coded line in window w
      val lastNz = Array(-1, -1, -1)
      var b = if (g.mixedBlock) 3 else 0
      while (b < 13) {
        var w = 0
        while (w < 3) {
          val sc = gain *
            math.pow(2.0, -2.0 * g.subblockGain(w) - mult * sfShort(b)(w))
          var f = sfbS(b)
          while (f < sfbS(b + 1)) {
            if (dec(pos) != 0) {
              xr(omap(pos)) = mag(dec(pos), sc)
              if (b > lastNz(w)) lastNz(w) = b
            }
            pos += 1; f += 1
          }
          w += 1
        }
        b += 1
      }
      return Mp3DecodedGranule(xr, sfLong, rzero, g.blockType, g.mixedBlock,
        sfShort, lastNz.map(_ + 1))
    } else {
      var b = 0
      var i = 0
      while (i < 576) {
        while (sfbL(b + 1) <= i) b += 1
        if (dec(i) != 0) {
          val sf = sfLong(b) + (if (g.preflag) Mp3Pretab(b) else 0)
          xr(i) = mag(dec(i), gain * math.pow(2.0, -mult * sf))
        }
        i += 1
      }
    }
    Mp3DecodedGranule(xr, sfLong, rzero, g.blockType, g.mixedBlock)
  }

  /** Per-stream Layer III synthesis state: each subband's 18-sample
    * IMDCT overlap tail, carried across granules and frames. */
  private final class Mp3State {
    val tail: Array[Array[Double]] = Array.ofDim[Double](32, 18)
  }

  /** Layer III main-data RESERVOIR — the byte FIFO main_data_begin
    * addresses into: the main-data regions of consecutive frames (frame
    * bytes minus header/CRC/side info) form one logical stream, and a
    * frame's granule data starts `main_data_begin` bytes BEFORE its own
    * region (§2.4.2.7). The spec caps the back-pointer at 511 (9 bits),
    * so the FIFO retains O(511 + one region) bytes regardless of stream
    * length — a production decoder's memory bound, kept honestly here
    * (the retained window is trimmed as frames advance). */
  private final class Mp3Reservoir {
    private var buf: Array[Byte] = Array.emptyByteArray
    private var dropped: Long = 0L // bytes trimmed off the front
    /** Logical length of the main-data stream seen so far. */
    def length: Long = dropped + buf.length
    def append(payload: Array[Byte], from: Int, until: Int): Unit = {
      val merged = new Array[Byte](buf.length + (until - from))
      System.arraycopy(buf, 0, merged, 0, buf.length)
      System.arraycopy(payload, from, merged, buf.length, until - from)
      buf = merged
      // nothing older than 511 bytes before the NEXT region is
      // addressable — keep a doubled window so trims amortize
      val keep = 511 + (until - from) + 8
      if (buf.length > 2 * keep) {
        dropped += buf.length - keep
        buf = java.util.Arrays.copyOfRange(buf, buf.length - keep, buf.length)
      }
    }
    def readerAt(startByte: Long): BitReader = {
      require(startByte >= dropped, "mpeg: internal reservoir trim error")
      new BitReader(buf, (startByte - dropped).toInt)
    }
  }

  /** Alias reduction + block-type-dependent IMDCT + overlap-add +
    * frequency inversion + polyphase synthesis of one granule's
    * spectrum. Block type 2 (short) runs three windowed 12-point
    * IMDCTs per subband overlapped by 6 into the 36-sample slot (the
    * first/last 6 samples are zero) and SKIPS alias reduction
    * (§2.4.3.4.10.1 applies it to long blocks only); types 0/1/3 run
    * the 36-point IMDCT under the long/start/stop window. */
  private def mp3SynthesizeGranule(xr: Array[Double], blockType: Int,
      mixed: Boolean, st: Mp3State, acc: Array[Double], outBase: Int): Unit = {
    // alias reduction applies to long-windowed subband boundaries only:
    // all 31 for long/start/stop, the single sb0/sb1 boundary for mixed
    // blocks, none for pure short blocks (round 12)
    val aliasUntil = if (blockType != 2) 32 else if (mixed) 2 else 1
    if (aliasUntil > 1) {
      var sb = 1
      while (sb < aliasUntil) {
        var i = 0
        while (i < 8) {
          val lo = 18 * sb - 1 - i; val hi = 18 * sb + i
          val a = xr(lo); val b = xr(hi)
          xr(lo) = a * AliasCs(i) - b * AliasCa(i)
          xr(hi) = b * AliasCs(i) + a * AliasCa(i)
          i += 1
        }
        sb += 1
      }
    }
    // per-subband IMDCT (windowed) with 18-sample overlap-add
    val s = Array.ofDim[Double](18, 32) // [time][subband]
    var sb = 0
    while (sb < 32) {
      val out36 = new Array[Double](36)
      if (blockType == 2 && !(mixed && sb < 2)) {
        var w = 0
        while (w < 3) {
          var n = 0
          while (n < 12) {
            var a = 0.0; var k = 0
            while (k < 6) { a += xr(18 * sb + 6 * w + k) * Imdct12(n)(k); k += 1 }
            out36(6 + 6 * w + n) += a
            n += 1
          }
          w += 1
        }
      } else {
        // mixed blocks transform their two long subbands under the
        // NORMAL long window (block type 0)
        val basis = Imdct36ByType(if (blockType == 2) 0 else blockType)
        var n = 0
        while (n < 36) {
          var a = 0.0; var k = 0
          while (k < 18) { a += xr(18 * sb + k) * basis(n)(k); k += 1 }
          out36(n) = a; n += 1
        }
      }
      var t = 0
      while (t < 18) {
        var v = st.tail(sb)(t) + out36(t)
        // frequency inversion: odd time samples of odd subbands
        if ((sb & 1) == 1 && (t & 1) == 1) v = -v
        s(t)(sb) = v
        st.tail(sb)(t) = out36(18 + t)
        t += 1
      }
      sb += 1
    }
    var t = 0
    while (t < 18) {
      synthesizeBlock(s(t), acc, outBase + 32 * t, ChainGain)
      t += 1
    }
  }

  /** Parse one Layer III frame's side info + CRC, feed its main-data
    * region to the reservoir, and return a BitReader positioned at this
    * frame's granule data (main_data_begin bytes before the region).
    * Granules come back [granule][channel]. */
  private def mp3FrameMainData(payload: Array[Byte], frameOff: Int,
      h: FrameHeader, resv: Mp3Reservoir, docId: Long):
      (BitReader, Array[Int], Array[Array[Mp3Granule]]) = {
    val nch = if (h.mono) 1 else 2
    val sideBytes = if (nch == 1) 17 else 32
    val crc2 = if (h.crcProtected) 2 else 0
    val br = new BitReader(payload, frameOff + 4 + crc2)
    val (mdb, scfsi, grs) = readMp3SideInfo(br, nch, docId)
    if (h.crcProtected) {
      val want = ((payload(frameOff + 4) & 0xFF) << 8) |
        (payload(frameOff + 5) & 0xFF)
      val got = frameCrc(payload, frameOff, sideBytes * 8)
      require(got == want,
        f"mpeg: layer III CRC mismatch $got%04x != $want%04x (doc $docId)")
    }
    val startByte = resv.length - mdb
    require(startByte >= 0,
      s"mpeg: layer III main_data_begin=$mdb points $mdb bytes before the " +
        s"stream start — bit-reservoir underflow (cut stream or missing " +
        s"prior frames) (doc $docId)")
    resv.append(payload, frameOff + 4 + crc2 + sideBytes,
      frameOff + h.frameBytes)
    (resv.readerAt(startByte), scfsi, grs)
  }

  /** Joint-stereo post-processing of one granule's requantized channel
    * spectra, in place (§2.4.3.4.9). MS (mode_extension bit 1):
    * li = (mi+si)/√2, ri = (mi−si)/√2, applied OUTSIDE the intensity
    * region. INTENSITY (mode_extension bit 0, round 12): scalefactor
    * bands at or above the side channel's first all-zero line (rzero)
    * carry a POSITION in the side channel's scalefactor slot —
    * is_ratio = tan(is_pos·π/12), li = xr·ratio/(1+ratio),
    * ri = xr/(1+ratio); is_pos 7 is illegal and leaves the band
    * untouched (the spec's prescribed fallback). On SHORT-block
    * granules (round 12, session 2) the zero part is determined for
    * each of the three windows separately (§2.4.3.4.9.3): window w's
    * intensity region starts one band past its last nonzero coded
    * band, positions come from the side channel's SHORT scalefactor
    * slots sfShort(band)(window) (band 12 reuses band 11's, the short
    * analog of sfb21→20), and MS — when also set — applies to each
    * window's bands BELOW its bound. Intensity on MIXED blocks remains
    * a named boundary (the long/short region split would need a hybrid
    * bound no reference encoder emits). Plain stereo / dual channel
    * pass through. */
  private def mp3ApplyStereo(h: FrameHeader, xrs: Array[Array[Double]],
      side: Mp3DecodedGranule, docId: Long): Unit = {
    if (xrs.length != 2 || h.mode != 1) return
    val intensity = (h.modeExt & 1) != 0
    val ms = (h.modeExt & 2) != 0
    val inv = 1.0 / math.sqrt(2.0)
    def msLine(i: Int): Unit = {
      val mi = xrs(0)(i); val si = xrs(1)(i)
      xrs(0)(i) = (mi + si) * inv
      xrs(1)(i) = (mi - si) * inv
    }
    // intensity split factors for a position, or null for is_pos 7
    // (illegal: the spec's fallback leaves the band untouched);
    // is_pos 6 is tan(π/2) = ∞: all energy left, exactly
    def isFactors(isPos: Int): (Double, Double) =
      if (isPos == 7) null
      else if (isPos == 6) (1.0, 0.0)
      else {
        val ratio = math.tan(isPos * math.Pi / 12.0)
        (ratio / (1.0 + ratio), 1.0 / (1.0 + ratio))
      }
    def isLine(i: Int, f: (Double, Double)): Unit = {
      val v = xrs(0)(i)
      xrs(0)(i) = v * f._1
      xrs(1)(i) = v * f._2
    }
    if (intensity && side.blockType == 2) {
      require(!side.mixedBlock,
        s"mpeg: layer III intensity on a mixed-block granule is a " +
          s"named boundary of this decoder (doc $docId)")
      val sfbS = Mp3SfbShort(h.sampleRate)
      var b = 0
      while (b < 13) {
        var w = 0
        while (w < 3) {
          val inIntensity = b >= side.isBoundShort(w)
          // band 12 has no coded short scalefactor: reuse band 11's
          val f = if (inIntensity)
            isFactors(side.sfShort(math.min(b, 11))(w)) else null
          var fr = sfbS(b)
          while (fr < sfbS(b + 1)) {
            val i = 18 * (fr / 6) + 6 * w + (fr % 6) // natural-order line
            if (inIntensity) { if (f != null) isLine(i, f) }
            else if (ms) msLine(i)
            fr += 1
          }
          w += 1
        }
        b += 1
      }
      return
    }
    val sfbL = Mp3SfbLong(h.sampleRate)
    // long-block intensity region: scalefactor bands fully at/above the
    // side channel's rzero; empty when intensity is off
    val intensityStart =
      if (!intensity) 576
      else {
        require(side.blockType == 0,
          s"mpeg: layer III intensity on a start/stop-block granule is " +
            s"a named boundary of this decoder (doc $docId)")
        var b = 0
        while (b < 22 && sfbL(b) < side.rzero) b += 1
        sfbL(b)
      }
    if (ms) {
      var i = 0
      while (i < intensityStart) { msLine(i); i += 1 }
    }
    if (intensity && intensityStart < 576) {
      var b = 0
      while (b < 22) {
        if (sfbL(b) >= intensityStart) {
          // sfb21 has no coded scalefactor: it reuses sfb20's position
          val f = isFactors(side.sfLong(math.min(b, 20)))
          if (f != null) {
            var i = sfbL(b)
            while (i < sfbL(b + 1)) { isLine(i, f); i += 1 }
          }
        }
        b += 1
      }
    }
  }

  private def decodeMp3Frame(payload: Array[Byte], frameOff: Int,
      h: FrameHeader, sts: Array[Mp3State], resv: Mp3Reservoir,
      accs: Array[Array[Double]], outBase: Int, docId: Long): Unit = {
    val (mbr, scfsi, grs) = mp3FrameMainData(payload, frameOff, h, resv, docId)
    val nch = grs(0).length
    val prevSf = new Array[Array[Int]](nch)
    var g = 0
    while (g < 2) {
      val decs = Array.tabulate(nch) { ch =>
        val d = decodeMp3GranuleSpectrum(mbr, grs(g)(ch), h.sampleRate,
          if (g == 1) scfsi(ch) else 0, prevSf(ch), docId)
        if (g == 0) prevSf(ch) = d.sfLong
        d
      }
      val xrs = decs.map(_.xr)
      if (nch == 2) mp3ApplyStereo(h, xrs, decs(1), docId)
      var ch = 0
      while (ch < nch) {
        mp3SynthesizeGranule(xrs(ch), decs(ch).blockType,
          decs(ch).mixedBlock, sts(ch), accs(ch), outBase + 576 * g)
        ch += 1
      }
      g += 1
    }
  }

  /** The requantized per-granule spectra of a mono Layer III stream —
    * the digital half of the decode (side info, CRC, scalefactor bits,
    * Huffman, requantization) without the synthesis chain. Exposed so
    * gates/specs can check spectrum recovery EXACTLY against planted
    * fixtures; returns granules in stream order. */
  def mp3StreamSpectra(docId: Long,
      payload: Array[Byte]): Seq[Array[Double]] = {
    val resv = new Mp3Reservoir
    walkFrames(docId, payload).flatMap { fi =>
      val off = fi.byte_off.toInt
      val h = parseHeader(payload, off, docId)
      require(h.layer == 3, s"mpeg: not a layer III frame (doc $docId)")
      require(h.mono, s"mpeg: mp3StreamSpectra is the mono surface — use " +
        s"mp3StreamSpectraStereo (doc $docId)")
      val (mbr, scfsi, grs) = mp3FrameMainData(payload, off, h, resv, docId)
      var prevSf: Array[Int] = null
      grs.zipWithIndex.map { case (g, gi) =>
        val d = decodeMp3GranuleSpectrum(mbr, g(0), h.sampleRate,
          if (gi == 1) scfsi(0) else 0, prevSf, docId)
        if (gi == 0) prevSf = d.sfLong
        d.xr
      }.toSeq
    }
  }

  /** Stereo twin of [[mp3StreamSpectra]]: per granule, the two
    * channels' requantized spectra AFTER joint-stereo processing (so
    * for MS streams these are the reconstructed L/R lines — what a
    * fixture-exactness gate wants to pin). */
  def mp3StreamSpectraStereo(docId: Long,
      payload: Array[Byte]): Seq[Array[Array[Double]]] = {
    val resv = new Mp3Reservoir
    walkFrames(docId, payload).flatMap { fi =>
      val off = fi.byte_off.toInt
      val h = parseHeader(payload, off, docId)
      require(h.layer == 3 && !h.mono,
        s"mpeg: not a stereo layer III frame (doc $docId)")
      val (mbr, scfsi, grs) = mp3FrameMainData(payload, off, h, resv, docId)
      val prevSf = new Array[Array[Int]](2)
      grs.zipWithIndex.map { case (g, gi) =>
        val decs = Array.tabulate(2) { ch =>
          val d = decodeMp3GranuleSpectrum(mbr, g(ch), h.sampleRate,
            if (gi == 1) scfsi(ch) else 0, prevSf(ch), docId)
          if (gi == 0) prevSf(ch) = d.sfLong
          d
        }
        val xrs = decs.map(_.xr)
        mp3ApplyStereo(h, xrs, decs(1), docId)
        xrs
      }.toSeq
    }
  }

  /** Per-frame channel-mode census of a Layer III stream — a header +
    * 9-bit side-info peek, no main-data decode: (frame_id, mode,
    * mode_extension, main_data_begin). The corpus-intake scan that
    * measures the channel-mode mix (mono / stereo / MS / intensity)
    * and the reservoir fraction in one pass, BEFORE committing to a
    * decode — intensity frames are visible here without tripping the
    * decoder's named boundary. */
  def mp3ChannelModeCensus(docId: Long,
      payload: Array[Byte]): Seq[(Int, Int, Int, Int)] =
    walkFrames(docId, payload).map { fi =>
      val off = fi.byte_off.toInt
      val h = parseHeader(payload, off, docId)
      require(h.layer == 3, s"mpeg: not a layer III frame (doc $docId)")
      val br = new BitReader(payload, off + 4 + (if (h.crcProtected) 2 else 0))
      (fi.frame_id, h.mode, h.modeExt, br.read(9))
    }

  /** Per-frame main_data_begin census of a Layer III stream — a
    * header + 9-bit side-info peek, no main-data decode: the cheap scan
    * that measures what fraction of a corpus's MP3 frames actually use
    * the bit reservoir (most real-world encoders do). */
  def mp3ReservoirCensus(docId: Long, payload: Array[Byte]): Seq[(Int, Int)] =
    walkFrames(docId, payload).map { fi =>
      val off = fi.byte_off.toInt
      val h = parseHeader(payload, off, docId)
      require(h.layer == 3, s"mpeg: not a layer III frame (doc $docId)")
      val br = new BitReader(payload, off + 4 + (if (h.crcProtected) 2 else 0))
      (fi.frame_id, br.read(9))
    }

  /** Per-granule Huffman cost in bits (big-values table 1 + count1 B). */
  private def mp3GranuleBits(g: Array[Int], bigValuesPairs: Int): Int = {
    var bits = 0
    var p = 0
    while (p < bigValuesPairs) {
      val x = math.abs(g(2 * p)); val y = math.abs(g(2 * p + 1))
      bits += Mp3Table1((x, y))._2 + (if (x > 0) 1 else 0) + (if (y > 0) 1 else 0)
      p += 1
    }
    val last = g.lastIndexWhere(_ != 0)
    var line = 2 * bigValuesPairs
    while (line <= last) {
      bits += 4
      var j = 0
      while (j < 4) { if (line + j < 576 && g(line + j) != 0) bits += 1; j += 1 }
      line += 4
    }
    bits
  }

  /** Full fixture-grammar channel-granule (round 12): spectrum lines
    * in {−1,0,1} (for short blocks, in the DECODED/Huffman order —
    * [[mp3ShortOrderMap]] gives the natural-order positions), plus
    * every side-info knob the decoder now carries: block type (0 long,
    * 1 start, 2 short, 3 stop), nonzero scalefactors (long: sfb 0–20;
    * short: bands 0–11 × 3 windows — values must fit the
    * scalefac_compress slens), per-window subblock gains, preflag,
    * and scalefac_scale. */
  case class Mp3GranSpec(
      lines: Array[Int],
      globalGain: Int,
      bigValuesPairs: Int = 0,
      blockType: Int = 0,
      scalefacCompress: Int = 0,
      sfLong: Array[Int] = new Array[Int](21),
      sfShort: Array[Array[Int]] = Array.ofDim[Int](12, 3),
      subblockGain: Array[Int] = Array(0, 0, 0),
      preflag: Boolean = false,
      scalefacScale: Boolean = false,
      mixedBlock: Boolean = false)

  private def mp3ValidateGranSpec(g: Mp3GranSpec): Unit = {
    require(g.lines.length == 576 && g.lines.forall(v => v >= -1 && v <= 1),
      "mp3: granule must be 576 lines in {-1,0,1}")
    require(g.globalGain >= 0 && g.globalGain < 256, "mp3: gain is 8 bits")
    require(g.bigValuesPairs >= 0 && g.bigValuesPairs * 2 <= 576,
      "mp3: bad big_values")
    require(g.blockType >= 0 && g.blockType <= 3, "mp3: bad block_type")
    require(g.scalefacCompress >= 0 && g.scalefacCompress < 16,
      "mp3: scalefac_compress is 4 bits")
    require(!g.mixedBlock || g.blockType == 2,
      "mp3: mixed_block_flag needs block_type 2")
    val (s1, s2) = Mp3Slen(g.scalefacCompress)
    if (g.blockType == 2) {
      require(g.sfShort.length == 12 && g.sfShort.forall(_.length == 3),
        "mp3: short scalefactors are 12 bands x 3 windows")
      g.sfShort.zipWithIndex.foreach { case (ws, b) =>
        val slen = if (b < 6) s1 else s2
        ws.foreach(v => require(v >= 0 && v < (1 << slen),
          s"mp3: short scalefactor $v does not fit slen $slen"))
      }
      if (g.mixedBlock) {
        require(g.sfLong.length == 21, "mp3: long scalefactors are sfb 0-20")
        (0 until 8).foreach(b => require(
          g.sfLong(b) >= 0 && g.sfLong(b) < (1 << s1),
          s"mp3: mixed long scalefactor does not fit slen $s1"))
        (0 until 3).foreach(b => require(g.sfShort(b).forall(_ == 0),
          "mp3: mixed blocks have no short bands below band 3"))
      }
    } else {
      require(g.sfLong.length == 21, "mp3: long scalefactors are sfb 0-20")
      g.sfLong.zipWithIndex.foreach { case (v, i) =>
        val slen = if (i < 11) s1 else s2
        require(v >= 0 && v < (1 << slen),
          s"mp3: long scalefactor $v does not fit slen $slen")
      }
    }
    require(g.subblockGain.length == 3 &&
      g.subblockGain.forall(v => v >= 0 && v < 8),
      "mp3: subblock gains are 3 x 3 bits")
    require(g.blockType == 2 || g.subblockGain.forall(_ == 0),
      "mp3: subblock gains apply to short blocks only")
  }

  /** Scalefactor (part2) bit count for a granule spec; `scfsi` (second
    * granule only) zeroes the shared groups' bits. */
  private def mp3Part2Bits(g: Mp3GranSpec, scfsi: Int): Int = {
    val (s1, s2) = Mp3Slen(g.scalefacCompress)
    if (g.blockType == 2 && g.mixedBlock) 17 * s1 + 18 * s2
    else if (g.blockType == 2) 18 * s1 + 18 * s2
    else {
      var bits = 0
      var i = 0
      while (i < 21) {
        if (scfsi == 0 || !scfsiShared(scfsi, i))
          bits += (if (i < 11) s1 else s2)
        i += 1
      }
      bits
    }
  }

  private def mp3WriteScalefacs(bw: BitWriter, g: Mp3GranSpec,
      scfsi: Int): Unit = {
    val (s1, s2) = Mp3Slen(g.scalefacCompress)
    if (g.blockType == 2 && g.mixedBlock) {
      var i = 0
      while (i < 8) { bw.put(g.sfLong(i), s1); i += 1 }
      var b = 3
      while (b < 12) {
        var w = 0
        while (w < 3) { bw.put(g.sfShort(b)(w), if (b < 6) s1 else s2); w += 1 }
        b += 1
      }
    } else if (g.blockType == 2) {
      var b = 0
      while (b < 12) {
        var w = 0
        while (w < 3) { bw.put(g.sfShort(b)(w), if (b < 6) s1 else s2); w += 1 }
        b += 1
      }
    } else {
      var i = 0
      while (i < 21) {
        if (scfsi == 0 || !scfsiShared(scfsi, i))
          bw.put(g.sfLong(i), if (i < 11) s1 else s2)
        i += 1
      }
    }
  }

  /** The generalized 59-bit side-info block for a granule spec —
    * normal form for block type 0, window-switching form otherwise. */
  private def mp3WriteGranuleSideAdv(bw: BitWriter, p23: Int,
      g: Mp3GranSpec): Unit = {
    bw.put(p23, 12)
    bw.put(g.bigValuesPairs, 9)
    bw.put(g.globalGain, 8)
    bw.put(g.scalefacCompress, 4)
    val tbl = if (g.bigValuesPairs > 0) 1 else 0
    if (g.blockType != 0) {
      bw.put(1, 1) // window_switching_flag
      bw.put(g.blockType, 2)
      bw.put(if (g.mixedBlock) 1 else 0, 1)
      bw.put(tbl, 5); bw.put(tbl, 5)
      g.subblockGain.foreach(v => bw.put(v, 3))
    } else {
      bw.put(0, 1)
      bw.put(tbl, 5); bw.put(tbl, 5); bw.put(tbl, 5)
      bw.put(0, 4); bw.put(0, 3) // region0/region1 (tables equal)
    }
    bw.put(if (g.preflag) 1 else 0, 1)
    bw.put(if (g.scalefacScale) 1 else 0, 1)
    bw.put(1, 1) // count1table_select = B
  }

  /** Dense reservoir placement (§2.4.2.7): where frame n's main data
    * starts in the logical main-data stream, given per-frame data
    * lengths and the per-frame region capacity. S(n) = max(cursor,
    * P(n) − 511) with P(n) = n·regionBytes, so main_data_begin =
    * P(n) − S(n) ∈ [0, 511]; gaps forced by the 9-bit cap stay zero
    * (spec-legal stuffing). */
  private def reservoirStarts(lengths: Seq[Int],
      regionBytes: Int): Array[Long] = {
    val starts = new Array[Long](lengths.length)
    var cursor = 0L
    for (n <- lengths.indices) {
      val pN = n.toLong * regionBytes
      require(cursor <= pN,
        s"mp3: frame $n's data cannot start after its own region begins " +
          s"(accumulated ${cursor} > capacity $pN) — raise the bitrate")
      starts(n) = math.max(cursor, pN - 511)
      require(starts(n) + lengths(n) <= pN + regionBytes,
        s"mp3: frame $n main data overruns its region window — raise the bitrate")
      cursor = starts(n) + lengths(n)
    }
    starts
  }

  /** One granule's Huffman-coded main data. */
  private def mp3WriteGranuleData(bw: BitWriter, g: Array[Int],
      bigValuesPairs: Int): Unit = {
    var p = 0
    while (p < bigValuesPairs) {
      val xv = g(2 * p); val yv = g(2 * p + 1)
      val (code, len) = Mp3Table1((math.abs(xv), math.abs(yv)))
      bw.put(code, len)
      if (xv != 0) bw.put(if (xv < 0) 1 else 0, 1)
      if (yv != 0) bw.put(if (yv < 0) 1 else 0, 1)
      p += 1
    }
    val last = g.lastIndexWhere(_ != 0)
    var line = 2 * bigValuesPairs
    while (line <= last) {
      var c = 0
      var j = 0
      while (j < 4) {
        if (line + j < 576 && g(line + j) != 0) c |= 1 << (3 - j)
        j += 1
      }
      bw.put((~c) & 0xF, 4)
      j = 0
      while (j < 4) {
        if (line + j < 576 && g(line + j) != 0)
          bw.put(if (g(line + j) < 0) 1 else 0, 1)
        j += 1
      }
      line += 4
    }
  }

  /** Header + optional CRC-16 (over header bits 16–31 + the side-info
    * bits — 136 mono, 256 stereo) + side info + main-data block,
    * padded to `frameBytes`. */
  private def mp3AssembleFrame(bitrateKbps: Int, withCrc: Boolean,
      sideBytes: Array[Byte], body: Array[Byte], frameBytes: Int,
      mode: Int = 3, modeExt: Int = 0): Array[Byte] = {
    val head = new BitWriter
    writeHeader(head, 3, bitrateKbps, withCrc, mode = mode, modeExt = modeExt)
    val headBytes = head.toBytes
    val frame = new java.io.ByteArrayOutputStream()
    frame.write(headBytes)
    if (withCrc) {
      val crc = crc16Update(crc16Update(0xFFFF, headBytes, 16, 16),
        sideBytes, 0, sideBytes.length * 8)
      frame.write(crc >> 8); frame.write(crc & 0xFF)
    }
    frame.write(sideBytes)
    frame.write(body)
    java.util.Arrays.copyOf(frame.toByteArray, frameBytes)
  }

  /** Encode full-grammar granule specs ([[Mp3GranSpec]]) as an MPEG-1
    * Layer III stream at 48 kHz — the one Layer III writer, and the
    * fixture twin of every decode path. `granules` is
    * [granule][channel]: an even number of granules (2 per frame), each
    * with the same 1 or 2 channels. `mode` 3 is mono; stereo streams
    * say 0 (L/R) or 1 (joint, `modeExt` bit 1 = MS — the written
    * spectra ARE the M/S channels — and bit 0 = intensity, whose side
    * channel [[mp3IntensityGranule]] builds). Per frame: side info
    * (main_data_begin, private bits, scfsi, then one
    * [[mp3WriteGranuleSideAdv]] block per [granule][channel]), and per
    * [granule][channel] the scalefactors plus the Huffman data;
    * part2_3_length counts both, exactly as decoded. Flat packing
    * starts every frame's main data at its own region
    * (main_data_begin 0); `reservoir` packs the main-data stream
    * densely across frames ([[reservoirStarts]]), so tail frames carry
    * nonzero back-pointers and decode to the same spectra. `scfsi`
    * (mono only, long blocks) shares the flagged scalefactor groups of
    * each frame's second granule with its first. */
  def encodeMp3(granules: Seq[Seq[Mp3GranSpec]], bitrateKbps: Int,
      mode: Int = 3, modeExt: Int = 0, reservoir: Boolean = false,
      withCrc: Boolean = false, scfsi: Int = 0): Array[Byte] = {
    require(granules.nonEmpty && granules.length % 2 == 0,
      "mp3: an even number of granules (2 per frame)")
    val nch = granules.head.length
    require((nch == 1 || nch == 2) && granules.forall(_.length == nch),
      "mp3: every granule carries the same 1 or 2 channels")
    require(mode >= 0 && mode <= 3 && (mode == 3) == (nch == 1),
      s"mp3: mode $mode does not fit $nch channel(s)")
    require(modeExt >= 0 && modeExt <= 3 && (mode == 1 || modeExt == 0),
      "mp3: mode_extension is 2 bits, joint stereo only")
    granules.foreach(_.foreach(mp3ValidateGranSpec))
    require(scfsi >= 0 && scfsi < 16, "mp3: scfsi is 4 bits")
    require(scfsi == 0 || nch == 1, "mp3: scfsi is written on mono streams only")
    if (scfsi != 0) granules.grouped(2).foreach { fr =>
      val (g0, g1) = (fr(0)(0), fr(1)(0))
      require(g0.blockType != 2 && g1.blockType != 2,
        "mp3: scfsi is defined on the long scalefactor layout only")
      (0 until 21).foreach(b => require(!scfsiShared(scfsi, b) ||
        g0.sfLong(b) == g1.sfLong(b),
        s"mp3: scfsi-shared band $b differs between the granules"))
    }
    val frameBytes = 144 * bitrateKbps * 1000 / Mp2Rate
    val regionBytes =
      frameBytes - 4 - (if (withCrc) 2 else 0) - (if (nch == 1) 17 else 32)
    require(regionBytes > 0, s"mp3: no main-data capacity at $bitrateKbps kbps")
    // pass 1: per frame, part2_3_length [granule][channel] and the
    // main-data block
    val frames = granules.grouped(2).toSeq.map { fr =>
      val dw = new BitWriter
      val p23 = Seq(0, 1).map(gr => fr(gr).map { g =>
        val sfsi = if (gr == 1) scfsi else 0
        mp3WriteScalefacs(dw, g, sfsi)
        mp3WriteGranuleData(dw, g.lines, g.bigValuesPairs)
        mp3Part2Bits(g, sfsi) + mp3GranuleBits(g.lines, g.bigValuesPairs)
      })
      require(p23.flatten.forall(_ < 4096),
        "mp3: part2_3_length overflows 12 bits")
      (p23, dw.toBytes)
    }
    // pass 2: placement, flat or through the reservoir
    val starts =
      if (reservoir) reservoirStarts(frames.map(_._2.length), regionBytes)
      else Array.tabulate(frames.length) { n =>
        val bits = frames(n)._1.flatten.sum
        require(bits <= 8 * regionBytes,
          s"mp3: frame $n main data $bits bits exceeds the " +
            s"${8 * regionBytes}-bit region at $bitrateKbps kbps — raise the bitrate")
        n.toLong * regionBytes
      }
    // pass 3: lay the main-data stream into one buffer (gaps created by
    // the 511 cap stay zero — spec-legal stuffing the decoder never
    // addresses), then slice per-frame regions
    val stream = new Array[Byte](frames.length * regionBytes)
    frames.zip(starts).foreach { case ((_, data), at) =>
      System.arraycopy(data, 0, stream, at.toInt, data.length)
    }
    val out = new java.io.ByteArrayOutputStream()
    frames.zipWithIndex.foreach { case ((p23, _), n) =>
      val pN = n * regionBytes
      val sw = new BitWriter
      sw.put((pN - starts(n)).toInt, 9) // main_data_begin
      if (nch == 1) { sw.put(0, 5); sw.put(scfsi, 4) } // private / scfsi
      else { sw.put(0, 3); sw.put(0, 4); sw.put(0, 4) }
      for (gr <- 0 to 1; ch <- 0 until nch)
        mp3WriteGranuleSideAdv(sw, p23(gr)(ch), granules(2 * n + gr)(ch))
      out.write(mp3AssembleFrame(bitrateKbps, withCrc, sw.toBytes,
        java.util.Arrays.copyOfRange(stream, pN, pN + regionBytes),
        frameBytes, mode, modeExt))
    }
    out.toByteArray
  }

  /** One INTENSITY-STEREO granule for [[encodeMp3]] (mode 1, modeExt
    * bit 0): the left channel carries the spectra (long blocks — the
    * decoder's named intensity+window-switching boundary), the right
    * (side) channel carries NO spectral data, only the 21 per-band
    * intensity POSITIONS as its scalefactors (0–6; 7 = illegal/keep,
    * decoded as pass-through), at scalefac_compress 13 (slen 3,3) so
    * any value 0–7 fits. With modeExt 3 the decoder applies MS below
    * the intensity region, which is EMPTY here (rzero = 0 puts every
    * band in it), matching the pure-intensity reconstruction. */
  def mp3IntensityGranule(left: Mp3GranSpec,
      positions: Array[Int]): Seq[Mp3GranSpec] = {
    require(left.blockType == 0,
      "mp3: intensity fixtures are long-block (the decoder's named " +
        "intensity+window-switching boundary)")
    require(positions.length == 21 && positions.forall(v => v >= 0 && v <= 7),
      "mp3: 21 intensity positions in 0-7")
    Seq(left, Mp3GranSpec(lines = new Array[Int](576), globalGain = 210,
      scalefacCompress = 13, sfLong = positions))
  }

  // ------------------------------------------------------------------
  // Crawl intake: Xing/Info VBR header + tagged-file census (round 12,
  // session 2). The LAME convention (publicly documented): frame 0 of
  // most encoder output is a VALID Layer III frame whose side info is
  // all zero and whose main-data region opens with "Xing" (VBR) or
  // "Info" (CBR), a 32-bit big-endian flags word, and optional
  // frame/byte counts — players compute duration from it without a
  // full walk, decoders skip it as silence. Composed with ops.Id3's
  // tag spans, this makes real tagged crawl MP3s walkable.
  // ------------------------------------------------------------------

  case class XingInfo(vbr: Boolean, nFrames: Int, nBytes: Int)

  /** A well-formed Xing/Info first frame at 48 kHz (flags = frames +
    * bytes fields present). */
  def makeMp3InfoFrame(bitrateKbps: Int, mono: Boolean, nFrames: Int,
      nBytes: Int, vbr: Boolean): Array[Byte] = {
    val frameBytes = 144 * bitrateKbps * 1000 / Mp2Rate
    val side = new Array[Byte](if (mono) 17 else 32)
    val body = new java.io.ByteArrayOutputStream()
    body.write((if (vbr) "Xing" else "Info").getBytes("ISO-8859-1"))
    body.write(Array[Byte](0, 0, 0, 3)) // flags: frames | bytes
    Seq(nFrames, nBytes).foreach { v =>
      body.write((v >> 24) & 0xFF); body.write((v >> 16) & 0xFF)
      body.write((v >> 8) & 0xFF); body.write(v & 0xFF)
    }
    mp3AssembleFrame(bitrateKbps, withCrc = false, side, body.toByteArray,
      frameBytes, mode = if (mono) 3 else 0)
  }

  /** Parse a Xing/Info header in the frame at `off`, or None when the
    * frame carries no such magic at the post-side-info position. */
  def mp3XingInfo(docId: Long, payload: Array[Byte],
      off: Int = 0): Option[XingInfo] = {
    val h = parseHeader(payload, off, docId)
    if (h.layer != 3) return None
    val sideBytes = if (h.mono) 17 else 32
    var p = off + 4 + (if (h.crcProtected) 2 else 0) + sideBytes
    if (p + 8 > off + h.frameBytes || p + 8 > payload.length) return None
    val magic = new String(payload, p, 4, "ISO-8859-1")
    if (magic != "Xing" && magic != "Info") return None
    p += 4
    def be32(): Int = {
      val v = ((payload(p) & 0xFF) << 24) | ((payload(p + 1) & 0xFF) << 16) |
        ((payload(p + 2) & 0xFF) << 8) | (payload(p + 3) & 0xFF)
      p += 4; v
    }
    val flags = be32()
    require(p + 4 * Integer.bitCount(flags & 3) <= off + h.frameBytes,
      s"mpeg: Xing fields overrun the info frame (doc $docId)")
    val nf = if ((flags & 1) != 0) be32() else -1
    val nb = if ((flags & 2) != 0) be32() else -1
    Some(XingInfo(magic == "Xing", nf, nb))
  }

  /** Tagged-crawl intake census: strip ID3v2/ID3v1 (ops.Id3), detect a
    * Xing/Info first frame, walk the remaining audio frames — the scan
    * a real corpus-intake runs on every crawl MP3. */
  case class Mp3IntakeInfo(audioStart: Int, audioEnd: Int,
      id3v2: Option[Id3.Id3v2Info], id3v1: Option[Id3.Id3v1Info],
      xing: Option[XingInfo], nAudioFrames: Int, nSamples: Long)

  def mp3IntakeCensus(docId: Long, payload: Array[Byte]): Mp3IntakeInfo = {
    val (start, end, v2, v1) = Id3.audioSpan(payload, docId)
    def census(audioEnd: Int,
        v1Tag: Option[Id3.Id3v1Info]): Mp3IntakeInfo = {
      val audio = java.util.Arrays.copyOfRange(payload, start, audioEnd)
      val xing = mp3XingInfo(docId, audio)
      val dataOff =
        if (xing.isDefined) parseHeader(audio, 0, docId).frameBytes else 0
      val frames = walkFrames(docId,
        java.util.Arrays.copyOfRange(audio, dataOff, audio.length))
      Mp3IntakeInfo(start, audioEnd, v2, v1Tag, xing, frames.length,
        frames.map(_.n_samples.toLong).sum)
    }
    if (v1.isEmpty) census(end, None)
    else try census(end, v1) catch {
      // 'TAG' at length-128 can legally occur INSIDE bare audio bytes —
      // a false ID3v1 positive. Strip the trailer only when the trimmed
      // span still frame-tiles; when trimming breaks the tiling and the
      // untrimmed walk succeeds, the 128 bytes were audio all along.
      // A genuinely corrupt stream fails both ways → original error.
      case e: IllegalArgumentException =>
        try census(payload.length, None)
        catch { case _: IllegalArgumentException => throw e }
    }
  }
}
