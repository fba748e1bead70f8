package graft.functions

import Bytes.{BitReader, BitWriter, ParseEx, bail}

/** REAL sample decode for LOSSLESS compressed audio: FLAC — 1–8
  * channels at every standard depth the frame header can code
  * (8/12/16/20/24/32-bit), subframes CONSTANT, VERBATIM,
  * FIXED-prediction (orders 0–4), or LPC (quantized-coefficient
  * linear prediction, orders 1–32 — the encoding real-world FLAC
  * files overwhelmingly use) with Rice-coded residuals, stereo
  * independent or any of the three decorrelation modes. This is the
  * third compression tier of the audio story: PCM ([[WavPcm]]) is
  * uncompressed, IMA ADPCM ([[AdpcmWav]]) is lossy-compressed, FLAC is
  * lossless-compressed — and losslessness is what makes it exactly
  * oracle-able: the decoded samples equal the predictor recurrence
  * over the residuals, bit for bit (LPC prediction is pure integer
  * math: a 64-bit coefficient dot product arithmetic-right-shifted by
  * the quantization shift). Subframe samples decode in the LONG
  * domain so decorrelated stereo works at every depth — the side
  * channel carries bps+1 bits, which at 32-bit depth is a 33-bit
  * signal past Int range; the reconstructed L/R always fit the
  * declared ≤32-bit depth again. Nothing FLAC-shaped remains on the
  * injected-codec seam
  * ([[graft.operators.Multimodal.decodePartitions]]).
  *
  * Everything here is the public FLAC format specification:
  *  - container: "fLaC" magic, metadata blocks ([is-last:1|type:7] +
  *    u24 length), STREAMINFO (type 0, 34 bytes) carrying block sizes,
  *    20-bit sample rate, channels-1, bps-1, 36-bit total samples;
  *  - frame: 14-bit sync 0b11111111111110, reserved bit, blocking
  *    strategy, 4+4 bits block-size/sample-rate codes, 4 bits channel
  *    assignment, 3 bits sample size, UTF-8-style coded frame number,
  *    optional trailing block-size/sample-rate fields, CRC-8 (poly
  *    0x07) of the header;
  *  - subframe: [pad:1|type:6|wasted:1], warmup samples at stream bps,
  *    residual block: 2-bit method (4- or 5-bit Rice params), 4-bit
  *    partition order, per partition a Rice parameter (escape code →
  *    raw n-bit residuals), residuals zigzag-folded, quotient in unary
  *    (q zeros then a one), remainder in k raw bits;
  *  - fixed predictors: s[i] = r[i];  s[i-1]+r[i];  2s[i-1]-s[i-2]+r[i];
  *    3s[i-1]-3s[i-2]+s[i-3]+r[i];  4s[i-1]-6s[i-2]+4s[i-3]-s[i-4]+r[i];
  *  - frame footer: CRC-16 (poly 0x8005) of the whole byte-aligned
  *    frame. Both CRCs are VERIFIED — a flipped bit anywhere in a
  *    frame makes the row None (data, not an exception), exactly what
  *    a 100 TB ingest wants from a checksummed format.
  */
object FlacAudio {

  /** Per-clip decoded-sample statistics (mirrors [[AdpcmWav.Features]]:
    * `lastSample` pins decode order through every recurrence step).
    * `bitsPerSample` is STREAMINFO's declared depth (8–32). */
  case class Features(sampleRate: Int, nFrames: Int, nSamples: Long,
                      meanAmp: Double, rms: Double, peak: Int,
                      lastSample: Int, bitsPerSample: Int = 16)

  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
              else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  private val FixedCoef: Array[Array[Int]] = Array(
    Array(), Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  /** Decode a FLAC stream — 1-8 channels at any standard depth
    * (8/12/16/20/24/32-bit; subframes CONSTANT / VERBATIM / FIXED /
    * LPC; 3-8 channels independent, stereo either independent or any
    * of the three inter-channel decorrelation modes — left/side,
    * right/side, mid/side, the side channel at bps+1 per spec, which
    * at 32-bit depth is 33 bits and decodes through the Long sample
    * domain) to sample statistics over the interleaved sample stream;
    * None for non-FLAC payloads, CRC failures, and any corruption. */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 42) return None
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C')
      return None
    try {
      var i = 4
      var sampleRate = -1; var channels = -1; var bits = -1
      var totalSamples = -1L
      var haveInfo = false
      var last = false
      while (!last) {
        if (i + 4 > b.length) return None
        val hdr = b(i) & 0xff
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7f
        val len = ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) |
          (b(i + 3) & 0xff)
        if (i + 4 + len > b.length) return None
        if (btype == 0) {
          if (len < 34) return None
          val p = i + 4
          sampleRate = ((b(p + 10) & 0xff) << 12) |
            ((b(p + 11) & 0xff) << 4) | ((b(p + 12) & 0xff) >> 4)
          channels = ((b(p + 12) >> 1) & 0x7) + 1
          bits = (((b(p + 12) & 1) << 4) | ((b(p + 13) & 0xff) >> 4)) + 1
          totalSamples = ((b(p + 13) & 0xfL) << 32) |
            ((b(p + 14) & 0xffL) << 24) | ((b(p + 15) & 0xffL) << 16) |
            ((b(p + 16) & 0xffL) << 8) | (b(p + 17) & 0xffL)
          haveInfo = true
        }
        i += 4 + len
      }
      // the standard streaming depths; odd STREAMINFO depths route to
      // the injected-codec seam
      if (!haveInfo || channels < 1 || channels > 8 ||
          !(bits == 8 || bits == 12 || bits == 16 || bits == 20 ||
            bits == 24 || bits == 32) || sampleRate <= 0)
        return None
      var sum = 0.0; var sumSq = 0.0; var peak = 0; var lastS = 0
      var nSamplesPerCh = 0L; var nFrames = 0
      while (i < b.length) {
        val frameStart = i
        if (i + 5 > b.length) return None
        if ((b(i) & 0xff) != 0xff || (b(i + 1) & 0xfe) != 0xf8)
          return None // sync (we write/accept fixed-blocksize streams)
        val bsCode = (b(i + 2) & 0xff) >> 4
        val srCode = b(i + 2) & 0x0f
        val chanAsn = (b(i + 3) & 0xff) >> 4
        val ssCode = (b(i + 3) >> 1) & 0x7
        if ((b(i + 3) & 1) != 0) return None // reserved bit
        // channel assignment must agree with STREAMINFO: 0-7 means
        // chanAsn+1 INDEPENDENT channels; 8/9/10 are the stereo
        // decorrelation modes (left-side, side-right, mid-side) and
        // require exactly 2 channels; 11+ reserved
        if (chanAsn <= 7 && chanAsn != channels - 1) return None
        if (chanAsn >= 8 && (channels != 2 || chanAsn > 10))
          return None
        // sample-size code → bits (0 = from STREAMINFO, 3 reserved);
        // must agree with STREAMINFO
        val ssBits = ssCode match {
          case 0 => bits
          case 1 => 8
          case 2 => 12
          case 4 => 16
          case 5 => 20
          case 6 => 24
          case 7 => 32
          case _ => return None
        }
        if (ssBits != bits) return None
        i += 4
        // UTF-8-style coded frame number (value unused; length matters)
        val first = b(i) & 0xff
        val extra =
          if (first < 0x80) 0
          else if ((first & 0xe0) == 0xc0) 1
          else if ((first & 0xf0) == 0xe0) 2
          else if ((first & 0xf8) == 0xf0) 3
          else if ((first & 0xfc) == 0xf8) 4
          else if ((first & 0xfe) == 0xfc) 5
          else if (first == 0xfe) 6
          else return None
        if (i + 1 + extra + 1 > b.length) return None
        var e = 0
        while (e < extra) {
          if ((b(i + 1 + e) & 0xc0) != 0x80) return None
          e += 1
        }
        i += 1 + extra
        val blockSize = bsCode match {
          case 0x0 => return None // reserved
          case 0x1 => 192
          case n if n >= 0x2 && n <= 0x5 => 576 << (n - 2)
          case 0x6 =>
            if (i + 1 > b.length) return None
            val v = (b(i) & 0xff) + 1; i += 1; v
          case 0x7 =>
            if (i + 2 > b.length) return None
            val v = (((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)) + 1
            i += 2; v
          case n => 256 << (n - 8)
        }
        srCode match {
          case 0x0 => // from STREAMINFO
          case 0xc => if (i + 1 > b.length) return None else i += 1
          case 0xd | 0xe => if (i + 2 > b.length) return None else i += 2
          case 0xf => return None // invalid
          case _ => // table-coded rate, no extra bytes
        }
        if (i + 1 > b.length) return None
        if (crc8(b, frameStart, i) != (b(i) & 0xff)) return None
        i += 1
        // subframes (bit level from here) — one per channel, byte
        // alignment only AFTER the last one; decorrelated side
        // channels carry bps+1 per spec (the side signal l−r needs
        // 17 bits at 16-bit depth, 33 at 32-bit — hence the Long
        // sample domain)
        val br = new BitReader(b, i, b.length)
        val chans = new Array[Array[Long]](channels)
        var ch = 0
        while (ch < channels) {
          val sideBit = chanAsn match {
            case 8  => if (ch == 1) 1 else 0 // left/side: side second
            case 9  => if (ch == 0) 1 else 0 // side/right: side first
            case 10 => if (ch == 1) 1 else 0 // mid/side:  side second
            case _  => 0
          }
          chans(ch) = decodeSubframe(br, blockSize, bits + sideBit)
          ch += 1
        }
        // inter-channel reconstruction (pure integer, exactly the
        // spec's inverse transforms)
        chanAsn match {
          case 8 => // left/side: right = left − side
            var t = 0
            while (t < blockSize) {
              chans(1)(t) = chans(0)(t) - chans(1)(t); t += 1
            }
          case 9 => // side/right: left = right + side
            var t = 0
            while (t < blockSize) {
              chans(0)(t) = chans(1)(t) + chans(0)(t); t += 1
            }
          case 10 => // mid/side: mid = (l+r)>>1 lost the low bit,
            // which side's parity restores: m2 = (mid<<1)|(side&1),
            // l = (m2+side)>>1, r = (m2−side)>>1
            var t = 0
            while (t < blockSize) {
              val side = chans(1)(t)
              val m2 = (chans(0)(t) << 1) | (side & 1L)
              chans(0)(t) = (m2 + side) >> 1
              chans(1)(t) = (m2 - side) >> 1
              t += 1
            }
          case _ =>
        }
        br.alignToByte()
        val footerAt = br.bytePos
        if (footerAt + 2 > b.length) return None
        val crc = ((b(footerAt) & 0xff) << 8) | (b(footerAt + 1) & 0xff)
        if (crc16(b, frameStart, footerAt) != crc) return None
        i = footerAt + 2
        // stats over the INTERLEAVED stream (t-major, channel-minor) —
        // fixes lastSample deterministically to the last channel's
        // final sample
        var s = 0
        while (s < blockSize) {
          var c = 0
          while (c < channels) {
            // a valid stream's RECONSTRUCTED channels fit the declared
            // depth (≤ 32 bits) — only the side-channel intermediate
            // needed the Long domain — so stats stay in the Int range
            // the Features contract declares
            val v = chans(c)(s).toInt
            sum += v; sumSq += v.toDouble * v
            val a = math.abs(v); if (a > peak) peak = a
            lastS = v; c += 1
          }
          s += 1
        }
        nSamplesPerCh += blockSize
        nFrames += 1
      }
      if (nFrames == 0) return None
      if (totalSamples > 0 && totalSamples != nSamplesPerCh) return None
      val nSamples = nSamplesPerCh * channels
      val n = math.max(1L, nSamples).toDouble
      Some(Features(sampleRate, nFrames, nSamples, sum / n,
        math.sqrt(sumSq / n), peak, lastS, bits))
    } catch { case _: ParseEx => None }
  }

  /** Decode ONE subframe (header, warmup/params, Rice residuals,
    * predictor reconstruction) at stream bps `bpsIn`; aborts the
    * parse (→ None at [[decode]]) on any malformation. */
  private def decodeSubframe(br: BitReader, blockSize: Int,
                             bpsIn: Int): Array[Long] = {
    if (br.readBits(1) != 0L) bail() // padding bit
    val sfType = br.readBits(6).toInt
    val wastedFlag = br.readBits(1)
    val wasted =
      if (wastedFlag == 0L) 0
      else br.readUnary() + 1 // coded as (wasted-1) in unary
    val bps = bpsIn - wasted
    if (bps <= 0) bail()
    val samples = new Array[Long](blockSize)
    if (sfType == 0) {
      val v = br.readSignedL(bps)
      java.util.Arrays.fill(samples, v << wasted)
    } else if (sfType == 1) {
      var k = 0
      while (k < blockSize) {
        samples(k) = br.readSignedL(bps) << wasted; k += 1
      }
    } else if ((sfType >= 8 && sfType <= 12) ||
        (sfType >= 32 && sfType <= 63)) {
      val isLpc = sfType >= 32
      val order = if (isLpc) (sfType & 0x1f) + 1 else sfType - 8
      if (order > blockSize) bail()
      var k = 0
      while (k < order) {
        samples(k) = br.readSignedL(bps); k += 1
      }
      // LPC parameters: 4-bit quantized-coefficient precision
      // (coded as precision−1; 0b1111 is invalid per spec), 5-bit
      // SIGNED shift (negative values are reserved — libFLAC
      // rejects them, so do we), then `order` signed coefficients
      // at that precision. Fixed subframes take the spec's
      // hardwired coefficient rows with shift 0 — after this
      // point the two subframe families share one reconstruction.
      val (coef, shift) =
        if (isLpc) {
          val precM1 = br.readBits(4).toInt
          if (precM1 == 15) bail()
          val sh = ((br.readBits(5) << 59) >> 59).toInt // sign-ext
          if (sh < 0) bail()
          val cs = new Array[Int](order)
          var c = 0
          while (c < order) {
            cs(c) = br.readSigned(precM1 + 1); c += 1
          }
          (cs, sh)
        } else (FixedCoef(order), 0)
      // residual block
      val method = br.readBits(2).toInt
      if (method > 1) bail()
      val pBits = if (method == 0) 4 else 5
      val escape = if (method == 0) 15 else 31
      val partOrder = br.readBits(4).toInt
      val nParts = 1 << partOrder
      if (blockSize % nParts != 0) bail()
      var idx = order
      var part = 0
      while (part < nParts) {
        val n = (blockSize >> partOrder) - (if (part == 0) order else 0)
        if (n < 0) bail()
        val param = br.readBits(pBits).toInt
        if (param == escape) {
          val raw = br.readBits(5).toInt
          var j = 0
          while (j < n) {
            val r = if (raw == 0) 0L else br.readSignedL(raw)
            samples(idx) = r; idx += 1; j += 1
          }
        } else {
          var j = 0
          while (j < n) {
            val q = br.readUnary()
            val m = (q.toLong << param) | br.readBits(param)
            samples(idx) = (m >>> 1) ^ -(m & 1L)
            idx += 1; j += 1
          }
        }
        part += 1
      }
      // reconstruct: s[t] = r[t] + ((Σ coef_j · s[t−1−j]) >> shift)
      // — the spec's 64-bit accumulator with an ARITHMETIC right
      // shift; fixed predictors are the shift-0 special case
      var t = order
      while (t < blockSize) {
        var acc = 0L
        var c = 0
        while (c < order) {
          acc += coef(c).toLong * samples(t - 1 - c); c += 1
        }
        samples(t) = samples(t) + (acc >> shift)
        t += 1
      }
      if (wasted > 0) {
        var w = 0
        while (w < blockSize) { samples(w) <<= wasted; w += 1 }
      }
    } else bail() // reserved subframe types (2-7, 13-31)
    samples
  }

  /** FIXTURE synthesis (bounded; test/oracle side only): a conformant
    * mono 16-bit FLAC stream of `nFrames` equal fixed-blocksize frames,
    * each one FIXED-prediction subframe of the given order — warmup
    * samples and residuals come straight from closed-form formulas, so
    * q204's oracle can replay the predictor recurrence in SQL. Rice
    * parameter `riceK` is used verbatim (no estimation); requires
    * nFrames ≤ 128 (1-byte coded number) and blockSize ≤ 256 (8-bit
    * block-size field). Both CRCs are computed for real — the decoder
    * VERIFIES them, so the encoder cannot cheat. */
  def encodeFixed(sampleRate: Int, blockSize: Int, nFrames: Int,
                  order: Int, riceK: Int,
                  warmup: (Int, Int) => Int,
                  resid: (Int, Int) => Int): Array[Byte] = {
    require(order >= 0 && order <= 4 && order <= blockSize,
      "fixed order 0-4 within the block")
    require(riceK >= 0 && riceK < 15, "4-bit rice parameter")
    encodeStream(sampleRate, blockSize, nFrames) { (bw, f) =>
      bw.writeBits(0, 1); bw.writeBits(8 + order, 6); bw.writeBits(0, 1)
      var j = 0
      while (j < order) {
        bw.writeBits(warmup(f, j).toLong & 0xffff, 16); j += 1
      }
      bw.writeBits(0, 2)     // residual method: 4-bit rice
      bw.writeBits(0, 4)     // partition order 0
      bw.writeBits(riceK, 4)
      var t = order
      while (t < blockSize) {
        val v = resid(f, t - order)
        val m = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
        bw.writeUnary((m >>> riceK).toInt)
        bw.writeBits(m & ((1L << riceK) - 1), riceK)
        t += 1
      }
    }
  }

  /** FIXTURE: LPC subframes — quantized-coefficient prediction with
    * the given coefficient vector, precision, and shift; residuals
    * come from the closed-form `resid` exactly as [[encodeFixed]], so
    * an oracle can replay s[t] = r[t] + ((Σ cᵢ·s[t−1−i]) >> shift)
    * symbolically. Coefficients must fit signed `precision` bits;
    * shift in [0, 15] (the positive half of the 5-bit field). */
  def encodeLpc(sampleRate: Int, blockSize: Int, nFrames: Int,
                coefs: Array[Int], precision: Int, shift: Int,
                riceK: Int,
                warmup: (Int, Int) => Int,
                resid: (Int, Int) => Int): Array[Byte] = {
    val order = coefs.length
    require(order >= 1 && order <= 32 && order <= blockSize,
      "LPC order 1-32 within the block")
    require(precision >= 2 && precision <= 15,
      "4-bit precision field, 15 invalid per spec")
    require(shift >= 0 && shift <= 15, "non-negative 5-bit shift")
    val lim = 1 << (precision - 1)
    require(coefs.forall(c => c >= -lim && c < lim),
      s"coefficients must fit signed $precision bits")
    require(riceK >= 0 && riceK < 15, "4-bit rice parameter")
    encodeStream(sampleRate, blockSize, nFrames) { (bw, f) =>
      bw.writeBits(0, 1)
      bw.writeBits(0x20L | (order - 1), 6)
      bw.writeBits(0, 1)
      var j = 0
      while (j < order) {
        bw.writeBits(warmup(f, j).toLong & 0xffff, 16); j += 1
      }
      bw.writeBits(precision - 1, 4)
      bw.writeBits(shift, 5)
      var c = 0
      while (c < order) {
        bw.writeBits(coefs(c).toLong & ((1L << precision) - 1),
          precision)
        c += 1
      }
      bw.writeBits(0, 2)     // residual method: 4-bit rice
      bw.writeBits(0, 4)     // partition order 0
      bw.writeBits(riceK, 4)
      var t = order
      while (t < blockSize) {
        val v = resid(f, t - order)
        val m = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
        bw.writeUnary((m >>> riceK).toInt)
        bw.writeBits(m & ((1L << riceK) - 1), riceK)
        t += 1
      }
    }
  }

  /** Shared container/frame writer: "fLaC" + STREAMINFO + `nFrames`
    * frames whose subframe bits come from `body` (which must write ALL
    * `channels` subframes), CRC-8/16 computed for real over exactly
    * the bytes the decoder verifies. */
  private def encodeStreamCh(sampleRate: Int, blockSize: Int,
                             nFrames: Int, channels: Int, chanAsn: Int,
                             bits: Int = 16)
                            (body: (BitWriter, Int) => Unit)
      : Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), "20-bit rate")
    require(blockSize >= 1 && blockSize <= 256, "8-bit block-size field")
    require(nFrames >= 1 && nFrames <= 128, "1-byte coded number")
    require(channels >= 1 && channels <= 8, "1-8 channels")
    // the depths with a frame-header sample-size code of their own
    val ssCode = bits match {
      case 8 => 1
      case 12 => 2
      case 16 => 4
      case 20 => 5
      case 24 => 6
      case 32 => 7
      case _ => throw new IllegalArgumentException(s"depth $bits")
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO, is-last
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val total = nFrames.toLong * blockSize // per-channel samples
    def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    w16(blockSize); w16(blockSize)       // min/max block size
    out.write(0); out.write(0); out.write(0) // min frame size unknown
    out.write(0); out.write(0); out.write(0) // max frame size unknown
    out.write((sampleRate >> 12) & 0xff)
    out.write((sampleRate >> 4) & 0xff)
    out.write(((sampleRate & 0xf) << 4) | ((channels - 1) << 1) |
      ((bits - 1) >> 4)) // channels-1, bps-1 (high bit)
    out.write((((bits - 1) & 0xf) << 4) | ((total >> 32) & 0xf).toInt)
    out.write(((total >> 24) & 0xff).toInt)
    out.write(((total >> 16) & 0xff).toInt)
    out.write(((total >> 8) & 0xff).toInt)
    out.write((total & 0xff).toInt)
    (0 until 16).foreach(_ => out.write(0)) // MD5 unknown
    var f = 0
    while (f < nFrames) {
      val frame = new java.io.ByteArrayOutputStream()
      frame.write(0xff); frame.write(0xf8) // sync + fixed blocksize
      frame.write((0x6 << 4) | 0x0)        // bs: 8-bit at end; sr: STREAMINFO
      frame.write((chanAsn << 4) | (ssCode << 1) | 0) // chan-asn, depth
      frame.write(f)                       // coded number (< 0x80)
      frame.write(blockSize - 1)           // 8-bit block size - 1
      val hdr = frame.toByteArray
      frame.write(crc8(hdr, 0, hdr.length))
      val bw = new BitWriter
      body(bw, f)
      bw.alignZero()
      frame.write(bw.bytes, 0, bw.bytes.length)
      val whole = frame.toByteArray
      val c16 = crc16(whole, 0, whole.length)
      frame.write((c16 >> 8) & 0xff); frame.write(c16 & 0xff)
      out.write(frame.toByteArray, 0, frame.size())
      f += 1
    }
    out.toByteArray
  }

  private[functions] def encodeStream(sampleRate: Int, blockSize: Int,
                                      nFrames: Int)
                          (body: (BitWriter, Int) => Unit): Array[Byte] =
    encodeStreamCh(sampleRate, blockSize, nFrames, 1, 0)(body)

  /** FIXTURE: STEREO streams via any channel assignment — 1
    * (independent L/R), 8 (left/side), 9 (side/right), 10 (mid/side)
    * — with VERBATIM subframes, the decorrelated channel written from
    * the exact integer transforms the decoder must invert (side =
    * l − r at 17 bits; mid = (l+r) >> 1). Because verbatim carries no
    * prediction, the decoded samples are pure closed forms of
    * (`left`, `right`) — SQL-replayable with no recurrence, so the
    * decorrelation arithmetic itself sits under the hash oracle. */
  /** FIXTURE: N INDEPENDENT channels (1-8; channel assignment
    * channels−1 per spec), VERBATIM subframes from the closed form
    * `sample(ch, frame, t)` — the surround/multitrack layout tier. */
  def encodeMultiVerbatim(sampleRate: Int, blockSize: Int, nFrames: Int,
                          channels: Int,
                          sample: (Int, Int, Int) => Int)
      : Array[Byte] = {
    encodeStreamCh(sampleRate, blockSize, nFrames, channels,
      channels - 1) { (bw, f) =>
      var ch = 0
      while (ch < channels) {
        bw.writeBits(0, 1); bw.writeBits(1, 6); bw.writeBits(0, 1)
        var t = 0
        while (t < blockSize) {
          bw.writeBits(sample(ch, f, t).toLong & 0xffff, 16); t += 1
        }
        ch += 1
      }
    }
  }

  /** FIXTURE: mono VERBATIM at an arbitrary standard depth (8/12/16/
    * 20/24/32 — the sample-size codes the frame header can express):
    * samples from the closed form `sample(frame, t)`, masked to the
    * depth's field width, so an oracle replays the formula and hash
    * equality pins the depth's STREAMINFO/frame-header coding and the
    * n-bit signed sample reads. */
  def encodeDepthVerbatim(sampleRate: Int, blockSize: Int, nFrames: Int,
                          bits: Int,
                          sample: (Int, Int) => Int): Array[Byte] =
    encodeStreamCh(sampleRate, blockSize, nFrames, 1, 0, bits) { (bw, f) =>
      bw.writeBits(0, 1); bw.writeBits(1, 6); bw.writeBits(0, 1)
      var t = 0
      while (t < blockSize) {
        bw.writeBits(sample(f, t).toLong & ((1L << bits) - 1), bits)
        t += 1
      }
    }

  def encodeStereoVerbatim(sampleRate: Int, blockSize: Int, nFrames: Int,
                           chanAsn: Int,
                           left: (Int, Int) => Int,
                           right: (Int, Int) => Int,
                           bits: Int = 16): Array[Byte] = {
    require(chanAsn == 1 || (chanAsn >= 8 && chanAsn <= 10),
      "stereo channel assignment")
    // the side channel is bps+1 — a 33-bit field at 32-bit depth, so
    // all transform arithmetic here runs in Long (l−r on extreme
    // 32-bit samples overflows Int); the decoder must invert exactly
    encodeStreamCh(sampleRate, blockSize, nFrames, 2, chanAsn, bits) {
      (bw, f) =>
        def verbatim(width: Int, sample: Int => Long): Unit = {
          bw.writeBits(0, 1); bw.writeBits(1, 6); bw.writeBits(0, 1)
          var t = 0
          while (t < blockSize) {
            val mask = if (width == 64) -1L else (1L << width) - 1
            bw.writeBits(sample(t) & mask, width)
            t += 1
          }
        }
        def l(t: Int): Long = left(f, t).toLong
        def r(t: Int): Long = right(f, t).toLong
        chanAsn match {
          case 1 =>
            verbatim(bits, l)
            verbatim(bits, r)
          case 8 => // left + side
            verbatim(bits, l)
            verbatim(bits + 1, t => l(t) - r(t))
          case 9 => // side + right
            verbatim(bits + 1, t => l(t) - r(t))
            verbatim(bits, r)
          case 10 => // mid + side
            verbatim(bits, t => (l(t) + r(t)) >> 1)
            verbatim(bits + 1, t => l(t) - r(t))
        }
    }
  }
}
