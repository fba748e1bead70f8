package graft.functions

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Properties for the FLAC fixed-prediction-subset decoder: exact
  * roundtrips against an independent predictor replay for every
  * subframe type and order, CRC tamper detection (a flipped byte
  * anywhere in a frame must yield None, never a wrong number), and
  * never-throws fuzz. Pure byte-array functions — no SparkSession.
  */
object FlacAudioProps extends Properties("graft.flac") {

  /** Independent fixed-predictor replay (plain Scala, coefficient
    * form written separately from the decoder's loop). */
  private def replay(order: Int, blockSize: Int, nFrames: Int,
                     warmup: (Int, Int) => Int,
                     resid: (Int, Int) => Int): Seq[Int] =
    (0 until nFrames).flatMap { f =>
      val s = new Array[Int](blockSize)
      (0 until order).foreach(j => s(j) = warmup(f, j))
      (order until blockSize).foreach { t =>
        val r = resid(f, t - order)
        s(t) = order match {
          case 0 => r
          case 1 => s(t - 1) + r
          case 2 => 2 * s(t - 1) - s(t - 2) + r
          case 3 => 3 * s(t - 1) - 3 * s(t - 2) + s(t - 3) + r
          case 4 =>
            4 * s(t - 1) - 6 * s(t - 2) + 4 * s(t - 3) - s(t - 4) + r
        }
      }
      s.toSeq
    }

  private def statsMatch(f: FlacAudio.Features, all: Seq[Int],
                         rate: Int, nFrames: Int): Boolean = {
    val n = all.length.toDouble
    f.sampleRate == rate && f.nFrames == nFrames &&
      f.nSamples == all.length.toLong &&
      math.abs(f.meanAmp - all.map(_.toLong).sum / n) < 1e-9 &&
      f.peak == all.map(math.abs).max && f.lastSample == all.last
  }

  property("fixed orders 0-4 roundtrip exactly vs independent replay") =
    forAll(Gen.choose(0, 4), Gen.choose(8, 64), Gen.choose(1, 4),
      Gen.choose(0, 6), Gen.choose(0, 99)) { (o, bsRaw, nf, k, seed) =>
      val bs = math.max(bsRaw, o + 1)
      // keep residuals small so high orders stay in int16-ish range
      def w(f: Int, j: Int) = (seed * 3 + f * 5 + j * 7) % 9 - 4
      def r(f: Int, i: Int) = (seed * 7 + f * 11 + i * 5) % 5 - 2
      val b = FlacAudio.encodeFixed(44100, bs, nf, o, k, w, r)
      val dec = FlacAudio.decode(b)
      dec.exists(statsMatch(_, replay(o, bs, nf, w, r), 44100, nf))
    }

  /** Independent LPC replay: s[t] = r[t] + ((Σ cᵢ·s[t−1−i]) >> shift),
    * written with its own accumulator, separate from the decoder. */
  private def replayLpc(coefs: Array[Int], shift: Int, blockSize: Int,
                        nFrames: Int, warmup: (Int, Int) => Int,
                        resid: (Int, Int) => Int): Seq[Int] =
    (0 until nFrames).flatMap { f =>
      val s = new Array[Int](blockSize)
      val o = coefs.length
      (0 until o).foreach(j => s(j) = warmup(f, j))
      (o until blockSize).foreach { t =>
        var acc = 0L
        (0 until o).foreach(j => acc += coefs(j).toLong * s(t - 1 - j))
        s(t) = resid(f, t - o) + (acc >> shift).toInt
      }
      s.toSeq
    }

  // stable-by-construction coefficient vectors (bounded signal over a
  // ≤64-sample block with small residuals): shifted first-difference,
  // two-tap average, damped taps, and the order-2/4 fixed predictors
  // re-expressed through the LPC path (shift 0) so LPC reconstruction
  // is pinned against the independently-tested fixed recurrences
  private val lpcVectors: Gen[(Array[Int], Int, Int)] = Gen.oneOf(
    (Array(2), 4, 1),        // (coefs, precision, shift)
    (Array(8), 5, 3),
    (Array(1, 1), 3, 1),
    (Array(3, -1), 4, 2),
    (Array(2, -1), 4, 0),
    (Array(5, -3, 1), 5, 2),
    (Array(4, -6, 4, -1), 5, 0),
    (Array(7, -5, 3, -1, 1, -1), 5, 3))

  property("LPC subframes roundtrip exactly vs independent replay " +
      "(orders 1-6, shifts 0-3)") =
    forAll(lpcVectors, Gen.choose(8, 64), Gen.choose(1, 4),
      Gen.choose(0, 6), Gen.choose(0, 99)) { (cv, bsRaw, nf, k, seed) =>
      val (coefs, prec, shift) = cv
      val bs = math.max(bsRaw, coefs.length + 1)
      def w(f: Int, j: Int) = (seed * 3 + f * 5 + j * 7) % 9 - 4
      def r(f: Int, i: Int) = (seed * 7 + f * 11 + i * 5) % 5 - 2
      val b = FlacAudio.encodeLpc(44100, bs, nf, coefs, prec, shift,
        k, w, r)
      FlacAudio.decode(b).exists(
        statsMatch(_, replayLpc(coefs, shift, bs, nf, w, r), 44100, nf))
    }

  property("LPC with shift reproduces the arithmetic-shift floor on " +
      "NEGATIVE accumulators (the >> vs truncating-division trap)") =
    forAll(Gen.choose(1, 3), Gen.choose(0, 99)) { (shift, seed) =>
      // single tap c=−1 with a positive ramp signal forces Σc·s < 0
      // at every step, so every prediction exercises the negative
      // branch: (−v) >> s must floor (−7>>1 = −4), never truncate (−3)
      def w(f: Int, j: Int) = 7 + (seed % 5) + f
      def r(f: Int, i: Int) = (seed + f * 3 + i) % 3
      val b = FlacAudio.encodeLpc(8000, 24, 2, Array(-1), 4, shift,
        3, w, r)
      FlacAudio.decode(b).exists(
        statsMatch(_, replayLpc(Array(-1), shift, 24, 2, w, r), 8000, 2))
    }

  property("stereo: all four channel assignments reconstruct the " +
      "interleaved l/r stream exactly") =
    forAll(Gen.oneOf(1, 8, 9, 10), Gen.choose(1, 64), Gen.choose(1, 4),
      Gen.choose(0, 99)) { (asn, bs, nf, seed) =>
      def l(f: Int, t: Int) =
        math.floorMod(seed * 31 + f * 17 + t * 13, 65536) - 32768
      def r(f: Int, t: Int) =
        math.floorMod(seed * 47 + f * 5 + t * 29, 65536) - 32768
      val b = FlacAudio.encodeStereoVerbatim(22050, bs, nf, asn, l, r)
      val all = (0 until nf).flatMap(f =>
        (0 until bs).flatMap(t => Seq(l(f, t), r(f, t))))
      FlacAudio.decode(b).exists(statsMatch(_, all, 22050, nf))
    }

  property("32-bit stereo: every assignment reconstructs extreme-range " +
      "l/r exactly (the 33-bit side channel — Long-domain reads)") =
    forAll(Gen.oneOf(1, 8, 9, 10), Gen.choose(1, 48), Gen.choose(1, 4),
      Gen.choose(0, 99)) { (asn, bs, nf, seed) =>
      // parity-alternating extremes: |l − r| ≈ 2^32, so a 32-bit (Int)
      // side-channel path would wrap and decode WRONG samples while
      // every CRC still verifies — exactly the bug class under test
      def l(f: Int, t: Int) = {
        val x = 1 + math.floorMod(seed * 31 + f * 17 + t * 13, 999)
        if ((seed + f + t) % 2 == 0) Int.MaxValue - x else Int.MinValue + x
      }
      def r(f: Int, t: Int) = {
        val y = 1 + math.floorMod(seed * 47 + f * 5 + t * 29, 999)
        if ((seed + f + t) % 2 == 0) Int.MinValue + y else Int.MaxValue - y
      }
      val b = FlacAudio.encodeStereoVerbatim(44100, bs, nf, asn, l, r,
        bits = 32)
      val all = (0 until nf).flatMap(f =>
        (0 until bs).flatMap(t => Seq(l(f, t), r(f, t))))
      // integer-exact fields only (Σv² at 2^62 magnitudes is summation-
      // order-dependent in doubles; meanAmp's Σv < 2^39 stays exact)
      var sum = 0.0
      all.foreach(sum += _)
      FlacAudio.decode(b).exists(g =>
        g.bitsPerSample == 32 && g.sampleRate == 44100 &&
          g.nFrames == nf && g.nSamples == all.size.toLong &&
          g.meanAmp == sum / all.size &&
          g.peak == all.map(math.abs).max && g.lastSample == all.last)
    }

  property("the four stereo assignments of the same l/r decode to " +
      "identical features (decorrelation is lossless)") =
    forAll(Gen.choose(1, 32), Gen.choose(1, 3), Gen.choose(0, 99)) {
      (bs, nf, seed) =>
      def l(f: Int, t: Int) =
        math.floorMod(seed * 13 + f * 7 + t * 11, 65536) - 32768
      def r(f: Int, t: Int) =
        math.floorMod(seed * 29 + f * 3 + t * 19, 65536) - 32768
      val fs = Seq(1, 8, 9, 10).map(a => FlacAudio.decode(
        FlacAudio.encodeStereoVerbatim(8000, bs, nf, a, l, r)))
      fs.forall(_.isDefined) && fs.distinct.size == 1
    }

  property("a flipped byte in a stereo stream yields None or intact " +
      "samples, never silent corruption") =
    forAll(Gen.oneOf(8, 9, 10), Gen.choose(0, 99),
      Gen.choose(Byte.MinValue, Byte.MaxValue)) { (asn, seed, nv) =>
      val b = FlacAudio.encodeStereoVerbatim(16000, 24, 2, asn,
        (f, t) => (seed + f * 3 + t * 7) % 2000 - 1000,
        (f, t) => (seed * 3 + f * 5 + t * 11) % 2000 - 1000)
      val good = FlacAudio.decode(b).get
      val at = 4 + seed % (b.length - 4)
      if (b(at) == nv) true
      else {
        val bad = b.clone(); bad(at) = nv
        FlacAudio.decode(bad) match {
          case None => true
          case Some(f) => at < 42 &&
            f.nSamples == good.nSamples && f.peak == good.peak &&
            f.lastSample == good.lastSample
        }
      }
    }

  property("multichannel (1-8 independent) roundtrips the interleaved " +
      "stream exactly") =
    forAll(Gen.choose(1, 8), Gen.choose(1, 32), Gen.choose(1, 3),
      Gen.choose(0, 99)) { (nch, bs, nf, seed) =>
      def sm(ch: Int, f: Int, t: Int) =
        math.floorMod(seed * 7 + ch * 101 + f * 13 + t * 37, 65536) -
          32768
      val b = FlacAudio.encodeMultiVerbatim(48000, bs, nf, nch, sm)
      val all = (0 until nf).flatMap(f => (0 until bs).flatMap(t =>
        (0 until nch).map(ch => sm(ch, f, t))))
      FlacAudio.decode(b).exists(statsMatch(_, all, 48000, nf))
    }

  property("constant and verbatim subframes roundtrip exactly") =
    forAll(Gen.choose(1, 128), Gen.choose(1, 4),
      Gen.choose(-32768, 32767)) { (bs, nf, v) =>
      // floorMod keeps the synthetic samples inside int16 (Scala's %
      // of a negative would leave the valid range)
      def cv(f: Int) = math.floorMod(v + f, 65536) - 32768
      val c = FlacAudio.decode(FlacFixtures.encodeConstant(8000, bs, nf, cv))
      def sm(f: Int, t: Int) =
        math.floorMod(v + f * 31 + t * 17, 65536) - 32768
      val vb = FlacAudio.decode(FlacFixtures.encodeVerbatim(8000, bs, nf, sm))
      val cAll = (0 until nf).flatMap(f => Seq.fill(bs)(cv(f)))
      val vAll = (0 until nf).flatMap(f => (0 until bs).map(sm(f, _)))
      c.exists(statsMatch(_, cAll, 8000, nf)) &&
        vb.exists(statsMatch(_, vAll, 8000, nf))
    }

  property("a flipped byte anywhere past the magic yields None (CRC " +
      "or structural guard), never a wrong answer") =
    forAll(Gen.choose(0, 99), Gen.choose(Byte.MinValue, Byte.MaxValue)) {
      (seed, nv) =>
      val b = FlacAudio.encodeFixed(16000, 32, 2, 2, 3,
        (f, j) => f + j, (f, i) => (seed + f + i) % 7 - 3)
      val good = FlacAudio.decode(b).get
      val at = 4 + seed % (b.length - 4)
      if (b(at) == nv) true // not a corruption
      else {
        val bad = b.clone(); bad(at) = nv
        FlacAudio.decode(bad) match {
          case None => true
          // STREAMINFO bytes are not CRC-protected (the format relies
          // on frame CRCs); a flip there may legally decode — but it
          // must never silently corrupt the SAMPLES themselves
          case Some(f) => at < 42 &&
            f.nSamples == good.nSamples && f.peak == good.peak &&
            f.lastSample == good.lastSample
        }
      }
    }

  private val arbitraryBytes: Gen[Array[Byte]] =
    Gen.choose(0, 256).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray))

  private val flacSoup: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 128)
    body <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield "fLaC".getBytes("ISO-8859-1") ++ body.toArray

  private val truncated: Gen[Array[Byte]] = for {
    seed <- Gen.choose(0, 99)
    full = if (seed % 2 == 0)
      FlacAudio.encodeFixed(8000, 48, 2, seed % 3, 4,
        (f, j) => f + j, (f, i) => (seed + f * 3 + i) % 9 - 4)
    else
      FlacAudio.encodeLpc(8000, 48, 2, Array(3, -1), 4, 2, 4,
        (f, j) => f + j, (f, i) => (seed + f * 3 + i) % 9 - 4)
    keep <- Gen.choose(0, full.length)
  } yield full.take(keep)

  property("a flipped byte in an LPC stream yields None or intact " +
      "samples, never silent corruption") =
    forAll(Gen.choose(0, 99), Gen.choose(Byte.MinValue, Byte.MaxValue)) {
      (seed, nv) =>
      val b = FlacAudio.encodeLpc(16000, 32, 2, Array(1, 1), 3, 1, 3,
        (f, j) => f + j, (f, i) => (seed + f + i) % 7 - 3)
      val good = FlacAudio.decode(b).get
      val at = 4 + seed % (b.length - 4)
      if (b(at) == nv) true
      else {
        val bad = b.clone(); bad(at) = nv
        FlacAudio.decode(bad) match {
          case None => true
          case Some(f) => at < 42 &&
            f.nSamples == good.nSamples && f.peak == good.peak &&
            f.lastSample == good.lastSample
        }
      }
    }

  property("all six standard depths roundtrip exactly vs independent " +
      "replay (8/12/16/20/24/32)") =
    forAll(Gen.oneOf(8, 12, 16, 20, 24, 32), Gen.choose(0L, 100000L)) {
      (bits, seed) =>
      // values within the depth's signed range AND within ±2^22 so
      // the sum-of-squares replay stays exact-integer in doubles
      val amp = math.min(1 << (bits - 2), 1 << 22)
      def sample(f: Int, t: Int): Int =
        ((seed * 31 + f * 17 + t * 13) % (2L * amp)).toInt - amp
      val b = FlacAudio.encodeDepthVerbatim(8000, 20, 2, bits, sample)
      val vals = for (f <- 0 until 2; t <- 0 until 20) yield sample(f, t)
      var sum = 0.0; var sq = 0.0
      vals.foreach { v => sum += v; sq += v.toDouble * v }
      FlacAudio.decode(b).exists(g =>
        g.bitsPerSample == bits && g.sampleRate == 8000 &&
          g.nFrames == 2 && g.nSamples == 40 &&
          g.meanAmp == sum / 40.0 && g.rms == math.sqrt(sq / 40.0) &&
          g.peak == vals.map(math.abs).max && g.lastSample == vals.last)
    }

  private def safe(b: Array[Byte]): Boolean = { FlacAudio.decode(b); true }

  property("decode never throws on arbitrary bytes") =
    forAll(arbitraryBytes)(safe)

  property("decode never throws on fLaC-magic soup") =
    forAll(flacSoup)(safe)

  property("decode never throws on truncated real streams") =
    forAll(truncated)(safe)
}
