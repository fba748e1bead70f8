package graft.functions

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Fuzz + roundtrip properties for the two round-7 coded-media
  * decoders: `AdpcmWav.decode` and `MjpegAvi.decode` must NEVER throw
  * (corrupt payloads are data at 100 TB — the MediaHeaders/WavPcm
  * lesson applied to the compressed tiers), and encoder-built files
  * must decode to independently recomputed values. Pure byte-array
  * functions — no SparkSession needed.
  */
object AdpcmMjpegProps extends Properties("graft.adpcm_mjpeg") {

  private val arbitraryBytes: Gen[Array[Byte]] =
    Gen.choose(0, 256).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray))

  private val riffSoup: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 96)
    magic <- Gen.oneOf("WAVE", "AVI ")
    body <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield "RIFF".getBytes("ISO-8859-1") ++ Array[Byte](0, 0, 0, 0) ++
    magic.getBytes("ISO-8859-1") ++ body.toArray

  // a REAL ADPCM file truncated at every possible byte: every length
  // guard on the fmt ext / block walk must hold
  private val truncatedAdpcm: Gen[Array[Byte]] = for {
    rate <- Gen.choose(1, 96000)
    ba <- Gen.choose(5, 40)
    blocks <- Gen.choose(0, 8)
    full = AdpcmWav.encodeRaw(rate, ba, blocks,
      b => b * 777 - 1000, b => (b * 31) % 89, (b, j) => (b + j) % 16)
    keep <- Gen.choose(0, full.length)
  } yield full.take(keep)

  // a REAL MJPEG AVI with interior corruption: flip one byte anywhere
  // (container fields, JPEG entropy stream, CRC-free zones alike)
  private val corruptAvi: Gen[Array[Byte]] = for {
    wb <- Gen.choose(1, 3)
    hb <- Gen.choose(1, 2)
    nf <- Gen.choose(1, 3)
    full = MjpegAvi.encodeGrayBlocks(wb, hb, nf,
      (f, bx, by) => (f * 37 + bx * 11 + by * 29) % 256)
    at <- Gen.choose(0, full.length - 1)
    v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
  } yield { val b = full.clone(); b(at) = v; b }

  private def safeAdpcm(b: Array[Byte]): Boolean = {
    AdpcmWav.decode(b); true
  }
  private def safeAvi(b: Array[Byte]): Boolean = {
    MjpegAvi.decode(b); true
  }

  property("ADPCM decode never throws on arbitrary bytes") =
    forAll(arbitraryBytes)(safeAdpcm)

  property("ADPCM decode never throws on RIFF chunk soup") =
    forAll(riffSoup)(safeAdpcm)

  property("ADPCM decode never throws on truncated real files") =
    forAll(truncatedAdpcm)(safeAdpcm)

  property("MJPEG decode never throws on arbitrary bytes") =
    forAll(arbitraryBytes)(safeAvi)

  property("MJPEG decode never throws on RIFF chunk soup") =
    forAll(riffSoup)(safeAvi)

  property("MJPEG decode never throws on byte-flipped real files") =
    forAll(corruptAvi)(safeAvi)

  property("ADPCM encode→decode matches an independent state-machine " +
      "replay") =
    forAll(Gen.choose(1, 96000), Gen.choose(5, 24), Gen.choose(1, 5),
      Gen.choose(0, 15)) { (rate, ba, blocks, seed) =>
      def pred0(b: Int) = (b * 911 + seed * 13) % 2001 - 1000
      def idx0(b: Int) = (b * 17 + seed) % 89
      def nib(b: Int, j: Int) = (b * 3 + j * 7 + seed) % 16
      val f = AdpcmWav.decode(
        AdpcmWav.encodeRaw(rate, ba, blocks, pred0, idx0, nib)).get
      // independent replay straight from the public tables
      val all = (0 until blocks).flatMap { b =>
        var pred = pred0(b); var idx = idx0(b)
        pred +: (0 until (ba - 4) * 2).map { j =>
          val n = nib(b, j)
          val step = AdpcmWav.StepTable(idx)
          var diff = step >> 3
          if ((n & 4) != 0) diff += step
          if ((n & 2) != 0) diff += step >> 1
          if ((n & 1) != 0) diff += step >> 2
          pred = math.max(-32768, math.min(32767,
            if ((n & 8) != 0) pred - diff else pred + diff))
          idx = math.max(0, math.min(88, idx + AdpcmWav.IndexAdjust(n)))
          pred
        }
      }
      val n = math.max(1, all.length).toDouble
      f.sampleRate == rate && f.nBlocks == blocks &&
        f.nSamples == all.length.toLong &&
        math.abs(f.meanAmp - all.sum / n) < 1e-9 &&
        (all.isEmpty || (f.peak == all.map(math.abs).max &&
          f.lastSample == all.last))
    }

  // 10,000 nested LIST 'rec ' headers under movi (~120 KB): the shared
  // depth-bounded AVI walk stops at Riff.AviMaxDepth instead of
  // recursing once per header until the stack overflows
  property("MJPEG decode returns None on a deeply nested LIST bomb") =
    Prop {
      val depth = 10000
      val b = java.nio.ByteBuffer.allocate(24 + 12 * depth)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("ISO-8859-1")).putInt(16 + 12 * depth)
        .put("AVI ".getBytes("ISO-8859-1"))
      b.put("LIST".getBytes("ISO-8859-1")).putInt(4 + 12 * depth)
        .put("movi".getBytes("ISO-8859-1"))
      (depth - 1 to 0 by -1).foreach { k =>
        b.put("LIST".getBytes("ISO-8859-1")).putInt(4 + 12 * k)
          .put("rec ".getBytes("ISO-8859-1"))
      }
      val bomb = b.array()
      MjpegAvi.decode(bomb).isEmpty && MjpegAvi.grayFrameSums(bomb).isEmpty
    }
}
