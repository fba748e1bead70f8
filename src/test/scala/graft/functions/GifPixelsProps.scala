package graft.functions

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Properties for the GIF/LZW codec pair. The encoder is validated by
  * an INDEPENDENT implementation — the JDK's own `javax.imageio` GIF
  * reader decodes every fixture and must agree pixel-for-pixel — and
  * the decoder round-trips our encoder across dictionary-stressing
  * shapes: images large enough to push code width to 12 bits and
  * force CLEAR resets, constant images (the immediate KwKwK case),
  * and run-heavy patterns. Plus the never-throws fuzz contract.
  */
object GifPixelsProps extends Properties("graft.gif") {

  private def formulaFeatures(w: Int, h: Int, px: (Int, Int) => Int)
      : (Double, Long) = {
    var s = 0L; var ck = 0L
    var p = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = px(x, y) & 0xff
        s += v; ck += v.toLong * (p % 97 + 1)
        p += 1; x += 1
      }
      y += 1
    }
    (s.toDouble / (w.toLong * h), ck)
  }

  property("roundtrip vs formula incl. dictionary growth to 12 bits " +
      "and CLEAR resets (large, high-entropy images)") =
    forAll(Gen.choose(150, 300), Gen.choose(120, 220),
      Gen.choose(0, 999)) { (w, h, seed) =>
      // ~30-60k pixels of varied content: the dictionary passes 4096
      // and the encoder must CLEAR-reset at least once
      def px(x: Int, y: Int) = (seed + x * 7 + y * 13 + (x * y) % 31) % 256
      val f = GifPixels.decode(GifPixels.encodeGray(w, h, px)).get
      val (mean, ck) = formulaFeatures(w, h, px)
      f.width == w && f.height == h && f.ordCk == ck &&
        math.abs(f.meanR - mean) < 1e-9 && f.meanG == f.meanR
    }

  property("constant image — the immediate KwKwK case — decodes exactly") =
    forAll(Gen.choose(1, 64), Gen.choose(1, 64), Gen.choose(0, 255)) {
      (w, h, v) =>
      val f = GifPixels.decode(GifPixels.encodeGray(w, h, (_, _) => v)).get
      val (mean, ck) = formulaFeatures(w, h, (_, _) => v)
      f.meanR == mean && f.ordCk == ck
    }

  property("run-heavy stripes (repeated-phrase dictionary reuse) " +
      "round-trip exactly") =
    forAll(Gen.choose(16, 128), Gen.choose(8, 64), Gen.choose(2, 9)) {
      (w, h, period) =>
      def px(x: Int, y: Int) = ((x / period) % 2) * 200 + (y % 3)
      val f = GifPixels.decode(GifPixels.encodeGray(w, h, px)).get
      val (mean, ck) = formulaFeatures(w, h, px)
      math.abs(f.meanR - mean) < 1e-9 && f.ordCk == ck
    }

  property("the JDK's INDEPENDENT GIF decoder agrees pixel-for-pixel " +
      "with our encoder") =
    forAll(Gen.choose(8, 120), Gen.choose(8, 90), Gen.choose(0, 999)) {
      (w, h, seed) =>
      def px(x: Int, y: Int) = (seed * 3 + x * 11 + y * 17 + x * y) % 256
      val bytes = GifPixels.encodeGray(w, h, px)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      img != null && img.getWidth == w && img.getHeight == h && {
        val raster = img.getRaster
        // identity gray palette: every channel equals the index
        (0 until h).forall(y => (0 until w).forall { x =>
          raster.getSample(x, y, 0) == (px(x, y) & 0xff)
        })
      }
    }

  property("INTERLACED frames de-permute through the 4-pass order — " +
      "checksum equality proves row placement, and the JDK reader " +
      "agrees pixel-for-pixel") =
    forAll(Gen.choose(8, 100), Gen.choose(8, 80), Gen.choose(0, 999)) {
      (w, h, seed) =>
      // row-dependent content: any interlace slip moves rows and
      // breaks the position-weighted checksum
      def px(x: Int, y: Int) = (seed + x * 3 + y * 29) % 256
      val bytes = GifPixels.encodeGray(w, h, px, interlaced = true)
      val f = GifPixels.decode(bytes).get
      val (mean, ck) = formulaFeatures(w, h, px)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      f.ordCk == ck && math.abs(f.meanR - mean) < 1e-9 &&
        img != null && {
          val raster = img.getRaster
          (0 until h).forall(y => (0 until w).forall { x =>
            raster.getSample(x, y, 0) == (px(x, y) & 0xff)
          })
        }
    }

  property("interlaced and progressive encodings of the same image " +
      "decode identically") =
    forAll(Gen.choose(9, 60), Gen.choose(9, 60), Gen.choose(0, 99)) {
      (w, h, seed) =>
      def px(x: Int, y: Int) = (seed * 7 + x + y * 31) % 256
      val a = GifPixels.decode(GifPixels.encodeGray(w, h, px)).get
      val b = GifPixels.decode(
        GifPixels.encodeGray(w, h, px, interlaced = true)).get
      a == b
    }

  private val arbitraryBytes: Gen[Array[Byte]] =
    Gen.choose(0, 256).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray))

  private val gifSoup: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 128)
    body <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield "GIF89a".getBytes("ISO-8859-1") ++ body.toArray

  private val damaged: Gen[Array[Byte]] = for {
    seed <- Gen.choose(0, 99)
    full = GifPixels.encodeGray(20, 15,
      (x, y) => (seed + x * 5 + y * 3) % 256)
    mode <- Gen.choose(0, 1)
    at <- Gen.choose(0, full.length - 1)
    v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
  } yield if (mode == 0) full.take(at)
          else { val b = full.clone(); b(at) = v; b }

  private def safe(b: Array[Byte]): Boolean = { GifPixels.decode(b); true }

  property("decode never throws on arbitrary bytes") =
    forAll(arbitraryBytes)(safe)

  property("decode never throws on GIF-magic soup") =
    forAll(gifSoup)(safe)

  property("decode never throws on truncated/byte-flipped real files") =
    forAll(damaged)(safe)

  /** A 35-byte GIF whose image descriptor declares `w`×`h`: a 2-entry
    * global palette, min code size 2, one 2-byte LZW sub-block. */
  private def declaring(w: Int, h: Int): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val out = "GIF89a".getBytes("ISO-8859-1") ++ le16(w) ++ le16(h) ++
      Array[Byte](0x80.toByte, 0, 0) ++ Array[Byte](0, 0, 0, -1, -1, -1) ++
      Array[Byte](0x2c, 0, 0, 0, 0) ++ le16(w) ++ le16(h) ++ Array[Byte](0) ++
      Array[Byte](2, 2, 0x44, 0x01, 0, 0x3b)
    assert(out.length == 35)
    out
  }

  // w·h overflows Int (65535²) or asks for a 6.4 GB index buffer
  // (40000²): both sit above the shared raster ceiling and must be
  // rejected before anything is allocated
  property("oversized declared dimensions decode to None, not an " +
      "allocation failure") =
    Prop(GifPixels.decode(declaring(65535, 65535)).isEmpty &&
      GifPixels.decode(declaring(40000, 40000)).isEmpty)
}
