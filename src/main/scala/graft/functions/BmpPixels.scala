package graft.functions

import Bytes._

/** REAL pixel decode for the one raster format that needs no codec
  * library: uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB). This
  * upgrades the multimodal pixel tier from "deterministic fake" to an
  * actual decode wherever corpora carry BMP payloads — and, with
  * [[encode]], gives specs a way to build byte-exact fixtures instead
  * of trusting hand-pasted blobs.
  *
  * Layout (all little-endian): "BM", uint32 file size @2, uint32 pixel
  * offset @10, DIB size @14 (=40), int32 width @18, int32 height @22
  * (positive = bottom-up row order), uint16 bpp @28 (=24), uint32
  * compression @30 (=0, BI_RGB). Rows are BGR triples padded to 4-byte
  * boundaries. Reference: the public BMP file format specification.
  */
object BmpPixels {

  /** Per-image pixel statistics — the "feature extraction" a real
    * multimodal pipeline runs after decode (means in [0,255]; luma is
    * the Rec.601 weighting). */
  case class Features(width: Int, height: Int, meanR: Double,
                      meanG: Double, meanB: Double, meanLuma: Double)

  /** Decode a 24bpp BI_RGB BMP to pixel statistics; None for anything
    * else (other depths/compressions need a real codec library — the
    * [[graft.operators.Multimodal.decodePartitions]] injection point).
    * Corrupt payloads are DATA (None), never exceptions. */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 54) return None
    if ((b(0) & 0xff) != 'B' || (b(1) & 0xff) != 'M') return None
    if (le32(b, 14) != 40) return None           // BITMAPINFOHEADER only
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val h = math.abs(hRaw)
    if (w <= 0 || h == 0 || w > (1 << 20) || h > (1 << 20)) return None
    if (le16(b, 28) != 24 || le32(b, 30) != 0) return None
    val off = le32(b, 10)
    val rowSize = ((w * 3 + 3) / 4) * 4
    if (off < 54 || off.toLong + rowSize.toLong * h > b.length) return None
    var (sr, sg, sb) = (0.0, 0.0, 0.0)
    var y = 0
    while (y < h) {
      val row = off + y * rowSize
      var x = 0
      while (x < w) {
        val p = row + x * 3
        sb += (b(p) & 0xff); sg += (b(p + 1) & 0xff)
        sr += (b(p + 2) & 0xff)
        x += 1
      }
      y += 1
    }
    val n = w.toDouble * h
    val (mr, mg, mb) = (sr / n, sg / n, sb / n)
    Some(Features(w, h, mr, mg, mb,
      0.299 * mr + 0.587 * mg + 0.114 * mb))
  }

  /** Build a valid 24bpp bottom-up BMP from a pixel function
    * (x, y) → (r, g, b) with y=0 the TOP row — fixture builder for
    * specs and demos; the padding and row-order handling it exercises
    * is exactly what [[decode]] must get right. */
  def encode(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    require(w > 0 && h > 0, "positive dimensions")
    val rowSize = ((w * 3 + 3) / 4) * 4
    val size = 54 + rowSize * h
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    put32(b, 2, size); put32(b, 10, 54); put32(b, 14, 40)
    put32(b, 18, w); put32(b, 22, h)              // bottom-up
    put16(b, 26, 1); put16(b, 28, 24); put32(b, 30, 0)
    put32(b, 34, rowSize * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, bl) = px(x, y)
      // bottom-up storage: image row y lands at file row h-1-y
      val p = 54 + (h - 1 - y) * rowSize + x * 3
      b(p) = bl.toByte; b(p + 1) = g.toByte; b(p + 2) = r.toByte
    }
    b
  }
}
