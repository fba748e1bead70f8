package graft.functions

import java.util.zip.{CRC32, Deflater, Inflater}

import Bytes.{be32, putBe32}

/** REAL pixel decode for the second raster format that needs no codec
  * library: PNG, whose compression is zlib/DEFLATE — shipped in the
  * JDK (`java.util.zip.Inflater`). Supported profile: 8-bit depth,
  * color type 0 (grayscale) or 2 (truecolor RGB), non-interlaced, all
  * five scanline filters (None/Sub/Up/Average/Paeth). That covers the
  * uncompressed-pipeline PNGs a synthetic or screenshot corpus carries;
  * palette/16-bit/interlaced files fall through to None — the
  * [[graft.operators.Multimodal.decodePartitions]] injection point for
  * a real codec library, same contract as [[BmpPixels]].
  *
  * Layout (public PNG specification): 8-byte signature, then chunks of
  * [len u32 BE][type 4B][data][crc u32 BE]. IHDR carries w/h/depth/
  * color/interlace; IDAT chunks concatenate into one zlib stream of
  * filtered scanlines (1 filter-type byte + w·bpp bytes per row).
  */
object PngPixels {

  /** Per-image pixel statistics; grayscale reports its mean on all
    * three channels (luma = the same value, consistent with Rec.601
    * weights summing to 1). */
  case class Features(width: Int, height: Int, channels: Int,
                      meanR: Double, meanG: Double, meanB: Double,
                      meanLuma: Double)

  private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    .map(_.toByte)

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Decode a supported-profile PNG to pixel statistics; None for any
    * other profile or corrupt payload (data, never exceptions). */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 45) return None
    var i = 0
    while (i < 8) { if (b(i) != Sig(i)) return None; i += 1 }
    // IHDR must be first
    if (be32(b, 8) != 13 || b(12) != 'I' || b(13) != 'H' ||
      b(14) != 'D' || b(15) != 'R') return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    val depth = b(24) & 0xff
    val color = b(25) & 0xff
    val interlace = b(28) & 0xff
    if (w <= 0 || h <= 0 || w > (1 << 16) || h > (1 << 16)) return None
    if (depth != 8 || (color != 0 && color != 2) || interlace != 0)
      return None
    val bpp = if (color == 2) 3 else 1
    // walk chunks, concatenating IDAT payloads
    val idat = new java.io.ByteArrayOutputStream()
    var off = 8 + 4 + 4 + 13 + 4
    var ended = false
    while (!ended && off + 8 <= b.length) {
      val len = be32(b, off)
      // bounds math in LONG: a crafted len near Int.MaxValue wraps the
      // Int sum negative and would sail past this guard into an
      // uncaught out-of-bounds — corrupt payloads are DATA (None)
      if (len < 0 || off.toLong + 8 + len + 4 > b.length) return None
      val typ = new String(b, off + 4, 4, "US-ASCII")
      if (typ == "IDAT") idat.write(b, off + 8, len)
      else if (typ == "IEND") ended = true
      off += 8 + len + 4
    }
    if (!ended || idat.size() == 0) return None
    // inflate to h scanlines of (1 + w*bpp) bytes
    val rowBytes = 1 + w * bpp
    val want = rowBytes.toLong * h
    if (want > (64L << 20)) return None
    val raw = new Array[Byte](want.toInt)
    val inf = new Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        // needsDictionary: an FDICT zlib header makes inflate return 0
        // with input remaining, forever — without this check the loop
        // never exits and the executor thread hangs
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None // truncated stream or preset-dictionary zlib
        got += n
      }
      if (got != raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // unfilter in place: prev-row bytes are already reconstructed
    val stride = w * bpp
    var y = 0
    while (y < h) {
      val rs = y * rowBytes
      val ft = raw(rs) & 0xff
      if (ft > 4) return None
      var x = 0
      while (x < stride) {
        val p = rs + 1 + x
        val left = if (x >= bpp) raw(p - bpp) & 0xff else 0
        val up = if (y > 0) raw(p - rowBytes) & 0xff else 0
        val ul = if (y > 0 && x >= bpp) raw(p - rowBytes - bpp) & 0xff
          else 0
        val rec = ft match {
          case 0 => raw(p) & 0xff
          case 1 => ((raw(p) & 0xff) + left) & 0xff
          case 2 => ((raw(p) & 0xff) + up) & 0xff
          case 3 => ((raw(p) & 0xff) + (left + up) / 2) & 0xff
          case 4 => ((raw(p) & 0xff) + paeth(left, up, ul)) & 0xff
        }
        raw(p) = rec.toByte
        x += 1
      }
      y += 1
    }
    var (sr, sg, sb) = (0.0, 0.0, 0.0)
    y = 0
    while (y < h) {
      val rs = y * rowBytes + 1
      var x = 0
      while (x < w) {
        if (bpp == 3) {
          val p = rs + x * 3
          sr += (raw(p) & 0xff); sg += (raw(p + 1) & 0xff)
          sb += (raw(p + 2) & 0xff)
        } else {
          val v = (raw(rs + x) & 0xff).toDouble
          sr += v; sg += v; sb += v
        }
        x += 1
      }
      y += 1
    }
    val n = w.toDouble * h
    val (mr, mg, mb) = (sr / n, sg / n, sb / n)
    Some(Features(w, h, bpp, mr, mg, mb,
      0.299 * mr + 0.587 * mg + 0.114 * mb))
  }

  /** Build a valid non-interlaced 8-bit PNG from a pixel function —
    * grayscale when `gray`, else truecolor RGB. Each row carries
    * filter type `y % 5`, so a decoder must get ALL five unfilter
    * paths right to reproduce the formula stats — that is the point
    * of the fixture. */
  def encode(w: Int, h: Int, gray: Boolean,
             px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w > 0 && h > 0, "positive dimensions")
    val bpp = if (gray) 1 else 3
    val stride = w * bpp
    val rowBytes = 1 + stride
    // raw (unfiltered) image bytes, then filter row-by-row
    val img = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      if (gray) img(y * stride + x) = r.toByte
      else {
        val p = y * stride + x * 3
        img(p) = r.toByte; img(p + 1) = g.toByte; img(p + 2) = b.toByte
      }
    }
    val filtered = new Array[Byte](rowBytes * h)
    for (y <- 0 until h) {
      val ft = y % 5
      filtered(y * rowBytes) = ft.toByte
      for (x <- 0 until stride) {
        val cur = img(y * stride + x) & 0xff
        val left = if (x >= bpp) img(y * stride + x - bpp) & 0xff else 0
        val up = if (y > 0) img((y - 1) * stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= bpp)
          img((y - 1) * stride + x - bpp) & 0xff else 0
        val f = ft match {
          case 0 => cur
          case 1 => (cur - left) & 0xff
          case 2 => (cur - up) & 0xff
          case 3 => (cur - (left + up) / 2) & 0xff
          case 4 => (cur - paeth(left, up, ul)) & 0xff
        }
        filtered(y * rowBytes + 1 + x) = f.toByte
      }
    }
    val defl = new Deflater()
    defl.setInput(filtered); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Sig, 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(Array((len >>> 24).toByte, (len >>> 16).toByte,
        (len >>> 8).toByte, len.toByte), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, len)
      val crc = new CRC32()
      crc.update(tb); crc.update(data)
      val c = crc.getValue.toInt
      out.write(Array((c >>> 24).toByte, (c >>> 16).toByte,
        (c >>> 8).toByte, c.toByte), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = (if (gray) 0 else 2).toByte
    ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    chunk("IHDR", ihdr)
    chunk("IDAT", zout.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
