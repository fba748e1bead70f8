package graft.functions

import Bytes.{ParseEx, bail, rasterFits}
import Bytes.Checked._

/** REAL pixel decode for GIF — the LZW half of the classic-compression
  * spectrum. With PNG (DEFLATE), FLAC (Rice), IMA ADPCM (delta-PCM)
  * and JPEG (DCT via the JDK codec) this completes the family: every
  * major lossless/near-lossless coding scheme in the multimodal tier
  * decodes with plain integer/bit arithmetic, no native library.
  *
  * Everything here is the public GIF87a/89a specification:
  *  - header + logical screen descriptor (u16 LE dims, packed global-
  *    color-table flag/size), optional global color table;
  *  - extension blocks (0x21: label + length-prefixed sub-blocks,
  *    zero terminator) skipped structurally;
  *  - image descriptor (0x2C: left/top/size u16 LE, packed local-
  *    color-table/interlace flags), optional local color table;
  *  - LZW-compressed indices: initial code width = minCodeSize+1,
  *    CLEAR = 2^min resets the dictionary, END = CLEAR+1, codes packed
  *    LSB-FIRST across length-prefixed sub-blocks (the opposite bit
  *    order of FLAC/PNG — its own bug class), dictionary grows to 12
  *    bits, and the KwKwK case (code == next unassigned entry) must
  *    reproduce "previous string + its own first byte".
  * The decoder handles the first (non-interlaced) frame: palette
  * lookup, per-channel means, and a position-weighted index checksum
  * so a transposed or shifted decode breaks the hash, not just the
  * moments. Interlaced frames de-permute through the
  * public 4-pass row order; corrupt payloads are data (None), never
  * exceptions.
  */
object GifPixels {

  case class Features(width: Int, height: Int, meanR: Double,
                      meanG: Double, meanB: Double, ordCk: Long)

  /** Decode the first frame; None on anything outside the supported
    * profile or any structural damage. */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 14) return None
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
      (b(4) != '7' && b(4) != '9') || b(5) != 'a') return None
    try {
      var i = 6
      val packed = u8(b, 10)
      i = 13
      var gct: Array[Int] = null // palette as 0xRRGGBB ints
      if ((packed & 0x80) != 0) {
        val n = 2 << (packed & 0x7)
        gct = readPalette(b, i, n); i += 3 * n
      }
      while (true) {
        u8(b, i) match {
          case 0x3b => return None // trailer before any image
          case 0x21 =>             // extension: label + sub-blocks
            i += 2
            var len = u8(b, i)
            while (len != 0) { i += 1 + len; len = u8(b, i) }
            i += 1
          case 0x2c =>
            val w = le16(b, i + 5); val h = le16(b, i + 7)
            val ipacked = u8(b, i + 9)
            i += 10
            val interlaced = (ipacked & 0x40) != 0
            var pal = gct
            if ((ipacked & 0x80) != 0) {
              val n = 2 << (ipacked & 0x7)
              pal = readPalette(b, i, n); i += 3 * n
            }
            // the raster ceiling bounds w * h before anything allocates
            if (pal == null || !rasterFits(w, h)) return None
            val minCode = u8(b, i); i += 1
            if (minCode < 2 || minCode > 8) return None
            // concatenate the length-prefixed data sub-blocks
            val data = new java.io.ByteArrayOutputStream()
            var len = u8(b, i)
            while (len != 0) {
              if (i + 1 + len > b.length) bail()
              data.write(b, i + 1, len)
              i += 1 + len; len = u8(b, i)
            }
            val stored = lzwDecode(data.toByteArray, minCode, w * h)
            if (stored == null) return None
            // interlace: stored row k is actual row interlaceRows(h)(k)
            val idx =
              if (!interlaced) stored
              else {
                val rows = interlaceRows(h)
                val out = new Array[Int](w * h)
                var k = 0
                while (k < h) {
                  System.arraycopy(stored, k * w, out, rows(k) * w, w)
                  k += 1
                }
                out
              }
            var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
            var p = 0
            while (p < w * h) {
              val v = idx(p)
              if (v >= pal.length) return None
              val c = pal(v)
              sr += (c >> 16) & 0xff; sg += (c >> 8) & 0xff; sb += c & 0xff
              ck += v.toLong * (p % 97 + 1)
              p += 1
            }
            val n = (w * h).toDouble
            return Some(Features(w, h, sr / n, sg / n, sb / n, ck))
          case _ => return None
        }
      }
      None
    } catch { case _: ParseEx => None }
  }

  /** The 4-pass interlace row order (public spec): pass 1 every 8th
    * row from 0, pass 2 every 8th from 4, pass 3 every 4th from 2,
    * pass 4 every 2nd from 1 — position k in the stream is actual row
    * `interlaceRows(h)(k)`. */
  private[functions] def interlaceRows(h: Int): Array[Int] = {
    val out = new Array[Int](h)
    var k = 0
    for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
      var r = start
      while (r < h) { out(k) = r; k += 1; r += step }
    }
    out
  }

  private def readPalette(b: Array[Byte], at: Int, n: Int): Array[Int] = {
    if (at + 3 * n > b.length) bail()
    val out = new Array[Int](n)
    var k = 0
    while (k < n) {
      out(k) = (u8(b, at + 3 * k) << 16) | (u8(b, at + 3 * k + 1) << 8) |
        u8(b, at + 3 * k + 2)
      k += 1
    }
    out
  }

  /** GIF LZW decode (LSB-first bit order) of exactly `nPix` indices;
    * null on malformed streams. Dictionary as prefix/suffix arrays —
    * strings materialize only into the output buffer. */
  private def lzwDecode(d: Array[Byte], minCode: Int, nPix: Int)
      : Array[Int] = {
    val clear = 1 << minCode
    val end = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var next = end + 1
    var width = minCode + 1
    val out = new Array[Int](nPix)
    var op = 0
    var acc = 0L; var bits = 0; var dp = 0
    var prev = -1
    def readCode(): Int = {
      while (bits < width) {
        if (dp >= d.length) return -1
        acc |= (d(dp) & 0xffL) << bits
        bits += 8; dp += 1
      }
      val c = (acc & ((1L << width) - 1)).toInt
      acc >>>= width; bits -= width
      c
    }
    def emit(code: Int): Boolean = { // write code's string; false = overflow
      // walk the chain to find length, then fill backwards
      var ln = 0
      var c = code
      while (c >= clear + 2) { ln += 1; c = prefix(c) }
      ln += 1
      if (op + ln > nPix) return false
      var at = op + ln - 1
      c = code
      while (c >= clear + 2) { out(at) = suffix(c); at -= 1; c = prefix(c) }
      out(at) = c
      op += ln
      true
    }
    var done = false
    while (!done) {
      val code = readCode()
      if (code < 0) return null
      if (code == clear) {
        next = end + 1; width = minCode + 1; prev = -1
      } else if (code == end) {
        done = true
      } else if (prev < 0) {
        if (code >= clear) return null // first code must be a literal
        if (!emit(code)) return null
        prev = code
      } else {
        if (code > next) return null
        val effective =
          if (code == next) prev // KwKwK: prev string + its first byte
          else code
        if (effective >= clear && effective != prev && effective < clear + 2)
          return null
        // compute first byte of `effective`'s string
        var fc = effective
        while (fc >= clear + 2) fc = prefix(fc)
        if (code == next) {
          // emit prev-string + firstByte(prev)
          if (next >= 4096) return null
          prefix(next) = prev; suffix(next) = fc; next += 1
          if (!emit(next - 1)) return null
        } else {
          if (!emit(code)) return null
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = fc; next += 1
          }
        }
        if (next >= (1 << width) && width < 12) width += 1
        prev = code
      }
      if (op == nPix && !done) {
        // all pixels decoded; accept a trailing END or bare exhaustion
        val c = readCode()
        if (c != end && c != -1 && c != clear) return null
        done = true
      }
    }
    if (op != nPix) return null
    out
  }

  /** FIXTURE synthesis (bounded; test/oracle side only): a GIF89a of
    * one non-interlaced frame over the identity GRAYSCALE palette
    * (entry i = (i,i,i)), pixel indices from `px` (0..255), compressed
    * with a REAL greedy-longest-match LZW encoder (hash-chained
    * dictionary, CLEAR on overflow) so the decoder's chain-walk and
    * KwKwK paths see genuine back-references. */
  def encodeGray(w: Int, h: Int, px: (Int, Int) => Int,
                 interlaced: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 1024 && h <= 1024, "sane dims")
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(w); w16(h)
    w8(0xf7)       // GCT present, 8-bit color res, size 256
    w8(0); w8(0)   // bg index, aspect
    var k = 0
    while (k < 256) { w8(k); w8(k); w8(k); k += 1 } // identity gray GCT
    w8(0x2c); w16(0); w16(0); w16(w); w16(h)
    w8(if (interlaced) 0x40 else 0) // image descriptor packed
    val minCode = 8
    w8(minCode)
    // LZW encode (LSB-first packing)
    val clear = 1 << minCode
    val end = clear + 1
    val body = new java.io.ByteArrayOutputStream()
    var acc = 0L; var bits = 0; var width = minCode + 1
    def putCode(c: Int): Unit = {
      acc |= c.toLong << bits; bits += width
      while (bits >= 8) { body.write((acc & 0xff).toInt); acc >>>= 8; bits -= 8 }
    }
    // dictionary: (prefixCode << 8 | byte) -> code
    var dict = new java.util.HashMap[Integer, Integer]()
    var next = end + 1
    putCode(clear)
    var cur = -1
    // interlaced streams store rows in the 4-pass order
    val rowOrder =
      if (interlaced) interlaceRows(h) else Array.range(0, h)
    var yi = 0
    while (yi < h) {
      val y = rowOrder(yi)
      var x = 0
      while (x < w) {
        val c = px(x, y) & 0xff
        if (cur < 0) cur = c
        else {
          val key = Integer.valueOf((cur << 8) | c)
          val hit = dict.get(key)
          if (hit != null) cur = hit.intValue()
          else {
            putCode(cur)
            if (next < 4096) {
              dict.put(key, Integer.valueOf(next)); next += 1
              // encoder widens when the next assigned code crosses the
              // width boundary — mirrors the decoder's rule
              if (next > (1 << width) && width < 12) width += 1
            } else {
              putCode(clear)
              dict = new java.util.HashMap[Integer, Integer]()
              next = end + 1; width = minCode + 1
            }
            cur = c
          }
        }
        x += 1
      }
      yi += 1
    }
    if (cur >= 0) putCode(cur)
    putCode(end)
    if (bits > 0) body.write((acc & 0xff).toInt)
    // length-prefixed sub-blocks
    val bs = body.toByteArray
    var off = 0
    while (off < bs.length) {
      val n = math.min(255, bs.length - off)
      w8(n); out.write(bs, off, n); off += n
    }
    w8(0)    // block terminator
    w8(0x3b) // trailer
    out.toByteArray
  }
}
