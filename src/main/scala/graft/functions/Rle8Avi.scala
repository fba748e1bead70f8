package graft.functions

import Bytes._

/** REAL frame decode for INTER-FRAME-coded video: Microsoft RLE8
  * (BI_RLE8, biCompression=1) inside the RIFF/AVI container — the
  * classic Video-for-Windows delta codec. Unlike MJPEG (every frame
  * independent, [[MjpegAvi]]), RLE8 frames PATCH the previous frame:
  * a frame may move the raster cursor with the 00 02 dx dy delta
  * escape, repaint only the runs it touches, and end the bitmap early
  * with 00 01 — every untouched pixel must persist from the decoder's
  * cross-frame buffer. That cross-frame carry is the defining
  * property of inter-frame coding, so this moves the last video tier
  * off the injected-codec seam for a real public format, in plain
  * byte arithmetic. Only motion-compensated transform codecs
  * (H.264/VP9) remain on
  * [[graft.operators.Multimodal.decodePartitions]]'s injected path.
  *
  * Bitstream (public BMP/AVI spec, bottom-up DIB lines):
  *  - pair (n>0, v): run of n pixels of palette index v
  *  - 00 00: end of line (x←0, line+1)
  *  - 00 01: end of bitmap (remaining pixels keep previous content)
  *  - 00 02 dx dy: move cursor right dx, up dy lines (skipped pixels
  *    keep previous content)
  *  - 00 n (n≥3): absolute mode — n raw indexes follow, word-padded
  *
  * Features are exact: integer pixel sums with ONE final double
  * division, so a DuckDB oracle reproduces them from the frame
  * formulas without parsing a byte; `finalCk` position-weights the
  * final composited buffer (Σ val·(y·w+x+1), image top-down y), so
  * the delta-escape cursor arithmetic and the bottom-up line flip are
  * part of the decode contract — a plain sum would accept transposed
  * rows.
  */
object Rle8Avi {

  /** Per-clip composited-frame statistics. meanVal = Σ over all
    * frames' composited pixels / (nFrames·w·h); motion = Σ over
    * consecutive frames of per-pixel |difference| / ((nFrames−1)·w·h);
    * finalCk as documented above. */
  case class Features(nFrames: Int, width: Int, height: Int,
                      meanVal: Double, motion: Double, finalCk: Long)

  /** Fixture-side frame description (IMAGE coordinates, top-down y).
    * [[Full]] is a keyframe — absolute-coded full repaint; [[RowPatch]]
    * is a delta frame that repaints exactly one row (run-coded when
    * `run`, absolute-coded otherwise) and ends the bitmap early. */
  sealed trait Frame
  final case class Full(px: (Int, Int) => Int) extends Frame
  final case class RowPatch(y: Int, run: Boolean, px: Int => Int)
      extends Frame

  private val Strh = Riff.fourCc("strh")
  private val Strf = Riff.fourCc("strf")
  private val Vids = Riff.fourCc("vids")
  private val Mrle = Riff.fourCc("MRLE")

  /** (width, height, frame chunk ranges) from the RIFF walk: the strf
    * BITMAPINFOHEADER (8 bpp, biCompression=1, bottom-up) bound to the
    * FIRST 'vids'/'MRLE' strh (a later audio/second-stream strf can
    * neither overwrite w/h nor reject the file), the compressed '##dc'
    * chunks under movi ('##db' is an UNCOMPRESSED DIB — never an RLE8
    * frame). LIST nesting is depth-bounded ([[Riff.AviMaxDepth]]):
    * 'data, never exceptions' includes adversarial bytes.
    * None unless both header and frames are present and valid. */
  private def container(b: Array[Byte]): Option[(Int, Int, Seq[(Int, Int)])] = {
    if (b == null || b.length < 24) return None
    var w = -1; var h = -1; var badFmt = false
    // strf binding state: the strf that counts is the one inside the
    // strl whose strh declares fccType='vids', handler='MRLE'; first
    // such stream wins and later strf chunks are ignored
    var expectVideoStrf = false; var bound = false
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val isAvi = Riff.walkAvi(b)((_, _) => true) { (at, id, size, inMovi) =>
      if (id == Strh && size >= 8 && at + 16 <= b.length) {
        expectVideoStrf = !bound && le32(b, at + 8) == Vids &&
          le32(b, at + 12) == Mrle
      } else if (id == Strf) {
        // The FIRST strf after the vids/MRLE strh is that stream's
        // format — consume the expectation even when it is too short
        // to parse, so a stray later strf can't bind wrong w/h.
        if (expectVideoStrf) {
          if (size >= 40 && at + 48 <= b.length) {
            if (le16(b, at + 8 + 14) != 8 || le32(b, at + 8 + 16) != 1)
              badFmt = true // the MRLE stream's format is not 8bpp BI_RLE8
            else {
              w = le32(b, at + 8 + 4); h = le32(b, at + 8 + 8)
            }
          } else badFmt = true // truncated/undersized BITMAPINFOHEADER
          bound = true; expectVideoStrf = false
        }
      } else if (inMovi && Riff.isFrameId(id, dib = false) &&
        at + 8 + size <= b.length)
        frames += ((at + 8, size.toInt))
    }
    if (!isAvi) return None
    if (badFmt || w <= 0 || h <= 0 || w > 4096 || h > 4096 || frames.isEmpty)
      None
    else Some((w, h, frames.toSeq))
  }

  /** Apply one RLE8 frame onto `buf` (image top-down layout, so DIB
    * line L writes image row h−1−L). False on malformed bitstreams
    * (truncated pairs, out-of-raster writes). */
  private def applyFrame(b: Array[Byte], off: Int, len: Int,
                         buf: Array[Int], w: Int, h: Int): Boolean = {
    var x = 0; var line = 0
    var p = off
    val end = off + len
    while (true) {
      if (p + 2 > end) return false
      val b1 = u8(b, p); val b2 = u8(b, p + 1); p += 2
      if (b1 > 0) {
        if (line >= h || x + b1 > w) return false
        val base = (h - 1 - line) * w
        var k = 0
        while (k < b1) { buf(base + x + k) = b2; k += 1 }
        x += b1
      } else if (b2 == 0) { // EOL
        x = 0; line += 1
      } else if (b2 == 1) { // EOB
        return true
      } else if (b2 == 2) { // delta
        if (p + 2 > end) return false
        x += u8(b, p); line += u8(b, p + 1); p += 2
      } else {              // absolute
        val n = b2
        if (p + n > end || line >= h || x + n > w) return false
        val base = (h - 1 - line) * w
        var k = 0
        while (k < n) { buf(base + x + k) = u8(b, p + k); k += 1 }
        p += n + (n & 1)
        x += n
      }
    }
    false // unreachable
  }

  /** Decode an RLE8 AVI payload to composited-frame statistics; None
    * for non-AVI/non-RLE8/corrupt payloads — data, never exceptions,
    * at 100 TB. */
  def decode(b: Array[Byte]): Option[Features] = container(b).flatMap {
    case (w, h, frames) =>
      val buf = new Array[Int](w * h)
      val prev = new Array[Int](w * h)
      var sumAll = 0L; var diffAll = 0L
      var nf = 0
      val it = frames.iterator
      while (it.hasNext) {
        val (off, len) = it.next()
        System.arraycopy(buf, 0, prev, 0, buf.length)
        if (!applyFrame(b, off, len, buf, w, h)) return None
        var i = 0
        while (i < buf.length) {
          sumAll += buf(i)
          if (nf > 0) diffAll += math.abs(buf(i) - prev(i))
          i += 1
        }
        nf += 1
      }
      val nPix = nf.toLong * w * h
      val motion =
        if (nf < 2) 0.0 else diffAll.toDouble / ((nf - 1).toLong * w * h)
      var ck = 0L
      var i = 0
      while (i < buf.length) { ck += buf(i).toLong * (i + 1); i += 1 }
      Some(Features(nf, w, h, sumAll.toDouble / nPix, motion, ck))
  }

  /** FIXTURE synthesis (bounded; test/oracle side only): a minimal
    * valid RLE8 AVI — grayscale identity palette, correct
    * avih/strh('vids'/'MRLE')/strf(BI_RLE8) header trio — whose first
    * frame is the [[Full]] keyframe and whose delta frames reach their
    * row via the 00 02 delta escape and end early with 00 01, so
    * [[decode]]'s cross-frame carry, cursor arithmetic and both coding
    * modes (run + absolute) are all exercised. */
  def encode(w: Int, h: Int, frames: Seq[Frame]): Array[Byte] = {
    require(w > 0 && w <= 255 && h > 0 && h <= 255 && frames.nonEmpty,
      "dims 1..255, at least one frame")
    def encRow(out: java.io.ByteArrayOutputStream, vals: Array[Int],
               run: Boolean): Unit = {
      if (run) {
        // run pairs over maximal equal-value spans (≤255 each)
        var x = 0
        while (x < vals.length) {
          var n = 1
          while (x + n < vals.length && n < 255 && vals(x + n) == vals(x)) n += 1
          out.write(n); out.write(vals(x) & 0xff)
          x += n
        }
      } else {
        // absolute-mode chunks; spans <3 must fall back to run pairs
        var x = 0
        while (x < vals.length) {
          val n = math.min(255, vals.length - x)
          if (n >= 3) {
            out.write(0); out.write(n)
            var k = 0
            while (k < n) { out.write(vals(x + k) & 0xff); k += 1 }
            if ((n & 1) == 1) out.write(0) // word pad
            x += n
          } else {
            out.write(1); out.write(vals(x) & 0xff)
            x += 1
          }
        }
      }
    }
    def frameBytes(f: Frame): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      f match {
        case Full(px) =>
          var line = 0
          while (line < h) {
            val y = h - 1 - line // DIB line 0 = bottom image row
            encRow(out, Array.tabulate(w)(x => px(x, y)), run = false)
            line += 1
            if (line < h) { out.write(0); out.write(0) } // EOL
          }
        case RowPatch(y, run, px) =>
          require(y >= 0 && y < h, s"row $y outside 0..${h - 1}")
          var dy = h - 1 - y // DIB lines up from the start position
          while (dy > 255) { out.write(0); out.write(2); out.write(0); out.write(255); dy -= 255 }
          out.write(0); out.write(2); out.write(0); out.write(dy)
          encRow(out, Array.tabulate(w)(px), run)
      }
      out.write(0); out.write(1) // EOB — untouched pixels persist
      out.toByteArray
    }
    // strf: BITMAPINFOHEADER (8 bpp, biCompression=1=BI_RLE8) + the
    // 256-entry grayscale identity palette 8-bit DIBs require
    val palette = Array.tabulate(256 * 4) { i =>
      (if (i % 4 == 3) 0 else i / 4).toByte
    }
    val (i32, i16) = (le32Bytes _, le16Bytes _)
    Riff.aviFile("MRLE", w, h, i32(40) ++ i32(w) ++ i32(h) ++ i16(1) ++
      i16(8) ++ i32(1) ++ i32(w * h) ++ i32(0) ++ i32(0) ++
      i32(256) ++ i32(0) ++ palette, frames.map(frameBytes))
  }
}
