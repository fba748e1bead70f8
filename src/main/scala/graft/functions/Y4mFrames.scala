package graft.functions

import Bytes.u8

/** REAL frame decode for the one video container that needs no codec
  * library: YUV4MPEG2 (`.y4m`) carrying uncompressed planar YCbCr
  * frames. Together with [[BmpPixels]] (image) and [[WavPcm]] (audio)
  * this converts the LAST multimodal tier from "deterministic fake" to
  * actual byte arithmetic; only natively-coded formats (H.264/VP9/…,
  * JPEG pixels, compressed audio) still need the injected codec of
  * [[graft.operators.Multimodal.decodePartitions]].
  *
  * Layout (public yuv4mpeg spec, the mjpegtools interchange format):
  * an ASCII stream header `YUV4MPEG2 W<w> H<h> F<num>:<den> [...]\n`,
  * then per frame an ASCII `FRAME[ params]\n` marker followed by raw
  * planar data — full-res Y plane, then Cb and Cr planes at the
  * chroma subsampling (`C420*`: w/2 × h/2; `C422`: w/2 × h;
  * `C444`: w × h). No compression, no timestamps — frame order IS
  * presentation order at F fps.
  */
object Y4mFrames {

  /** Per-clip frame statistics — the feature-extraction pass a video
    * corpus pipeline runs after decode. Plane means are raw 0..255
    * code values; `motion` is the mean absolute luma difference
    * between consecutive frames (the standard cheap temporal-activity
    * signal), 0.0 for single-frame clips. */
  case class Features(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
                      nFrames: Int, meanY: Double, meanCb: Double,
                      meanCr: Double, motion: Double)

  // chroma tag → (xShift-divisor, yShift-divisor) for the Cb/Cr planes
  private def subsampling(tag: String): Option[(Int, Int)] = tag match {
    case "C420" | "C420jpeg" | "C420mpeg2" | "C420paldv" => Some((2, 2))
    case "C422" => Some((2, 1))
    case "C444" => Some((1, 1))
    case _ => None // C410/C411/Cmono/alpha variants: inject a codec
  }

  /** Decode a YUV4MPEG2 stream to frame statistics; None for anything
    * unparsable. Corrupt payloads are DATA at 100 TB scale (None, never
    * exceptions — the [[WavPcm]] discipline); a truncated final frame
    * is dropped, not an error, because partial tails are what object
    * stores actually hand you. */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 10) return None
    // stream header: ASCII up to the first LF, bounded — a payload
    // with no LF in its first 256 bytes is not a y4m header
    val hEnd = {
      var i = 0
      val lim = math.min(b.length, 256)
      while (i < lim && b(i) != '\n') i += 1
      if (i >= lim) return None
      i
    }
    val header = new String(b, 0, hEnd, "ISO-8859-1")
    val toks = header.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty || toks(0) != "YUV4MPEG2") return None
    var w = -1; var h = -1; var fn = -1; var fd = -1
    var sub: Option[(Int, Int)] = Some((2, 2)) // spec default: 4:2:0
    def num(s: String): Int =
      if (s.nonEmpty && s.forall(_.isDigit) && s.length <= 9) s.toInt
      else -1
    toks.drop(1).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = num(t.drop(1))
        case 'H' => h = num(t.drop(1))
        case 'F' =>
          val p = t.drop(1).split(":", -1)
          if (p.length == 2) { fn = num(p(0)); fd = num(p(1)) }
        case 'C' => sub = subsampling(t)
        case _ => // I (interlace), A (aspect), X (comment): ignored
      }
    }
    val (sx, sy) = sub.getOrElse(return None)
    if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0) return None
    // odd dims under subsampled chroma make the plane size ambiguous
    if (w % sx != 0 || h % sy != 0) return None
    // Long sizes first: a hostile 9-digit W×H would overflow Int and
    // reach the prev-frame allocation negative. A single frame larger
    // than the whole payload can never complete, so reject it here —
    // this also bounds the per-row buffer by the payload size.
    val ySizeL = w.toLong * h
    val frameBytesL = ySizeL + 2L * (w / sx).toLong * (h / sy)
    if (frameBytesL > b.length) return None
    val ySize = ySizeL.toInt
    val cSize = (w / sx) * (h / sy)
    val frameBytes = frameBytesL
    var sumY = 0.0; var sumCb = 0.0; var sumCr = 0.0
    var motionSum = 0.0
    var nFrames = 0
    var prevY: Array[Byte] = null
    var p = hEnd + 1
    var ok = true
    while (ok && p < b.length) {
      // FRAME marker + optional params up to LF
      if (p + 5 > b.length || u8(b, p) != 'F' || u8(b, p + 1) != 'R' ||
        u8(b, p + 2) != 'A' || u8(b, p + 3) != 'M' ||
        u8(b, p + 4) != 'E') {
        // trailing garbage after the last complete frame: stop, keep
        // what we have (None only if NO frame parsed — then the
        // payload was a bare header + junk, not a video)
        ok = false
      } else {
        var q = p + 5
        val lim = math.min(b.length, q + 256)
        while (q < lim && b(q) != '\n') q += 1
        if (q >= lim || q + 1 + frameBytes > b.length) ok = false // truncated
        else {
          val at = q + 1
          var i = 0
          while (i < ySize) { sumY += u8(b, at + i); i += 1 }
          while (i < ySize + cSize) { sumCb += u8(b, at + i); i += 1 }
          while (i < ySize + 2 * cSize) { sumCr += u8(b, at + i); i += 1 }
          if (prevY != null) {
            var j = 0
            while (j < ySize) {
              motionSum += math.abs(u8(b, at + j) -
                (prevY(j) & 0xff))
              j += 1
            }
          } else prevY = new Array[Byte](ySize)
          System.arraycopy(b, at, prevY, 0, ySize)
          nFrames += 1
          p = at + frameBytes.toInt
        }
      }
    }
    if (nFrames == 0) return None
    val nY = nFrames.toDouble * ySize
    val nC = nFrames.toDouble * cSize
    val motion =
      if (nFrames < 2) 0.0
      else motionSum / ((nFrames - 1).toDouble * ySize)
    Some(Features(w, h, fn, fd, nFrames, sumY / nY, sumCb / nC,
      sumCr / nC, motion))
  }

  /** Build a valid YUV4MPEG2 stream from per-plane pixel functions
    * (frame, x, y) → 0..255 — `cb`/`cr` receive CHROMA-GRID coordinates
    * (already subsampled). Fixture builder for specs and oracled
    * queries; the header grammar, frame markers and plane order it
    * writes are exactly what [[decode]] must walk. */
  def encode(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
             nFrames: Int, y: (Int, Int, Int) => Int,
             cb: (Int, Int, Int) => Int, cr: (Int, Int, Int) => Int,
             chroma: String = "C420jpeg"): Array[Byte] = {
    val (sx, sy) = subsampling(chroma).getOrElse(
      throw new IllegalArgumentException(s"unsupported chroma $chroma"))
    require(width > 0 && height > 0 && width % sx == 0 &&
      height % sy == 0, "dims must be positive and chroma-aligned")
    require(fpsNum > 0 && fpsDen > 0 && nFrames >= 0, "bad fps/frames")
    val head =
      s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1 $chroma\n"
        .getBytes("ISO-8859-1")
    val cw = width / sx; val ch = height / sy
    val frameBytes = width * height + 2 * cw * ch
    val marker = "FRAME\n".getBytes("ISO-8859-1")
    val out = new Array[Byte](
      head.length + nFrames * (marker.length + frameBytes))
    System.arraycopy(head, 0, out, 0, head.length)
    var p = head.length
    var f = 0
    while (f < nFrames) {
      System.arraycopy(marker, 0, out, p, marker.length)
      p += marker.length
      var yy = 0
      while (yy < height) {
        var x = 0
        while (x < width) {
          out(p) = (y(f, x, yy) & 0xff).toByte; p += 1; x += 1
        }
        yy += 1
      }
      var v = 0
      while (v < ch) {
        var u = 0
        while (u < cw) { out(p) = (cb(f, u, v) & 0xff).toByte; p += 1; u += 1 }
        v += 1
      }
      v = 0
      while (v < ch) {
        var u = 0
        while (u < cw) { out(p) = (cr(f, u, v) & 0xff).toByte; p += 1; u += 1 }
        v += 1
      }
      f += 1
    }
    out
  }
}
