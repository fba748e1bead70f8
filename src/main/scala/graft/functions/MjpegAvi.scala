package graft.functions

import java.awt.image.Raster

import Bytes._

/** REAL frame decode for a CODED video format: Motion-JPEG inside the
  * RIFF/AVI container. MJPEG codes every frame as an independent
  * baseline JPEG, so with [[JpegPixels]] (the JDK's own `javax.imageio`
  * codec) the whole video path is per-frame-coded yet fully decodable
  * with zero native dependencies: this moves "coded video" off the
  * fake tier the same way PNG moved the compressed-image tier and IMA
  * ADPCM ([[AdpcmWav]]) the compressed-audio tier. Inter-frame-coded
  * video (H.264/VP9) remains the injected-codec path
  * ([[graft.operators.Multimodal.decodePartitions]]).
  *
  * Container layout (public RIFF/AVI spec): RIFF size 'AVI ', then
  * LIST chunks — 'hdrl' holds the `avih` main header (frame count,
  * dims) and one 'strl' stream list (`strh` fccType 'vids' handler
  * 'MJPG', `strf` BITMAPINFOHEADER biCompression 'MJPG'); 'movi'
  * holds the frame chunks, id '00dc' (or '00db'), each payload one
  * complete JPEG; frames may be nested one level inside 'rec ' LISTs.
  * The reader walks chunks (order-independent, Long cursor) and
  * decodes every video frame chunk; the writer emits the minimal
  * spec-shaped file the reader and any standard AVI demuxer accept.
  *
  * Oracle strategy: same as q189 — grayscale frames whose 8×8 blocks
  * are each constant, encoded at quality 1.0, round-trip EXACTLY
  * through the JPEG codec, and every reported stat is derived from
  * exact integer pixel sums with ONE final double division, so DuckDB
  * reproduces them from the block formula without parsing a byte.
  */
object MjpegAvi {

  /** Per-clip decoded-frame statistics. meanLuma and motion are exact
    * for grayscale content: both are integer sums divided once —
    * meanLuma = sum(all pixels) / (nFrames*w*h); motion =
    * sum over consecutive frames of |pixelSum(f) - pixelSum(f-1)|
    * divided by ((nFrames-1)*w*h) — so the division is the only
    * float op and both engines round the same real number once. */
  case class Features(nFrames: Int, width: Int, height: Int,
                      channels: Int, meanLuma: Double, motion: Double)

  /** Collect the payload ranges of every video-frame chunk ('##dc' /
    * '##db') under the 'movi' LIST, descending into 'rec ' groups
    * inside it (depth-bounded, [[Riff.AviMaxDepth]]). Returns
    * (offset, length) pairs in stream order. */
  private def frameChunks(b: Array[Byte]): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    Riff.walkAvi(b)((lt, inMovi) => lt == Riff.Movi || (lt == Riff.Rec && inMovi)) {
      (at, id, size, inMovi) =>
        if (inMovi && Riff.isFrameId(id, dib = true) && at + 8 + size <= b.length)
          out += ((at + 8, size.toInt))
    }
    out.toSeq
  }

  /** Decode each frame chunk through the JDK JPEG codec and hand its
    * raster to `f`, stopping at the first frame that does not decode,
    * changes dimensions or that `f` rejects. The clip's (width, height)
    * when every frame passed; None for non-AVI or frameless payloads. */
  private def eachFrame(b: Array[Byte])(f: Raster => Boolean)
      : Option[(Int, Int)] = {
    if (b == null || b.length < 24) return None
    val frames = frameChunks(b)
    if (frames.isEmpty) return None
    var w = -1; var h = -1
    val it = frames.iterator
    while (it.hasNext) {
      val (off, len) = it.next()
      val payload = java.util.Arrays.copyOfRange(b, off, off + len)
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case _: Exception => null }
      if (img == null) return None
      if (w < 0) { w = img.getWidth; h = img.getHeight }
      else if (img.getWidth != w || img.getHeight != h) return None
      if (!f(img.getRaster)) return None
    }
    if (w <= 0 || h <= 0) None else Some((w, h))
  }

  /** Decode an MJPEG AVI payload to frame statistics; None for
    * non-AVI/frameless/corrupt payloads or dimension-inconsistent
    * streams (corrupt rows are data at scale, not exceptions). */
  def decode(b: Array[Byte]): Option[Features] = {
    var ch = -1
    var lumaTotal = 0L      // scaled by 1000 so RGB luma stays integral
    var motionTotal = 0L
    var prevSum = 0L
    var nf = 0
    eachFrame(b) { raster =>
      val bands = raster.getNumBands
      val frameCh = if (bands >= 3) 3 else 1
      if (ch < 0) ch = frameCh
      ch == frameCh && {
        // per-frame luma sum ×1000: exact integers for gray (s*1000) and
        // for RGB via integer Rec.601 milli-weights (299/587/114)
        var s = 0L
        var y = 0
        while (y < raster.getHeight) {
          var x = 0
          while (x < raster.getWidth) {
            s +=
              (if (bands >= 3)
                299L * raster.getSample(x, y, 0) +
                  587L * raster.getSample(x, y, 1) +
                  114L * raster.getSample(x, y, 2)
              else 1000L * raster.getSample(x, y, 0))
            x += 1
          }
          y += 1
        }
        lumaTotal += s
        if (nf > 0) motionTotal += math.abs(s - prevSum)
        prevSum = s
        nf += 1
        true
      }
    }.map { case (w, h) =>
      val nPix = nf.toLong * w * h
      val meanLuma = lumaTotal.toDouble / (nPix * 1000L)
      val motion =
        if (nf < 2) 0.0
        else motionTotal.toDouble / ((nf - 1).toLong * w * h * 1000L)
      Features(nf, w, h, ch, meanLuma, motion)
    }
  }

  /** Per-frame GRAYSCALE pixel sums — the multi-ROW decode surface
    * (one output row per frame) that scene-cut detection, per-frame
    * sampling and frame-level dedup build on. Exact integers: each
    * sum is Σ of 8-bit samples, so downstream thresholds can be
    * integer-exact. None for non-AVI, undecodable or non-grayscale
    * frames (RGB goes through [[decode]]'s aggregate path — per-frame
    * RGB rows would force a lossy luma weighting here). */
  def grayFrameSums(b: Array[Byte]): Option[(Int, Int, Seq[Long])] = {
    val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    eachFrame(b) { raster =>
      raster.getNumBands == 1 && {
        var s = 0L
        var y = 0
        while (y < raster.getHeight) {
          var x = 0
          while (x < raster.getWidth) { s += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        sums += s
        true
      }
    }.map { case (w, h) => (w, h, sums.toSeq) }
  }

  /** FIXTURE synthesis (bounded; test/oracle side only): a minimal
    * valid MJPEG AVI of grayscale frames whose 8×8 blocks are each the
    * constant `block(frame, bx, by)` (0..255), encoded at quality 1.0
    * — the exactly-round-tripping profile. The container carries a
    * correct avih/strh/strf header trio so standard demuxers accept
    * it; [[decode]] exercises the LIST walk, frame-chunk ids and
    * word alignment. */
  def encodeGrayBlocks(wBlocks: Int, hBlocks: Int, nFrames: Int,
                       block: (Int, Int, Int) => Int): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0 && nFrames > 0, "positive dims")
    val (w, h) = (wBlocks * 8, hBlocks * 8)
    val jpegs = (0 until nFrames).map(f =>
      JpegPixels.encodeGrayBlocks(wBlocks, hBlocks, (bx, by) => block(f, bx, by)))
    // strf: BITMAPINFOHEADER, biCompression 'MJPG', 24 bpp
    val (i32, i16) = (le32Bytes _, le16Bytes _)
    Riff.aviFile("MJPG", w, h, i32(40) ++ i32(w) ++ i32(h) ++ i16(1) ++
      i16(24) ++ ascii("MJPG") ++ i32(w * h * 3) ++ i32(0) ++ i32(0) ++
      i32(0) ++ i32(0), jpegs)
  }
}
