package graft.functions

import Bytes._

/** Dependency-free REAL header parsers for common media containers.
  * Pixel/sample decode needs native codecs (absent in this environment,
  * and out of scope for a query engine); container METADATA does not —
  * width/height/channels/sample-rate live in fixed header layouts that
  * plain byte arithmetic reads. This turns the multimodal metadata path
  * from "deterministic fake" into a real decode for PNG, JPEG, GIF, BMP
  * and WAV payloads, while unknown formats degrade to nulls instead of
  * failing the pipeline (corrupt rows are data, not exceptions, at
  * 100 TB).
  *
  * Reference behavior being re-expressed: the reference treats media
  * blobs as opaque bytes end-to-end; this is the §2.4-style "absent
  * category" extension the north star asks for.
  */
object MediaHeaders {

  /** Parsed container metadata. For images: pixel dims + channels. For
    * WAV audio: width = sample rate (Hz), height = bits per sample,
    * channels = channel count. */
  final case class MediaInfo(format: String, width: Int, height: Int,
                             channels: Int)

  private def startsWith(b: Array[Byte], sig: Array[Int]): Boolean =
    b.length >= sig.length && sig.indices.forall(i => u8(b, i) == sig(i))

  // magic-byte signatures hoisted out of the per-row parse loop
  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
  private val Gif87 = "GIF87a".map(_.toInt).toArray
  private val Gif89 = "GIF89a".map(_.toInt).toArray

  /** PNG: 8-byte signature, then the IHDR chunk at a fixed offset —
    * width/height big-endian at 16/20, color type at 25 mapping to the
    * channel count. */
  private def png(b: Array[Byte]): Option[MediaInfo] =
    if (!startsWith(b, PngSig) || b.length < 26) None
    else {
      val channels = u8(b, 25) match {
        case 0 => 1 // grayscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // gray + alpha
        case 6 => 4 // truecolor + alpha
        case _ => return None
      }
      Some(MediaInfo("png", be32(b, 16), be32(b, 20), channels))
    }

  /** JPEG: walk the marker stream from SOI to the first SOF0/1/2 frame
    * header, which carries height/width/components. Marker segments are
    * [0xFF, id, len16-including-itself]. */
  private def jpeg(b: Array[Byte]): Option[MediaInfo] = {
    if (!startsWith(b, Array(0xff, 0xd8))) return None
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xff) return None // marker desync: corrupt
      val id = u8(b, i + 1)
      if (id == 0xd8 || (id >= 0xd0 && id <= 0xd7)) i += 2 // bare markers
      else if (id == 0xda || id == 0xd9) return None // scan/EOI before SOF
      else {
        val len = be16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None
        if (id == 0xc0 || id == 0xc1 || id == 0xc2) {
          if (len < 8) return None
          return Some(MediaInfo("jpeg", be16(b, i + 7), be16(b, i + 5),
            u8(b, i + 9)))
        }
        i += 2 + len
      }
    }
    None
  }

  /** GIF87a/89a: little-endian logical screen dims right after the
    * 6-byte signature; GIF frames decode to RGB. */
  private def gif(b: Array[Byte]): Option[MediaInfo] =
    if (b.length >= 10 &&
      (startsWith(b, Gif87) || startsWith(b, Gif89)))
      Some(MediaInfo("gif", le16(b, 6), le16(b, 8), 3))
    else None

  /** BMP: the DIB header size at offset 14 must be a known layout —
    * bare "BM" text would otherwise classify arbitrary blobs as bitmaps.
    * BITMAPINFOHEADER family (40/52/56/108/124): int32 dims at 18/22
    * (height may be negative for top-down rows), bits-per-pixel at 28.
    * Legacy BITMAPCOREHEADER (12): uint16 dims at 18/20, bpp at 24. */
  private def bmp(b: Array[Byte]): Option[MediaInfo] = {
    if (b.length < 26 || u8(b, 0) != 'B' || u8(b, 1) != 'M') return None
    le32(b, 14) match {
      case 12 =>
        Some(MediaInfo("bmp", le16(b, 18), le16(b, 20),
          math.max(1, le16(b, 24) / 8)))
      case 40 | 52 | 56 | 108 | 124 if b.length >= 30 =>
        Some(MediaInfo("bmp", le32(b, 18), math.abs(le32(b, 22)),
          math.max(1, le16(b, 28) / 8)))
      case _ => None
    }
  }

  /** WAV: RIFF/WAVE container, then a WALK of the chunk list to the
    * first `fmt ` chunk (real files often lead with JUNK/bext/LIST chunks —
    * assuming fmt sits first would read those bytes as garbage
    * metadata). Chunks are [id 4][size 4][payload size, word-aligned].
    * Reported as width = sample rate, height = bits per sample. */
  private def wav(b: Array[Byte]): Option[MediaInfo] = {
    if (b.length < 36 || !Riff.isWave(b)) return None
    val wave = Riff.waveChunks(b, needData = false)
    val at = wave.fmtAt
    if (at >= 0 && wave.fmtSize >= 16 && at + 24 <= b.length)
      Some(MediaInfo("wav", le32(b, at + 12), le16(b, at + 22),
        le16(b, at + 10)))
    else None
  }

  /** Try every known container; None for unknown/corrupt payloads. */
  def parse(bytes: Array[Byte]): Option[MediaInfo] =
    if (bytes == null) None
    else png(bytes).orElse(jpeg(bytes)).orElse(gif(bytes))
      .orElse(bmp(bytes)).orElse(wav(bytes))
}
