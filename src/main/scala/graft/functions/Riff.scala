package graft.functions

import Bytes._

/** The RIFF container, once, for every codec that ships inside it
  * (WAVE audio: [[WavPcm]], [[G711Wav]], [[AdpcmWav]], [[MediaHeaders]];
  * AVI video: [[MjpegAvi]], [[Rle8Avi]]). Public RIFF layout:
  * "RIFF"[size u32 LE][form type 4], then a chunk list of
  * [id 4][size u32 LE][body, padded to an even length]; a 'LIST' chunk
  * body is [list type 4] followed by a nested chunk list.
  */
object Riff {

  /** A FourCC as the little-endian Int of its four ASCII bytes, so a
    * chunk id compares as `le32(b, at) == Fmt`. */
  def fourCc(s: String): Int = le32(ascii(s), 0)

  val RiffId: Int = fourCc("RIFF")
  val ListId: Int = fourCc("LIST")
  val Wave: Int = fourCc("WAVE")
  val Fmt: Int = fourCc("fmt ")
  val Data: Int = fourCc("data")
  val Avi: Int = fourCc("AVI ")
  val Movi: Int = fourCc("movi")
  val Rec: Int = fourCc("rec ")

  /** Visit the chunks between `from` and `until` whose 8-byte header
    * fits, as (header offset, declared size), while `visit` returns
    * true. The cursor is a Long: a corrupt uint32 size near 2^32 would
    * wrap an Int cursor negative and past the guard. */
  def chunks(b: Array[Byte], from: Long, until: Long)
            (visit: (Int, Long) => Boolean): Unit = {
    var i = from
    var more = true
    while (more && i + 8 <= until) {
      val at = i.toInt
      val size = le32(b, at + 4).toLong & 0xffffffffL
      more = visit(at, size)
      i += 8 + size + (size & 1)
    }
  }

  /** "RIFF"…"WAVE" magic; `b` must hold at least 12 bytes. */
  def isWave(b: Array[Byte]): Boolean =
    le32(b, 0) == RiffId && le32(b, 8) == Wave

  /** Where a WAVE payload's `fmt ` chunk header and `data` body sit:
    * `fmtAt`/`dataAt` are -1 when absent, `dataLen` is clipped to the
    * bytes present. */
  final case class WaveChunks(fmtAt: Int, fmtSize: Long, dataAt: Int,
                              dataLen: Long)

  /** Walk a WAVE payload's chunk list until each NEEDED chunk has been
    * seen. Order-independent (real files lead with JUNK/bext/LIST, and
    * pathological writers put `data` before `fmt `); a repeated chunk
    * met before the walk stops replaces the earlier one. */
  def waveChunks(b: Array[Byte], needFmt: Boolean = true,
                 needData: Boolean = true): WaveChunks = {
    var fmtAt = -1; var fmtSize = 0L; var dataAt = -1; var dataLen = 0L
    chunks(b, 12L, b.length) { (at, size) =>
      val id = le32(b, at)
      if (id == Fmt) {
        fmtAt = at; fmtSize = size
      } else if (id == Data) {
        dataAt = at + 8
        dataLen = math.min(size, b.length.toLong - dataAt)
      }
      (needFmt && fmtAt < 0) || (needData && dataAt < 0)
    }
    WaveChunks(fmtAt, fmtSize, dataAt, dataLen)
  }

  /** Deepest LIST nesting the AVI walk enters. Valid AVIs need 3
    * levels (RIFF → hdrl/movi → strl/'rec '); past that the walk stops
    * rather than recursing into a crafted payload of thousands of
    * nested LIST headers, which would overflow the stack. */
  val AviMaxDepth = 3

  /** Walk a RIFF 'AVI ' payload's chunk tree within the RIFF's declared
    * size. A LIST is entered when `descend(listType, inMovi)` holds and
    * the nesting stays within [[AviMaxDepth]]; every other chunk goes
    * to `visit(at, id, size, inMovi)`, where `inMovi` says the chunk
    * sits under a 'movi' LIST. False when `b` is not RIFF/AVI. */
  def walkAvi(b: Array[Byte])(descend: (Int, Boolean) => Boolean)
             (visit: (Int, Int, Long, Boolean) => Unit): Boolean = {
    def walk(from: Long, to: Long, inMovi: Boolean, depth: Int): Unit =
      chunks(b, from, to) { (at, size) =>
        val id = le32(b, at)
        if (id == ListId && at + 12L <= to) {
          val lt = le32(b, at + 8)
          if (depth < AviMaxDepth && descend(lt, inMovi))
            walk(at + 12L, math.min(to, at + 8 + size), inMovi || lt == Movi,
              depth + 1)
        } else visit(at, id, size, inMovi)
        true
      }
    if (b.length < 12 || le32(b, 0) != RiffId || le32(b, 8) != Avi) false
    else {
      walk(12L, math.min(b.length.toLong, 8L + (le32(b, 4).toLong & 0xffffffffL)),
        inMovi = false, depth = 0)
      true
    }
  }

  /** '##dc' (compressed) video frame chunk id, or also '##db' (DIB)
    * when `dib`. */
  def isFrameId(id: Int, dib: Boolean): Boolean = {
    def digit(c: Int) = c >= '0' && c <= '9'
    val c3 = id >>> 24
    digit(id & 0xff) && digit((id >> 8) & 0xff) && ((id >> 16) & 0xff) == 'd' &&
      (c3 == 'c' || (dib && c3 == 'b'))
  }

  /** One chunk: id, size, body, zero pad to an even length. */
  def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + body.length + (body.length & 1))
    putId(out, 0, id); put32(out, 4, body.length)
    System.arraycopy(body, 0, out, 8, body.length)
    out
  }

  def list(listType: String, body: Array[Byte]): Array[Byte] =
    chunk("LIST", ascii(listType) ++ body)

  /** FIXTURE synthesis: a minimal spec-shaped AVI of one video stream
    * — `avih` (25 fps, dims, frame count), `strh` ('vids', `handler`),
    * the caller's `strf` body — and one '00dc' chunk per frame under
    * 'movi', the layout standard demuxers accept. */
  def aviFile(handler: String, w: Int, h: Int, strf: Array[Byte],
              frames: Seq[Array[Byte]]): Array[Byte] = {
    val (i32, i16) = (le32Bytes _, le16Bytes _)
    val n = frames.length
    // avih: 56-byte main header — µs/frame at 25 fps, dims, frame count
    val avih = chunk("avih", i32(40000) ++ i32(0) ++ i32(0) ++ i32(0x10) ++
      i32(n) ++ i32(0) ++ i32(1) ++ i32(0) ++ i32(w) ++ i32(h) ++
      i32(0) ++ i32(0) ++ i32(0) ++ i32(0))
    // strh: fccType/handler, scale 1 rate 25, length n, rcFrame
    val strh = chunk("strh", ascii("vids") ++ ascii(handler) ++ i32(0) ++
      i16(0) ++ i16(0) ++ i32(0) ++ i32(1) ++ i32(25) ++ i32(0) ++
      i32(n) ++ i32(0) ++ i32(-1) ++ i32(0) ++
      i16(0) ++ i16(0) ++ i16(w) ++ i16(h))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ chunk("strf", strf)))
    val movi = list("movi",
      frames.map(chunk("00dc", _)).foldLeft(Array.emptyByteArray)(_ ++ _))
    chunk("RIFF", ascii("AVI ") ++ hdrl ++ movi)
  }
}
