package graft.functions

import Bytes.{ParseEx, bail, rasterFits}
import Bytes.Checked._

/** REAL pixel decode for QOI ("Quite OK Image", the 2022 public
  * one-page spec at qoiformat.org) — the DICTIONARY-BY-HASH + DELTA
  * member of the compression spectrum: PNG covers DEFLATE, GIF covers
  * LZW, FLAC covers Rice, ADPCM covers delta-PCM, JPEG covers DCT;
  * QOI's op-code family (64-slot color hash table, 2-bit wrapping
  * diffs, luma-relative deltas, run-length) is the remaining lossless
  * paradigm, and its losslessness is what lets the decode sit under an
  * exact SQL oracle (q220).
  *
  * Everything implemented from the public specification:
  *  - header: "qoif", width/height u32 BIG-endian (the opposite of
  *    GIF/BMP's little-endian — its own bug class), channels (3/4),
  *    colorspace;
  *  - chunks: QOI_OP_RGB (0xFE) / RGBA (0xFF); 2-bit tagged
  *    QOI_OP_INDEX (hash table lookup, hash = (3r+5g+7b+11a) mod 64,
  *    table ZERO-initialized so slot 0 starts as transparent black);
  *    QOI_OP_DIFF (per-channel −2..1, bias 2, WRAPPING add);
  *    QOI_OP_LUMA (dg −32..31 bias 32; dr−dg / db−dg −8..7 bias 8);
  *    QOI_OP_RUN (1..62, bias −1; 63/64 unusable — they collide with
  *    the RGB/RGBA tags);
  *  - previous pixel starts (0,0,0,255); the hash slot is rewritten
  *    once per CHUNK (runs emit copies without extra writes — matching
  *    the reference decoder's update placement);
  *  - 8-byte end marker (seven 0x00 then 0x01) verified strictly.
  * Corrupt payloads are data (None), never exceptions.
  */
object QoiPixels {

  case class Features(width: Int, height: Int, meanR: Double,
                      meanG: Double, meanB: Double, ordCk: Long)

  private def hash(r: Int, g: Int, bl: Int, a: Int): Int =
    (r * 3 + g * 5 + bl * 7 + a * 11) % 64

  /** Decode; None on anything outside the spec or any structural
    * damage (bad magic, oversize dims, truncation, missing end
    * marker). */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 22) return None
    if (b(0) != 'q' || b(1) != 'o' || b(2) != 'i' || b(3) != 'f') return None
    try {
      val w = be32(b, 4); val h = be32(b, 8)
      val channels = u8(b, 12); val colorspace = u8(b, 13)
      if (!rasterFits(w, h) || (channels != 3 && channels != 4) ||
        colorspace > 1) return None
      val nPix = w * h
      // index table as packed r<<24|g<<16|b<<8|a, ZERO-init (spec)
      val idx = new Array[Int](64)
      var r = 0; var g = 0; var bl = 0; var a = 255
      var i = 14
      var p = 0
      var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
      def emit(): Unit = {
        sr += r; sg += g; sb += bl
        ck += (r + 2L * g + 3L * bl) * (p % 97 + 1)
        p += 1
      }
      while (p < nPix) {
        val op = u8(b, i); i += 1
        if (op == 0xfe) {
          r = u8(b, i); g = u8(b, i + 1); bl = u8(b, i + 2); i += 3
        } else if (op == 0xff) {
          r = u8(b, i); g = u8(b, i + 1); bl = u8(b, i + 2)
          a = u8(b, i + 3); i += 4
        } else (op >> 6) match {
          case 0 => // INDEX
            val v = idx(op & 0x3f)
            r = (v >>> 24) & 0xff; g = (v >>> 16) & 0xff
            bl = (v >>> 8) & 0xff; a = v & 0xff
          case 1 => // DIFF, wrapping
            r = (r + ((op >> 4) & 3) - 2) & 0xff
            g = (g + ((op >> 2) & 3) - 2) & 0xff
            bl = (bl + (op & 3) - 2) & 0xff
          case 2 => // LUMA
            val dg = (op & 0x3f) - 32
            val b2 = u8(b, i); i += 1
            r = (r + dg + ((b2 >> 4) & 0xf) - 8) & 0xff
            g = (g + dg) & 0xff
            bl = (bl + dg + (b2 & 0xf) - 8) & 0xff
          case _ => // RUN: (op&0x3f)+1 copies of the previous pixel
            var run = (op & 0x3f) + 1
            if (p + run > nPix) bail()
            // first copy is emitted by the shared emit below; the
            // rest here (the chunk still gets ONE index write)
            run -= 1
            while (run > 0) { emit(); run -= 1 }
        }
        if (p >= nPix) bail() // run overflowed exactly onto the end
        idx(hash(r, g, bl, a)) = (r << 24) | (g << 16) | (bl << 8) | a
        emit()
      }
      // strict end marker: seven 0x00 then 0x01
      var k = 0
      while (k < 7) { if (u8(b, i + k) != 0) bail(); k += 1 }
      if (u8(b, i + 7) != 1) bail()
      Some(Features(w, h, sr.toDouble / nPix, sg.toDouble / nPix,
        sb.toDouble / nPix, ck))
    } catch { case _: ParseEx => None }
  }

  /** Real greedy QOI encoder (RGB, opaque) for fixtures — chooses
    * RUN / INDEX / DIFF / LUMA / RGB exactly like the reference
    * encoder, so fixture payloads exercise every op family. */
  def encodeRgb(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w32(v: Int): Unit = { w8(v >> 24); w8(v >> 16); w8(v >> 8); w8(v) }
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    w32(w); w32(h); w8(3); w8(0)
    val idx = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0 // prev, alpha fixed 255
    var run = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r0, g0, b0) = px(x, y)
        val r = r0 & 0xff; val g = g0 & 0xff; val b = b0 & 0xff
        if (r == pr && g == pg && b == pb) {
          run += 1
          if (run == 62) { w8(0xc0 | (run - 1)); run = 0 }
        } else {
          if (run > 0) { w8(0xc0 | (run - 1)); run = 0 }
          val hsh = hash(r, g, b, 255)
          val packed = (r << 24) | (g << 16) | (b << 8) | 255
          if (idx(hsh) == packed) {
            w8(hsh) // OP_INDEX
          } else {
            idx(hsh) = packed
            // sign-extended byte diffs (wrap semantics)
            val vr = ((r - pr) << 24) >> 24
            val vg = ((g - pg) << 24) >> 24
            val vb = ((b - pb) << 24) >> 24
            if (vr >= -2 && vr <= 1 && vg >= -2 && vg <= 1 &&
                vb >= -2 && vb <= 1) {
              w8(0x40 | ((vr + 2) << 4) | ((vg + 2) << 2) | (vb + 2))
            } else if (vg >= -32 && vg <= 31 && vr - vg >= -8 &&
                vr - vg <= 7 && vb - vg >= -8 && vb - vg <= 7) {
              w8(0x80 | (vg + 32)); w8(((vr - vg + 8) << 4) | (vb - vg + 8))
            } else {
              w8(0xfe); w8(r); w8(g); w8(b)
            }
          }
          pr = r; pg = g; pb = b
        }
        x += 1
      }
      y += 1
    }
    if (run > 0) w8(0xc0 | (run - 1))
    var k = 0
    while (k < 7) { w8(0); k += 1 }
    w8(1)
    out.toByteArray
  }
}
