package graft.functions

/** The byte layer every pure-JVM codec reads and writes through: the
  * unsigned/endian readers and writers, the parse-abort signal, the
  * MSB-first bit reader and writer, and the raster-size ceiling. One
  * copy of each, so a decoder states only its own format's decisions.
  * The RIFF container walk lives next door in [[Riff]].
  *
  * Plain readers index the array directly: a read past the end throws
  * `ArrayIndexOutOfBoundsException`, so callers bound their offsets
  * first. [[Checked]] readers bail with [[ParseEx]] instead, for
  * decoders whose parse is one `try` that catches only `ParseEx`.
  */
object Bytes {

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  /** Little-endian writers into a preallocated array. */
  def put16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
  }
  def put32(b: Array[Byte], i: Int, v: Int): Unit = {
    put16(b, i, v & 0xffff); put16(b, i + 2, (v >> 16) & 0xffff)
  }
  def putBe32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
    b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
  }
  /** An ASCII tag (a FourCC) at `i`. */
  def putId(b: Array[Byte], i: Int, s: String): Unit =
    s.indices.foreach(j => b(i + j) = s(j).toByte)

  /** Fresh little-endian byte strings, for builders that concatenate. */
  def le16Bytes(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  def le32Bytes(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Internal parse-abort signal (stackless); never escapes a decoder,
    * whose entry point turns it into None. */
  final class ParseEx extends RuntimeException(null, null, false, false)
  def bail(): Nothing = throw new ParseEx

  /** Bounds-checked readers: an index outside the array bails. */
  object Checked {
    def u8(b: Array[Byte], i: Int): Int = {
      if (i < 0 || i >= b.length) bail()
      b(i) & 0xff
    }
    def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  }

  /** Largest raster a pixel decoder allocates: sides ≤ 4096 and at
    * most 2^22 pixels. A header declaring more is data (None), not an
    * allocation the task cannot survive. */
  val MaxSide = 4096
  val MaxPixels: Long = 1L << 22
  def rasterFits(w: Int, h: Int): Boolean =
    w > 0 && h > 0 && w <= MaxSide && h <= MaxSide &&
      w.toLong * h <= MaxPixels

  /** MSB-first bit reader over `b[from, until)`; a read past `until`
    * bails. */
  final class BitReader(b: Array[Byte], from: Int, until: Int) {
    private var bit = from.toLong * 8
    private val endBit = until.toLong * 8
    def bytePos: Int = ((bit + 7) / 8).toInt
    def readBits(n: Int): Long = {
      if (n == 0) return 0L
      if (bit + n > endBit) bail()
      var v = 0L
      var k = 0
      while (k < n) {
        val by = (bit >> 3).toInt
        val off = 7 - (bit & 7).toInt
        v = (v << 1) | ((b(by) >> off) & 1)
        bit += 1; k += 1
      }
      v
    }
    /** [[readBits]] for fields of at most 32 bits. */
    def bits(n: Int): Int = readBits(n).toInt
    def readSigned(n: Int): Int = readSignedL(n).toInt
    /** Signed read past the Int domain: FLAC's decorrelated side
      * channel is 33 bits wide at a 32-bit depth. */
    def readSignedL(n: Int): Long = {
      val v = readBits(n)
      (v << (64 - n)) >> (64 - n) // sign-extend
    }
    def readUnary(): Int = {
      var q = 0
      while ({ if (bit >= endBit) bail(); true } &&
        ((b((bit >> 3).toInt) >> (7 - (bit & 7).toInt)) & 1) == 0) {
        bit += 1; q += 1
      }
      bit += 1 // consume the terminating 1
      q
    }
    /** Skip to the next byte; the padding bits must be zero, else the
      * stream is out of sync and the parse bails. */
    def alignToByte(): Unit =
      while (bit % 8 != 0) { if (readBits(1) != 0L) bail() }
  }

  /** MSB-first bit writer (fixture side). */
  final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0; private var nBits = 0
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1L).toInt
        nBits += 1
        if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
        i -= 1
      }
    }
    def writeUnary(q: Int): Unit = { writeBits(0, q); writeBits(1, 1) }
    /** Zero-fill the current byte. */
    def alignZero(): Unit =
      if (nBits > 0) { out.write(cur << (8 - nBits)); cur = 0; nBits = 0 }
    def bytes: Array[Byte] = { require(nBits == 0); out.toByteArray }
    /** Zero-fill the current byte, then append zero bytes up to `total`. */
    def padToBytes(total: Int): Array[Byte] = {
      alignZero()
      val a = out.toByteArray
      if (a.length < total) java.util.Arrays.copyOf(a, total) else a
    }
  }
}
