package graft.functions

import Bytes._

/** REAL sample decode for a COMPRESSED audio format that needs no codec
  * library: IMA/DVI ADPCM inside RIFF/WAVE (wFormatTag 0x11). Each
  * 4-bit nibble encodes a quantized delta against a running predictor;
  * the decoder is a pure integer state machine over two public tables
  * (the 89-entry step table and the 16-entry index-adaptation table),
  * so — like [[PngPixels]] on the image tier — this proves the audio
  * tier's fake boundary is a codec-availability line, not a plumbing
  * line: 4:1 compressed audio decodes with plain byte arithmetic.
  * Perceptual-transform codecs (MP3/AAC) remain the injected-codec
  * path ([[graft.operators.Multimodal.decodePartitions]]).
  *
  * Container layout (public RIFF/WAVE + IMA ADPCM spec): the `fmt `
  * chunk carries wFormatTag=0x11, nChannels, nSamplesPerSec,
  * nBlockAlign (the compressed block size), wBitsPerSample=4, and the
  * 2-byte extension wSamplesPerBlock. The `data` chunk is a sequence
  * of independent blocks; a mono block is a 4-byte header
  * [predictor int16 LE][stepIndex u8][reserved u8] — the predictor IS
  * the block's first output sample — followed by (nBlockAlign-4)
  * bytes of nibbles, LOW nibble first, each advancing the state
  * machine by one sample. Block independence is what makes the format
  * seekable and, here, what lets a corrupt block drop without
  * poisoning the rest of the clip.
  *
  * Decode recurrence per nibble n (0..15), state (pred, idx):
  *   step  = STEP(idx)
  *   diff  = step>>3 + (n&4 ? step : 0) + (n&2 ? step>>1 : 0)
  *                   + (n&1 ? step>>2 : 0)
  *   pred' = clamp(pred + (n&8 ? -diff : +diff), -32768, 32767)
  *   idx'  = clamp(idx + INDEX_ADJ(n), 0, 88)
  * This exact recurrence is replayable in SQL as a recursive CTE over
  * the two tables — which is how q194's DuckDB oracle checks the
  * decoder without ever parsing a WAV.
  */
object AdpcmWav {

  /** The public IMA ADPCM step-size table (89 entries). */
  val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** The public index-adaptation table (per nibble value 0..15). */
  val IndexAdjust: Array[Int] = Array(
    -1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** Per-clip decoded-sample statistics. `lastSample` is the final
    * decoded amplitude — it depends on EVERY state transition in the
    * last block, so it pins decode order, not just aggregate moments. */
  case class Features(sampleRate: Int, nBlocks: Int, nSamples: Long,
                      meanAmp: Double, rms: Double, peak: Int,
                      lastSample: Int)

  /** Advance the state machine by one nibble; returns packed
    * (pred, idx). Shared by decode and the spec's reference replay. */
  @inline private def stepState(pred: Int, idx: Int, n: Int): (Int, Int) = {
    val step = StepTable(idx)
    var diff = step >> 3
    if ((n & 4) != 0) diff += step
    if ((n & 2) != 0) diff += step >> 1
    if ((n & 1) != 0) diff += step >> 2
    val p0 = if ((n & 8) != 0) pred - diff else pred + diff
    val p = math.max(-32768, math.min(32767, p0))
    val i0 = idx + IndexAdjust(n)
    (p, math.max(0, math.min(88, i0)))
  }

  /** Decode a mono IMA ADPCM WAV to sample statistics; None for
    * anything else (PCM goes to [[WavPcm]]; perceptual codecs to the
    * decodePartitions injection point). Corrupt payloads are DATA
    * (None), never exceptions. */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 44 || !Riff.isWave(b)) return None
    val Riff.WaveChunks(fmtAt, fmtSize, dataAt, dataLen) = Riff.waveChunks(b)
    if (fmtAt < 0 || dataAt < 0) return None
    // IMA ADPCM fmt is 20 bytes: 16 base + cbSize(2) + samplesPerBlock(2)
    if (fmtSize < 20 || fmtAt + 28 > b.length) return None
    val audioFormat = le16(b, fmtAt + 8)
    val channels = le16(b, fmtAt + 10)
    val sampleRate = le32(b, fmtAt + 12)
    val blockAlign = le16(b, fmtAt + 20)
    val bits = le16(b, fmtAt + 22)
    val samplesPerBlock = le16(b, fmtAt + 26)
    if (audioFormat != 0x11 || bits != 4) return None
    if (channels != 1) return None // mono slice; stereo = injected codec
    if (sampleRate <= 0 || blockAlign < 5) return None
    // a mono block's nibble budget bounds its sample count: header
    // sample + 2 nibbles per remaining byte. An inconsistent
    // samplesPerBlock would otherwise read past the block.
    val maxSpb = 1 + (blockAlign - 4) * 2
    if (samplesPerBlock < 1 || samplesPerBlock > maxSpb) return None
    val nBlocks = (dataLen / blockAlign).toInt
    var sum = 0.0; var sumSq = 0.0; var peak = 0
    var last = 0
    var nSamples = 0L
    var blk = 0
    while (blk < nBlocks) {
      val base = dataAt + blk * blockAlign
      var pred = le16(b, base).toShort.toInt // sign-extend
      var idx = math.max(0, math.min(88, u8(b, base + 2)))
      // header predictor is the block's first emitted sample
      sum += pred; sumSq += pred.toDouble * pred
      val a0 = math.abs(pred); if (a0 > peak) peak = a0
      last = pred; nSamples += 1
      var s = 1
      while (s < samplesPerBlock) {
        val nibByte = u8(b, base + 4 + (s - 1) / 2)
        val n = if (((s - 1) & 1) == 0) nibByte & 0x0f else nibByte >> 4
        val st = stepState(pred, idx, n)
        pred = st._1; idx = st._2
        sum += pred; sumSq += pred.toDouble * pred
        val a = math.abs(pred); if (a > peak) peak = a
        last = pred; nSamples += 1
        s += 1
      }
      blk += 1
    }
    val n = math.max(1L, nSamples).toDouble
    Some(Features(sampleRate, nBlocks, nSamples, sum / n,
      math.sqrt(sumSq / n), peak, last))
  }

  /** FIXTURE synthesis (bounded; test/oracle side only): build a valid
    * mono IMA ADPCM WAV directly from closed-form COMPRESSED content —
    * per-block header predictor/index and per-nibble values. Writing
    * the compressed stream (rather than running an encoder) keeps the
    * fixture a pure formula, which is what lets q194's oracle replay
    * the decode recurrence in SQL from the same formula. All
    * samplesPerBlock nibble slots are dense: spb = 1 + (blockAlign-4)*2. */
  def encodeRaw(sampleRate: Int, blockAlign: Int, nBlocks: Int,
                pred0: Int => Int, idx0: Int => Int,
                nibble: (Int, Int) => Int): Array[Byte] = {
    require(sampleRate > 0 && blockAlign >= 5 && nBlocks >= 0,
      "positive rate, blockAlign >= 5, non-negative blocks")
    val spb = 1 + (blockAlign - 4) * 2
    val dataLen = nBlocks * blockAlign
    val b = new Array[Byte](48 + dataLen)
    putId(b, 0, "RIFF"); put32(b, 4, 40 + dataLen); putId(b, 8, "WAVE")
    putId(b, 12, "fmt "); put32(b, 16, 20)
    put16(b, 20, 0x11)                     // IMA ADPCM
    put16(b, 22, 1); put32(b, 24, sampleRate) // mono
    put32(b, 28, sampleRate * blockAlign / math.max(1, spb)) // approx byte rate
    put16(b, 32, blockAlign)
    put16(b, 34, 4)                        // bits per (compressed) sample
    put16(b, 36, 2)                        // cbSize
    put16(b, 38, spb)                      // wSamplesPerBlock
    putId(b, 40, "data"); put32(b, 44, dataLen)
    var blk = 0
    while (blk < nBlocks) {
      val base = 48 + blk * blockAlign
      put16(b, base, pred0(blk) & 0xffff)
      b(base + 2) = (math.max(0, math.min(88, idx0(blk))) & 0xff).toByte
      b(base + 3) = 0
      var j = 0
      while (j < (blockAlign - 4) * 2) {
        val n = nibble(blk, j) & 0x0f
        val at = base + 4 + j / 2
        if ((j & 1) == 0) b(at) = n.toByte
        else b(at) = (b(at) | (n << 4)).toByte
        j += 1
      }
      blk += 1
    }
    b
  }
}
