package graft.functions

import Bytes._

/** REAL sample decode for the one audio format that needs no codec
  * library: RIFF/WAVE carrying 16-bit integer PCM. Together with
  * [[BmpPixels]] this converts two of the three multimodal tiers
  * (image, audio) from "deterministic fake" to actual byte-arithmetic
  * decode; only video still needs an injected native codec
  * ([[graft.operators.Multimodal.decodePartitions]]).
  *
  * Layout: "RIFF"[size]"WAVE", then a chunk list of
  * [id 4][size 4][payload, word-aligned]. The `fmt ` chunk carries
  * audioFormat(=1 for PCM) u16@+8, channels u16@+10, sampleRate
  * u32@+12, bitsPerSample u16@+22; the `data` chunk holds frames of
  * `channels` interleaved little-endian int16 samples. Reference: the
  * public RIFF/WAVE format specification (same container the header
  * parser in [[MediaHeaders]] walks — this adds the sample tier).
  */
object WavPcm {

  /** Per-clip sample statistics — the "feature extraction" an audio
    * corpus pipeline runs after decode. Amplitudes are raw int16 units
    * (no normalization): mean/rms over ALL channels' samples, peak the
    * max absolute sample. */
  case class Features(sampleRate: Int, channels: Int, nFrames: Long,
                      meanAmp: Double, rms: Double, peak: Int)

  /** Decode 16-bit PCM WAV to sample statistics; None for anything else
    * (compressed/float WAV needs a codec — the decodePartitions
    * injection point). Corrupt payloads are DATA (None), never
    * exceptions — at 100 TB a bad row must not kill the task. */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 44 || !Riff.isWave(b)) return None
    // one order-independent walk finds BOTH fmt and data
    val Riff.WaveChunks(fmtAt, fmtSize, dataAt, dataLen) = Riff.waveChunks(b)
    if (fmtAt < 0 || dataAt < 0) return None
    // the chunk's own declared size must cover the 16 PCM format bytes:
    // a short fmt chunk followed by other chunks would otherwise read
    // the NEXT chunk's bytes as format fields and return plausible
    // garbage instead of None
    if (fmtSize < 16 || fmtAt + 24 > b.length) return None
    val audioFormat = le16(b, fmtAt + 8)
    val channels = le16(b, fmtAt + 10)
    val sampleRate = le32(b, fmtAt + 12)
    val bits = le16(b, fmtAt + 22)
    if (audioFormat != 1 || bits != 16) return None // integer PCM only
    if (channels < 1 || channels > 64 || sampleRate <= 0) return None
    val frameBytes = channels * 2
    val nFrames = dataLen / frameBytes
    val nSamples = nFrames * channels
    var sum = 0.0; var sumSq = 0.0; var peak = 0
    var p = dataAt
    val end = dataAt + (nSamples * 2).toInt
    while (p < end) {
      val v = le16(b, p).toShort.toInt // sign-extend
      sum += v; sumSq += v.toDouble * v
      val a = math.abs(v); if (a > peak) peak = a
      p += 2
    }
    val n = math.max(1L, nSamples).toDouble
    Some(Features(sampleRate, channels, nFrames, sum / n,
      math.sqrt(sumSq / n), peak))
  }

  /** SAMPLE-tier decode: the interleaved int16 samples themselves
    * (sign-extended to Int), with the validated [[Features]] header —
    * the input tier for DSP operators (q269's FIR downsample). Same
    * chunk-walk validation as [[decode]]; None on anything invalid. */
  def samples(b: Array[Byte]): Option[(Features, Array[Int])] =
    decode(b).map { f =>
      // decode validated the payload; samples read from the FIRST data
      // chunk, so re-walk only as far as that
      val dataAt = Riff.waveChunks(b, needFmt = false).dataAt
      val nSamples = (f.nFrames * f.channels).toInt
      val out = new Array[Int](nSamples)
      var k = 0; var p = dataAt
      while (k < nSamples) {
        out(k) = le16(b, p).toShort.toInt
        k += 1; p += 2
      }
      (f, out)
    }

  /** Build a valid 16-bit PCM WAV from a sample function
    * (frame, channel) → amplitude (int16 range) — fixture builder for
    * specs and oracled queries; the interleaving and chunk layout it
    * exercises is exactly what [[decode]] must get right. */
  def encode(sampleRate: Int, channels: Int, nFrames: Int,
             sample: (Int, Int) => Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && nFrames >= 0,
      "positive rate/channels, non-negative frames")
    val dataLen = nFrames * channels * 2
    val b = new Array[Byte](44 + dataLen)
    putId(b, 0, "RIFF"); put32(b, 4, 36 + dataLen); putId(b, 8, "WAVE")
    putId(b, 12, "fmt "); put32(b, 16, 16)
    put16(b, 20, 1)                   // PCM
    put16(b, 22, channels); put32(b, 24, sampleRate)
    put32(b, 28, sampleRate * channels * 2) // byte rate
    put16(b, 32, channels * 2)        // block align
    put16(b, 34, 16)                  // bits per sample
    putId(b, 36, "data"); put32(b, 40, dataLen)
    var p = 44
    var t = 0
    while (t < nFrames) {
      var c = 0
      while (c < channels) {
        put16(b, p, sample(t, c) & 0xffff)
        p += 2; c += 1
      }
      t += 1
    }
    b
  }
}
