package graft.functions

import Bytes._

/** REAL sample decode for the PERCEPTUAL/companded audio tier: ITU-T
  * G.711 μ-law and A-law inside RIFF/WAVE (wFormatTag 7 and 6 — the
  * telephony codecs every voice corpus contains). G.711 is lossy
  * (8-bit logarithmic companding of 14/13-bit linear audio), yet its
  * DECODER is an exact closed-form integer expansion, so this moves
  * the first genuinely lossy audio codec off the injected-codec seam
  * with plain byte arithmetic — the compression spectrum now covers
  * DEFLATE/LZW/Rice/ADPCM/DCT AND logarithmic companding. Only
  * transform codecs (MP3/AAC) remain on
  * [[graft.operators.Multimodal.decodePartitions]]'s injected path.
  *
  * Expansion formulas (public ITU-T G.711 spec):
  *  - μ-law: u = ~code & 0xff; magnitude = ((u&15)·8 + 0x84) << ((u>>4)&7);
  *    sample = 0x84 − magnitude if bit 7 of u is set, else magnitude − 0x84.
  *    (Two zero codes, 0x7F and 0xFF — both expand to 0.)
  *  - A-law: a = code ^ 0x55; seg = (a>>4)&7;
  *    magnitude = (a&15)·16 + 8 for seg 0, else ((a&15)·16 + 0x108) << (seg−1);
  *    sample = +magnitude if bit 7 of a is set, else −magnitude.
  *
  * Container: same RIFF/WAVE chunk walk as [[WavPcm]]; the fmt chunk
  * carries wFormatTag 7 (μ) / 6 (A), 8 bits per sample, blockAlign =
  * channels; compressed WAV additionally carries a `fact` chunk with
  * the per-channel frame count (written, skipped harmlessly by
  * readers that don't need it).
  */
object G711Wav {

  /** Per-clip expanded-sample statistics (linear 13/14-bit units —
    * mean/rms over ALL channels' samples, peak the max absolute,
    * lastSample the final interleaved sample so channel ordering is
    * part of the decode contract). */
  case class Features(codec: String, sampleRate: Int, channels: Int,
                      nFrames: Long, meanAmp: Double, rms: Double,
                      peak: Int, lastSample: Int)

  /** μ-law codeword (0..255) → linear sample. */
  def ulawExpand(code: Int): Int = {
    val u = (~code) & 0xff
    val mag = (((u & 0x0f) << 3) + 0x84) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - mag else mag - 0x84
  }

  /** A-law codeword (0..255) → linear sample. */
  def alawExpand(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a >> 4) & 7
    val mag =
      if (seg == 0) ((a & 0x0f) << 4) + 8
      else (((a & 0x0f) << 4) + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) mag else -mag
  }

  /** Decode a G.711 WAV payload (format 6/7, 8-bit) to expanded-sample
    * statistics; None for PCM/other formats (WavPcm's domain) and for
    * corrupt payloads — data, never exceptions, at 100 TB. */
  def decode(b: Array[Byte]): Option[Features] = {
    if (b == null || b.length < 46 || !Riff.isWave(b)) return None
    val Riff.WaveChunks(fmtAt, fmtSize, dataAt, dataLen) = Riff.waveChunks(b)
    if (fmtAt < 0 || dataAt < 0) return None
    if (fmtSize < 16 || fmtAt + 24 > b.length) return None
    val audioFormat = le16(b, fmtAt + 8)
    val channels = le16(b, fmtAt + 10)
    val sampleRate = le32(b, fmtAt + 12)
    val bits = le16(b, fmtAt + 22)
    if (audioFormat != 6 && audioFormat != 7) return None
    if (bits != 8) return None
    if (channels < 1 || channels > 64 || sampleRate <= 0) return None
    val mu = audioFormat == 7
    val nFrames = dataLen / channels
    val nSamples = nFrames * channels
    var sum = 0.0; var sumSq = 0.0; var peak = 0; var last = 0
    var p = dataAt
    val end = dataAt + nSamples.toInt
    while (p < end) {
      val v = if (mu) ulawExpand(u8(b, p)) else alawExpand(u8(b, p))
      sum += v; sumSq += v.toDouble * v
      val a = math.abs(v); if (a > peak) peak = a
      last = v
      p += 1
    }
    val n = math.max(1L, nSamples).toDouble
    Some(Features(if (mu) "ulaw" else "alaw", sampleRate, channels,
      nFrames, sum / n, math.sqrt(sumSq / n), peak, last))
  }

  /** Build a valid G.711 WAV from a codeword function
    * (frame, channel) → raw codeword byte (0..255) — fixture builder
    * for specs and the q311 oracle; the interleaving, fmt(18)+fact
    * layout and blockAlign it exercises is exactly what [[decode]]
    * must get right. */
  def encode(mu: Boolean, sampleRate: Int, channels: Int, nFrames: Int,
             code: (Int, Int) => Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && nFrames >= 0,
      "positive rate/channels, non-negative frames")
    val dataLen = nFrames * channels
    val pad = dataLen & 1
    val b = new Array[Byte](58 + dataLen + pad)
    putId(b, 0, "RIFF"); put32(b, 4, 50 + dataLen + pad); putId(b, 8, "WAVE")
    putId(b, 12, "fmt "); put32(b, 16, 18) // extended fmt for non-PCM
    put16(b, 20, if (mu) 7 else 6)        // WAVE_FORMAT_MULAW / _ALAW
    put16(b, 22, channels); put32(b, 24, sampleRate)
    put32(b, 28, sampleRate * channels)   // byte rate (1 byte/sample)
    put16(b, 32, channels)                // block align
    put16(b, 34, 8)                       // bits per sample
    put16(b, 36, 0)                       // cbSize
    putId(b, 38, "fact"); put32(b, 42, 4); put32(b, 46, nFrames)
    putId(b, 50, "data"); put32(b, 54, dataLen)
    var p = 58
    var t = 0
    while (t < nFrames) {
      var c = 0
      while (c < channels) {
        b(p) = (code(t, c) & 0xff).toByte
        p += 1; c += 1
      }
      t += 1
    }
    b
  }
}
