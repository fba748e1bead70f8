package graft.functions

/** FLAC writers for the subframe types only specs encode, over
  * [[FlacAudio]]'s stream writer. */
object FlacFixtures {

  /** CONSTANT subframes — one 16-bit value per frame. */
  def encodeConstant(sampleRate: Int, blockSize: Int, nFrames: Int,
                     value: Int => Int): Array[Byte] =
    FlacAudio.encodeStream(sampleRate, blockSize, nFrames) { (bw, f) =>
      bw.writeBits(0, 1); bw.writeBits(0, 6); bw.writeBits(0, 1)
      bw.writeBits(value(f).toLong & 0xffff, 16)
    }

  /** VERBATIM subframes — raw 16-bit samples, no prediction. */
  def encodeVerbatim(sampleRate: Int, blockSize: Int, nFrames: Int,
                     sample: (Int, Int) => Int): Array[Byte] =
    FlacAudio.encodeStream(sampleRate, blockSize, nFrames) { (bw, f) =>
      bw.writeBits(0, 1); bw.writeBits(1, 6); bw.writeBits(0, 1)
      var t = 0
      while (t < blockSize) {
        bw.writeBits(sample(f, t).toLong & 0xffff, 16); t += 1
      }
    }
}
