package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic stand-ins for the codecs and models [[Multimodal]]
  * has no implementation of (transform-coded video and audio), derived
  * from hashes of the payload: specs drive the surrounding plumbing
  * (schemas, batch shapes, the per-partition codec lifecycle) with them. */
object MultimodalStubs {

  /** Fake image-header decode. A real implementation replaces the hash
    * arithmetic with an actual codec call per row (mapPartitions,
    * batch-local); the output schema is the contract. */
  def fakeDecodeImageMeta(payload: Column): Column =
    struct(
      (pmod(xxhash64(payload), lit(1920L)) + 1).cast("int").as("width"),
      (pmod(xxhash64(lit(1), payload), lit(1080L)) + 1).cast("int")
        .as("height"),
      (pmod(xxhash64(lit(2), payload), lit(3L)) + 1).cast("int")
        .as("channels"),
      octet_length(payload).as("n_bytes"))

  /** Fake feature extraction: a `dim`-length float vector derived from
    * seeded hashes of the payload. Real impl: model inference over
    * payload batches; same schema, same partitioning. */
  def fakeFeatures(payload: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(xxhash64(i, payload), lit(2000L)).cast("double") / 1000.0
        - 1.0).cast("float"))

  /** Codec for environments without media libraries: a deterministic
    * header fake from the payload bytes. */
  def stubCodec(bytes: Array[Byte]): (Int, Int, Int) = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31L * h + bytes(i); i += 1 }
    (math.floorMod(h, 1920L).toInt + 1,
      math.floorMod(h * 31L, 1080L).toInt + 1,
      math.floorMod(h * 7L, 3L).toInt + 1)
  }
}
