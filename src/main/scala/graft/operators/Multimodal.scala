package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * Two decode tiers:
  *  - METADATA decode is REAL ([[decodeHeaders]]): actual PNG/JPEG/GIF/
  *    BMP/WAV container headers parsed with plain byte arithmetic — the
  *    filter/route/stats stages of a multimodal pipeline need nothing
  *    more, and need no native libraries.
  *  - PIXEL/SAMPLE/FRAME decode is REAL for the formats the JVM can
  *    handle without native codecs: uncompressed 24-bit BMP pixels
  *    ([[decodeBmpFeatures]]), PNG pixels — zlib inflate via the
  *    JDK's Inflater plus all five scanline filters
  *    ([[decodePngFeatures]]), 16-bit PCM WAV samples
  *    ([[decodeWavFeatures]]) and uncompressed YUV4MPEG2 video frames
  *    ([[decodeY4mFeatures]]) — all three modality tiers (image,
  *    audio, video) have a fake-free slice, including one COMPRESSED
  *    format — and baseline JPEG pixels are REAL too
  *    ([[decodeJpegFeatures]], the JDK's own `javax.imageio` codec,
  *    zero new dependencies); so are GIF/QOI images, IMA ADPCM, FLAC
  *    and G.711 μ-law/A-law audio ([[decodeG711Features]] — lossy
  *    companding, exactly expandable), and MJPEG (per-frame-coded)
  *    plus MS-RLE8 ([[decodeRle8Features]] — INTER-frame-coded)
  *    video. FLAC is real at every standard depth (8–32 bit), channel
  *    count (1–8) and stereo decorrelation mode, including 32-bit
  *    decorrelated stereo's 33-bit side channel. MPEG-1 Audio
  *    Layers I AND II are real THROUGH the polyphase synthesis to
  *    windowed PCM ([[decodeMpeg1Features]]/[[decodeMpeg1L2Features]]
  *    for the subband-sample tier, [[decodeMpeg1Pcm]]/
  *    [[decodeMpeg1L2Pcm]] for PCM — headers, frame sizing,
  *    allocation incl. the 3-B.2 tables, intensity bound, scfsi,
  *    scalefactors, spec dequantization, §2.4.3.2.2 matrixing and
  *    the 16-tap windowed sum, all integer-exact; the one remaining
  *    DATA gap is Table 3-B.3's literal window values, shipped as a
  *    documented structural stand-in — see
  *    [[graft.functions.Mpeg1Audio.WindowD]]). Only motion-
  *    compensated/perceptual TRANSFORM codecs (H.264/VP9, MP3/AAC)
  *    have no decoder; specs stand them in with deterministic fakes
  *    derived from xxhash64 of the payload. The surrounding plumbing —
  *    binary representation, schemas, batch shapes, per-partition codec
  *    lifecycle ([[decodePartitions]]) — is the real contract a
  *    JNI/ffmpeg-backed codec drops into unchanged.
  */
object Multimodal {

  /** Pack a string column into the opaque binary payload representation
    * (stand-in for raw image/audio bytes at rest in parquet). */
  def toPayload(c: Column): Column = c.cast("binary")

  /** Frame sampling: slice `n` fixed-offset windows out of the payload —
    * the Spark-side shape of video frame extraction (array-of-binary per
    * row). Slicing is real; only the interpretation is fake. */
  def sampleFrames(payload: Column, n: Int, frameBytes: Int): Column =
    transform(sequence(lit(0), lit(n - 1)),
      i => payload.substr(i * frameBytes + 1, lit(frameBytes)))

  /** The one partition-local decode loop behind every `decode*`
    * here: each (id, payload) row of `df` goes through `f`, which
    * yields that row's output records (none for a payload its codec
    * does not claim). Per-partition codec setup (e.g. a native handle)
    * would go in this one place. */
  private def perPayload[T <: Product : TypeTag](df: DataFrame,
      idCol: String, payloadCol: String)
      (f: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) => f(id, bytes) })
  }

  /** Decoded media metadata record (the output contract of a codec). */
  case class MediaMeta(id: Long, width: Int, height: Int, channels: Int,
                       n_bytes: Int)

  /** The pluggable-codec decode path: partition-local batch iteration
    * over (id, payload) rows — the Scala analog of mapInPandas. A real
    * deployment injects a JNI/OpenCV/ffmpeg-backed `codec`; the codec is
    * constructed once per partition (not per row), which is where the
    * batch-shape contract matters for model/codec initialization cost.
    */
  def decodePartitions(df: DataFrame, idCol: String, payloadCol: String)
                      (codec: Array[Byte] => (Int, Int, Int))
      : Dataset[MediaMeta] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      val (w, h, c) = codec(bytes)
      Some(MediaMeta(id, w, h, c, bytes.length))
    }

  /** Decoded-or-not header record: `format` and the metadata are null
    * for payloads no parser recognizes (corrupt rows are DATA at scale,
    * not exceptions). */
  case class HeaderMeta(id: Long, format: Option[String],
                        width: Option[Int], height: Option[Int],
                        channels: Option[Int], n_bytes: Int)

  /** REAL metadata decode — no stub: parses actual PNG/JPEG/GIF/BMP/WAV
    * container headers ([[graft.functions.MediaHeaders]], plain byte
    * arithmetic, no native codecs) partition-locally. Unknown formats
    * yield null metadata and flow on. This replaces the fake-decode path
    * wherever only container metadata (dims, channels, sample rate) is
    * needed — i.e. the filter/route/stats stages of a multimodal corpus
    * pipeline; pixel-level features still need [[decodePartitions]] with
    * an injected native codec. */
  def decodeHeaders(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[HeaderMeta] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      val info = graft.functions.MediaHeaders.parse(bytes)
      Some(HeaderMeta(id, info.map(_.format), info.map(_.width),
        info.map(_.height), info.map(_.channels),
        if (bytes == null) 0 else bytes.length))
    }

  /** Decoded pixel-feature record for payloads the pure-JVM BMP codec
    * handles; non-BMP/corrupt payloads are dropped (route them to
    * [[decodePartitions]] with a real codec instead). */
  case class BmpFeatureRow(id: Long, width: Int, height: Int,
                           mean_r: Double, mean_g: Double, mean_b: Double,
                           mean_luma: Double)

  /** REAL pixel-tier decode for uncompressed 24-bit BMP payloads
    * ([[graft.functions.BmpPixels]] — plain byte arithmetic, no codec
    * library): per-image channel means + Rec.601 luma, partition-local.
    * This is the fake-free slice of the pixel tier; formats that need
    * libffmpeg/libjpeg still go through [[decodePartitions]]'s injected
    * codec with the same batch shape. */
  def decodeBmpFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[BmpFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.BmpPixels.decode(bytes).map(f =>
        BmpFeatureRow(id, f.width, f.height, f.meanR, f.meanG,
          f.meanB, f.meanLuma))
    }

  /** Decoded pixel-feature record for payloads the pure-JVM PNG codec
    * handles (8-bit gray/RGB, non-interlaced); other profiles and
    * corrupt payloads are dropped. */
  case class PngFeatureRow(id: Long, width: Int, height: Int,
                           channels: Int, mean_r: Double, mean_g: Double,
                           mean_b: Double, mean_luma: Double)

  /** REAL pixel-tier decode for PNG payloads
    * ([[graft.functions.PngPixels]] — the DEFLATE half is the JDK's
    * own `Inflater`, the filter half is plain byte arithmetic): the
    * compressed-format proof that the pixel tier's fake boundary is a
    * codec-availability line, not a plumbing line. Partition-local,
    * same batch shape as the other decoders. */
  def decodePngFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[PngFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.PngPixels.decode(bytes).map(f =>
        PngFeatureRow(id, f.width, f.height, f.channels, f.meanR,
          f.meanG, f.meanB, f.meanLuma))
    }

  /** Decoded audio-feature record for payloads the pure-JVM PCM codec
    * handles; compressed/float audio and corrupt payloads are dropped
    * (route them to [[decodePartitions]] with a real codec instead). */
  case class WavFeatureRow(id: Long, sample_rate: Int, n_channels: Int,
                           n_frames: Long, mean_amp: Double, rms: Double,
                           peak: Int)

  /** REAL sample-tier decode for 16-bit PCM WAV payloads
    * ([[graft.functions.WavPcm]] — plain byte arithmetic, no codec
    * library): per-clip mean/RMS/peak amplitude, partition-local. With
    * [[decodeBmpFeatures]] this leaves only video (and natively-coded
    * image/audio formats) on the fake tier. */
  def decodeWavFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[WavFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.WavPcm.decode(bytes).map(f =>
        WavFeatureRow(id, f.sampleRate, f.channels, f.nFrames,
          f.meanAmp, f.rms, f.peak))
    }

  /** SAMPLE-tier WAV decode: one row per clip with the interleaved
    * int16 samples as an array column — the DSP input tier (q269's
    * FIR downsample runs Column arithmetic on this array, so the
    * filter itself stays in whole-stage codegen). Invalid payloads
    * drop, same contract as [[decodeWavFeatures]]. */
  def decodeWavSamples(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.WavPcm.samples(bytes).map { case (f, s) =>
        (id, f.sampleRate, f.channels, s)
      }
    }.toDF("id", "sample_rate", "n_channels", "samples")

  /** Decoded video-frame-feature record for payloads the pure-JVM
    * YUV4MPEG2 codec handles; coded video (H.264/VP9/…) and corrupt
    * payloads are dropped (route them to [[decodePartitions]] with a
    * real codec instead). */
  case class Y4mFeatureRow(id: Long, width: Int, height: Int,
                           fps_num: Int, fps_den: Int, n_frames: Int,
                           mean_y: Double, mean_cb: Double,
                           mean_cr: Double, motion: Double)

  /** REAL frame-tier decode for uncompressed YUV4MPEG2 video payloads
    * ([[graft.functions.Y4mFrames]] — plain byte arithmetic, no codec
    * library): per-clip plane means + inter-frame luma motion,
    * partition-local. With [[decodeBmpFeatures]] and
    * [[decodeWavFeatures]] every modality tier now has a fake-free
    * decode path; only natively-coded formats go through
    * [[decodePartitions]]'s injected codec. */
  def decodeY4mFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[Y4mFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Y4mFrames.decode(bytes).map(f =>
        Y4mFeatureRow(id, f.width, f.height, f.fpsNum, f.fpsDen,
          f.nFrames, f.meanY, f.meanCb, f.meanCr, f.motion))
    }

  /** Decoded pixel-feature record for payloads the JDK's `javax.imageio`
    * JPEG codec handles; non-JPEG/corrupt payloads are dropped. */
  case class JpegFeatureRow(id: Long, width: Int, height: Int,
                            channels: Int, mean_r: Double, mean_g: Double,
                            mean_b: Double, mean_luma: Double)

  /** REAL pixel-tier decode for baseline JPEG payloads
    * ([[graft.functions.JpegPixels]] — the JDK's own `javax.imageio`
    * codec, stock in every JDK, no native library): per-image channel
    * means + Rec.601 luma, partition-local, same batch shape as the
    * other decoders. This retires JPEG from the fake tier — grayscale
    * constant-block fixtures at quality 1.0 round-trip EXACTLY (see
    * [[graft.functions.JpegPixels]]) and are DuckDB-oracled in q189;
    * arbitrary lossy JPEGs decode through the same path with
    * tolerance-gated spec coverage. */
  def decodeJpegFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[JpegFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.JpegPixels.decode(bytes).map(f =>
        JpegFeatureRow(id, f.width, f.height, f.channels, f.meanR,
          f.meanG, f.meanB, f.meanLuma))
    }

  /** Decoded audio-feature record for payloads the pure-JVM IMA ADPCM
    * codec handles; perceptual codecs (MP3/AAC) and corrupt payloads
    * are dropped. */
  case class AdpcmFeatureRow(id: Long, sample_rate: Int, n_blocks: Int,
                             n_samples: Long, mean_amp: Double,
                             rms: Double, peak: Int, last_sample: Int)

  /** REAL sample-tier decode for COMPRESSED audio: mono IMA/DVI ADPCM
    * WAV payloads ([[graft.functions.AdpcmWav]] — a pure integer state
    * machine over the two public tables, no codec library). The
    * compressed-audio proof that the sample tier's fake boundary is a
    * codec-availability line, not a plumbing line; partition-local,
    * same batch shape as the other decoders. Only perceptual-transform
    * codecs (MP3/AAC) remain on [[decodePartitions]]'s injected-codec
    * path. */
  def decodeAdpcmFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[AdpcmFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.AdpcmWav.decode(bytes).map(f =>
        AdpcmFeatureRow(id, f.sampleRate, f.nBlocks, f.nSamples,
          f.meanAmp, f.rms, f.peak, f.lastSample))
    }

  /** Decoded coded-video-feature record for payloads the pure-JVM
    * MJPEG/AVI path handles; inter-frame-coded video (H.264/VP9) and
    * corrupt payloads are dropped. */
  case class MjpegFeatureRow(id: Long, n_frames: Int, width: Int,
                             height: Int, channels: Int,
                             mean_luma: Double, motion: Double)

  /** REAL frame-tier decode for CODED video: Motion-JPEG AVI payloads
    * ([[graft.functions.MjpegAvi]] — RIFF/AVI chunk walk in plain byte
    * arithmetic, per-frame baseline JPEG through the JDK's own
    * `javax.imageio` codec). With [[decodeAdpcmFeatures]] this leaves
    * only inter-frame/perceptual codecs (H.264, VP9, MP3, AAC) on the
    * injected-codec path — every modality now has BOTH an uncompressed
    * and a compressed/coded fake-free decode slice. */
  def decodeMjpegFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[MjpegFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.MjpegAvi.decode(bytes).map(f =>
        MjpegFeatureRow(id, f.nFrames, f.width, f.height,
          f.channels, f.meanLuma, f.motion))
    }

  /** One decoded video FRAME row (the multi-row decode surface);
    * `luma_sum` is the exact integer pixel sum, so downstream
    * thresholds (scene cuts, black-frame gates) stay integer-exact. */
  case class MjpegFrameRow(id: Long, frame_idx: Int, width: Int,
                           height: Int, luma_sum: Long)

  /** REAL per-frame decode for grayscale MJPEG AVI payloads: one
    * output row per frame — the shape scene-cut detection, frame
    * sampling and frame-level dedup consume. Partition-local like
    * every decoder here; a clip's frames land in its row's partition
    * (no shuffle to explode), and the per-frame row count is bounded
    * by the container's own frame count. */
  def decodeMjpegFrames(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[MjpegFrameRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.MjpegAvi.grayFrameSums(bytes).toSeq.flatMap {
        case (w, h, sums) =>
          sums.iterator.zipWithIndex.map { case (s, i) =>
            MjpegFrameRow(id, i, w, h, s)
          }
      }
    }

  /** Decoded audio-feature record for payloads the pure-JVM FLAC
    * codec handles (mono/stereo 16-bit, CONSTANT/VERBATIM/FIXED/LPC
    * subframes, all three stereo decorrelation modes); >2-channel
    * FLAC, other bit depths, and corrupt payloads are dropped. */
  case class FlacFeatureRow(id: Long, sample_rate: Int, n_frames: Int,
                            n_samples: Long, mean_amp: Double,
                            rms: Double, peak: Int, last_sample: Int)

  /** REAL sample-tier decode for LOSSLESS compressed audio: FLAC at
    * 1-8 channels and every standard depth (8-32 bit)
    * ([[graft.functions.FlacAudio]] — Rice decoding, fixed AND
    * quantized-coefficient LPC predictors, all three inter-channel
    * decorrelation modes including 32-bit stereo's 33-bit side
    * channel, verified CRC-8/CRC-16, all plain integer/bit
    * arithmetic). Completes the audio compression triad (PCM
    * uncompressed / ADPCM lossy / FLAC lossless); only perceptual
    * transform codecs (MP3/AAC) route to [[decodePartitions]]'s
    * injected codec, same batch shape. */
  def decodeFlacFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[FlacFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.FlacAudio.decode(bytes).map(f =>
        FlacFeatureRow(id, f.sampleRate, f.nFrames, f.nSamples,
          f.meanAmp, f.rms, f.peak, f.lastSample))
    }

  /** [[FlacFeatureRow]] plus the DECODED bit depth — the output
    * contract of the depth-tier decode (q314). */
  case class FlacDepthRow(id: Long, bits_per_sample: Int,
                          sample_rate: Int, n_frames: Int,
                          n_samples: Long, mean_amp: Double,
                          rms: Double, peak: Int, last_sample: Int)

  /** REAL sample-tier FLAC decode surfacing the stream's bit depth
    * (8/12/16/20/24/32 — every depth the frame header can code), so
    * depth-routing pipelines can filter on the DECODED value instead
    * of trusting container metadata. Same decoder and batch shape as
    * [[decodeFlacFeatures]]. */
  def decodeFlacDepthFeatures(df: DataFrame, idCol: String,
                              payloadCol: String): Dataset[FlacDepthRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.FlacAudio.decode(bytes).map(f =>
        FlacDepthRow(id, f.bitsPerSample, f.sampleRate, f.nFrames,
          f.nSamples, f.meanAmp, f.rms, f.peak, f.lastSample))
    }

  /** Decoded pixel-feature record for payloads the pure-JVM GIF/LZW
    * codec handles; interlaced frames and corrupt payloads drop. */
  case class GifFeatureRow(id: Long, width: Int, height: Int,
                           mean_r: Double, mean_g: Double,
                           mean_b: Double, ord_ck: Long)

  /** REAL pixel-tier decode for GIF payloads
    * ([[graft.functions.GifPixels]] — LZW with LSB-first code packing,
    * dictionary chain-walk, KwKwK, CLEAR resets; plain bit arithmetic,
    * no codec library). The LZW member of the compression spectrum
    * (DEFLATE/Rice/ADPCM/DCT already real). `ord_ck` is a
    * position-weighted index checksum, so spatial layout is part of
    * the decode contract, not just channel moments. */
  def decodeGifFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[GifFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.GifPixels.decode(bytes).map(f =>
        GifFeatureRow(id, f.width, f.height, f.meanR, f.meanG,
          f.meanB, f.ordCk))
    }

  /** Decoded pixel-feature record for payloads the pure-JVM QOI codec
    * handles; corrupt payloads drop. */
  case class QoiFeatureRow(id: Long, width: Int, height: Int,
                           mean_r: Double, mean_g: Double,
                           mean_b: Double, ord_ck: Long)

  /** REAL pixel-tier decode for QOI payloads
    * ([[graft.functions.QoiPixels]] — the 2022 public spec's hash-table
    * / wrapping-diff / luma-delta / run op-codes; plain byte
    * arithmetic, no codec library). The dictionary-by-hash + delta
    * member of the compression spectrum (DEFLATE/LZW/Rice/ADPCM/DCT
    * already real). `ord_ck` is a position-weighted channel checksum,
    * so spatial layout is part of the decode contract. */
  def decodeQoiFeatures(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[QoiFeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.QoiPixels.decode(bytes).map(f =>
        QoiFeatureRow(id, f.width, f.height, f.meanR, f.meanG,
          f.meanB, f.ordCk))
    }

  /** Decoded audio-feature record for payloads the pure-JVM G.711
    * expander handles (μ-law / A-law WAV); PCM WAV routes through
    * [[decodeWavFeatures]], transform codecs (MP3/AAC) and corrupt
    * payloads drop. */
  case class G711FeatureRow(id: Long, codec: String, sample_rate: Int,
                            n_channels: Int, n_frames: Long,
                            mean_amp: Double, rms: Double, peak: Int,
                            last_sample: Int)

  /** REAL sample-tier decode for LOSSY companded audio: ITU-T G.711
    * μ-law/A-law WAV ([[graft.functions.G711Wav]] — the exact
    * closed-form integer expansion of the telephony codecs, plain
    * byte arithmetic). The first genuinely lossy audio member of the
    * fake-free tier (logarithmic companding joins
    * DEFLATE/LZW/Rice/ADPCM/DCT); only transform codecs remain on
    * [[decodePartitions]]'s injected path. Same batch shape as every
    * decoder here. */
  def decodeG711Features(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[G711FeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.G711Wav.decode(bytes).map(f =>
        G711FeatureRow(id, f.codec, f.sampleRate, f.channels,
          f.nFrames, f.meanAmp, f.rms, f.peak, f.lastSample))
    }

  case class Mpeg1FeatureRow(id: Long, sample_rate: Int,
                             bitrate_kbps: Int, mode_code: Int,
                             n_channels: Int, n_frames: Int,
                             n_samples: Long, n_active: Long,
                             sum_abs_fp: Long, peak_fp: Long,
                             last_fp: Long)

  /** REAL bitstream-tier decode for PERCEPTUAL subband audio: MPEG-1
    * Audio Layer I (ISO/IEC 11172-3) down to exact fixed-point
    * subband samples ([[graft.functions.Mpeg1Audio]]) — header
    * fields, frame sizing, bit allocation, intensity-stereo bound,
    * scalefactors and the spec dequantization are all integer-exact
    * and hash-oracled (q330). Layer II rides the same machinery via
    * [[decodeMpeg1L2Features]] with the spec's allocation tables
    * 3-B.2a–d embedded (q331); the remaining audio seam is the
    * subband→PCM polyphase SYNTHESIS (Table 3-B.3's 512-coefficient
    * window) and MDCT-class codecs (Layer III/AAC), which stay on
    * [[decodePartitions]]'s injected path. Same batch shape as every
    * decoder here. */
  def decodeMpeg1Features(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[Mpeg1FeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Mpeg1Audio.decode(bytes).map(f =>
        Mpeg1FeatureRow(id, f.sampleRate, f.bitrateKbps, f.modeCode,
          f.nChannels, f.nFrames, f.nSamples, f.nActive, f.sumAbsFp,
          f.peakFp, f.lastFp))
    }

  case class Mpeg1PcmRow(id: Long, ch: Int, t: Int, sum_abs_pcm: Long,
                         peak_pcm: Long, last_pcm: Long)

  /** MPEG-1 Layer I decode THROUGH the §2.4.3.2.2 polyphase synthesis
    * to windowed PCM ([[graft.functions.Mpeg1Audio.decodePcm]]): one
    * row per (clip, channel, 32-sample group) with integer-exact
    * 2^32-fixed-point stats, hash-oracled by q332 (the oracle replays
    * matrixing + windowing relationally against the decoder's own
    * Nfp/WindowD integer tables). The remaining audio seam is DATA
    * only — Table 3-B.3's literal values (the shipped window is a
    * documented structural stand-in, see
    * [[graft.functions.Mpeg1Audio.WindowD]]) — plus MDCT-class
    * codecs. */
  def decodeMpeg1Pcm(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[Mpeg1PcmRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Mpeg1Audio.decodePcm(bytes).toSeq.flatMap(_.map(
        g => Mpeg1PcmRow(id, g.ch, g.t, g.sumAbs, g.peak, g.last)))
    }

  /** RAW-PCM-tier Layer I decode: one row per (clip, channel) with
    * the full synthesized 2^32-fixed-point PCM as an array column —
    * [[decodeWavSamples]]' analog for coded audio, so DSP stays in
    * whole-stage codegen downstream (q334's FIR downsample). */
  def decodeMpeg1PcmSamples(df: DataFrame, idCol: String,
                            payloadCol: String): DataFrame =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Mpeg1Audio.decodePcmSamples(bytes).toSeq
        .flatMap(_.map { case (ch, pcm) => (id, ch, pcm) })
    }.toDF("id", "ch", "pcm")

  /** Layer II raw-PCM-tier decode ([[decodeMpeg1PcmSamples]]' exact
    * contract, 36 groups per frame): one row per (clip, channel) with
    * the full synthesized PCM array — q335's DSP input. */
  def decodeMpeg1L2PcmSamples(df: DataFrame, idCol: String,
                              payloadCol: String): DataFrame =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Mpeg1Audio.decodeL2PcmSamples(bytes).toSeq
        .flatMap(_.map { case (ch, pcm) => (id, ch, pcm) })
    }.toDF("id", "ch", "pcm")

  /** Layer II through the same synthesis ([[decodeMpeg1Pcm]]'s
    * contract, 36 groups per frame), hash-oracled by q333. */
  def decodeMpeg1L2Pcm(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[Mpeg1PcmRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Mpeg1Audio.decodeL2Pcm(bytes).toSeq.flatMap(
        _.map(g =>
          Mpeg1PcmRow(id, g.ch, g.t, g.sumAbs, g.peak, g.last)))
    }

  case class Mpeg1L2FeatureRow(id: Long, sample_rate: Int,
                               bitrate_kbps: Int, mode_code: Int,
                               n_channels: Int, tab_id: Int,
                               sb_limit: Int, n_frames: Int,
                               n_samples: Long, n_active: Long,
                               n_scf: Long, sum_abs_fp: Long,
                               peak_fp: Long, last_fp: Long)

  /** MPEG-1 Audio LAYER II ([[graft.functions.Mpeg1Audio.decodeL2]]):
    * the former "spec data" seam crossed — allocation tables
    * 3-B.2a–d are embedded, and granule grouping, scfsi and the
    * 3-B.4 dequantization decode to exact fixed-point subband
    * samples, hash-oracled by q331. `tab_id`/`sb_limit`/`n_scf` pin
    * table selection and the scfsi parse cross-engine. */
  def decodeMpeg1L2Features(df: DataFrame, idCol: String,
                            payloadCol: String)
      : Dataset[Mpeg1L2FeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Mpeg1Audio.decodeL2(bytes).map(f =>
        Mpeg1L2FeatureRow(id, f.sampleRate, f.bitrateKbps,
          f.modeCode, f.nChannels, f.tabId, f.sbLimit, f.nFrames,
          f.nSamples, f.nActive, f.nScf, f.sumAbsFp, f.peakFp,
          f.lastFp))
    }

  /** Decoded video-feature record for payloads the pure-JVM MS-RLE8
    * compositor handles; motion-compensated codecs (H.264/VP9) and
    * corrupt payloads drop. */
  case class Rle8FeatureRow(id: Long, n_frames: Int, width: Int,
                            height: Int, mean_val: Double,
                            motion: Double, final_ck: Long)

  /** REAL frame-tier decode for INTER-FRAME-coded video: Microsoft
    * RLE8 AVI ([[graft.functions.Rle8Avi]] — delta frames patch the
    * previous frame's buffer via cursor escapes and early
    * end-of-bitmap, so the decoder's cross-frame carry is the decode
    * contract). With [[decodeMjpegFeatures]] (per-frame-coded) this
    * gives video both a coded and an INTER-frame-coded fake-free
    * slice; only motion-compensated transform codecs remain on
    * [[decodePartitions]]'s injected path. */
  def decodeRle8Features(df: DataFrame, idCol: String, payloadCol: String)
      : Dataset[Rle8FeatureRow] =
    perPayload(df, idCol, payloadCol) { (id, bytes) =>
      graft.functions.Rle8Avi.decode(bytes).map(f =>
        Rle8FeatureRow(id, f.nFrames, f.width, f.height,
          f.meanVal, f.motion, f.finalCk))
    }

  /** One routed row of a MIXED-format corpus decode: which pure-JVM
    * codec claimed the payload, how many primitive units it decoded
    * (pixels / samples / frame-pixels), and that format's canonical
    * intensity metric (mean R channel / mean amplitude / mean index).
    * Payloads no codec claims drop — they are [[decodePartitions]]'s
    * injected-codec tier. */
  case class RouteRow(id: Long, fmt: String, n_units: Long,
                      metric: Double)

  /** FORMAT ROUTER — the dispatch stage every real multimodal corpus
    * pipeline runs first: one partition-local pass over an opaque
    * binary column holding a MIX of formats, each payload claimed by
    * the codec whose magic/structure validates (the decoders are
    * mutually exclusive by construction: BM / GIF8 / qoif /
    * RIFF+WAVE(fmt 1) / RIFF+WAVE(fmt 6|7) / RIFF+AVI). One output
    * schema regardless of modality, so downstream routing is a plain
    * groupBy(fmt) — no per-format branches in the plan. */
  def routeMixedFeatures(df: DataFrame, idCol: String,
                         payloadCol: String): Dataset[RouteRow] = {
    import graft.functions._
    perPayload(df, idCol, payloadCol) { (id, b) =>
      BmpPixels.decode(b).map(f =>
          RouteRow(id, "bmp", f.width.toLong * f.height, f.meanR))
        .orElse(GifPixels.decode(b).map(f =>
          RouteRow(id, "gif", f.width.toLong * f.height, f.meanR)))
        .orElse(QoiPixels.decode(b).map(f =>
          RouteRow(id, "qoi", f.width.toLong * f.height, f.meanR)))
        .orElse(WavPcm.decode(b).map(f =>
          RouteRow(id, "pcm", f.nFrames * f.channels, f.meanAmp)))
        .orElse(G711Wav.decode(b).map(f =>
          RouteRow(id, f.codec, f.nFrames * f.channels, f.meanAmp)))
        .orElse(Rle8Avi.decode(b).map(f =>
          RouteRow(id, "rle8",
            f.nFrames.toLong * f.width * f.height, f.meanVal)))
    }
  }
}
