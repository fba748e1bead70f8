package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._

/** Multimodal decode: image, audio and video payloads synthesized per
  * document and decoded by the native codecs, each replayed by an oracle
  * that shares the decoder's constants. A query lands here when its
  * build calls `Multimodal` or one of the codec objects. */
object MultimodalQueries {

  def defs: Seq[QueryDef] = Seq(
    // Multimodal plumbing: opaque binary payload + frame slicing over it.
    // Every output column is deterministic byte arithmetic on the payload
    // (size, count of non-empty sampled frames, total sampled bytes), so
    // the query is fully DuckDB-oracle-able. The decode stub (hash-fake,
    // engine-specific by construction) is exercised in MultimodalSpec.
    QueryDef("q30_multimodal_meta", (s, d) => {
      val withPayload = Tables.documents(s, d)
        .withColumn("payload", Multimodal.toPayload($"text"))
        .withColumn("frames", Multimodal.sampleFrames($"payload", 4, 16))
      withPayload.select($"doc_id",
          octet_length($"payload").as("n_bytes"),
          size(filter($"frames", f => octet_length(f) > 0)).as("n_frames"),
          aggregate($"frames", lit(0), (acc, f) => acc + octet_length(f))
            .as("frame_bytes"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(least(4, (octet_length(encode(text)) + 15) // 16) AS INT)
        |    AS n_frames,
        |  CAST(least(octet_length(encode(text)), 64) AS INT)
        |    AS frame_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // BMP DECODE roundtrip — the pixel tier under the ORACLE: build
    // real 24-bit BMP payloads from a closed-form pixel function (the
    // UDF is the image GENERATOR — fixture construction, not a hot
    // path), decode them with the real byte-arithmetic codec
    // (Multimodal.decodeBmpFeatures), and report channel means. DuckDB
    // never parses BMP: it computes the same means directly from the
    // pixel formula — so padding, row-order or channel-order bugs in
    // the decoder break the hash, not just a spec.
    QueryDef("q88_bmp_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.BmpPixels.encode(
        (4 + id % 5).toInt, (3 + id % 3).toInt,
        (x, y) => (((id + x * 7 + y * 13) % 256).toInt,
          ((id * 3 + x * 11 + y) % 256).toInt,
          ((id * 7 + x + y * 5) % 256).toInt)))
      val imgs = Tables.documents(s, d).filter($"doc_id" < 50)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeBmpFeatures(imgs, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"width", $"height",
          Fns.roundU($"mean_r", 4).as("mean_r"),
          Fns.roundU($"mean_g", 4).as("mean_g"),
          Fns.roundU($"mean_b", 4).as("mean_b"),
          Fns.roundU($"mean_luma", 4).as("mean_luma"))
        .orderBy($"doc_id")
    },
    // q88: the oracle reproduces the pixel FORMULA, not the file bytes
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS width,
        |    CAST(3 + doc_id % 3 AS INT) AS height
        |  FROM documents WHERE doc_id < 50),
        |px AS (
        |  SELECT doc_id, width, height,
        |    (doc_id + x.i * 7 + y.i * 13) % 256 AS r,
        |    (doc_id * 3 + x.i * 11 + y.i) % 256 AS g,
        |    (doc_id * 7 + x.i + y.i * 5) % 256 AS b
        |  FROM d, unnest(range(0, width)) AS x(i),
        |    unnest(range(0, height)) AS y(i)),
        |m AS (
        |  SELECT doc_id, width, height,
        |    avg(CAST(r AS DOUBLE)) AS mr, avg(CAST(g AS DOUBLE)) AS mg,
        |    avg(CAST(b AS DOUBLE)) AS mb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, width, height,
        |  floor(mr * 10000 + 0.5) / 10000.0 AS mean_r,
        |  floor(mg * 10000 + 0.5) / 10000.0 AS mean_g,
        |  floor(mb * 10000 + 0.5) / 10000.0 AS mean_b,
        |  floor((0.299 * mr + 0.587 * mg + 0.114 * mb) * 10000 + 0.5)
        |    / 10000.0 AS mean_luma
        |FROM m ORDER BY doc_id""".stripMargin)),

    // WAV/PCM DECODE — the audio sample tier under the ORACLE, same
    // treatment as q88's pixel tier: build real 16-bit PCM WAV payloads
    // from a closed-form sample function (the UDF is fixture synthesis,
    // bounded to 50 rows — not a hot path), decode them with the real
    // byte-arithmetic codec (Multimodal.decodeWavFeatures), and report
    // per-clip amplitude stats. DuckDB never parses WAV: it computes
    // the same stats directly from the sample formula — so chunk-walk,
    // interleaving or sign-extension bugs in the decoder break the
    // hash, not just a spec. With this the multimodal fake tier is
    // video-only.
    QueryDef("q95_wav_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.WavPcm.encode(
        8000 + (id % 3).toInt * 4000, 1 + (id % 2).toInt,
        40 + (id % 11).toInt,
        (t, c) => ((id * 31 + t * 1667 + c * 7919) % 2001).toInt - 1000))
      val clips = Tables.documents(s, d).filter($"doc_id" < 50)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeWavFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"n_channels",
          $"n_frames",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak")
        .orderBy($"doc_id")
    },
    // q95: the oracle reproduces the sample FORMULA, not the WAV bytes
    Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) AS n_channels,
        |    CAST(40 + doc_id % 11 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id < 50),
        |s AS (
        |  SELECT doc_id, sample_rate, n_channels, n_frames,
        |    CAST((doc_id * 31 + t.i * 1667 + c.i * 7919) % 2001 - 1000
        |      AS DOUBLE) AS v
        |  FROM d, unnest(range(0, CAST(n_frames AS INT))) AS t(i),
        |    unnest(range(0, n_channels)) AS c(i)),
        |m AS (
        |  SELECT doc_id, sample_rate, n_channels, n_frames,
        |    avg(v) AS ma, sqrt(avg(v * v)) AS r,
        |    CAST(max(abs(v)) AS INT) AS peak
        |  FROM s GROUP BY doc_id, sample_rate, n_channels, n_frames)
        |SELECT doc_id, sample_rate, n_channels, n_frames,
        |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
        |  floor(r * 10000 + 0.5) / 10000.0 AS rms, peak
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Y4M FRAME DECODE — the video frame tier under the ORACLE, same
    // treatment as q88 (BMP pixels) and q95 (WAV samples): build real
    // YUV4MPEG2 streams from closed-form per-plane pixel functions
    // (the UDF is fixture synthesis, bounded to 50 rows — not a hot
    // path), decode them with the real byte-arithmetic codec
    // (Multimodal.decodeY4mFeatures), and report plane means plus
    // inter-frame luma motion. DuckDB never parses y4m: it computes
    // the same stats directly from the pixel formulas — so header
    // grammar, plane-order, chroma-size or frame-walk bugs in the
    // decoder break the hash, not just a spec. With this every
    // multimodal tier (image/audio/video) has an oracled fake-free
    // decode path.
    QueryDef("q104_y4m_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.Y4mFrames.encode(
        (4 + id % 3 * 2).toInt, (4 + id % 2 * 2).toInt,
        (24 + id % 2 * 6).toInt, 1, (2 + id % 4).toInt,
        (f, x, y) => ((id * 31 + f * 17 + x * 7 + y * 13) % 256).toInt,
        (f, u, v) => ((id * 5 + f * 11 + u * 3 + v * 19) % 256).toInt,
        (f, u, v) => ((id * 7 + f * 13 + u * 17 + v * 3) % 256).toInt))
      val clips = Tables.documents(s, d).filter($"doc_id" < 50)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeY4mFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"width", $"height", $"fps_num",
          $"n_frames",
          Fns.roundU($"mean_y", 4).as("mean_y"),
          Fns.roundU($"mean_cb", 4).as("mean_cb"),
          Fns.roundU($"mean_cr", 4).as("mean_cr"),
          Fns.roundU($"motion", 4).as("motion"))
        .orderBy($"doc_id")
    },
    // q104: the oracle reproduces the per-plane pixel FORMULAS, not the
    // y4m bytes — luma/chroma means on their own grids, motion as the
    // mean abs luma difference between consecutive frames
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(4 + doc_id % 3 * 2 AS INT) AS width,
        |    CAST(4 + doc_id % 2 * 2 AS INT) AS height,
        |    CAST(24 + doc_id % 2 * 6 AS INT) AS fps_num,
        |    CAST(2 + doc_id % 4 AS INT) AS nf
        |  FROM documents WHERE doc_id < 50),
        |ym AS (
        |  SELECT doc_id, avg(CAST(
        |      (doc_id * 31 + f.i * 17 + x.i * 7 + y.i * 13) % 256
        |      AS DOUBLE)) AS my
        |  FROM d, unnest(range(0, nf)) AS f(i),
        |    unnest(range(0, width)) AS x(i),
        |    unnest(range(0, height)) AS y(i)
        |  GROUP BY doc_id),
        |cm AS (
        |  SELECT doc_id,
        |    avg(CAST((doc_id * 5 + f.i * 11 + u.i * 3 + v.i * 19) % 256
        |      AS DOUBLE)) AS mcb,
        |    avg(CAST((doc_id * 7 + f.i * 13 + u.i * 17 + v.i * 3) % 256
        |      AS DOUBLE)) AS mcr
        |  FROM d, unnest(range(0, nf)) AS f(i),
        |    unnest(range(0, width // 2)) AS u(i),
        |    unnest(range(0, height // 2)) AS v(i)
        |  GROUP BY doc_id),
        |mo AS (
        |  SELECT doc_id, avg(abs(
        |    CAST((doc_id * 31 + f.i * 17 + x.i * 7 + y.i * 13) % 256
        |      AS DOUBLE) -
        |    CAST((doc_id * 31 + (f.i - 1) * 17 + x.i * 7 + y.i * 13) % 256
        |      AS DOUBLE))) AS mot
        |  FROM d, unnest(range(1, nf)) AS f(i),
        |    unnest(range(0, width)) AS x(i),
        |    unnest(range(0, height)) AS y(i)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, width, height, fps_num, nf AS n_frames,
        |  floor(my * 10000 + 0.5) / 10000.0 AS mean_y,
        |  floor(mcb * 10000 + 0.5) / 10000.0 AS mean_cb,
        |  floor(mcr * 10000 + 0.5) / 10000.0 AS mean_cr,
        |  floor(mot * 10000 + 0.5) / 10000.0 AS motion
        |FROM d JOIN ym USING (doc_id) JOIN cm USING (doc_id)
        |  JOIN mo USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // PNG PIXEL DECODE — the COMPRESSED-format counterpart to q88's
    // BMP tier: real zlib inflate (the JDK's own Inflater) + all five
    // PNG scanline unfilters, under the oracle. Fixtures cycle filter
    // type per row (y % 5) and alternate grayscale/RGB, so a wrong
    // Paeth predictor or sub-filter stride breaks the hash, not just a
    // spec. DuckDB never parses PNG — it computes the same stats from
    // the generation formula. The fixture UDF is synthesis, bounded to
    // 50 rows; decode is the real per-partition path.
    QueryDef("q167_png_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.PngPixels.encode(
        (4 + id % 5).toInt, (6 + id % 4).toInt, id % 2 == 0,
        (x, y) => (((id + x * 7 + y * 13) % 256).toInt,
          ((id * 3 + x * 11 + y) % 256).toInt,
          ((id * 7 + x + y * 5) % 256).toInt)))
      val imgs = Tables.documents(s, d).filter($"doc_id" < 50)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodePngFeatures(imgs, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"width", $"height", $"channels",
          Fns.roundU($"mean_r", 4).as("mean_r"),
          Fns.roundU($"mean_g", 4).as("mean_g"),
          Fns.roundU($"mean_b", 4).as("mean_b"),
          Fns.roundU($"mean_luma", 4).as("mean_luma"))
        .orderBy($"doc_id")
    },
    // q167: the oracle reproduces the pixel FORMULA, never the PNG
    // bytes — inflate/unfilter bugs break the hash
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS width,
        |    CAST(6 + doc_id % 4 AS INT) AS height,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT)
        |      AS channels
        |  FROM documents WHERE doc_id < 50),
        |px AS (
        |  SELECT doc_id, width, height, channels,
        |    (doc_id + x.i * 7 + y.i * 13) % 256 AS r,
        |    (doc_id * 3 + x.i * 11 + y.i) % 256 AS g,
        |    (doc_id * 7 + x.i + y.i * 5) % 256 AS b
        |  FROM d, unnest(range(0, width)) AS x(i),
        |    unnest(range(0, height)) AS y(i)),
        |m AS (
        |  SELECT doc_id, width, height, channels,
        |    avg(CAST(r AS DOUBLE)) AS mr0, avg(CAST(g AS DOUBLE)) AS mg0,
        |    avg(CAST(b AS DOUBLE)) AS mb0
        |  FROM px GROUP BY 1, 2, 3, 4),
        |mm AS (
        |  SELECT doc_id, width, height, channels, mr0 AS mr,
        |    CASE WHEN channels = 1 THEN mr0 ELSE mg0 END AS mg,
        |    CASE WHEN channels = 1 THEN mr0 ELSE mb0 END AS mb
        |  FROM m)
        |SELECT doc_id, width, height, channels,
        |  floor(mr * 10000 + 0.5) / 10000.0 AS mean_r,
        |  floor(mg * 10000 + 0.5) / 10000.0 AS mean_g,
        |  floor(mb * 10000 + 0.5) / 10000.0 AS mean_b,
        |  floor((0.299 * mr + 0.587 * mg + 0.114 * mb) * 10000 + 0.5)
        |    / 10000.0 AS mean_luma
        |FROM mm ORDER BY doc_id""".stripMargin)),

    // JPEG PIXEL DECODE — the format the fake tier was "waiting on a
    // native codec" for, decoded by the JDK's OWN javax.imageio codec
    // (zero new dependencies). Lossiness is the oracle obstacle, so
    // the fixtures are the exactly-round-tripping profile: GRAYSCALE
    // images whose 8×8 blocks are each constant, quality 1.0 — every
    // AC coefficient is zero, DC quantizes at step 1, no chroma math
    // (see JpegPixels doc). DuckDB never parses a JPEG: it recomputes
    // the decoded means from the block-generation formula. The
    // fixture UDF is synthesis, bounded to 48 rows; decode is the
    // real per-partition path (RGB/lossy profiles decode through the
    // same path, tolerance-gated in MultimodalSpec).
    QueryDef("q189_jpeg_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.JpegPixels
        .encodeGrayBlocks((2 + id % 3).toInt, (1 + id % 4).toInt,
          (bx, by) => ((id * 31 + bx * 17 + by * 7) % 256).toInt))
      val imgs = Tables.documents(s, d).filter($"doc_id" < 48)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeJpegFeatures(imgs, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"width", $"height", $"channels",
          Fns.roundU($"mean_r", 4).as("mean_r"),
          Fns.roundU($"mean_luma", 4).as("mean_luma"))
        .orderBy($"doc_id")
    },
    // q189: the oracle recomputes decoded means from the block
    // formula — it never parses a JPEG; exactness comes from the
    // round-trip-exact fixture profile (see JpegPixels doc). The mean
    // is the same integer ratio on both engines: 64·Σv / (wb·hb·64).
    Some(
      """WITH ids AS (
        |  SELECT doc_id AS id, 2 + doc_id % 3 AS wb,
        |    1 + doc_id % 4 AS hb
        |  FROM documents WHERE doc_id < 48),
        |blocks AS (
        |  SELECT d.id, d.wb, d.hb,
        |    (d.id * 31 + bx.i * 17 + by.i * 7) % 256 AS v
        |  FROM ids d, range(0, 4) bx(i), range(0, 4) by(i)
        |  WHERE bx.i < d.wb AND by.i < d.hb),
        |m AS (
        |  SELECT id, wb, hb,
        |    CAST(64 * sum(v) AS DOUBLE) / (wb * hb * 64) AS mean
        |  FROM blocks GROUP BY 1, 2, 3)
        |SELECT id AS doc_id, CAST(wb * 8 AS INT) AS width,
        |  CAST(hb * 8 AS INT) AS height, CAST(1 AS INT) AS channels,
        |  floor(mean * 10000 + 0.5) / 10000.0 AS mean_r,
        |  floor(mean * 10000 + 0.5) / 10000.0 AS mean_luma
        |FROM m ORDER BY doc_id""".stripMargin)),

    // IMA ADPCM DECODE — COMPRESSED audio under the ORACLE: build
    // valid mono IMA/DVI ADPCM WAVs directly from closed-form
    // COMPRESSED content (per-block predictor/index + per-nibble
    // values — the fixture is a formula, not an encoder run; UDF is
    // bounded fixture synthesis), decode them with the real integer
    // state machine (Multimodal.decodeAdpcmFeatures), and report
    // amplitude stats plus the LAST decoded sample — which depends on
    // every state transition, so decode order is pinned, not just
    // moments. DuckDB never parses a WAV: it replays the exact
    // public-table recurrence as a recursive CTE joined to the step/
    // index tables. Any nibble-order, clamp, or table bug breaks the
    // hash. With this the audio tier has a compressed fake-free slice
    // (PCM: q95); only perceptual codecs (MP3/AAC) stay injected.
    QueryDef("q194_adpcm_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.AdpcmWav.encodeRaw(
        8000 + (id % 3).toInt * 4000,
        12 + (id % 2).toInt * 4,
        2 + (id % 3).toInt,
        blk => ((id * 131 + blk * 71) % 2001).toInt - 1000,
        blk => ((id * 11 + blk * 17) % 89).toInt,
        (blk, j) => ((id * 7 + blk * 5 + j * 3) % 16).toInt))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeAdpcmFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"n_blocks",
          $"n_samples",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q194: the oracle replays the public IMA ADPCM decode recurrence
    // as a recursive CTE joined to the step/index-adjust tables — it
    // never parses a WAV byte. j=0 is the block-header predictor
    // sample; each iteration advances every (doc, block) one nibble.
    // All stats ride exact-integer partial sums (order-independent),
    // rounded once like q95.
    Some(
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |    12 + (doc_id % 2) * 4 AS ba,
        |    CAST(2 + doc_id % 3 AS INT) AS nblocks
        |  FROM documents WHERE doc_id < 40),
        |steps AS (
        |  SELECT CAST(r.i AS INT) AS si, list_extract([
        |    7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
        |    50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
        |    230,253,279,307,337,371,408,449,494,544,598,658,724,796,
        |    876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
        |    2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,
        |    7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,
        |    20350,22385,24623,27086,29794,32767], r.i + 1) AS stp
        |  FROM range(0, 89) r(i)),
        |adj AS (
        |  SELECT CAST(r.i AS INT) AS nb, list_extract(
        |    [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8], r.i + 1) AS dlt
        |  FROM range(0, 16) r(i)),
        |blk AS (
        |  SELECT doc_id, b.i AS blk, (ba - 4) * 2 AS nib
        |  FROM d, unnest(range(0, nblocks)) b(i)),
        |dec AS (
        |  SELECT doc_id, blk, nib, 0 AS j,
        |    CAST((doc_id * 131 + blk * 71) % 2001 - 1000 AS INT) AS pred,
        |    CAST((doc_id * 11 + blk * 17) % 89 AS INT) AS idx
        |  FROM blk
        |  UNION ALL
        |  SELECT dec.doc_id, dec.blk, dec.nib, dec.j + 1,
        |    CAST(GREATEST(-32768, LEAST(32767, dec.pred +
        |      (CASE WHEN adj.nb >= 8 THEN -1 ELSE 1 END) *
        |      (steps.stp // 8
        |       + CASE WHEN adj.nb % 8 >= 4 THEN steps.stp ELSE 0 END
        |       + CASE WHEN adj.nb % 4 >= 2 THEN steps.stp // 2 ELSE 0 END
        |       + CASE WHEN adj.nb % 2 = 1 THEN steps.stp // 4 ELSE 0 END)
        |      )) AS INT),
        |    CAST(GREATEST(0, LEAST(88, dec.idx + adj.dlt)) AS INT)
        |  FROM dec
        |  JOIN steps ON steps.si = dec.idx
        |  JOIN adj ON adj.nb =
        |    CAST((dec.doc_id * 7 + dec.blk * 5 + dec.j * 3) % 16 AS INT)
        |  WHERE dec.j < dec.nib),
        |m AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    avg(CAST(pred AS DOUBLE)) AS ma,
        |    sqrt(avg(CAST(pred AS DOUBLE) * pred)) AS r,
        |    CAST(max(abs(pred)) AS INT) AS peak
        |  FROM dec GROUP BY doc_id),
        |l AS (
        |  SELECT doc_id, CAST(pred AS INT) AS last_sample FROM dec
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY blk DESC, j DESC) = 1)
        |SELECT d.doc_id, d.sample_rate, d.nblocks AS n_blocks,
        |  m.n_samples,
        |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
        |  floor(r * 10000 + 0.5) / 10000.0 AS rms, m.peak,
        |  l.last_sample
        |FROM d JOIN m USING (doc_id) JOIN l USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // MJPEG VIDEO DECODE — CODED video under the ORACLE: build real
    // Motion-JPEG AVI files (RIFF container, per-frame baseline JPEG)
    // from the exactly-round-tripping grayscale constant-block profile
    // (q189's proof), walk the AVI LIST structure and decode every
    // frame with the JDK's own javax.imageio codec
    // (Multimodal.decodeMjpegFeatures). mean luma and inter-frame
    // motion are integer pixel sums with ONE final double division, so
    // DuckDB recomputes both from the block formula without parsing a
    // byte — container-walk, frame-boundary, or codec bugs break the
    // hash. With q104 (uncompressed Y4M) the video tier now has both
    // an uncompressed and a CODED fake-free slice; only inter-frame
    // codecs (H.264/VP9) stay on the injected-codec path.
    QueryDef("q195_mjpeg_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.MjpegAvi.encodeGrayBlocks(
        1 + (id % 3).toInt, 1 + (id % 2).toInt, 2 + (id % 3).toInt,
        (f, bx, by) => ((id * 31 + f * 29 + bx * 7 + by * 13) % 256).toInt))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeMjpegFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"n_frames", $"width", $"height",
          $"channels",
          Fns.roundU($"mean_luma", 4).as("mean_luma"),
          Fns.roundU($"motion", 4).as("motion"))
        .orderBy($"doc_id")
    },
    // q195: the oracle recomputes frame stats from the constant-block
    // formula (the q189 exact-round-trip profile): per-frame pixel
    // sums are exact integers (64 px per constant block), mean luma
    // and motion are one double division each — it never parses a
    // container or JPEG byte.
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS wb,
        |    CAST(1 + doc_id % 2 AS INT) AS hb,
        |    CAST(2 + doc_id % 3 AS INT) AS nf
        |  FROM documents WHERE doc_id < 40),
        |fs AS (
        |  SELECT doc_id, f.i AS f, 64 * sum(
        |      (doc_id * 31 + f.i * 29 + bx.i * 7 + by.i * 13) % 256) AS s
        |  FROM d, unnest(range(0, nf)) f(i),
        |    unnest(range(0, wb)) bx(i), unnest(range(0, hb)) by(i)
        |  GROUP BY doc_id, f.i),
        |w AS (
        |  SELECT doc_id, f, s,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS ps
        |  FROM fs),
        |agg AS (
        |  SELECT doc_id, sum(s) AS tot,
        |    sum(CASE WHEN f > 0 THEN abs(s - ps) ELSE 0 END) AS mo
        |  FROM w GROUP BY doc_id)
        |SELECT d.doc_id, d.nf AS n_frames,
        |  CAST(d.wb * 8 AS INT) AS width, CAST(d.hb * 8 AS INT) AS height,
        |  CAST(1 AS INT) AS channels,
        |  floor(CAST(tot AS DOUBLE) / (nf * wb * 8 * hb * 8) * 10000
        |    + 0.5) / 10000.0 AS mean_luma,
        |  floor((CASE WHEN nf < 2 THEN 0.0 ELSE
        |    CAST(mo AS DOUBLE) / ((nf - 1) * wb * 8 * hb * 8) END)
        |    * 10000 + 0.5) / 10000.0 AS motion
        |FROM d JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // FLAC DECODE — LOSSLESS compressed audio under the ORACLE,
    // completing the audio compression triad (q95 PCM uncompressed,
    // q194 ADPCM lossy, this lossless): conformant mono 16-bit FLAC
    // streams with FIXED-prediction subframes, Rice-coded residuals
    // and VERIFIED CRC-8/CRC-16, built from closed-form warmup/
    // residual formulas (the fixture writes the compressed stream
    // directly — no encoder search) and decoded by the real
    // bit-arithmetic codec (Multimodal.decodeFlacFeatures). Because
    // FLAC is lossless, the decoded samples ARE the fixed-predictor
    // recurrence over the residuals — which DuckDB replays as a
    // recursive CTE (the q194 discipline; order varies per doc, so
    // all three predictor forms are exercised). Any Rice, bit-order,
    // CRC or predictor bug breaks the hash. LPC subframes get the
    // same treatment in q305.
    QueryDef("q204_flac_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.FlacAudio.encodeFixed(
        8000 + (id % 3).toInt * 4000, 48, 1 + (id % 2).toInt,
        (id % 3).toInt, 4,
        (f, j) => ((id * 13 + f * 3 + j * 7) % 65).toInt - 32,
        (f, i) => ((id * 7 + f * 11 + i * 5) % 17).toInt - 8))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeFlacFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"n_frames",
          $"n_samples",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q204: FLAC is lossless, so the oracle replays the fixed-
    // predictor recurrence over the closed-form warmup/residual
    // formulas as a recursive CTE — it never parses a FLAC byte. The
    // per-doc order (0/1/2) selects the predictor form; warmup rows
    // come straight from the formula, recurrence rows advance one
    // sample per iteration carrying (p1, p2). The p1-update expression
    // is duplicated into the emitted sample column because SQL select
    // lists cannot self-reference aliases.
    Some(
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) AS nf,
        |    CAST(doc_id % 3 AS INT) AS o
        |  FROM documents WHERE doc_id < 40),
        |fr AS (
        |  SELECT doc_id, o, fx.i AS f
        |  FROM d, unnest(range(0, nf)) fx(i)),
        |warm AS (
        |  SELECT doc_id, f, CAST(j.i AS INT) AS i,
        |    CAST((doc_id * 13 + f * 3 + j.i * 7) % 65 - 32 AS INT) AS s
        |  FROM fr, unnest(range(0, o)) j(i)),
        |dec AS (
        |  SELECT doc_id, f, o, o - 1 AS i,
        |    CAST(CASE WHEN o >= 1 THEN
        |        (doc_id * 13 + f * 3 + (o - 1) * 7) % 65 - 32
        |      ELSE 0 END AS INT) AS p1,
        |    CAST(CASE WHEN o >= 2 THEN
        |        (doc_id * 13 + f * 3 + (o - 2) * 7) % 65 - 32
        |      ELSE 0 END AS INT) AS p2,
        |    CAST(NULL AS INT) AS s
        |  FROM fr
        |  UNION ALL
        |  SELECT doc_id, f, o, i + 1,
        |    CAST(CASE WHEN o = 0 THEN
        |        (doc_id * 7 + f * 11 + (i + 1) * 5) % 17 - 8
        |      WHEN o = 1 THEN
        |        p1 + ((doc_id * 7 + f * 11 + (i + 1 - o) * 5) % 17 - 8)
        |      ELSE
        |        2 * p1 - p2
        |          + ((doc_id * 7 + f * 11 + (i + 1 - o) * 5) % 17 - 8)
        |      END AS INT) AS p1,
        |    p1 AS p2,
        |    CAST(CASE WHEN o = 0 THEN
        |        (doc_id * 7 + f * 11 + (i + 1) * 5) % 17 - 8
        |      WHEN o = 1 THEN
        |        p1 + ((doc_id * 7 + f * 11 + (i + 1 - o) * 5) % 17 - 8)
        |      ELSE
        |        2 * p1 - p2
        |          + ((doc_id * 7 + f * 11 + (i + 1 - o) * 5) % 17 - 8)
        |      END AS INT) AS s
        |  FROM dec WHERE i < 47),
        |alls AS (
        |  SELECT doc_id, f, i, s FROM warm
        |  UNION ALL
        |  SELECT doc_id, f, i, s FROM dec WHERE i >= o AND s IS NOT NULL),
        |""".stripMargin + flacStatsOracle)),

    // SCENE-CUT DETECTION — the PER-FRAME multimodal decode surface
    // (one row per video frame, not one aggregate per clip), feeding
    // the standard shot-boundary gate: a cut where the inter-frame
    // luma delta exceeds a threshold. Fixtures change content every
    // 2 frames ((f div 2) in the block formula), so ground-truth cuts
    // are structural. Frame sums are EXACT integers and the gate is
    // the cross-multiplied integer test |dS| > 40*w*h (mean delta
    // > 40) -- no float threshold; only the reported per-frame mean
    // divides once. The oracle recomputes sums from the block formula
    // and applies the same lag + gate.
    QueryDef("q206_scene_cuts", (s, d) => {
      val mk = udf((id: Long) => graft.functions.MjpegAvi.encodeGrayBlocks(
        2 + (id % 2).toInt, 2, 4 + (id % 3).toInt * 2,
        (f, bx, by) =>
          ((id * 31 + (f / 2) * 97 + bx * 7 + by * 13) % 256).toInt))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      val frames = Multimodal.decodeMjpegFrames(clips, "doc_id", "payload")
        .toDF()
      val w = Window.partitionBy($"id").orderBy($"frame_idx")
      frames
        .withColumn("__prev", lag($"luma_sum", 1).over(w))
        .select($"id".as("doc_id"), $"frame_idx",
          Fns.roundU($"luma_sum".cast("double")
            / ($"width" * $"height"), 4).as("mean_luma"),
          ($"frame_idx" > 0 &&
            abs($"luma_sum" - $"__prev") > lit(40L) * $"width" * $"height")
            .as("is_cut"))
        .orderBy($"doc_id", $"frame_idx")
    },
    // q206: per-frame sums from the block formula, same lag + the
    // same cross-multiplied integer cut gate
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(2 + doc_id % 2 AS INT) AS wb, 2 AS hb,
        |    CAST(4 + (doc_id % 3) * 2 AS INT) AS nf
        |  FROM documents WHERE doc_id < 40),
        |fs AS (
        |  SELECT doc_id, CAST(f.i AS INT) AS frame_idx,
        |    wb * 8 AS w, hb * 8 AS h,
        |    64 * sum((doc_id * 31 + (f.i // 2) * 97 + bx.i * 7
        |      + by.i * 13) % 256) AS s
        |  FROM d, unnest(range(0, nf)) f(i), unnest(range(0, wb)) bx(i),
        |    unnest(range(0, hb)) by(i)
        |  GROUP BY doc_id, f.i, wb, hb),
        |lg AS (
        |  SELECT *, lag(s) OVER (PARTITION BY doc_id ORDER BY frame_idx)
        |    AS ps
        |  FROM fs)
        |SELECT doc_id, frame_idx,
        |  floor(CAST(s AS DOUBLE) / (w * h) * 10000 + 0.5) / 10000.0
        |    AS mean_luma,
        |  frame_idx > 0 AND abs(s - ps) > 40 * w * h AS is_cut
        |FROM lg ORDER BY doc_id, frame_idx""".stripMargin)),

    // GIF DECODE -- the LZW tier of the compression spectrum (PNG =
    // DEFLATE, FLAC = Rice, ADPCM = delta-PCM, JPEG = DCT): real
    // GIF89a files with a REAL greedy-LZW-compressed frame over the
    // identity grayscale palette, decoded by the pure bit-arithmetic
    // codec (LSB-first code packing -- the opposite bit order of
    // FLAC/PNG, its own bug class -- dictionary chain-walk, KwKwK
    // case, CLEAR resets). GIF is lossless, so the oracle recomputes
    // channel means AND the position-weighted index checksum straight
    // from the pixel formula: a transposed, shifted, or
    // off-by-one-dictionary decode breaks the hash, not just the
    // moments.
    QueryDef("q210_gif_decode", (s, d) => {
      // odd docs store INTERLACED (the 4-pass row order) — decode
      // output is identical, so the oracle needs no branch; a
      // de-interlace slip breaks ord_ck
      val mk = udf((id: Long) => graft.functions.GifPixels.encodeGray(
        (6 + id % 7).toInt, (5 + id % 5).toInt,
        (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt,
        interlaced = id % 2 == 1))
      val imgs = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeGifFeatures(imgs, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"width", $"height",
          Fns.roundU($"mean_r", 4).as("mean_r"),
          Fns.roundU($"mean_g", 4).as("mean_g"),
          Fns.roundU($"mean_b", 4).as("mean_b"), $"ord_ck")
        .orderBy($"doc_id")
    },
    // q210: identity-gray palette means all three channel means equal
    // the index mean; the checksum weights each pixel by its
    // row-major position mod 97 -- recomputed from the formula, never
    // from a GIF byte
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(6 + doc_id % 7 AS INT) AS w,
        |    CAST(5 + doc_id % 5 AS INT) AS h
        |  FROM documents WHERE doc_id < 40),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (doc_id * 31 + x.i * 7 + y.i * 13) % 256 AS v,
        |    y.i * w + x.i AS p
        |  FROM d, unnest(range(0, w)) x(i), unnest(range(0, h)) y(i)),
        |m AS (
        |  SELECT doc_id, w, h, avg(CAST(v AS DOUBLE)) AS mv,
        |    CAST(sum(v * (p % 97 + 1)) AS BIGINT) AS ck
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, w AS width, h AS height,
        |  floor(mv * 10000 + 0.5) / 10000.0 AS mean_r,
        |  floor(mv * 10000 + 0.5) / 10000.0 AS mean_g,
        |  floor(mv * 10000 + 0.5) / 10000.0 AS mean_b,
        |  ck AS ord_ck
        |FROM m ORDER BY doc_id""".stripMargin)),

    // QOI DECODE — the dictionary-by-hash + delta member of the
    // compression spectrum (PNG=DEFLATE, GIF=LZW, FLAC=Rice,
    // ADPCM=delta-PCM, JPEG=DCT): real QOI files built by a real
    // greedy encoder (runs, hash-table hits, wrapping diffs, luma
    // deltas, raw RGB all exercised — the fixture formula has
    // palette-quantized block regions and gradient rows on purpose),
    // decoded by the pure byte-arithmetic codec. QOI is lossless, so
    // the oracle recomputes channel means AND the position-weighted
    // checksum straight from the pixel formula: a wrong hash slot,
    // un-wrapped diff, or shifted run breaks the hash, not just the
    // moments.
    QueryDef("q220_qoi_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.QoiPixels.encodeRgb(
        (8 + id % 5).toInt, (6 + id % 4).toInt,
        (x, y) => if (y % 4 == 3) {
          val r = ((x * 3 + id) % 256).toInt
          (r, ((r + 2) % 256).toInt, ((x + id) % 256).toInt)
        } else {
          val v = (((id * 7 + (x / 3) * 5 + (y / 2) * 11) % 8) * 36).toInt
          (v, (v * 2) % 256, 255 - v)
        }))
      val imgs = Tables.documents(s, d).filter($"doc_id" < 48)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeQoiFeatures(imgs, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"width", $"height",
          Fns.roundU($"mean_r", 4).as("mean_r"),
          Fns.roundU($"mean_g", 4).as("mean_g"),
          Fns.roundU($"mean_b", 4).as("mean_b"), $"ord_ck")
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(8 + doc_id % 5 AS INT) AS w,
        |    CAST(6 + doc_id % 4 AS INT) AS h
        |  FROM documents WHERE doc_id < 48),
        |px AS (
        |  SELECT doc_id, w, h, y.i * w + x.i AS p,
        |    CASE WHEN y.i % 4 = 3 THEN (x.i * 3 + doc_id) % 256
        |      ELSE ((doc_id * 7 + (x.i // 3) * 5 + (y.i // 2) * 11)
        |        % 8) * 36 END AS r,
        |    CASE WHEN y.i % 4 = 3
        |      THEN ((x.i * 3 + doc_id) % 256 + 2) % 256
        |      ELSE (((doc_id * 7 + (x.i // 3) * 5 + (y.i // 2) * 11)
        |        % 8) * 36 * 2) % 256 END AS g,
        |    CASE WHEN y.i % 4 = 3 THEN (x.i + doc_id) % 256
        |      ELSE 255 - ((doc_id * 7 + (x.i // 3) * 5 + (y.i // 2)
        |        * 11) % 8) * 36 END AS b
        |  FROM d, unnest(range(0, w)) x(i), unnest(range(0, h)) y(i)),
        |m AS (
        |  SELECT doc_id, w, h,
        |    avg(CAST(r AS DOUBLE)) AS mr, avg(CAST(g AS DOUBLE)) AS mg,
        |    avg(CAST(b AS DOUBLE)) AS mb,
        |    CAST(sum((r + 2 * g + 3 * b) * (p % 97 + 1)) AS BIGINT)
        |      AS ck
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, w AS width, h AS height,
        |  floor(mr * 10000 + 0.5) / 10000.0 AS mean_r,
        |  floor(mg * 10000 + 0.5) / 10000.0 AS mean_g,
        |  floor(mb * 10000 + 0.5) / 10000.0 AS mean_b,
        |  ck AS ord_ck
        |FROM m ORDER BY doc_id""".stripMargin)),

    // AUDIO FIR DOWNSAMPLE — the DSP tier over the REAL sample-level
    // WAV decode (WavPcm.samples): a boxcar low-pass of length 4
    // fused with decimation by 2, entirely in INT64 (the divide is
    // offset-shifted so the numerator is non-negative — floor and
    // truncation agree, killing the cross-engine negative-division
    // class at the root). The filter runs as Column arithmetic over
    // the sample array (one transform over the output index range —
    // whole-stage codegen, no per-sample UDF), and the readout is
    // exact integers: output length, peak, total |amplitude|, and a
    // position-weighted checksum so a shifted or truncated decode
    // cannot slip through. The oracle reconstructs the known fixture
    // waveform and replays the identical filter arithmetic.
    QueryDef("q269_audio_downsample", (s, d) => {
      val mk = udf((id: Long) => graft.functions.WavPcm.encode(
        8000, 1, (200 + id % 50).toInt,
        (t, _) => ((id * 31 + t * 1667) % 2001).toInt - 1000))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      val sm = Multimodal.decodeWavSamples(clips, "doc_id", "payload")
      val y = expr(
        """transform(
          |  sequence(0, CAST((size(samples) - 2) div 2 - 1 AS INT)),
          |  k -> ((element_at(samples, 2*k+1)
          |    + element_at(samples, 2*k+2)
          |    + element_at(samples, 2*k+3)
          |    + element_at(samples, 2*k+4)
          |    + 4000) div 4) - 1000)""".stripMargin)
      sm.select($"id".as("doc_id"), size($"samples").as("n_in"), y.as("__y"))
        .select($"doc_id", $"n_in".cast("long").as("n_in"),
          size($"__y").cast("long").as("n_out"),
          expr("aggregate(__y, 0L, (a, x) -> a + abs(x))").as("energy"),
          expr("array_max(transform(__y, x -> abs(x)))").cast("long")
            .as("peak"),
          expr("aggregate(zip_with(__y, sequence(1, size(__y)), " +
            "(v, i) -> v * i), 0L, (a, x) -> a + x)").as("ord_ck"))
        .orderBy($"doc_id")
    },
    // q269: the fixture waveform reconstructed in SQL and the
    // identical offset-shifted integer filter replayed per output tap
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(200 + doc_id % 50 AS BIGINT) AS n
        |  FROM documents WHERE doc_id < 40),
        |y AS (
        |  SELECT doc_id, n, k.i AS k,
        |    ((((doc_id * 31 + (2 * k.i) * 1667) % 2001 - 1000)
        |     + ((doc_id * 31 + (2 * k.i + 1) * 1667) % 2001 - 1000)
        |     + ((doc_id * 31 + (2 * k.i + 2) * 1667) % 2001 - 1000)
        |     + ((doc_id * 31 + (2 * k.i + 3) * 1667) % 2001 - 1000)
        |     + 4000) // 4) - 1000 AS v
        |  FROM d, unnest(range(0, CAST((n - 2) // 2 AS INT)))
        |    AS k(i))
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_in,
        |  CAST(count(*) AS BIGINT) AS n_out,
        |  CAST(sum(abs(v)) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(sum(v * (k + 1)) AS BIGINT) AS ord_ck
        |FROM y GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // AUDIO RMS WINDOWS — loudness profiling over the REAL
    // sample-level WAV decode (q269's tier): 64-sample windows, each
    // window's RMS as the exact integer isqrt(Σx² div 64) — the q295
    // native expression inside a higher-order lambda, so the whole
    // feature extraction (decode → window → sum-of-squares → root)
    // never touches a float. Hot-window count (the clipping/loudness
    // gate a normalization pipeline keys on) and a position-weighted
    // checksum pin window ORDER, not just the multiset; the oracle
    // reconstructs the fixture waveform and replays every window
    // with its own corrected floor(sqrt).
    QueryDef("q296_audio_rms", (s, d) => {
      val mk = udf((id: Long) => graft.functions.WavPcm.encode(
        8000, 1, (300 + id % 80).toInt,
        (t, _) => ((id * 37 + t * 997) % 2001).toInt - 1000))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      val sm = Multimodal.decodeWavSamples(clips, "doc_id", "payload")
      val rms = expr(
        """transform(
          |  sequence(0, CAST(size(samples) div 64 - 1 AS INT)),
          |  w -> isqrt(aggregate(slice(samples, 64*w+1, 64), 0L,
          |    (a, x) -> a + CAST(x AS BIGINT) * x) div 64))"""
          .stripMargin)
      sm.select($"id".as("doc_id"), rms.as("__r"))
        .select($"doc_id",
          size($"__r").cast("long").as("n_windows"),
          expr("array_max(__r)").as("rms_peak"),
          expr("aggregate(__r, 0L, (a, x) -> a + " +
            "(CASE WHEN x >= 560 THEN 1L ELSE 0L END))").as("n_hot"),
          expr("aggregate(zip_with(__r, sequence(1, size(__r)), " +
            "(v, i) -> v * i), 0L, (a, x) -> a + x)").as("ord_ck"))
        .orderBy($"doc_id")
    },
    // q296: the fixture waveform rebuilt per (window, tap) and every
    // window's RMS replayed with the corrected floor(sqrt) isqrt
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(300 + doc_id % 80 AS BIGINT) AS n
        |  FROM documents WHERE doc_id < 40),
        |w AS (
        |  SELECT doc_id, n, wi.i AS w
        |  FROM d, unnest(range(0, CAST(n // 64 AS INT))) AS wi(i)),
        |sq AS (
        |  SELECT doc_id, w,
        |    sum(((doc_id * 37 + (64 * w + t.j) * 997) % 2001 - 1000)
        |      * ((doc_id * 37 + (64 * w + t.j) * 997) % 2001 - 1000))
        |      AS sqsum
        |  FROM w, unnest(range(0, 64)) AS t(j)
        |  GROUP BY 1, 2),
        |m AS (SELECT doc_id, w, CAST(sqsum // 64 AS BIGINT) AS m
        |  FROM sq),
        |f AS (SELECT doc_id, w, m,
        |    CAST(floor(sqrt(CAST(m AS DOUBLE))) AS BIGINT) AS f0
        |  FROM m),
        |q AS (SELECT doc_id, w,
        |    CASE WHEN (f0 + 1) * (f0 + 1) <= m THEN f0 + 1
        |      WHEN f0 > 0 AND f0 * f0 > m THEN f0 - 1
        |      ELSE f0 END AS rms
        |  FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(max(rms) AS BIGINT) AS rms_peak,
        |  CAST(sum(CASE WHEN rms >= 560 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hot,
        |  CAST(sum(rms * (w + 1)) AS BIGINT) AS ord_ck
        |FROM q GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // FLAC LPC DECODE — the other half of real-world FLAC (q204
    // covers the fixed predictors; actual encoders emit LPC for
    // almost every frame): quantized-coefficient linear prediction,
    // s[t] = r[t] + ((Σ cᵢ·s[t−1−i]) >> shift), with the coefficient
    // vector (3, −1) at shift 2 — contractive (characteristic roots
    // at modulus 0.5), so the closed-form residual stream produces a
    // bounded signal any SQL engine can replay. The arithmetic right
    // shift is the trap this query pins: DuckDB's `//` truncates
    // toward zero while `>>` must floor, so the oracle spells the
    // shift as floor(x / 4.0) — one wrong negative prediction breaks
    // the hash. CRC-8/16 verified as always; the whole decode rides
    // the same codec as q204, exercising the LPC branch end to end.
    QueryDef("q305_flac_lpc", (s, d) => {
      val mk = udf((id: Long) => graft.functions.FlacAudio.encodeLpc(
        8000 + (id % 3).toInt * 4000, 48, 1 + (id % 2).toInt,
        Array(3, -1), 4, 2, 4,
        (f, j) => ((id * 13 + f * 3 + j * 7) % 65).toInt - 32,
        (f, i) => ((id * 7 + f * 11 + i * 5) % 17).toInt - 8))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeFlacFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"n_frames",
          $"n_samples",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q305: like q204, the oracle replays the predictor recurrence
    // over the closed-form warmup/residual streams — never a FLAC
    // byte. Order is fixed at 2 (coefs 3, −1, shift 2), so the CTE
    // carries (p1, p2); the arithmetic shift is floor(x/4), written
    // floor(x / 4.0) because DuckDB's integer `//`+`%` truncate
    // toward zero (−7//4 = −1, but −7 >> 2 = −2).
    Some(
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) AS nf
        |  FROM documents WHERE doc_id < 40),
        |fr AS (
        |  SELECT doc_id, fx.i AS f
        |  FROM d, unnest(range(0, nf)) fx(i)),
        |warm AS (
        |  SELECT doc_id, f, CAST(j.i AS INT) AS i,
        |    CAST((doc_id * 13 + f * 3 + j.i * 7) % 65 - 32 AS INT) AS s
        |  FROM fr, unnest(range(0, 2)) j(i)),
        |dec AS (
        |  SELECT doc_id, f, 1 AS i,
        |    CAST((doc_id * 13 + f * 3 + 7) % 65 - 32 AS INT) AS p1,
        |    CAST((doc_id * 13 + f * 3) % 65 - 32 AS INT) AS p2,
        |    CAST(NULL AS INT) AS s
        |  FROM fr
        |  UNION ALL
        |  SELECT doc_id, f, i + 1,
        |    CAST(((doc_id * 7 + f * 11 + (i - 1) * 5) % 17 - 8)
        |      + floor((3 * p1 - p2) / 4.0) AS INT) AS p1,
        |    p1 AS p2,
        |    CAST(((doc_id * 7 + f * 11 + (i - 1) * 5) % 17 - 8)
        |      + floor((3 * p1 - p2) / 4.0) AS INT) AS s
        |  FROM dec WHERE i < 47),
        |alls AS (
        |  SELECT doc_id, f, i, s FROM warm
        |  UNION ALL
        |  SELECT doc_id, f, i, s FROM dec
        |  WHERE i >= 2 AND s IS NOT NULL),
        |""".stripMargin + flacStatsOracle)),

    // STEREO FLAC with inter-channel decorrelation — the remaining
    // structural half of real-world FLAC after q305's LPC: each doc
    // encodes the SAME closed-form L/R waveform under a doc-selected
    // channel assignment (independent, left/side, side/right,
    // mid/side — side at 17 bits, mid = (l+r)>>1 with the lost low
    // bit restored from side's parity), so the oracle replays the raw
    // L/R formulas with NO knowledge of the assignment: hash equality
    // proves all three decorrelation inverses are exact. Subframes
    // are VERBATIM so no recurrence exists — the decorrelation
    // arithmetic alone is under test; CRC-8/16 verified as always.
    QueryDef("q306_flac_stereo", (s, d) => {
      val asns = Array(1, 8, 9, 10)
      val mk = udf((id: Long) => graft.functions.FlacAudio
        .encodeStereoVerbatim(22050, 48, 1 + (id % 2).toInt,
          asns((id % 4).toInt),
          (f, t) => ((id * 37 + f * 3 + t * 997) % 2001).toInt - 1000,
          (f, t) => ((id * 53 + f * 7 + t * 613) % 2001).toInt - 1000))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeFlacFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"n_frames",
          $"n_samples",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q306: verbatim stereo means the decoded interleaved stream IS
    // the raw L/R closed forms — the oracle never sees the channel
    // assignment (independent vs left/side vs side/right vs mid/side
    // is the Spark side's per-doc choice), so hash equality certifies
    // every decorrelation inverse. last_sample = R of the final
    // (frame, t) by the interleaved t-major/channel-minor order.
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS nf
        |  FROM documents WHERE doc_id < 40),
        |s AS (
        |  SELECT doc_id, nf, fx.f, tx.t,
        |    CAST((doc_id * 37 + fx.f * 3 + tx.t * 997) % 2001 - 1000
        |      AS INT) AS l,
        |    CAST((doc_id * 53 + fx.f * 7 + tx.t * 613) % 2001 - 1000
        |      AS INT) AS r
        |  FROM d, unnest(range(0, nf)) fx(f), unnest(range(0, 48)) tx(t)),
        |m AS (
        |  SELECT doc_id,
        |    CAST(2 * count(*) AS BIGINT) AS n_samples,
        |    (sum(CAST(l AS DOUBLE)) + sum(CAST(r AS DOUBLE)))
        |      / (2 * count(*)) AS ma,
        |    sqrt((sum(CAST(l AS DOUBLE) * l) + sum(CAST(r AS DOUBLE) * r))
        |      / (2 * count(*))) AS rm,
        |    CAST(greatest(max(abs(l)), max(abs(r))) AS INT) AS peak
        |  FROM s GROUP BY doc_id),
        |ls AS (
        |  SELECT doc_id, r AS last_sample FROM s
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY f DESC, t DESC) = 1)
        |SELECT d.doc_id, CAST(22050 AS INT) AS sample_rate,
        |  d.nf AS n_frames, m.n_samples,
        |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
        |  floor(rm * 10000 + 0.5) / 10000.0 AS rms, m.peak,
        |  ls.last_sample
        |FROM d JOIN m USING (doc_id) JOIN ls USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // MULTICHANNEL FLAC — the surround/multitrack layout tier after
    // q306's stereo decorrelation: 1-8 INDEPENDENT channels (channel
    // assignment = channels−1 per spec), each doc a different channel
    // count, stats over the t-major/channel-minor interleaved stream.
    // Verbatim subframes keep the decode a pure closed form of
    // (channel, frame, t), so the oracle replays the formula with the
    // per-doc channel count and hash equality pins the per-frame
    // subframe sequencing (all channels' subframes share one
    // bit-reader between the header CRC-8 and the frame CRC-16 — an
    // off-by-one-bit in any channel breaks every later channel and
    // the CRC). The codec seam is now only non-16-bit depths and
    // perceptual/inter-frame codecs.
    QueryDef("q310_flac_multichannel", (s, d) => {
      val mk = udf((id: Long) => graft.functions.FlacAudio
        .encodeMultiVerbatim(48000, 48, 1 + (id % 2).toInt,
          1 + (id % 8).toInt,
          (ch, f, t) =>
            ((id * 31 + ch * 101 + f * 13 + t * 37) % 2001).toInt
              - 1000))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeFlacFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"n_frames",
          $"n_samples",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q310: per-doc channel count, the same closed-form replay as
    // q306; last_sample = the LAST channel's final sample by the
    // t-major/channel-minor interleave.
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS nf,
        |    CAST(1 + doc_id % 8 AS INT) AS nch
        |  FROM documents WHERE doc_id < 40),
        |s AS (
        |  SELECT doc_id, nf, nch, fx.f, tx.t, cx.ch,
        |    CAST((doc_id * 31 + cx.ch * 101 + fx.f * 13 + tx.t * 37)
        |      % 2001 - 1000 AS INT) AS v
        |  FROM d, unnest(range(0, nf)) fx(f),
        |    unnest(range(0, 48)) tx(t), unnest(range(0, nch)) cx(ch)),
        |m AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    avg(CAST(v AS DOUBLE)) AS ma,
        |    sqrt(avg(CAST(v AS DOUBLE) * v)) AS rm,
        |    CAST(max(abs(v)) AS INT) AS peak
        |  FROM s GROUP BY doc_id),
        |ls AS (
        |  SELECT doc_id, v AS last_sample FROM s
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY f DESC, t DESC, ch DESC) = 1)
        |SELECT d.doc_id, CAST(48000 AS INT) AS sample_rate,
        |  d.nf AS n_frames, m.n_samples,
        |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
        |  floor(rm * 10000 + 0.5) / 10000.0 AS rms, m.peak,
        |  ls.last_sample
        |FROM d JOIN m USING (doc_id) JOIN ls USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // G.711 μ-LAW / A-LAW — the LOSSY-companded telephony tier
    // (WAVE format tags 7/6). The first genuinely lossy codec in the
    // audio family, and still fully SQL-oracled: expanding a codeword
    // back to linear PCM is a pure CLOSED FORM of the byte (sign +
    // 3-bit segment + 4-bit mantissa, ITU-T G.711), so the oracle
    // replays the expansion arithmetic itself — hash equality
    // certifies both formulas byte-for-byte, not just the plumbing.
    // Each doc picks a codec by parity and 1-3 channels; stats ride
    // the interleaved expanded stream like the other audio tiers.
    QueryDef("q311_g711_decode", (s, d) => {
      val mk = udf((id: Long) => graft.functions.G711Wav.encode(
        id % 2 == 0, 8000, 1 + (id % 3).toInt, 50,
        (t, c) => ((id * 17 + t * 29 + c * 7) % 256).toInt))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeG711Features(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"codec", $"sample_rate",
          $"n_channels", $"n_frames",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q311: DuckDB replays the G.711 expansion formulas themselves
    // (μ-law: complement, segment shift of mantissa+bias 0x84; A-law:
    // 0x55 toggle, segment 0 special case; both per ITU-T G.711) over
    // the same generated codewords — ~k & 0xff spelled 255 - k, sign
    // bit tests spelled >= 128.
    Some(
      """WITH d AS (
        |  SELECT doc_id, doc_id % 2 = 0 AS mu,
        |    CAST(1 + doc_id % 3 AS INT) AS nch
        |  FROM documents WHERE doc_id < 40),
        |s AS (
        |  SELECT doc_id, mu, nch, tx.t, cx.c,
        |    (doc_id * 17 + tx.t * 29 + cx.c * 7) % 256 AS k
        |  FROM d, unnest(range(0, 50)) tx(t),
        |    unnest(range(0, nch)) cx(c)),
        |e AS (
        |  SELECT doc_id, mu, nch, t, c,
        |    CASE WHEN mu THEN
        |      CASE WHEN 255 - k >= 128
        |        THEN 132 - (((255 - k) & 15) * 8 + 132)
        |          * (1 << (((255 - k) >> 4) & 7))
        |        ELSE (((255 - k) & 15) * 8 + 132)
        |          * (1 << (((255 - k) >> 4) & 7)) - 132 END
        |    ELSE
        |      (CASE WHEN xor(k, 85) >= 128 THEN 1 ELSE -1 END) *
        |      (CASE WHEN ((xor(k, 85) >> 4) & 7) = 0
        |        THEN (xor(k, 85) & 15) * 16 + 8
        |        ELSE ((xor(k, 85) & 15) * 16 + 264)
        |          * (1 << (((xor(k, 85) >> 4) & 7) - 1)) END)
        |    END AS v
        |  FROM s),
        |m AS (
        |  SELECT doc_id, avg(CAST(v AS DOUBLE)) AS ma,
        |    sqrt(avg(CAST(v AS DOUBLE) * v)) AS rm,
        |    CAST(max(abs(v)) AS INT) AS peak
        |  FROM e GROUP BY doc_id),
        |ls AS (
        |  SELECT doc_id, CAST(v AS INT) AS last_sample FROM e
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY t DESC, c DESC) = 1)
        |SELECT d.doc_id,
        |  CASE WHEN d.mu THEN 'ulaw' ELSE 'alaw' END AS codec,
        |  CAST(8000 AS INT) AS sample_rate, d.nch AS n_channels,
        |  CAST(50 AS BIGINT) AS n_frames,
        |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
        |  floor(rm * 10000 + 0.5) / 10000.0 AS rms, m.peak,
        |  ls.last_sample
        |FROM d JOIN m USING (doc_id) JOIN ls USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // MS-RLE8 AVI — INTER-FRAME-coded video becomes real. Each clip
    // is a keyframe (absolute-coded full repaint) followed by delta
    // frames that patch ONE row (reached via the 00 02 dx dy delta
    // escape; odd frames run-coded, even frames absolute-coded) and
    // end the bitmap early — every untouched pixel must persist from
    // the previous frame, so the decoder's cross-frame buffer carry
    // is exactly what the oracle's closed-form replay checks: pixel
    // (f,x,y) = the latest row-patch at y on or before f, else the
    // keyframe value. final_ck position-weights the last buffer
    // (Σ val·(y·w+x+1)), pinning the delta-escape cursor arithmetic —
    // a plain sum would accept transposed rows.
    QueryDef("q312_rle8_video", (s, d) => {
      val mk = udf((id: Long) => {
        import graft.functions.Rle8Avi._
        val nf = 16 + (id % 8).toInt
        val frames: Seq[Frame] = Full((x, y) =>
          ((id * 7 + x * 3 + y * 5) % 200).toInt) +:
          (1 until nf).map { f =>
            if (f % 2 == 1)
              RowPatch(f % 8, run = true,
                _ => ((id * 7 + f * 11) % 200).toInt)
            else
              RowPatch(f % 8, run = false,
                x => ((id * 7 + f * 11 + x * 3) % 200).toInt)
          }
        encode(16, 8, frames)
      })
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeRle8Features(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"n_frames", $"width", $"height",
          Fns.roundU($"mean_val", 4).as("mean_val"),
          Fns.roundU($"motion", 4).as("motion"), $"final_ck")
        .orderBy($"doc_id")
    },
    // q312: DuckDB replays the inter-frame compositing CONTRACT in
    // closed form — pixel (f,x,y) comes from the latest row-patch at
    // y on or before f (lp = f − ((f−y) mod 8), the newest frame ≡ y
    // mod 8; frame 0 is the keyframe and patches nothing), else the
    // keyframe formula — while the Spark side reaches the same buffer
    // through the actual RLE8 bitstream (delta escapes, run/absolute
    // modes, bottom-up DIB flip, early EOB carry). Hash equality
    // certifies the decoder's cross-frame carry byte-for-byte.
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(16 + doc_id % 8 AS INT) AS nf
        |  FROM documents WHERE doc_id < 40),
        |g AS (
        |  SELECT doc_id, nf, fx.f, xx.x, yy.y,
        |    fx.f - ((fx.f - yy.y) % 8 + 8) % 8 AS lp
        |  FROM d, unnest(range(0, nf)) fx(f),
        |    unnest(range(0, 16)) xx(x), unnest(range(0, 8)) yy(y)),
        |v AS (
        |  SELECT doc_id, nf, f, x, y,
        |    CASE WHEN lp >= 1 THEN
        |      CASE WHEN lp % 2 = 1 THEN (doc_id * 7 + lp * 11) % 200
        |           ELSE (doc_id * 7 + lp * 11 + x * 3) % 200 END
        |    ELSE (doc_id * 7 + x * 3 + y * 5) % 200 END AS val
        |  FROM g),
        |m AS (SELECT doc_id, sum(val) AS sv FROM v GROUP BY doc_id),
        |mo AS (
        |  SELECT doc_id, sum(abs(val - pv)) AS sd
        |  FROM (SELECT doc_id, val,
        |          lag(val) OVER (PARTITION BY doc_id, x, y ORDER BY f)
        |            AS pv
        |        FROM v)
        |  WHERE pv IS NOT NULL GROUP BY doc_id),
        |fc AS (
        |  SELECT doc_id, sum(val * (y * 16 + x + 1)) AS ck
        |  FROM v WHERE f = nf - 1 GROUP BY doc_id)
        |SELECT d.doc_id, d.nf AS n_frames, CAST(16 AS INT) AS width,
        |  CAST(8 AS INT) AS height,
        |  floor(sv / (d.nf * 128.0) * 10000 + 0.5) / 10000.0 AS mean_val,
        |  floor(sd / ((d.nf - 1) * 128.0) * 10000 + 0.5) / 10000.0
        |    AS motion,
        |  CAST(ck AS BIGINT) AS final_ck
        |FROM d JOIN m USING (doc_id) JOIN mo USING (doc_id)
        |  JOIN fc USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // FLAC BIT-DEPTH tier — each doc a different standard depth
    // (8/12/20/24/32; 16 is the whole q204/q305/q306/q310 family), so
    // hash equality pins the depth's STREAMINFO coding, the frame
    // header's sample-size code, and the n-bit signed sample reads.
    // bits_per_sample is the DECODED value, not the fixture
    // parameter. Sample values stay within ±2^22 so every stat is an
    // exact integer sum with one final division on both engines (a
    // full-range 32-bit value would push Σv² past 2^53 where double
    // accumulation order starts to matter).
    QueryDef("q314_flac_depths", (s, d) => {
      val mk = udf((id: Long) => {
        val bits = (id % 5) match {
          case 0 => 8; case 1 => 12; case 2 => 20; case 3 => 24
          case _ => 32
        }
        val amp = math.min(1 << (bits - 2), 1 << 22)
        graft.functions.FlacAudio.encodeDepthVerbatim(8000, 20, 2, bits,
          (f, t) => ((id * 31 + f * 17 + t * 13) % (2L * amp)).toInt - amp)
      })
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeFlacDepthFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"bits_per_sample", $"sample_rate",
          $"n_frames", $"n_samples",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          Fns.roundU($"rms", 4).as("rms"), $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q314: the depth ladder replayed in closed form — same per-doc
    // depth/amplitude assignment, same t-major sample formula; the
    // Spark side reaches the same numbers through the real FLAC
    // bitstream at each depth's field widths.
    Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 12
        |      WHEN 2 THEN 20 WHEN 3 THEN 24 ELSE 32 END AS INT)
        |      AS bits
        |  FROM documents WHERE doc_id < 40),
        |p AS (
        |  SELECT doc_id, bits,
        |    CASE WHEN bits = 8 THEN 64 WHEN bits = 12 THEN 1024
        |      WHEN bits = 20 THEN 262144 ELSE 4194304 END AS amp
        |  FROM d),
        |s AS (
        |  SELECT doc_id, bits, fx.f, tx.t,
        |    (doc_id * 31 + fx.f * 17 + tx.t * 13) % (2 * amp) - amp
        |      AS v
        |  FROM p, unnest(range(0, 2)) fx(f),
        |    unnest(range(0, 20)) tx(t)),
        |m AS (
        |  SELECT doc_id, avg(CAST(v AS DOUBLE)) AS ma,
        |    sqrt(avg(CAST(v AS DOUBLE) * v)) AS rm,
        |    CAST(max(abs(v)) AS INT) AS peak
        |  FROM s GROUP BY doc_id),
        |ls AS (
        |  SELECT doc_id, CAST(v AS INT) AS last_sample FROM s
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY f DESC, t DESC) = 1)
        |SELECT d.doc_id, d.bits AS bits_per_sample,
        |  CAST(8000 AS INT) AS sample_rate, CAST(2 AS INT) AS n_frames,
        |  CAST(40 AS BIGINT) AS n_samples,
        |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
        |  floor(rm * 10000 + 0.5) / 10000.0 AS rms, m.peak,
        |  ls.last_sample
        |FROM d JOIN m USING (doc_id) JOIN ls USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // MIXED-FORMAT ROUTER — the dispatch stage of a real multimodal
    // corpus: ONE binary column carrying six different formats
    // (image/audio/video; uncompressed, LZW, dictionary+delta,
    // companded, inter-frame), each payload claimed by the codec
    // whose magic/structure validates, all emitting one normalized
    // schema so downstream routing is a plain groupBy(fmt). Every
    // branch is a REAL decoder, so each doc's metric is a closed
    // form of its fixture formula and the whole dispatch sits under
    // the hash oracle. Partition-local (no shuffle to route);
    // unclaimed payloads drop to the injected-codec tier.
    QueryDef("q319_format_router", (s, d) => {
      val mk = udf((id: Long) => ((id % 6).toInt: @unchecked) match {
        case 0 => graft.functions.BmpPixels.encode(8, 6, (x, y) =>
          (((id * 3 + x * 7 + y * 11) % 256).toInt,
            ((id * 5 + x * 11 + y * 3) % 256).toInt,
            ((id * 7 + x * 3 + y * 5) % 256).toInt))
        case 1 => graft.functions.WavPcm.encode(8000, 1, 50,
          (t, _) => ((id * 37 + t * 997) % 2001).toInt - 1000)
        case 2 => graft.functions.GifPixels.encodeGray(8, 6,
          (x, y) => ((id * 5 + x * 3 + y * 7) % 256).toInt)
        case 3 => graft.functions.QoiPixels.encodeRgb(6, 6, (x, y) =>
          (((id * 7 + x * 5 + y * 3) % 256).toInt,
            ((id * 11 + x * 3 + y * 7) % 256).toInt,
            ((id * 13 + x * 7 + y * 5) % 256).toInt))
        case 4 => graft.functions.G711Wav.encode(mu = true, 8000, 1, 50,
          (t, _) => ((id * 17 + t * 29) % 256).toInt)
        case 5 => graft.functions.Rle8Avi.encode(16, 8, Seq(
          graft.functions.Rle8Avi.Full((x, y) =>
            ((id * 7 + x * 3 + y * 5) % 200).toInt)))
      })
      val mixed = Tables.documents(s, d).filter($"doc_id" < 60)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.routeMixedFeatures(mixed, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"fmt", $"n_units",
          Fns.roundU($"metric", 4).as("metric"))
        .orderBy($"doc_id")
    },
    // q319: each format class replayed from its own fixture closed
    // form — the router's dispatch (which codec claimed which doc,
    // with which unit count) is what hash equality certifies.
    Some(
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |b0 AS (
        |  SELECT doc_id, 'bmp' AS fmt, CAST(48 AS BIGINT) AS n_units,
        |    avg(CAST((doc_id * 3 + xx.x * 7 + yy.y * 11) % 256
        |      AS DOUBLE)) AS metric
        |  FROM d, unnest(range(0, 8)) xx(x), unnest(range(0, 6)) yy(y)
        |  WHERE doc_id % 6 = 0 GROUP BY doc_id),
        |b1 AS (
        |  SELECT doc_id, 'pcm', CAST(50 AS BIGINT),
        |    avg(CAST((doc_id * 37 + tt.t * 997) % 2001 - 1000
        |      AS DOUBLE))
        |  FROM d, unnest(range(0, 50)) tt(t)
        |  WHERE doc_id % 6 = 1 GROUP BY doc_id),
        |b2 AS (
        |  SELECT doc_id, 'gif', CAST(48 AS BIGINT),
        |    avg(CAST((doc_id * 5 + xx.x * 3 + yy.y * 7) % 256
        |      AS DOUBLE))
        |  FROM d, unnest(range(0, 8)) xx(x), unnest(range(0, 6)) yy(y)
        |  WHERE doc_id % 6 = 2 GROUP BY doc_id),
        |b3 AS (
        |  SELECT doc_id, 'qoi', CAST(36 AS BIGINT),
        |    avg(CAST((doc_id * 7 + xx.x * 5 + yy.y * 3) % 256
        |      AS DOUBLE))
        |  FROM d, unnest(range(0, 6)) xx(x), unnest(range(0, 6)) yy(y)
        |  WHERE doc_id % 6 = 3 GROUP BY doc_id),
        |b4 AS (
        |  SELECT doc_id, 'ulaw', CAST(50 AS BIGINT),
        |    avg(CAST(CASE WHEN 255 - k >= 128
        |      THEN 132 - (((255 - k) & 15) * 8 + 132)
        |        * (1 << (((255 - k) >> 4) & 7))
        |      ELSE (((255 - k) & 15) * 8 + 132)
        |        * (1 << (((255 - k) >> 4) & 7)) - 132 END AS DOUBLE))
        |  FROM (SELECT doc_id, (doc_id * 17 + tt.t * 29) % 256 AS k
        |        FROM d, unnest(range(0, 50)) tt(t)
        |        WHERE doc_id % 6 = 4) s
        |  GROUP BY doc_id),
        |b5 AS (
        |  SELECT doc_id, 'rle8', CAST(128 AS BIGINT),
        |    avg(CAST((doc_id * 7 + xx.x * 3 + yy.y * 5) % 200
        |      AS DOUBLE))
        |  FROM d, unnest(range(0, 16)) xx(x), unnest(range(0, 8)) yy(y)
        |  WHERE doc_id % 6 = 5 GROUP BY doc_id),
        |u AS (
        |  SELECT * FROM b0 UNION ALL SELECT * FROM b1
        |  UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3
        |  UNION ALL SELECT * FROM b4 UNION ALL SELECT * FROM b5)
        |SELECT doc_id, fmt, n_units,
        |  floor(metric * 10000 + 0.5) / 10000.0 AS metric
        |FROM u ORDER BY doc_id""".stripMargin)),

    // 32-BIT DECORRELATED STEREO FLAC — the last lossless-codec slice:
    // the side channel carries bps+1 = 33 bits, past the Int sample
    // domain, so these fixtures put L/R within 999 of the 32-bit
    // extremes ON OPPOSITE SIDES (parity-alternating), making every
    // side sample |l−r| ≈ 2^32 — a value that only decodes correctly
    // through the decoder's Long-domain subframe reads and Long
    // inverse transforms (Int arithmetic would wrap and the CRC-clean
    // stream would still decode to WRONG samples — exactly what the
    // hash oracle catches). Offsets start at 1 so |sample| ≤ 2^31−1
    // and peak/last_sample stay in INT on both sides. Subframes are
    // VERBATIM: the decoded interleaved stream IS the closed forms,
    // so the oracle never sees the channel assignment — hash equality
    // certifies all three 33-bit decorrelation inverses. Depth comes
    // from the DECODED stream (bits_per_sample = 32), not metadata.
    // No rms column: at 2^31 magnitudes v² needs 62 mantissa bits, so
    // the double Σv² depends on summation ORDER (Spark sums samples
    // sequentially, DuckDB in scan order — ±1e-4 flips possible at
    // the 4-decimal rounding boundary); every emitted column is an
    // exact integer or an exactly-representable mean (|Σv| < 2^39,
    // integer-exact in double on both sides). q306/q314 keep rms
    // where magnitudes make it exact.
    QueryDef("q326_flac32_stereo", (s, d) => {
      val asns = Array(1, 8, 9, 10)
      val mk = udf((id: Long) => graft.functions.FlacAudio
        .encodeStereoVerbatim(44100, 48, 1 + (id % 2).toInt,
          asns((id % 4).toInt),
          (f, t) => {
            val x = (1 + (id * 37 + f * 3 + t * 997) % 999).toInt
            if ((id + f + t) % 2 == 0) Int.MaxValue - x
            else Int.MinValue + x
          },
          (f, t) => {
            val y = (1 + (id * 53 + f * 7 + t * 613) % 999).toInt
            if ((id + f + t) % 2 == 0) Int.MinValue + y
            else Int.MaxValue - y
          },
          bits = 32))
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeFlacDepthFeatures(clips, "doc_id", "payload")
        .toDF()
        .select($"id".as("doc_id"), $"bits_per_sample", $"sample_rate",
          $"n_frames", $"n_samples",
          Fns.roundU($"mean_amp", 4).as("mean_amp"),
          $"peak", $"last_sample")
        .orderBy($"doc_id")
    },
    // q326: verbatim stereo at 32-bit depth — the decoded interleaved
    // stream is the raw closed forms (the Spark side's channel
    // assignment and its 33-bit side-channel inverses are invisible
    // here, which is the point: hash equality certifies them). All
    // arithmetic BIGINT; only exactly-representable columns emitted
    // (see the Spark-side comment on why rms is excluded).
    Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS nf
        |  FROM documents WHERE doc_id < 40),
        |s AS (
        |  SELECT doc_id, nf, fx.f, tx.t,
        |    CASE WHEN (doc_id + fx.f + tx.t) % 2 = 0
        |      THEN 2147483647 - (1 + (doc_id * 37 + fx.f * 3 + tx.t * 997) % 999)
        |      ELSE -2147483648 + (1 + (doc_id * 37 + fx.f * 3 + tx.t * 997) % 999)
        |    END AS l,
        |    CASE WHEN (doc_id + fx.f + tx.t) % 2 = 0
        |      THEN -2147483648 + (1 + (doc_id * 53 + fx.f * 7 + tx.t * 613) % 999)
        |      ELSE 2147483647 - (1 + (doc_id * 53 + fx.f * 7 + tx.t * 613) % 999)
        |    END AS r
        |  FROM d, unnest(range(0, nf)) fx(f), unnest(range(0, 48)) tx(t)),
        |m AS (
        |  SELECT doc_id,
        |    CAST(2 * count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(l) + sum(r) AS DOUBLE) / (2 * count(*)) AS ma,
        |    CAST(greatest(max(abs(l)), max(abs(r))) AS INT) AS peak
        |  FROM s GROUP BY doc_id),
        |ls AS (
        |  SELECT doc_id, CAST(r AS INT) AS last_sample FROM s
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY f DESC, t DESC) = 1)
        |SELECT d.doc_id, CAST(32 AS INT) AS bits_per_sample,
        |  CAST(44100 AS INT) AS sample_rate,
        |  d.nf AS n_frames, m.n_samples,
        |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
        |  m.peak, ls.last_sample
        |FROM d JOIN m USING (doc_id) JOIN ls USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // MPEG-1 AUDIO LAYER I (ISO 11172-3) — real bitstream decode to
    // the exact subband-sample tier (headers, frame sizing, bit
    // allocation, intensity-stereo bound, scalefactors, spec
    // dequantization as one integer multiply per sample — see
    // functions/Mpeg1Audio.scala for the seam argument: Layer II
    // tables and the synthesis window are spec DATA, everything here
    // is spec MATH). Fixtures are conformant frames synthesized from
    // closed forms of (doc, frame, t, subband, channel) across mono /
    // stereo / intensity-joint modes and 1–2 frames; the oracle
    // recomputes the generators symbolically and replays the
    // dequantization with the decoder's own fixed-point QSF constants
    // (embedded into the SQL from the same Scala array), so hash
    // equality certifies the full parse: a one-bit misread of any
    // allocation, scalefactor or sample code shifts every later field.
    QueryDef("q330_mpeg1_layer1", (s, d) => {
      val mk = udf(l1FixturePayload _)
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeMpeg1Features(clips, "doc_id", "payload").toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"bitrate_kbps",
          $"mode_code", $"n_channels", $"n_frames", $"n_samples",
          $"n_active", $"sum_abs_fp", $"peak_fp", $"last_fp")
        .orderBy($"doc_id")
    },
    // q330: MPEG-1 Layer I replayed symbolically — the fixture
    // generators (mode/frames/allocation/scalefactor/code closed
    // forms) re-derive every decoded sample instance, and the
    // dequantization uses THE DECODER'S OWN fixed-point constants:
    // `q330Qsf` below is the Mpeg1Audio.QSF slice for nb 2..9,
    // interpolated into this SQL from the same Scala array the
    // kernel multiplies with, so the two engines share the table by
    // construction (the q329 shared-constants pattern). Joint docs
    // (kind 2) share the channel-0 code above the intensity bound
    // but keep per-channel scalefactors — exactly the decoder's
    // sample loop. All columns integer-exact.
    Some(l1FixtureCtes + s""",
        |smp AS (
        |  SELECT s.doc_id, fx.f, tx.t, s.sb, chx.ch, s.nb,
        |    CAST((s.doc_id * 7 + s.sb * 11 + chx.ch * 3) % 63 AS INT)
        |      AS scf,
        |    CASE WHEN s.sb >= s.bound
        |      THEN (s.doc_id * 97 + fx.f * 31 + tx.t * 13 + s.sb * 17)
        |        % (1 << s.nb)
        |      ELSE (s.doc_id * 97 + fx.f * 31 + tx.t * 13 + s.sb * 17
        |        + chx.ch * 29) % (1 << s.nb)
        |    END AS c
        |  FROM sbs s, unnest(range(0, s.nfr)) fx(f),
        |    unnest(range(0, 12)) tx(t), unnest(range(0, s.nch)) chx(ch)),
        |dq AS (
        |  SELECT doc_id, f, t, sb, ch,
        |    (2 * c + 2 - (1 << nb)) *
        |      ($q330Qsf)[scf * 8 + nb - 1] AS sfp
        |  FROM smp),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(abs(sfp)) AS BIGINT) AS sum_abs_fp,
        |    CAST(max(abs(sfp)) AS BIGINT) AS peak_fp
        |  FROM dq GROUP BY doc_id),
        |lastv AS (
        |  SELECT doc_id, sfp AS last_fp FROM dq
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY f DESC, t DESC, sb DESC, ch DESC) = 1),
        |act AS (
        |  SELECT doc_id,
        |    CAST(max(nfr) * max(nch) * count(DISTINCT sb) AS BIGINT)
        |      AS n_active
        |  FROM sbs GROUP BY doc_id)
        |SELECT d.doc_id, 32000 AS sample_rate, 448 AS bitrate_kbps,
        |  CAST(CASE d.kind WHEN 0 THEN 3 WHEN 1 THEN 0 ELSE 1 END
        |    AS INT) AS mode_code,
        |  d.nch AS n_channels, d.nfr AS n_frames,
        |  a.n_samples, c.n_active, a.sum_abs_fp, a.peak_fp, l.last_fp
        |FROM d
        |JOIN agg a ON a.doc_id = d.doc_id
        |JOIN lastv l ON l.doc_id = d.doc_id
        |JOIN act c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // MPEG-1 AUDIO LAYER II (ISO 11172-3) — the round-11 seam item
    // crossed: allocation tables 3-B.2a–d are embedded spec DATA
    // (fixture variant v = doc_id%4 hits each of the four tables via
    // the spec's (sampling-frequency, bitrate-per-channel) selection),
    // and the decode adds grouped samples (3 codes in one base-steps
    // word), scfsi-compressed scalefactors and the 3-B.4
    // dequantization, which collapses to (2c + 1 − steps)·QSF2 — one
    // integer multiply per sample, exact. The oracle replays the
    // closed-form generators against the SAME embedded tables
    // (q331Nbal/Row/Cls/Steps/Bits/Grp/Qsf2 below are interpolated
    // from the decoder's own arrays), so hash equality certifies the
    // whole parse: allocation widths, scfsi branch, grouping digits,
    // intensity bound and table selection included.
    QueryDef("q331_mpeg1_layer2", (s, d) => {
      val mk = udf(l2FixturePayload _)
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeMpeg1L2Features(clips, "doc_id", "payload").toDF()
        .select($"id".as("doc_id"), $"sample_rate", $"bitrate_kbps",
          $"mode_code", $"n_channels", $"tab_id", $"sb_limit",
          $"n_frames", $"n_samples", $"n_active", $"n_scf",
          $"sum_abs_fp", $"peak_fp", $"last_fp")
        .orderBy($"doc_id")
    },
    // q331: MPEG-1 Layer II replayed symbolically against the SAME
    // embedded spec tables the decoder uses (the q330 pattern, now
    // with the 3-B.2a–d allocation data): per allocated (doc, sb, ch)
    // the quantizer class is looked up through nbal → row → class
    // exactly as the decoder does, grouped samples take the generator
    // mod steps (the decoder's degrouped digits by construction),
    // ungrouped mask to the codeword width, and scfsi picks the
    // effective scalefactor per 4-granule part. tab_id/sb_limit/n_scf
    // pin table selection and the scfsi parse cross-engine.
    Some(l2SlotCtes + """,
        |smp AS (
        |  SELECT s.doc_id, fx.f, gx.gr, s.sb, s.ch, ix.i, s.cls,
        |    s.steps,""".stripMargin + l2ScfAndCode + s""",
        |dq AS (
        |  SELECT doc_id, f, gr, sb, ch, i,
        |    (2 * c + 1 - steps) * ($q331Qsf2)[scf * 17 + cls] AS sfp
        |  FROM smp),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(abs(sfp)) AS BIGINT) AS sum_abs_fp,
        |    CAST(max(abs(sfp)) AS BIGINT) AS peak_fp
        |  FROM dq GROUP BY doc_id),
        |lastv AS (
        |  SELECT doc_id, sfp AS last_fp FROM dq
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY f DESC, gr DESC, sb DESC, ch DESC, i DESC) = 1),
        |act AS (
        |  SELECT doc_id, CAST(max(nfr) * count(*) AS BIGINT)
        |      AS n_active,
        |    CAST(max(nfr) * sum(CASE scfsi WHEN 0 THEN 3 WHEN 2 THEN 1
        |      ELSE 2 END) AS BIGINT) AS n_scf
        |  FROM slots GROUP BY doc_id)
        |SELECT d2.doc_id,
        |  CAST(CASE v WHEN 0 THEN 48000 WHEN 1 THEN 44100
        |    WHEN 2 THEN 48000 ELSE 32000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN v <= 1 THEN CASE WHEN kind = 0 THEN 192
        |      ELSE 384 END
        |    ELSE CASE WHEN kind = 0 THEN 48 ELSE 96 END END AS INT)
        |    AS bitrate_kbps,
        |  CAST(CASE kind WHEN 0 THEN 3 WHEN 1 THEN 0 ELSE 1 END
        |    AS INT) AS mode_code,
        |  d2.nch AS n_channels, CAST(d2.tab AS INT) AS tab_id,
        |  d2.sblimit AS sb_limit, d2.nfr AS n_frames,
        |  a.n_samples, c.n_active, c.n_scf, a.sum_abs_fp, a.peak_fp,
        |  l.last_fp
        |FROM d2
        |JOIN agg a ON a.doc_id = d2.doc_id
        |JOIN lastv l ON l.doc_id = d2.doc_id
        |JOIN act c ON c.doc_id = d2.doc_id
        |ORDER BY d2.doc_id""".stripMargin)),

    // MPEG-1 PCM TIER (round 13): the polyphase-synthesis seam
    // crossed for everything that is MATH — §2.4.3.2.2's 64×32
    // matrixing (closed-form cosines, fixed-pointed once as
    // Mpeg1Audio.Nfp), the 1024-value V shift register's time
    // alignment (generation 2m feeds U's low half, 2m+1 the high
    // half) and the 16-tap windowed sum, run per channel over q330's
    // EXACT fixture (same generator function). The 512-coefficient
    // window is the documented structural stand-in for Table 3-B.3
    // (spec literals unavailable offline; spec grid, peak, symmetry
    // classes kept — see Mpeg1Audio.WindowD). The oracle replays the
    // whole convolution RELATIONALLY against the decoder's own
    // Nfp/WindowD integers (q332Nfp/q332Win below), so hash equality
    // certifies matrixing, the shift-register alignment, the U index
    // map and the windowed sum for every 32-sample group.
    QueryDef("q332_mpeg1_pcm", (s, d) => {
      val mk = udf(l1FixturePayload _)
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeMpeg1Pcm(clips, "doc_id", "payload").toDF()
        .select($"id".as("doc_id"), $"ch", $"t", $"sum_abs_pcm",
          $"peak_pcm", $"last_pcm")
        .orderBy($"doc_id", $"ch", $"t")
    },
    // q332: the PCM tier replayed RELATIONALLY. The d/sbs/smp/dq
    // prefix is q330's fixture replay (l1FixtureCtes: same generators,
    // same QSF constants) with the global group index tau = f·12 + t;
    // then the synthesis (pcmSynthesisCtes) becomes a finite
    // convolution: matrixing is a 64-position × allocated-subband
    // join-free aggregate against the embedded Nfp integers (shifted
    // >> 16 exactly as the decoder —
    // DuckDB's BIGINT >> is arithmetic/floor, verified identical to
    // Java's), and each output group's 16-tap windowed sum reads V
    // generations tau−2m (low half, positions j) and tau−2m−1 (high
    // half, positions 32+j) through LEFT JOINs with COALESCE 0 — the
    // spec's zero-seeded shift register. One row per (clip, channel,
    // group): a one-position misalignment of ANY V generation, window
    // tap or U index shifts every downstream hash.
    Some(l1PcmOraclePrefix + """
        |SELECT doc_id, CAST(ch AS INT) AS ch, CAST(tau AS INT) AS t,
        |  CAST(sum(abs(p)) AS BIGINT) AS sum_abs_pcm,
        |  CAST(max(abs(p)) AS BIGINT) AS peak_pcm,
        |  CAST(max(CASE WHEN j = 31 THEN p END) AS BIGINT) AS last_pcm
        |FROM pcm GROUP BY doc_id, ch, tau
        |ORDER BY doc_id, ch, tau""".stripMargin)),

    // Layer II PCM (round 13, q332's twin): the SAME SynthState — one
    // V register per channel, 36 groups per frame (granule·3 + i) —
    // over q331's exact fixture, so the synthesis machinery is
    // certified against BOTH layers' sample layouts (grouped
    // codewords, scfsi parts and the 3-B.2 tables all feed the
    // matrixing input here). Oracle = q331's symbolic replay prefix +
    // q332's relational convolution suffix.
    QueryDef("q333_mpeg1_l2_pcm", (s, d) => {
      val mk = udf(l2FixturePayload _)
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      Multimodal.decodeMpeg1L2Pcm(clips, "doc_id", "payload").toDF()
        .select($"id".as("doc_id"), $"ch", $"t", $"sum_abs_pcm",
          $"peak_pcm", $"last_pcm")
        .orderBy($"doc_id", $"ch", $"t")
    },
    // q333: Layer II PCM — q331's symbolic fixture replay (allocation
    // tables, scfsi parts, grouped-codeword digits, 3-B.4 dequant)
    // down to dq, with the global group index tau = f·36 + gr·3 + i,
    // then q332's relational synthesis convolution (both through
    // pcmSynthesisCtes). Subbands
    // at or above the table's sblimit carry no rows — the decoder
    // zero-pads them into the matrixing, and an absent row sums as 0
    // on this side too.
    Some(q333OraclePrefix + s"""
        |SELECT doc_id, CAST(ch AS INT) AS ch, CAST(tau AS INT) AS t,
        |  CAST(sum(abs(p)) AS BIGINT) AS sum_abs_pcm,
        |  CAST(max(abs(p)) AS BIGINT) AS peak_pcm,
        |  CAST(max(CASE WHEN j = 31 THEN p END) AS BIGINT) AS last_pcm
        |FROM pcm GROUP BY doc_id, ch, tau
        |ORDER BY doc_id, ch, tau""".stripMargin)),

    // PCM CONSUMED DOWNSTREAM (q269's FIR-downsample shape over the
    // SYNTHESIZED stream): decodeMpeg1PcmSamples exposes the raw
    // 2^32-fp PCM as an array column and the 4-tap 2:1 box filter
    // runs as codegen Column arithmetic (shiftright = arithmetic
    // shift = floor, replayed as DuckDB's BIGINT >>), certifying the
    // decode→synthesis→DSP chain end to end — the pipeline shape the
    // PCM tier exists for. ord_ck is order-sensitive (Σ (y>>16)·k),
    // so a permuted or shifted output cannot hash-collide.
    QueryDef("q334_pcm_downsample", (s, d) => {
      val mk = udf(l1FixturePayload _)
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      boxDownsample(Multimodal.decodeMpeg1PcmSamples(clips, "doc_id",
        "payload"))
    },
    // q334: the q332 replay carried ONE stage further — the synthesis
    // output flattened to a per-channel sample stream (pos = tau·32+j)
    // and pushed through the 4-tap 2:1 box filter exactly as the
    // Spark side's Column arithmetic (>> 2 = floor on both engines),
    // with the order-sensitive checksum pinning sample order.
    Some(l1PcmOraclePrefix + """,
        |ds AS (
        |  SELECT doc_id, ch, tau * 32 + j AS pos, CAST(p AS BIGINT) AS p
        |  FROM pcm),
        |kg AS (
        |  SELECT d.doc_id, chx.ch, kx.k, d.nfr * 384 AS n_in
        |  FROM d, unnest(range(0, d.nch)) chx(ch),
        |    unnest(range(0, d.nfr * 192 - 1)) kx(k)),
        |""".stripMargin + pcmDownsampleOracle)),

    // q334's Layer II twin: the SAME codegen FIR over the Layer II
    // synthesis output (36 groups per frame — n_in = nFrames·1152 per
    // channel), so BOTH layers feed DSP end to end at the samples
    // tier. Oracle = q333's replay prefix + q334's downsample suffix.
    QueryDef("q335_l2_pcm_downsample", (s, d) => {
      val mk = udf(l2FixturePayload _)
      val clips = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id", mk($"doc_id").as("payload"))
      boxDownsample(Multimodal.decodeMpeg1L2PcmSamples(clips, "doc_id",
        "payload"))
    },
    // q335: q333's Layer II replay carried through q334's downsample
    // suffix — flatten pos = tau·32 + j over the 36-group frames
    // (n_in = nfr·1152 per channel), four positional self-joins,
    // >> 2, order-sensitive checksum.
    Some(q333OraclePrefix + """,
        |ds AS (
        |  SELECT doc_id, ch, tau * 32 + j AS pos, CAST(p AS BIGINT) AS p
        |  FROM pcm),
        |kg AS (
        |  SELECT d.doc_id, chx.ch, kx.k, d.nfr * 1152 AS n_in
        |  FROM d, unnest(range(0, d.nch)) chx(ch),
        |    unnest(range(0, d.nfr * 576 - 1)) kx(k)),
        |""".stripMargin + pcmDownsampleOracle))
  )

  /** q334/q335's 4-tap 2:1 box filter over decoded PCM sample arrays
    * (id, ch, pcm), as codegen Column arithmetic: per (doc, ch) the
    * input and output lengths, energy, peak and the order-sensitive
    * checksum Σ (y >> 16)·k. */
  private def boxDownsample(sm: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val y = expr(
      """transform(
        |  sequence(0, CAST(size(pcm) div 2 - 2 AS INT)),
        |  k -> shiftright(element_at(pcm, 2*k+1)
        |    + element_at(pcm, 2*k+2) + element_at(pcm, 2*k+3)
        |    + element_at(pcm, 2*k+4), 2))""".stripMargin)
    sm.select($"id".as("doc_id"), $"ch",
        size($"pcm").cast("long").as("n_in"), y.as("__y"))
      .select($"doc_id", $"ch", $"n_in",
        size($"__y").cast("long").as("n_out"),
        expr("aggregate(__y, 0L, (a, x) -> a + abs(x))").as("energy"),
        expr("array_max(transform(__y, x -> abs(x)))").as("peak"),
        expr("aggregate(zip_with(__y, sequence(1, size(__y)), " +
          "(v, i) -> shiftright(v, 16) * i), 0L, (a, x) -> a + x)")
          .as("ord_ck"))
      .orderBy($"doc_id", $"ch")
  }

  /** q330/q332's SHARED Layer I fixture generator — one function so
    * the subband-tier and PCM-tier queries decode the SAME bytes by
    * construction. Every 5th clip carries a real CRC-16
    * (protection_bit = 0): the decoder VERIFIES it over
    * header+allocation, and the oracle is untouched — a correct CRC
    * must be transparent. */
  private def l1FixturePayload(id: Long): Array[Byte] = {
    val kind = (id % 3).toInt
    val mode = kind match { case 0 => 3; case 1 => 0; case _ => 1 }
    graft.functions.Mpeg1Audio.encodeLayer1(
      nFrames = 1 + (id % 2).toInt, brIdx = 14, fsIdx = 2,
      mode = mode, modeExt = (id % 4).toInt,
      withCrc = id % 5 == 0,
      allocCode = (ch, sb) => if ((id + sb) % 3 == 0) 0
        else 1 + ((id * 5 + sb * 7) % 8).toInt,
      scfIdx = (ch, sb) => ((id * 7 + sb * 11 + ch * 3) % 63).toInt,
      code = (f, t, ch, sb) =>
        ((id * 97 + f * 31 + t * 13 + sb * 17 + ch * 29) % 65536)
          .toInt)
  }

  /** q331/q333's SHARED Layer II fixture generator (the
    * [[l1FixturePayload]] pattern): variant v = id%4 hits each of the
    * four 3-B.2 tables via the spec's (fs, bitrate/channel) table
    * selection; every 5th clip carries a verified CRC-16. */
  private def l2FixturePayload(id: Long): Array[Byte] = {
    val kind = (id % 3).toInt
    val v = (id % 4).toInt
    val mode = kind match { case 0 => 3; case 1 => 0; case _ => 1 }
    val fsIdx = Array(1, 0, 1, 2)(v)
    val brIdx = if (mode == 3) Array(10, 10, 2, 2)(v)
      else Array(14, 14, 6, 6)(v)
    val M = graft.functions.Mpeg1Audio
    val nCh = if (mode == 3) 1 else 2
    val tab = M.l2AllocTable(fsIdx, M.BitrateL2(brIdx) / nCh)
    def cap(nbal: Int) =
      nbal match { case 2 => 2; case 3 => 6; case _ => 7 }
    M.encodeLayer2(
      nFrames = 1 + (id % 2).toInt, brIdx = brIdx, fsIdx = fsIdx,
      mode = mode, modeExt = ((id / 3) % 4).toInt,
      withCrc = id % 5 == 0,
      allocIdx = (ch, sb) => if ((id + sb) % 2 == 0) 0
        else 1 + ((id * 5 + sb * 7 + ch * 3) %
          cap(M.L2Nbal(tab)(sb))).toInt,
      scfsiOf = (ch, sb) => ((id * 3 + sb * 5 + ch * 7) % 4).toInt,
      scfIdx = (ch, sb, p) =>
        ((id * 7 + sb * 11 + ch * 3 + p * 19) % 63).toInt,
      code = (f, gr, i, ch, sb) =>
        ((id * 97 + f * 31 + gr * 13 + i * 41 + sb * 17 + ch * 29) %
          65536).toInt)
  }

  /** The [[graft.functions.Mpeg1Audio.QSF]] slice q330's oracle
    * multiplies with — nb 2..9 per scalefactor index, flattened
    * idx-major so `[...][scf*8 + nb - 1]` (1-based) lands on
    * QSF(scf)(nb). Interpolated into the SQL so decoder and oracle
    * share the constants by construction. */
  private lazy val q330Qsf: String =
    (for (idx <- 0 until 63; nb <- 2 to 9)
      yield graft.functions.Mpeg1Audio.QSF(idx)(nb).toString)
      .mkString("[", ",", "]")

  /** q331's embedded Layer II spec data, interpolated from the
    * decoder's own arrays (the q330Qsf pattern) so both engines share
    * tables 3-B.2a–d and 3-B.4 by construction. All 1-based for
    * DuckDB list indexing: layout arrays as [tab*30 + sb + 1], the
    * class rows as [row*16 + idx + 1], per-class constants as [cls],
    * and QSF2 as [scf*17 + cls]. */
  private lazy val q331Nbal: String =
    (for (tab <- 0 until 4; sb <- 0 until 30)
      yield graft.functions.Mpeg1Audio.L2Nbal(tab)(sb).toString)
      .mkString("[", ",", "]")

  private lazy val q331Row: String =
    (for (tab <- 0 until 4; sb <- 0 until 30)
      yield graft.functions.Mpeg1Audio.L2Row(tab)(sb).toString)
      .mkString("[", ",", "]")

  private lazy val q331Cls: String =
    (for (row <- 0 until 5; idx <- 0 until 16) yield {
      val r = graft.functions.Mpeg1Audio.AllocRows(row)
      (if (idx < r.length) r(idx) else 0).toString
    }).mkString("[", ",", "]")

  private lazy val q331Steps: String =
    (1 to 17).map(graft.functions.Mpeg1Audio.ClsSteps(_).toString)
      .mkString("[", ",", "]")

  private lazy val q331Bits: String =
    (1 to 17).map(graft.functions.Mpeg1Audio.ClsBits(_).toString)
      .mkString("[", ",", "]")

  private lazy val q331Grp: String =
    (1 to 17).map(c =>
        if (graft.functions.Mpeg1Audio.ClsGrouped(c)) "1" else "0")
      .mkString("[", ",", "]")

  private lazy val q331Qsf2: String =
    (for (scf <- 0 until 63; cls <- 1 to 17)
      yield graft.functions.Mpeg1Audio.QSF2(scf)(cls).toString)
      .mkString("[", ",", "]")

  /** q330/q332/q334's Layer I fixture in SQL, the generators of
    * [[l1FixturePayload]]: the clip table `d` (kind, frames, intensity
    * bound, channels) and the allocated subbands `sbs` with their
    * sample widths. */
  private val l1FixtureCtes: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS kind,
      |    CAST(1 + doc_id % 2 AS INT) AS nfr,
      |    CAST(CASE WHEN doc_id % 3 = 2 THEN (1 + doc_id % 4) * 4
      |      ELSE 32 END AS INT) AS bound,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS INT)
      |      AS nch
      |  FROM documents WHERE doc_id < 40),
      |sbs AS (
      |  SELECT doc_id, kind, nfr, bound, nch, sbx.sb,
      |    CAST(2 + ((doc_id * 5 + sbx.sb * 7) % 8) AS INT) AS nb
      |  FROM d, unnest(range(0, 32)) sbx(sb)
      |  WHERE (doc_id + sbx.sb) % 3 <> 0)""".stripMargin

  /** q332/q334's shared Layer I PCM replay prefix: [[l1FixtureCtes]]
    * with the global group index tau = f*12 + t, dequantized with
    * q330Qsf, then [[pcmSynthesisCtes]] at 12 groups per frame, ending
    * at the per-(doc, ch, tau, j) sample table `pcm`. */
  private lazy val l1PcmOraclePrefix: String = l1FixtureCtes + s""",
        |smp AS (
        |  SELECT s.doc_id, fx.f * 12 + tx.t AS tau, s.sb, chx.ch, s.nb,
        |    CAST((s.doc_id * 7 + s.sb * 11 + chx.ch * 3) % 63 AS INT)
        |      AS scf,
        |    CASE WHEN s.sb >= s.bound
        |      THEN (s.doc_id * 97 + fx.f * 31 + tx.t * 13 + s.sb * 17)
        |        % (1 << s.nb)
        |      ELSE (s.doc_id * 97 + fx.f * 31 + tx.t * 13 + s.sb * 17
        |        + chx.ch * 29) % (1 << s.nb)
        |    END AS c
        |  FROM sbs s, unnest(range(0, s.nfr)) fx(f),
        |    unnest(range(0, 12)) tx(t), unnest(range(0, s.nch)) chx(ch)),
        |dq AS (
        |  SELECT doc_id, tau, sb, ch,
        |    (2 * c + 2 - (1 << nb)) *
        |      ($q330Qsf)[scf * 8 + nb - 1] AS sfp
        |  FROM smp),
        |""".stripMargin + pcmSynthesisCtes(12)

  /** q331/q333/q335's Layer II fixture in SQL, the generators of
    * [[l2FixturePayload]] against the embedded allocation tables: the
    * clip table `d`, its table selection `d2`, and the allocated
    * (doc, sb, ch) `slots` with their quantizer class, scfsi and
    * (`slots2`) steps, bits and grouping. */
  private lazy val l2SlotCtes: String =
    s"""WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS kind,
      |    CAST(doc_id % 4 AS INT) AS v,
      |    CAST((doc_id // 3) % 4 AS INT) AS ext,
      |    CAST(1 + doc_id % 2 AS INT) AS nfr,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS INT)
      |      AS nch
      |  FROM documents WHERE doc_id < 40),
      |d2 AS (
      |  SELECT d.*, v AS tab,
      |    CAST(([27,30,8,12])[v + 1] AS INT) AS sblimit,
      |    CAST(CASE WHEN kind = 2
      |      THEN least((ext + 1) * 4, ([27,30,8,12])[v + 1])
      |      ELSE ([27,30,8,12])[v + 1] END AS INT) AS bound
      |  FROM d),
      |slots AS (
      |  SELECT d2.doc_id, d2.nfr, d2.nch, d2.tab, d2.bound, sbx.sb,
      |    chx.ch,
      |    ($q331Cls)[ ($q331Row)[tab * 30 + sbx.sb + 1] * 16
      |      + 1 + ((doc_id * 5 + sbx.sb * 7 +
      |          (CASE WHEN sbx.sb >= bound AND nch = 2 THEN 0
      |            ELSE chx.ch END) * 3)
      |        % (CASE ($q331Nbal)[tab * 30 + sbx.sb + 1]
      |            WHEN 2 THEN 2 WHEN 3 THEN 6 ELSE 7 END)) + 1 ]
      |      AS cls,
      |    CAST((doc_id * 3 + sbx.sb * 5 + chx.ch * 7) % 4 AS INT)
      |      AS scfsi
      |  FROM d2, unnest(range(0, d2.sblimit)) sbx(sb),
      |    unnest(range(0, d2.nch)) chx(ch)
      |  WHERE (doc_id + sbx.sb) % 2 = 1),
      |slots2 AS (
      |  SELECT s.*, ($q331Steps)[cls] AS steps,
      |    ($q331Bits)[cls] AS bits, ($q331Grp)[cls] AS grp
      |  FROM slots s)""".stripMargin

  /** The scalefactor and sample-code columns of q331/q333's `smp`, per
    * (slot, frame, granule, i): the scfsi part's effective scalefactor
    * and the generator's code, mod steps when grouped. */
  private val l2ScfAndCode: String =
    """
      |    CASE s.scfsi
      |      WHEN 0 THEN (s.doc_id * 7 + s.sb * 11 + s.ch * 3
      |        + (gx.gr // 4) * 19) % 63
      |      WHEN 1 THEN (s.doc_id * 7 + s.sb * 11 + s.ch * 3
      |        + (CASE WHEN gx.gr < 8 THEN 0 ELSE 2 END) * 19) % 63
      |      WHEN 2 THEN (s.doc_id * 7 + s.sb * 11 + s.ch * 3) % 63
      |      ELSE (s.doc_id * 7 + s.sb * 11 + s.ch * 3
      |        + (CASE WHEN gx.gr < 4 THEN 0 ELSE 1 END) * 19) % 63
      |    END AS scf,
      |    CASE WHEN s.grp = 1
      |      THEN ((s.doc_id * 97 + fx.f * 31 + gx.gr * 13 + ix.i * 41
      |        + s.sb * 17 + (CASE WHEN s.sb >= s.bound AND s.nch = 2
      |          THEN 0 ELSE s.ch END) * 29) % 65536) % s.steps
      |      ELSE ((s.doc_id * 97 + fx.f * 31 + gx.gr * 13 + ix.i * 41
      |        + s.sb * 17 + (CASE WHEN s.sb >= s.bound AND s.nch = 2
      |          THEN 0 ELSE s.ch END) * 29) % 65536) % (1 << s.bits)
      |    END AS c
      |  FROM slots2 s, unnest(range(0, s.nfr)) fx(f),
      |    unnest(range(0, 12)) gx(gr), unnest(range(0, 3)) ix(i))""".stripMargin

  /** q333/q335's shared Layer II PCM replay prefix: [[l2SlotCtes]]
    * with tau = f*36 + gr*3 + i, dequantized with q331Qsf2, then
    * [[pcmSynthesisCtes]] at 36 groups per frame, ending at the
    * per-(doc, ch, tau, j) sample table `pcm`. */
  private lazy val q333OraclePrefix: String = l2SlotCtes + """,
        |smp AS (
        |  SELECT s.doc_id, fx.f * 36 + gx.gr * 3 + ix.i AS tau, s.sb,
        |    s.ch, s.cls, s.steps,""".stripMargin + l2ScfAndCode + s""",
        |dq AS (
        |  SELECT doc_id, tau, sb, ch,
        |    (2 * c + 1 - steps) * ($q331Qsf2)[scf * 17 + cls] AS sfp
        |  FROM smp),
        |""".stripMargin + pcmSynthesisCtes(36)

  /** The PCM tier's relational synthesis in SQL, over the dequantized
    * samples `dq` (doc_id, ch, tau, sb, sfp) and the clips `d`:
    * matrixing `vg` against the embedded Nfp integers (>> 16 as the
    * decoder), then each group's 16-tap windowed sum `pcm` over V
    * generations tau-2m and tau-2m-1, `groupsPerFrame` groups per
    * frame. */
  private def pcmSynthesisCtes(groupsPerFrame: Int): String =
    s"""vg AS (
      |  SELECT doc_id, ch, tau, ix.i,
      |    (CAST(sum(($q332Nfp)[ix.i * 32 + sb + 1] * sfp) AS BIGINT)
      |      >> 16) AS v
      |  FROM dq, unnest(range(0, 64)) ix(i)
      |  GROUP BY doc_id, ch, tau, ix.i),
      |grid AS (
      |  SELECT d.doc_id, chx.ch, tx.tau, jx.j, mx.m
      |  FROM d, unnest(range(0, d.nch)) chx(ch),
      |    unnest(range(0, d.nfr * $groupsPerFrame)) tx(tau),
      |    unnest(range(0, 32)) jx(j), unnest(range(0, 8)) mx(m)),
      |pcm AS (
      |  SELECT g.doc_id, g.ch, g.tau, g.j,
      |    sum(($q332Win)[g.j + 64 * g.m + 1] * COALESCE(va.v, 0)
      |      + ($q332Win)[g.j + 64 * g.m + 33] * COALESCE(vb.v, 0))
      |      AS p
      |  FROM grid g
      |  LEFT JOIN vg va ON va.doc_id = g.doc_id AND va.ch = g.ch
      |    AND va.tau = g.tau - 2 * g.m AND va.i = g.j
      |  LEFT JOIN vg vb ON vb.doc_id = g.doc_id AND vb.ch = g.ch
      |    AND vb.tau = g.tau - 2 * g.m - 1 AND vb.i = 32 + g.j
      |  GROUP BY g.doc_id, g.ch, g.tau, g.j)""".stripMargin

  /** q334/q335's 4-tap 2:1 box filter in SQL over the positional
    * samples `ds` and the output grid `kg`: energy, peak and the
    * order-sensitive checksum per (doc, ch). */
  private val pcmDownsampleOracle: String =
    """y AS (
      |  SELECT kg.doc_id, kg.ch, kg.k, kg.n_in,
      |    ((p0.p + p1.p + p2.p + p3.p) >> 2) AS y
      |  FROM kg
      |  JOIN ds p0 ON p0.doc_id = kg.doc_id AND p0.ch = kg.ch
      |    AND p0.pos = 2 * kg.k
      |  JOIN ds p1 ON p1.doc_id = kg.doc_id AND p1.ch = kg.ch
      |    AND p1.pos = 2 * kg.k + 1
      |  JOIN ds p2 ON p2.doc_id = kg.doc_id AND p2.ch = kg.ch
      |    AND p2.pos = 2 * kg.k + 2
      |  JOIN ds p3 ON p3.doc_id = kg.doc_id AND p3.ch = kg.ch
      |    AND p3.pos = 2 * kg.k + 3)
      |SELECT doc_id, CAST(ch AS INT) AS ch,
      |  CAST(n_in AS BIGINT) AS n_in,
      |  CAST(count(*) AS BIGINT) AS n_out,
      |  CAST(sum(abs(y)) AS BIGINT) AS energy,
      |  CAST(max(abs(y)) AS BIGINT) AS peak,
      |  CAST(sum((y >> 16) * (k + 1)) AS BIGINT) AS ord_ck
      |FROM y GROUP BY doc_id, ch, n_in
      |ORDER BY doc_id, ch""".stripMargin

  /** q332's synthesis constants, interpolated from the decoder's own
    * arrays (the q330Qsf pattern): the 64×32 matrixing integers
    * flattened i-major (`[i*32 + sb + 1]`, 1-based) and the 512
    * window taps (`[pos + 1]`). Decoder and oracle share BOTH tables
    * by construction — including the Table 3-B.3 stand-in, so the
    * two engines cannot disagree with each other even while the
    * window literals await the spec's (see
    * [[graft.functions.Mpeg1Audio.WindowD]]). */
  private lazy val q332Nfp: String =
    (for (i <- 0 until 64; k <- 0 until 32)
      yield graft.functions.Mpeg1Audio.Nfp(i)(k).toString)
      .mkString("[", ",", "]")

  private lazy val q332Win: String =
    graft.functions.Mpeg1Audio.WindowD.mkString("[", ",", "]")

  /** The FLAC stats readout of q204 and q305 in SQL, over the
    * replayed samples `alls` (doc_id, f, i, s) and the clip table `d`:
    * sample count, mean amplitude, RMS, peak and the last sample. */
  private val flacStatsOracle: String =
    """m AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |    avg(CAST(s AS DOUBLE)) AS ma,
      |    sqrt(avg(CAST(s AS DOUBLE) * s)) AS r,
      |    CAST(max(abs(s)) AS INT) AS peak
      |  FROM alls GROUP BY doc_id),
      |l AS (
      |  SELECT doc_id, s AS last_sample FROM alls
      |  QUALIFY row_number() OVER (PARTITION BY doc_id
      |    ORDER BY f DESC, i DESC) = 1)
      |SELECT d.doc_id, d.sample_rate, d.nf AS n_frames, m.n_samples,
      |  floor(ma * 10000 + 0.5) / 10000.0 AS mean_amp,
      |  floor(r * 10000 + 0.5) / 10000.0 AS rms, m.peak,
      |  l.last_sample
      |FROM d JOIN m USING (doc_id) JOIN l USING (doc_id)
      |ORDER BY doc_id""".stripMargin
}
