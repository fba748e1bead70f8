package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq((1L, "hello world"), (2L, "binary payload x"))
    .toDF("id", "txt")
    .withColumn("payload", Multimodal.toPayload($"txt"))

  test("payload column is real binary with correct byte length") {
    val r = df.select($"id", octet_length($"payload").as("n")).collect()
      .map(x => (x.getLong(0), x.getInt(1))).toMap
    assert(r === Map(1L -> 11, 2L -> 16))
  }

  test("decodePartitions runs the injected codec per row, batch-local") {
    val metas = Multimodal.decodePartitions(df, "id", "payload")(
      MultimodalStubs.stubCodec).collect().sortBy(_.id)
    assert(metas.length === 2)
    assert(metas.forall(m => m.width >= 1 && m.width <= 1920))
    assert(metas.forall(m => m.channels >= 1 && m.channels <= 3))
    assert(metas(0).n_bytes === 11)
    // deterministic: same payload → same fake header
    val again = Multimodal.decodePartitions(df, "id", "payload")(
      MultimodalStubs.stubCodec).collect().sortBy(_.id)
    assert(metas.toSeq === again.toSeq)
  }

  test("expression-form fake decode matches its schema contract") {
    val m = df.select(MultimodalStubs.fakeDecodeImageMeta($"payload").as("m"))
      .select($"m.width", $"m.height", $"m.channels", $"m.n_bytes")
    assert(m.schema.fieldNames.toSeq ===
      Seq("width", "height", "channels", "n_bytes"))
    assert(m.collect().forall(r => r.getInt(0) >= 1 && r.getInt(2) <= 3))
  }

  test("sampleFrames slices n fixed-size binary windows") {
    val frames = df.filter($"id" === 2)
      .select(Multimodal.sampleFrames($"payload", 4, 4).as("f"))
      .collect()(0).getAs[collection.Seq[Array[Byte]]]("f")
    assert(frames.length === 4)
    assert(frames(0).length === 4)
    assert(new String(frames.flatten.toArray, "UTF-8") ===
      "binary payload x")
  }

  test("fakeFeatures emits a dim-length float vector in [-1, 1]") {
    val v = df.select(MultimodalStubs.fakeFeatures($"payload", 8).as("v"))
      .collect()(0).getAs[collection.Seq[Float]]("v")
    assert(v.length === 8)
    assert(v.forall(x => x >= -1.0f && x <= 1.0f))
  }

  test("decodeHeaders parses REAL png/gif/bmp/wav/jpeg container bytes") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // a real 3×2 truecolor PNG header (signature + IHDR prefix)
    val png = bytes(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 3, 0, 0, 0, 2, 8, 2, 0, 0, 0)
    // GIF89a, 7×5 logical screen
    val gif = "GIF89a".getBytes("ISO-8859-1") ++ bytes(7, 0, 5, 0, 0, 0, 0, 0)
    // BMP with BITMAPINFOHEADER (DIB size 40): 9×4, 24bpp
    val bmp = bytes('B', 'M') ++ Array.fill[Byte](12)(0) ++
      bytes(40, 0, 0, 0, 9, 0, 0, 0, 4, 0, 0, 0, 1, 0, 24, 0)
    // legacy BITMAPCOREHEADER (DIB size 12): uint16 dims 6×3, 8bpp
    val bmpCore = bytes('B', 'M') ++ Array.fill[Byte](12)(0) ++
      bytes(12, 0, 0, 0, 6, 0, 3, 0, 1, 0, 8, 0) ++ Array.fill[Byte](2)(0)
    // WAV with a JUNK chunk BEFORE fmt (the real-world layout that
    // breaks fixed-offset readers): stereo, 44100 Hz, 16-bit
    val wav = "RIFF".getBytes("ISO-8859-1") ++ bytes(0, 0, 0, 0) ++
      "WAVEJUNK".getBytes("ISO-8859-1") ++ bytes(4, 0, 0, 0, 9, 9, 9, 9) ++
      "fmt ".getBytes("ISO-8859-1") ++ bytes(16, 0, 0, 0, 1, 0, 2, 0,
      0x44, 0xac, 0, 0, 0x10, 0xb1, 2, 0, 4, 0, 16, 0)
    // JPEG: SOI, APP0 stub, SOF0 frame 12×34, 3 components
    val jpg = bytes(0xff, 0xd8, 0xff, 0xe0, 0, 4, 0, 0,
      0xff, 0xc0, 0, 11, 8, 0, 34, 0, 12, 3, 0, 0, 0, 0, 0)
    val junk = "not an image at all".getBytes("UTF-8")
    // starts with "BM" but has no valid DIB header size — must NOT
    // classify as bmp (the arbitrary-blob false positive)
    val bmText = "BMW sales figures for the quarter exceed".getBytes("UTF-8")
    val payloads = Seq(1L -> png, 2L -> gif, 3L -> bmp, 4L -> wav,
      5L -> jpg, 6L -> junk, 7L -> bmpCore, 8L -> bmText)
      .toDF("id", "payload")
    val metas = Multimodal.decodeHeaders(payloads, "id", "payload")
      .collect().map(m => m.id -> m).toMap
    assert(metas(1L).format === Some("png"))
    assert((metas(1L).width, metas(1L).height, metas(1L).channels) ===
      (Some(3), Some(2), Some(3)))
    assert(metas(2L).format === Some("gif"))
    assert((metas(2L).width, metas(2L).height) === (Some(7), Some(5)))
    assert(metas(3L).format === Some("bmp"))
    assert((metas(3L).width, metas(3L).height, metas(3L).channels) ===
      (Some(9), Some(4), Some(3)))
    assert(metas(4L).format === Some("wav"))
    assert((metas(4L).width, metas(4L).height, metas(4L).channels) ===
      (Some(44100), Some(16), Some(2)))
    assert(metas(5L).format === Some("jpeg"))
    assert((metas(5L).width, metas(5L).height, metas(5L).channels) ===
      (Some(12), Some(34), Some(3)))
    // unknown format: null metadata, byte length still reported — the
    // corrupt-payload row flows on as data
    assert(metas(6L).format === None)
    assert(metas(6L).n_bytes === junk.length)
    // legacy core-header BMP parses its 16-bit dims
    assert(metas(7L).format === Some("bmp"))
    assert((metas(7L).width, metas(7L).height, metas(7L).channels) ===
      (Some(6), Some(3), Some(1)))
    // "BM"-prefixed text is NOT a bitmap
    assert(metas(8L).format === None)
  }

  test("decodeBmpFeatures: real pixel decode, byte-exact means") {
    import graft.functions.BmpPixels
    // 3×2 image (odd width ⇒ rows pad 9→12 bytes — the classic decoder
    // trap) with known pixels: top row solid red, bottom row ramp
    val img1 = BmpPixels.encode(3, 2, (x, y) =>
      if (y == 0) (255, 0, 0) else (x * 10, x * 20, x * 30))
    // 2×2 solid mid-gray
    val img2 = BmpPixels.encode(2, 2, (_, _) => (100, 100, 100))
    val corrupt = "BMnot really a bitmap".getBytes("UTF-8")
    val df = Seq((1L, img1), (2L, img2), (3L, corrupt), (4L, null))
      .toDF("id", "payload")
    val f = Multimodal.decodeBmpFeatures(df, "id", "payload")
      .collect().map(r => r.id -> r).toMap
    // undecodable rows drop, they don't poison the batch
    assert(f.keySet === Set(1L, 2L))
    assert((f(1L).width, f(1L).height) === ((3, 2)))
    // means over all 6 pixels: r = (255*3 + 0+10+20)/6, etc.
    assert(math.abs(f(1L).mean_r - (255 * 3 + 30) / 6.0) < 1e-9)
    assert(math.abs(f(1L).mean_g - (0 + 20 + 40) / 6.0) < 1e-9)
    assert(math.abs(f(1L).mean_b - (0 + 30 + 60) / 6.0) < 1e-9)
    assert(math.abs(f(2L).mean_luma - 100.0) < 1e-9)
    // the encoded fixture also satisfies the header parser (same file)
    assert(graft.functions.MediaHeaders.parse(img1)
      .map(m => (m.format, m.width, m.height)) === Some(("bmp", 3, 2)))
  }

  test("decodePngFeatures: real inflate+unfilter decode, all 5 filters") {
    import graft.functions.PngPixels
    // 3×6 RGB: six rows ⇒ the fixture's y%5 filter cycle exercises
    // None/Sub/Up/Average/Paeth AND a second None row whose up-row was
    // Paeth-filtered — a wrong reconstruction anywhere corrupts the
    // means downstream of that row
    val rgb = PngPixels.encode(3, 6, gray = false,
      (x, y) => (x * 40 + y, (x * 90 + y * 2) % 256, 255 - x * 10 - y))
    // 4×5 grayscale (1 byte/px ⇒ bpp-stride left-neighbor logic)
    val g = PngPixels.encode(4, 5, gray = true,
      (x, y) => ((x * 37 + y * 91) % 256, 0, 0))
    // corrupt fixtures that pass the outer guards and die INSIDE the
    // chunk walk / inflate loop — each is DATA (dropped), never a hang
    // or an exception:
    // (a) truncated zlib INSIDE a structurally-valid IDAT chunk (len
    //     field rewritten to match, IEND intact) — must reach the
    //     inflate loop and bail on needsInput, not the chunk walk
    val iend = rgb.takeRight(12)
    val truncIdat = {
      val origLen = ((rgb(33) & 0xff) << 24) | ((rgb(34) & 0xff) << 16) |
        ((rgb(35) & 0xff) << 8) | (rgb(36) & 0xff)
      val nl = origLen - 6
      rgb.take(33) ++
        Array[Byte]((nl >>> 24).toByte, (nl >>> 16).toByte,
          (nl >>> 8).toByte, nl.toByte, 'I', 'D', 'A', 'T') ++
        rgb.slice(41, 41 + nl) ++ Array[Byte](0, 0, 0, 0) ++ iend
    }
    // (b) zlib header with the FDICT bit — inflate returns 0 forever
    //     unless needsDictionary() is checked
    val fdict = {
      val c = rgb.clone()
      val idatData = 8 + 25 + 8 // sig + IHDR chunk + IDAT len/type
      c(idatData) = 0x78.toByte; c(idatData + 1) = 0x20.toByte
      c
    }
    // (c) declared chunk length near Int.MaxValue — Int bounds math
    //     would wrap negative and walk out of the array
    val hugeLen = {
      val c = rgb.clone()
      c(33) = 0x7f.toByte; c(34) = 0xff.toByte
      c(35) = 0xff.toByte; c(36) = 0xf0.toByte
      c
    }
    val df = Seq((1L, rgb), (2L, g), (3L, rgb.take(40)), (4L, null),
        (5L, truncIdat), (6L, fdict), (7L, hugeLen))
      .toDF("id", "payload")
    val f = Multimodal.decodePngFeatures(df, "id", "payload")
      .collect().map(r => r.id -> r).toMap
    assert(f.keySet === Set(1L, 2L))
    assert((f(1L).width, f(1L).height, f(1L).channels) === ((3, 6, 3)))
    val px = for (x <- 0 until 3; y <- 0 until 6)
      yield (x * 40 + y, (x * 90 + y * 2) % 256, 255 - x * 10 - y)
    assert(math.abs(f(1L).mean_r - px.map(_._1).sum / 18.0) < 1e-9)
    assert(math.abs(f(1L).mean_g - px.map(_._2).sum / 18.0) < 1e-9)
    assert(math.abs(f(1L).mean_b - px.map(_._3).sum / 18.0) < 1e-9)
    val gm = (for (x <- 0 until 4; y <- 0 until 5)
      yield (x * 37 + y * 91) % 256).sum / 20.0
    assert((f(2L).channels, f(2L).mean_r) === ((1, gm)))
    assert(math.abs(f(2L).mean_luma - (0.299 * gm + 0.587 * gm
      + 0.114 * gm)) < 1e-12)
    // the encoded fixture also satisfies the header parser (same file)
    assert(graft.functions.MediaHeaders.parse(rgb)
      .map(m => (m.format, m.width, m.height)) === Some(("png", 3, 6)))
  }

  test("decodeWavFeatures: real PCM sample decode, byte-exact stats") {
    import graft.functions.WavPcm
    // stereo, 2 frames: L=[100, -100], R=[200, -200] — interleaving and
    // sign-extension both exercised
    val clip1 = WavPcm.encode(8000, 2, 2,
      (t, c) => (if (t == 0) 1 else -1) * (100 + c * 100))
    // mono constant amplitude
    val clip2 = WavPcm.encode(44100, 1, 5, (_, _) => -32768)
    val corrupt = "RIFFnot really audio".getBytes("UTF-8")
    val df = Seq((1L, clip1), (2L, clip2), (3L, corrupt), (4L, null))
      .toDF("id", "payload")
    val f = Multimodal.decodeWavFeatures(df, "id", "payload")
      .collect().map(r => r.id -> r).toMap
    // undecodable rows drop, they don't poison the batch
    assert(f.keySet === Set(1L, 2L))
    assert((f(1L).sample_rate, f(1L).n_channels, f(1L).n_frames) ===
      ((8000, 2, 2L)))
    assert(math.abs(f(1L).mean_amp - 0.0) < 1e-9) // symmetric samples
    assert(math.abs(f(1L).rms -
      math.sqrt((100.0 * 100 * 2 + 200.0 * 200 * 2) / 4)) < 1e-9)
    assert(f(1L).peak === 200)
    // int16 min survives sign extension (the 0x8000 edge)
    assert((f(2L).sample_rate, f(2L).n_channels) === ((44100, 1)))
    assert(math.abs(f(2L).mean_amp - (-32768.0)) < 1e-9)
    assert(f(2L).peak === 32768)
    // the encoded fixture also satisfies the header parser (same file)
    assert(graft.functions.MediaHeaders.parse(clip1)
      .map(m => (m.format, m.width, m.channels)) ===
      Some(("wav", 8000, 2)))
  }

  test("decodeWavFeatures walks past leading JUNK chunks") {
    import graft.functions.WavPcm
    // splice a JUNK chunk between WAVE and fmt — the layout fixed-offset
    // readers misparse; decode must chunk-walk to fmt and data
    val base = WavPcm.encode(16000, 1, 3, (t, _) => t * 10)
    val junk = "JUNK".getBytes("ISO-8859-1") ++
      Array[Byte](4, 0, 0, 0, 9, 9, 9, 9)
    val spliced = base.take(12) ++ junk ++ base.drop(12)
    // fix the RIFF size field (offset 4, LE) for the longer payload
    val total = spliced.length - 8
    spliced(4) = (total & 0xff).toByte
    spliced(5) = ((total >> 8) & 0xff).toByte
    val f = graft.functions.WavPcm.decode(spliced)
    assert(f.map(x => (x.sampleRate, x.channels, x.nFrames)) ===
      Some((16000, 1, 3L)))
    assert(f.get.peak === 20)
  }

  test("decode → feature-extract → ANN composes end-to-end") {
    // the full multimodal retrieval pipeline shape: opaque payloads →
    // per-row features (stubbed model) → exact top-k search. Everything
    // but the feature fake is the real 100 TB plumbing; swapping the
    // codec swaps nothing else.
    val corpus = (1L to 40L).map(i => (i, s"payload number $i body"))
      .toDF("id", "txt")
      .withColumn("payload", Multimodal.toPayload($"txt"))
      .withColumn("vec", MultimodalStubs.fakeFeatures($"payload", 8))
    val queries = corpus.filter($"id" <= 2)
    val top = Similarity.bruteForceTopK(corpus, "id", "vec",
      queries, "id", "vec", k = 3)
    val rows = top.collect()
    assert(rows.length === 6) // 2 queries × top-3
    // identical payload ⇒ identical features ⇒ every neighbor's sim ≤ 1
    // and the ranking is deterministic across runs
    val again = Similarity.bruteForceTopK(corpus, "id", "vec",
      queries, "id", "vec", k = 3).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("decodeJpegFeatures: JDK-codec decode; gray constant-block " +
      "fixtures round-trip EXACTLY (the q189 oracle contract)") {
    import graft.functions.JpegPixels
    // the oracle's exactness claim, exercised well beyond q189's 48
    // fixtures: many shapes × value patterns, including 0 and 255
    // block extremes — ANY quantization or level-shift slip breaks
    // equality, not a tolerance
    for (seed <- 0L until 20L) {
      val (wb, hb) = ((1 + seed % 4).toInt, (1 + seed % 3).toInt)
      def v(bx: Int, by: Int): Int =
        if (seed == 0 && bx == 0) 0
        else if (seed == 1 && bx == 0) 255
        else ((seed * 31 + bx * 17 + by * 7) % 256).toInt
      val bytes = JpegPixels.encodeGrayBlocks(wb, hb, v)
      val f = JpegPixels.decode(bytes).get
      assert((f.width, f.height, f.channels) === ((wb * 8, hb * 8, 1)))
      val exp = (for (bx <- 0 until wb; by <- 0 until hb)
        yield v(bx, by).toLong).sum * 64.0 / (wb * hb * 64)
      assert(f.meanLuma === exp, s"seed=$seed") // EXACT, no epsilon
      assert(f.meanR === exp && f.meanG === exp && f.meanB === exp)
    }
  }

  test("decodeJpegFeatures: lossy RGB decodes for real (tolerance-" +
      "gated) and corrupt payloads are data, not exceptions") {
    import graft.functions.JpegPixels
    // smooth gradient: subsampled chroma shifts means only slightly,
    // so a ±2.5/channel tolerance separates "real decode" from any
    // hash-fake while absorbing codec loss
    val rgb = JpegPixels.encodeRgb(32, 24,
      (x, y) => (x * 4, y * 5, 128 + (x - y)))
    val gray = JpegPixels.encodeGrayBlocks(2, 2, (bx, by) => 60 + 50 * bx)
    val df = Seq((1L, rgb), (2L, gray), (3L, rgb.take(10)),
        (4L, null.asInstanceOf[Array[Byte]]),
        (5L, Array[Byte](1, 2, 3, 4)))
      .toDF("id", "payload")
    val f = Multimodal.decodeJpegFeatures(df, "id", "payload")
      .collect().map(r => r.id -> r).toMap
    assert(f.keySet === Set(1L, 2L))
    assert((f(1L).width, f(1L).height, f(1L).channels) === ((32, 24, 3)))
    val px = for (x <- 0 until 32; y <- 0 until 24)
      yield (x * 4, y * 5, 128 + (x - y))
    assert(math.abs(f(1L).mean_r - px.map(_._1).sum / 768.0) < 2.5)
    assert(math.abs(f(1L).mean_g - px.map(_._2).sum / 768.0) < 2.5)
    assert(math.abs(f(1L).mean_b - px.map(_._3).sum / 768.0) < 2.5)
    assert(f(2L).mean_luma === (60.0 + 110.0) / 2)
    // the JPEG fixture also satisfies the existing header parser
    assert(graft.functions.MediaHeaders.parse(rgb)
      .map(m => (m.format, m.width, m.height)) === Some(("jpeg", 32, 24)))
  }

  test("decodeAdpcmFeatures: hand-traced IMA recurrence decodes exactly") {
    import graft.functions.AdpcmWav
    // one block, blockAlign=5 → header sample + 2 nibbles (one byte,
    // LOW nibble first). Hand trace from (pred=0, idx=0):
    //   n=5: step=7, diff=0+7+1=8, pred=8,  idx=0+4=4
    //   n=9: step=11 (idx 4), diff=1+2=3,  pred=8-3=5, idx=4-1=3
    val b = AdpcmWav.encodeRaw(8000, 5, 1, _ => 0, _ => 0,
      (_, j) => if (j == 0) 5 else 9)
    val f = AdpcmWav.decode(b).get
    assert(f.sampleRate === 8000)
    assert(f.nBlocks === 1)
    assert(f.nSamples === 3)
    assert(f.meanAmp === (0.0 + 8 + 5) / 3)
    assert(f.peak === 8)
    assert(f.lastSample === 5)
    assert(f.rms === math.sqrt((64.0 + 25) / 3))
  }

  test("decodeAdpcmFeatures: predictor and index CLAMP at the spec " +
      "bounds; blocks reset state independently") {
    import graft.functions.AdpcmWav
    // start at pred=32000 on the top step (32767): one max-positive
    // nibble (7) overshoots int16 and must clamp to 32767, and the
    // index must pin at 88 (not run off the table)
    val up = AdpcmWav.encodeRaw(8000, 5, 1, _ => 32000, _ => 88,
      (_, j) => if (j == 0) 7 else 15)
    val f = AdpcmWav.decode(up).get
    assert(f.peak === 32767)
    // nibble 15 then walks DOWN from the clamped peak
    assert(f.lastSample < 32767)
    // two blocks with identical content decode identically (block
    // independence — the seekability contract): per-block stats equal
    val two = AdpcmWav.encodeRaw(8000, 5, 2, _ => 0, _ => 0,
      (_, j) => if (j == 0) 5 else 9)
    val f2 = AdpcmWav.decode(two).get
    assert(f2.nSamples === 6)
    assert(f2.meanAmp === (0.0 + 8 + 5) / 3) // same mean as one block
    assert(f2.lastSample === 5)
  }

  test("ADPCM and PCM WAV route to their own decoders, never cross") {
    import graft.functions.{AdpcmWav, WavPcm}
    val adpcm = AdpcmWav.encodeRaw(8000, 12, 2, b => b * 100, _ => 30,
      (b, j) => (b + j) % 16)
    val pcm = WavPcm.encode(8000, 1, 10, (t, _) => t * 100)
    assert(AdpcmWav.decode(pcm).isEmpty)   // format tag 1 ≠ 0x11
    assert(WavPcm.decode(adpcm).isEmpty)   // format tag 0x11 ≠ 1
    assert(AdpcmWav.decode(adpcm).isDefined)
    assert(WavPcm.decode(pcm).isDefined)
    // corrupt payloads are data, not exceptions
    assert(AdpcmWav.decode(adpcm.take(30)).isEmpty)
    assert(AdpcmWav.decode(null).isEmpty)
    assert(AdpcmWav.decode(Array[Byte](1, 2, 3)).isEmpty)
    // dataset path drops the non-ADPCM rows
    val df = Seq((1L, adpcm), (2L, pcm), (3L, adpcm.take(20)))
      .toDF("id", "payload")
    val rows = Multimodal.decodeAdpcmFeatures(df, "id", "payload")
      .collect()
    assert(rows.map(_.id).toSet === Set(1L))
    assert(rows(0).n_blocks === 2 && rows(0).n_samples === 34)
  }

  test("decodeMjpegFeatures: AVI walk + per-frame JDK JPEG decode; " +
      "gray constant-block fixtures yield EXACT means and motion") {
    import graft.functions.MjpegAvi
    def blk(f: Int, bx: Int, by: Int): Int =
      (7 + f * 29 + bx * 17 + by * 13) % 256
    val avi = MjpegAvi.encodeGrayBlocks(3, 2, 4, blk)
    val f = MjpegAvi.decode(avi).get
    assert((f.nFrames, f.width, f.height, f.channels) === ((4, 24, 16, 1)))
    // exact expectations straight from the block formula (64 px/block)
    val sums = (0 until 4).map(fr =>
      (for (bx <- 0 until 3; by <- 0 until 2)
        yield blk(fr, bx, by).toLong).sum * 64)
    assert(f.meanLuma === sums.sum.toDouble / (4L * 24 * 16)) // EXACT
    val motion = (1 until 4).map(i => math.abs(sums(i) - sums(i - 1))).sum
    assert(f.motion === motion.toDouble / (3L * 24 * 16))     // EXACT
    // single-frame video: motion is defined as 0
    val one = MjpegAvi.decode(
      MjpegAvi.encodeGrayBlocks(1, 1, 1, (_, _, _) => 99)).get
    assert(one.nFrames === 1 && one.motion === 0.0 && one.meanLuma === 99.0)
  }

  test("decodeMjpegFeatures: corrupt containers and non-AVI payloads " +
      "are data, not exceptions") {
    import graft.functions.{AdpcmWav, MjpegAvi}
    val avi = MjpegAvi.encodeGrayBlocks(2, 2, 2, (f, bx, by) => f * 50 + bx)
    assert(MjpegAvi.decode(avi).isDefined)
    assert(MjpegAvi.decode(null).isEmpty)
    assert(MjpegAvi.decode(avi.take(40)).isEmpty)        // movi truncated
    assert(MjpegAvi.decode("RIFFxxxxWAVE".getBytes).isEmpty) // not AVI
    assert(MjpegAvi.decode(
      AdpcmWav.encodeRaw(8000, 5, 1, _ => 0, _ => 0, (_, _) => 3)).isEmpty)
    // a frame chunk whose JPEG bytes are damaged → whole clip is None
    // (dimension/codec consistency is part of the decode contract)
    val broken = avi.clone()
    val soi = broken.indexOfSlice(Array(0xff.toByte, 0xd8.toByte))
    broken(soi) = 0x00
    assert(MjpegAvi.decode(broken).isEmpty)
    val df = Seq((1L, avi), (2L, broken)).toDF("id", "payload")
    val rows = Multimodal.decodeMjpegFeatures(df, "id", "payload")
      .collect()
    assert(rows.map(_.id).toSet === Set(1L))
  }

  test("decodeMjpegFrames: one exact-integer row per frame; corrupt " +
      "clips drop whole") {
    import graft.functions.MjpegAvi
    def blk(f: Int, bx: Int, by: Int): Int = (f * 80 + bx * 3 + by) % 256
    val avi = MjpegAvi.encodeGrayBlocks(2, 1, 3, blk)
    val broken = avi.clone()
    val soi = broken.indexOfSlice(Array(0xff.toByte, 0xd8.toByte))
    broken(soi) = 0x00
    val df = Seq((1L, avi), (2L, broken)).toDF("id", "payload")
    val rows = Multimodal.decodeMjpegFrames(df, "id", "payload")
      .collect().sortBy(_.frame_idx)
    assert(rows.forall(_.id == 1L) && rows.length === 3)
    rows.foreach { r =>
      assert((r.width, r.height) === ((16, 8)))
      val exp = (for (bx <- 0 until 2; by <- 0 until 1)
        yield blk(r.frame_idx, bx, by).toLong).sum * 64
      assert(r.luma_sum === exp, s"frame ${r.frame_idx}") // EXACT
    }
  }

  test("routeMixedFeatures: the six codecs are mutually exclusive — " +
      "each fixture payload is claimed by exactly its own decoder") {
    import graft.functions._
    val payloads: Seq[(String, Array[Byte])] = Seq(
      "bmp" -> BmpPixels.encode(8, 6, (x, y) => (x * 7 % 256, y, x)),
      "pcm" -> WavPcm.encode(8000, 1, 20, (t, _) => t * 100 - 800),
      "gif" -> GifPixels.encodeGray(8, 6, (x, y) => (x * 3 + y * 7) % 256),
      "qoi" -> QoiPixels.encodeRgb(6, 6, (x, y) => (x * 5, y * 3, x + y)),
      "ulaw" -> G711Wav.encode(mu = true, 8000, 1, 20, (t, _) => t % 256),
      "alaw" -> G711Wav.encode(mu = false, 8000, 1, 20, (t, _) => t % 256),
      "rle8" -> Rle8Avi.encode(16, 8,
        Seq(Rle8Avi.Full((x, y) => (x * 3 + y * 5) % 200))))
    // direct decoder-level exclusivity: every payload decodes under its
    // own codec and under NO other of the six
    for ((fmt, b) <- payloads) {
      val claims = Seq(
        "bmp" -> BmpPixels.decode(b).isDefined,
        "pcm" -> WavPcm.decode(b).isDefined,
        "gif" -> GifPixels.decode(b).isDefined,
        "qoi" -> QoiPixels.decode(b).isDefined,
        "g711" -> G711Wav.decode(b).isDefined,
        "rle8" -> Rle8Avi.decode(b).isDefined)
      val expected = if (fmt == "ulaw" || fmt == "alaw") "g711" else fmt
      assert(claims.collect { case (f, true) => f } === Seq(expected),
        s"payload $fmt claimed by: ${claims.filter(_._2).map(_._1)}")
    }
    // and through the Spark router: one row per payload, right fmt
    val df = payloads.zipWithIndex
      .map { case ((f, b), i) => (i.toLong, f, b) }
      .toDF("id", "expected", "payload")
    val routed = Multimodal.routeMixedFeatures(df, "id", "payload")
      .toDF().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(routed.size === payloads.size)
    for (((f, _), i) <- payloads.zipWithIndex) {
      val exp = if (f == "pcm") "pcm" else f
      assert(routed(i.toLong) === exp, s"row $i")
    }
  }
}
