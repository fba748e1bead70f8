package graft.functions

import java.security.MessageDigest

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Pins what every byte-level decoder returns on a seeded corpus of
  * valid AND damaged payloads. The fuzz properties only check "never
  * throws" and the catalogue only sees valid fixtures; this spec
  * fixes the exact value (Some/None and every field) each entry point
  * returns per payload, so a refactor of the shared byte layer that
  * changes any decision on corrupt input fails here.
  *
  * Each corpus holds ~300 payloads: valid encodes from the codecs' own
  * `encode*` fixtures, then truncated, byte-flipped and chunk-shuffled
  * (permuted, duplicated or dropped RIFF chunks, permuted segments)
  * variants of them, all from a fixed seed. One digest per entry point
  * over the rendered results; regenerate a digest only when a decode
  * change is intended, and say which inputs it changes.
  */
class DecodeGoldenSpec extends AnyFunSuite {

  private val CorpusSize = 300

  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Top-level RIFF chunks of `b` as (offset, length incl. pad), or
    * empty when `b` is not RIFF. */
  private def riffChunks(b: Array[Byte]): IndexedSeq[(Int, Int)] =
    if (b.length < 12 || !b.take(4).sameElements(ascii("RIFF")))
      IndexedSeq.empty
    else {
      val out = IndexedSeq.newBuilder[(Int, Int)]
      var i = 12L
      while (i + 8 <= b.length) {
        val at = i.toInt
        val size = ((b(at + 4) & 0xff) | ((b(at + 5) & 0xff) << 8) |
          ((b(at + 6) & 0xff) << 16) | ((b(at + 7) & 0xff) << 24))
          .toLong & 0xffffffffL
        val len = math.min(8 + size + (size & 1), b.length.toLong - at)
        out += ((at, len.toInt))
        i += 8 + size + (size & 1)
      }
      out.result()
    }

  private def shuffled(rnd: Random, b: Array[Byte]): Array[Byte] = {
    val chunks = riffChunks(b)
    if (chunks.length >= 2 && rnd.nextBoolean()) {
      val picked = rnd.nextInt(3) match {
        case 0 => rnd.shuffle(chunks)                        // reorder
        case 1 =>                                            // duplicate
          val k = rnd.nextInt(chunks.length)
          chunks.patch(k, Seq(chunks(k), chunks(k)), 1)
        case _ => chunks.patch(rnd.nextInt(chunks.length), Nil, 1) // drop
      }
      b.take(12) ++ picked.flatMap { case (at, len) => b.slice(at, at + len) }
    } else {
      // permute the segments between random cut points after a header
      val head = math.min(b.length, 12)
      val cuts = (Seq.fill(3)(head + rnd.nextInt(b.length - head + 1)) ++
        Seq(head, b.length)).distinct.sorted
      val segs = cuts.sliding(2).collect {
        case Seq(from, until) => b.slice(from, until)
      }.toSeq
      b.take(head) ++ rnd.shuffle(segs).flatten
    }
  }

  private def flipped(rnd: Random, b: Array[Byte]): Array[Byte] = {
    val out = b.clone()
    if (out.nonEmpty) (0 until 1 + rnd.nextInt(3)).foreach { _ =>
      // half the flips land in the first 64 bytes, where headers sit
      val at =
        if (rnd.nextBoolean()) rnd.nextInt(math.min(64, out.length))
        else rnd.nextInt(out.length)
      out(at) = rnd.nextInt(256).toByte
    }
    out
  }

  /** `valid` followed by seeded damaged variants, CorpusSize in all. */
  private def corpus(seed: Long, valid: IndexedSeq[Array[Byte]])
      : IndexedSeq[Array[Byte]] = {
    val rnd = new Random(seed)
    valid ++ (valid.length until CorpusSize).map { _ =>
      val base = valid(rnd.nextInt(valid.length))
      rnd.nextInt(3) match {
        case 0 => base.take(rnd.nextInt(base.length + 1))
        case 1 => flipped(rnd, base)
        case _ => shuffled(rnd, base)
      }
    }
  }

  /** Content rendering: arrays by value, sequences by element, so the
    * digest sees results rather than identity hashes or collection
    * classes. */
  private def show(x: Any): String = x match {
    case null => "null"
    case a: Array[_] => a.iterator.map(show).mkString("[", ",", "]")
    case s: Iterable[_] => s.iterator.map(show).mkString("<", ",", ">")
    case p: Product =>
      p.productPrefix + p.productIterator.map(show).mkString("(", ",", ")")
    case v => v.toString
  }

  private def digest(payloads: Seq[Array[Byte]], f: Array[Byte] => Any)
      : String = {
    val md = MessageDigest.getInstance("SHA-256")
    payloads.foreach { p =>
      val r =
        try show(f(p))
        catch { case t: Throwable => "!" + t.getClass.getName }
      md.update((r + "\n").getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- valid fixtures, seeded per family ----

  private def wave(rnd: Random): IndexedSeq[Array[Byte]] =
    (0 until 18).map { k =>
      val rate = 8000 + rnd.nextInt(40000)
      val ch = 1 + rnd.nextInt(3)
      val n = rnd.nextInt(40)
      val s = rnd.nextInt(1000)
      k % 3 match {
        case 0 => WavPcm.encode(rate, ch, n,
          (t, c) => (t * 997 + c * 31 + s) % 65536 - 32768)
        case 1 => G711Wav.encode(k % 2 == 0, rate, ch, n,
          (t, c) => t * 7 + c * 13 + s)
        case _ => AdpcmWav.encodeRaw(rate, 5 + rnd.nextInt(12), rnd.nextInt(5),
          b => b * 777 - 1000 + s, b => (b * 31 + s) % 89,
          (b, j) => (b + j + s) % 16)
      }
    }

  private def avi(rnd: Random): IndexedSeq[Array[Byte]] =
    (0 until 12).map { k =>
      val s = rnd.nextInt(256)
      if (k % 2 == 0)
        MjpegAvi.encodeGrayBlocks(1 + rnd.nextInt(3), 1 + rnd.nextInt(2),
          1 + rnd.nextInt(3), (f, bx, by) => (f * 37 + bx * 11 + by * 29 + s) % 256)
      else {
        val (w, h) = (1 + rnd.nextInt(12), 1 + rnd.nextInt(10))
        Rle8Avi.encode(w, h, Rle8Avi.Full((x, y) => (x * 5 + y * 9 + s) % 256) +:
          (0 until rnd.nextInt(3)).map(i =>
            Rle8Avi.RowPatch((s + i) % h, i % 2 == 0, x => (x + i * 40 + s) % 256)))
      }
    }

  /** `kind` 0..4 = BMP, GIF, QOI, PNG, JPEG. */
  private def images(rnd: Random, kinds: Seq[Int]): IndexedSeq[Array[Byte]] =
    (0 until 20).map { k =>
      val (w, h, s) = (1 + rnd.nextInt(14), 1 + rnd.nextInt(12), rnd.nextInt(256))
      def rgb(x: Int, y: Int) =
        ((x * 17 + s) % 256, (y * 29 + s) % 256, (x * y + s) % 256)
      kinds(k % kinds.length) match {
        case 0 => BmpPixels.encode(w, h, rgb)
        case 1 => GifPixels.encodeGray(w, h, (x, y) => (x * 3 + y * 7 + s) % 256,
          interlaced = k % 2 == 0)
        case 2 => QoiPixels.encodeRgb(w, h,
          (x, y) => if (x % 3 == 0) (s, s, s) else rgb(x, y))
        case 3 => PngPixels.encode(w, h, k % 2 == 0, rgb)
        case _ => JpegPixels.encodeGrayBlocks(1 + w % 2, 1 + h % 2,
          (bx, by) => (bx * 60 + by * 90 + s) % 256)
      }
    }

  private def y4m(rnd: Random): IndexedSeq[Array[Byte]] =
    (0 until 10).map { k =>
      val chroma = Seq("C420jpeg", "C422", "C444")(k % 3)
      val (w, h) = (2 * (1 + rnd.nextInt(5)), 2 * (1 + rnd.nextInt(4)))
      val s = rnd.nextInt(256)
      Y4mFrames.encode(w, h, 25 + k, 1 + k % 2, 1 + rnd.nextInt(3),
        (f, x, y) => (f * 40 + x * 9 + y * 5 + s) % 256,
        (f, x, y) => (f + x + s) % 256, (f, x, y) => (f * 3 + y + s) % 256,
        chroma)
    }

  private def flac(rnd: Random): IndexedSeq[Array[Byte]] =
    (0 until 14).map { k =>
      val rate = 8000 + rnd.nextInt(40000)
      val bs = 8 + rnd.nextInt(40)
      val nf = 1 + rnd.nextInt(3)
      val s = rnd.nextInt(500)
      k % 7 match {
        case 0 => FlacAudio.encodeFixed(rate, bs, nf, k % 5, 3,
          (f, j) => f * 100 + j * 7 + s, (f, t) => (t * 13 + f + s) % 41 - 20)
        case 1 => FlacAudio.encodeLpc(rate, bs, nf, Array(3, -2, 1), 6, 2, 4,
          (f, j) => f * 50 + j + s, (f, t) => (t * 5 + f + s) % 31 - 15)
        case 2 => FlacFixtures.encodeConstant(rate, bs, nf, f => f * 300 - s)
        case 3 => FlacFixtures.encodeVerbatim(rate, bs, nf, (f, t) => t * 97 + f - s)
        case 4 => FlacAudio.encodeMultiVerbatim(rate, bs, nf, 1 + k % 4,
          (c, f, t) => c * 1000 + t * 11 + f + s)
        case 5 => FlacAudio.encodeDepthVerbatim(rate, bs, nf,
          Seq(8, 12, 20, 24, 32)(k % 5), (f, t) => t * 123457 + f - s)
        case _ => FlacAudio.encodeStereoVerbatim(rate, bs, nf,
          Seq(1, 8, 9, 10)(k % 4), (f, t) => t * 31 + s, (f, t) => f * 17 - t * 3)
      }
    }

  private def mpegL1(rnd: Random): IndexedSeq[Array[Byte]] =
    (0 until 9).map { k =>
      val s = rnd.nextInt(1000)
      val mode = Seq(3, 0, 1)(k % 3)
      Mpeg1Audio.encodeLayer1(1 + k % 2, 14, 2, mode, k % 4,
        (ch, sb) => if ((s + sb) % 3 == 0) 0 else 1 + (s * 5 + sb * 7) % 8,
        (ch, sb) => (s * 7 + sb * 11 + ch * 3) % 63,
        (f, t, ch, sb) => (s * 97 + f * 31 + t * 13 + sb * 17 + ch * 29) % 65536,
        withCrc = k % 4 == 1, padOf = f => (f + k) % 2)
    }

  private def mpegL2(rnd: Random): IndexedSeq[Array[Byte]] =
    (0 until 8).map { k =>
      val s = rnd.nextInt(1000)
      val mode = Seq(3, 0, 1)(k % 3)
      val v = k % 4
      val fsIdx = Array(1, 0, 1, 2)(v)
      val brIdx = if (mode == 3) Array(10, 10, 2, 2)(v) else Array(14, 14, 6, 6)(v)
      val nCh = if (mode == 3) 1 else 2
      val tab = Mpeg1Audio.l2AllocTable(fsIdx, Mpeg1Audio.BitrateL2(brIdx) / nCh)
      def cap(nbal: Int) = nbal match { case 2 => 2; case 3 => 6; case _ => 7 }
      Mpeg1Audio.encodeLayer2(1 + k % 2, brIdx, fsIdx, mode, (s / 3) % 4,
        (ch, sb) => if ((s + sb) % 2 == 0) 0
          else 1 + (s * 5 + sb * 7 + ch * 3) % cap(Mpeg1Audio.L2Nbal(tab)(sb)),
        (ch, sb) => (s * 3 + sb * 5 + ch * 7) % 4,
        (ch, sb, p) => (s * 7 + sb * 11 + ch * 3 + p * 19) % 63,
        (f, gr, i, ch, sb) =>
          (s * 97 + f * 31 + gr * 13 + i * 41 + sb * 17 + ch * 29) % 65536,
        withCrc = k % 3 == 1, padOf = f => (f + k) % 2)
    }

  private val waveCorpus = corpus(11, wave(new Random(1)))
  private val aviCorpus = corpus(12, avi(new Random(2)))
  private val bmpCorpus = corpus(13, images(new Random(3), Seq(0)))
  private val gifCorpus = corpus(19, images(new Random(10), Seq(1)))
  private val qoiCorpus = corpus(20, images(new Random(11), Seq(2)))
  private val pngCorpus = corpus(21, images(new Random(12), Seq(3)))
  private val y4mCorpus = corpus(14, y4m(new Random(4)))
  private val flacCorpus = corpus(15, flac(new Random(5)))
  private val l1Corpus = corpus(16, mpegL1(new Random(6)))
  private val l2Corpus = corpus(17, mpegL2(new Random(7)))
  private val mediaCorpus =
    corpus(18, wave(new Random(8)) ++ images(new Random(9), 0 to 4))

  /** (entry point, corpus, decode, pinned digest). */
  private val cases: Seq[(String, Seq[Array[Byte]], Array[Byte] => Any,
                          String)] = Seq(
    ("WavPcm.decode", waveCorpus, WavPcm.decode _, "28a170e8fe566896"),
    ("WavPcm.samples", waveCorpus, WavPcm.samples _, "ab95434dcaae2227"),
    ("G711Wav.decode", waveCorpus, G711Wav.decode _, "a52cfa9c00a3392f"),
    ("AdpcmWav.decode", waveCorpus, AdpcmWav.decode _, "c2ccf71a84cb05db"),
    ("MediaHeaders.parse", mediaCorpus, MediaHeaders.parse _, "898c3ad7dcbee28d"),
    ("MjpegAvi.decode", aviCorpus, MjpegAvi.decode _, "389d264ca8a577c9"),
    ("MjpegAvi.grayFrameSums", aviCorpus, MjpegAvi.grayFrameSums _,
      "dda983a56a25c17a"),
    ("Rle8Avi.decode", aviCorpus, Rle8Avi.decode _, "60789a17b9ecfb50"),
    ("BmpPixels.decode", bmpCorpus, BmpPixels.decode _, "ab5314d814f1e5d4"),
    ("GifPixels.decode", gifCorpus, GifPixels.decode _, "694aa16ba2e3dd3c"),
    ("QoiPixels.decode", qoiCorpus, QoiPixels.decode _, "18bf71be822a24e2"),
    ("PngPixels.decode", pngCorpus, PngPixels.decode _, "88bb0693ef7f4095"),
    ("Y4mFrames.decode", y4mCorpus, Y4mFrames.decode _, "875487610da34e0a"),
    ("FlacAudio.decode", flacCorpus, FlacAudio.decode _, "b7ca34702790b8e5"),
    ("Mpeg1Audio.decode", l1Corpus, Mpeg1Audio.decode _, "5f2d7d6c17172721"),
    ("Mpeg1Audio.decodePcm", l1Corpus, Mpeg1Audio.decodePcm _, "6d23d43155bde339"),
    ("Mpeg1Audio.decodePcmSamples", l1Corpus,
      Mpeg1Audio.decodePcmSamples _, "ac56d16c151c7e53"),
    ("Mpeg1Audio.decodeL2", l2Corpus, Mpeg1Audio.decodeL2 _, "1b54e074a01fdc7c"),
    ("Mpeg1Audio.decodeL2Pcm", l2Corpus, Mpeg1Audio.decodeL2Pcm _,
      "ad1bd8a2a6afeb3b"),
    ("Mpeg1Audio.decodeL2PcmSamples", l2Corpus,
      Mpeg1Audio.decodeL2PcmSamples _, "fda6a5742d3df341"))

  test("every corpus holds CorpusSize payloads with valid ones decoding") {
    for (c <- Seq(waveCorpus, aviCorpus, bmpCorpus, gifCorpus, qoiCorpus,
      pngCorpus, y4mCorpus, flacCorpus, l1Corpus, l2Corpus, mediaCorpus))
      assert(c.length === CorpusSize)
    assert(WavPcm.decode(waveCorpus.head).isDefined)
    assert(MjpegAvi.decode(aviCorpus.head).isDefined)
    assert(Rle8Avi.decode(aviCorpus(1)).isDefined)
    assert(FlacAudio.decode(flacCorpus.head).isDefined)
    assert(Mpeg1Audio.decode(l1Corpus.head).isDefined)
    assert(Mpeg1Audio.decodeL2(l2Corpus.head).isDefined)
  }

  for ((name, payloads, decode, pinned) <- cases)
    test(s"$name returns the pinned results on its seeded corpus") {
      assert(digest(payloads, decode) === pinned, s"$name digest")
    }
}
