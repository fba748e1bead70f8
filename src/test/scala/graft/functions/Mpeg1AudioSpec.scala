package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM gates for the MPEG-1 Layer I subband decoder: encode →
  * decode round-trips against an independent Scala model of the
  * dequantization, plus the malformed-payload drop contract (None,
  * never an exception — the FlacAudio posture). The cross-engine
  * certification lives in q330's DuckDB oracle; this spec is the fast
  * in-build gate. */
class Mpeg1AudioSpec extends AnyFunSuite {

  private def alloc(id: Long)(ch: Int, sb: Int): Int =
    if ((id + sb) % 3 == 0) 0 else 1 + ((id * 5 + sb * 7) % 8).toInt
  private def scf(id: Long)(ch: Int, sb: Int): Int =
    ((id * 7 + sb * 11 + ch * 3) % 63).toInt
  private def code(id: Long)(f: Int, t: Int, ch: Int, sb: Int): Int =
    ((id * 97 + f * 31 + t * 13 + sb * 17 + ch * 29) % 65536).toInt

  private def fixture(id: Long): Array[Byte] = {
    val kind = (id % 3).toInt
    val mode = kind match { case 0 => 3; case 1 => 0; case _ => 1 }
    Mpeg1Audio.encodeLayer1(1 + (id % 2).toInt, 14, 2, mode,
      (id % 4).toInt, alloc(id), scf(id), code(id))
  }

  /** Independent model: every decoded sample instance in scan order. */
  private def model(id: Long): Seq[Long] = {
    val kind = (id % 3).toInt
    val nCh = if (kind == 0) 1 else 2
    val bound = if (kind == 2) ((id % 4).toInt + 1) * 4 else 32
    val nFr = 1 + (id % 2).toInt
    for {
      f <- 0 until nFr
      t <- 0 until 12
      sb <- 0 until 32
      ch <- 0 until nCh
      a = alloc(id)(0, sb)
      if a != 0
    } yield {
      val nb = a + 1
      val srcCh = if (sb >= bound) 0 else ch
      val c = code(id)(f, t, srcCh, sb) & ((1 << nb) - 1)
      Mpeg1Audio.dequantFp(c, nb, scf(id)(ch, sb))
    }
  }

  test("round-trip: mono / stereo / joint, 1-2 frames, all stats") {
    for (id <- 0L until 24L) {
      val f = Mpeg1Audio.decode(fixture(id))
        .getOrElse(fail(s"decode failed for id=$id"))
      val m = model(id)
      assert(f.sampleRate === 32000)
      assert(f.bitrateKbps === 448)
      assert(f.nChannels === (if (id % 3 == 0) 1 else 2))
      assert(f.nFrames === 1 + (id % 2).toInt)
      assert(f.nSamples === m.size.toLong, s"id=$id")
      assert(f.sumAbsFp === m.map(math.abs).sum, s"id=$id")
      assert(f.peakFp === m.map(math.abs).max, s"id=$id")
      assert(f.lastFp === m.last, s"id=$id")
      assert(f.nActive === m.size / 12, s"id=$id")
    }
  }

  test("malformed payloads drop (None), never throw") {
    val good = fixture(7L)
    assert(Mpeg1Audio.decode(Array.empty[Byte]).isEmpty)
    assert(Mpeg1Audio.decode(good.take(10)).isEmpty) // truncated frame
    val badSync = good.clone(); badSync(0) = 0x12
    assert(Mpeg1Audio.decode(badSync).isEmpty)
    val lsf = good.clone(); lsf(1) = (lsf(1) & 0xf7).toByte // ID=0
    assert(Mpeg1Audio.decode(lsf).isEmpty)
    val badBr = good.clone() // bitrate index 15 (forbidden)
    badBr(2) = (badBr(2) | 0xf0).toByte
    assert(Mpeg1Audio.decode(badBr).isEmpty)
    // allocation code 15 in the first slot (forbidden)
    val badAlloc = good.clone()
    badAlloc(4) = (badAlloc(4) | 0xf0).toByte
    assert(Mpeg1Audio.decode(badAlloc).isEmpty)
    // trailing garbage after the last frame
    assert(Mpeg1Audio.decode(good ++ Array[Byte](1, 2, 3)).isEmpty)
  }

  test("Layer II/III headers are the documented seam: None, not a parse") {
    val good = fixture(3L)
    val l2 = good.clone()
    // layer bits live at header bits 17-18 (byte 1, bits 1-2): I=11 -> II=10
    l2(1) = ((l2(1) & 0xf9) | 0x04).toByte
    assert(Mpeg1Audio.decode(l2).isEmpty)
    val l3 = good.clone()
    l3(1) = ((l3(1) & 0xf9) | 0x02).toByte
    assert(Mpeg1Audio.decode(l3).isEmpty)
  }

  // ---------------- Layer II ----------------

  private def l2Cap(nbal: Int): Int =
    nbal match { case 2 => 2; case 3 => 6; case _ => 7 }

  /** The q331 fixture plan: variant v = id%4 picks the 3-B.2 table
    * (a/b/c/d via fs + bitrate-per-channel), kind = id%3 the mode. */
  private def l2Params(id: Long): (Int, Int, Int, Int) = {
    val kind = (id % 3).toInt
    val v = (id % 4).toInt
    val mode = kind match { case 0 => 3; case 1 => 0; case _ => 1 }
    val fsIdx = Array(1, 0, 1, 2)(v)
    val brIdx =
      if (mode == 3) Array(10, 10, 2, 2)(v) else Array(14, 14, 6, 6)(v)
    (mode, ((id / 3) % 4).toInt, fsIdx, brIdx)
  }

  private def l2Alloc(id: Long, tab: Int)(ch: Int, sb: Int): Int =
    if ((id + sb) % 2 == 0) 0
    else 1 + ((id * 5 + sb * 7 + ch * 3) %
      l2Cap(Mpeg1Audio.L2Nbal(tab)(sb))).toInt
  private def l2Scfsi(id: Long)(ch: Int, sb: Int): Int =
    ((id * 3 + sb * 5 + ch * 7) % 4).toInt
  private def l2Scf(id: Long)(ch: Int, sb: Int, p: Int): Int =
    ((id * 7 + sb * 11 + ch * 3 + p * 19) % 63).toInt
  private def l2Code(id: Long)(f: Int, gr: Int, i: Int, ch: Int,
                               sb: Int): Int =
    ((id * 97 + f * 31 + gr * 13 + i * 41 + sb * 17 + ch * 29) %
      65536).toInt

  private def l2Fixture(id: Long): Array[Byte] = {
    val (mode, ext, fsIdx, brIdx) = l2Params(id)
    val nCh = if (mode == 3) 1 else 2
    val tab = Mpeg1Audio.l2AllocTable(fsIdx,
      Mpeg1Audio.BitrateL2(brIdx) / nCh)
    Mpeg1Audio.encodeLayer2(1 + (id % 2).toInt, brIdx, fsIdx, mode, ext,
      l2Alloc(id, tab), l2Scfsi(id), l2Scf(id), l2Code(id))
  }

  /** Independent model of every Layer II sample instance in decode
    * order (f, gr, sb, ch, i), plus (nActive, nScf) per frame. */
  private def l2Model(id: Long): (Seq[Long], Long, Long, Int) = {
    val (mode, ext, fsIdx, brIdx) = l2Params(id)
    val nCh = if (mode == 3) 1 else 2
    val tab = Mpeg1Audio.l2AllocTable(fsIdx,
      Mpeg1Audio.BitrateL2(brIdx) / nCh)
    val sbLimit = Mpeg1Audio.L2SbLimit(tab)
    val bound =
      math.min(if (mode == 1) (ext + 1) * 4 else sbLimit, sbLimit)
    val nFr = 1 + (id % 2).toInt
    def cls(ch: Int, sb: Int): Int = {
      val src = if (sb >= bound && nCh == 2) 0 else ch
      Mpeg1Audio.l2ClsOfIdx(tab, sb, l2Alloc(id, tab)(src, sb))
    }
    def eff(ch: Int, sb: Int, p: Int): Int = l2Scfsi(id)(ch, sb) match {
      case 0 => l2Scf(id)(ch, sb, p)
      case 1 => l2Scf(id)(ch, sb, if (p < 2) 0 else 2)
      case 2 => l2Scf(id)(ch, sb, 0)
      case _ => l2Scf(id)(ch, sb, if (p == 0) 0 else 1)
    }
    val vals = for {
      f <- 0 until nFr
      gr <- 0 until 12
      sb <- 0 until sbLimit
      ch <- 0 until nCh
      k = cls(ch, sb)
      if k != 0
      i <- 0 until 3
    } yield {
      val srcCh = if (sb >= bound && nCh == 2) 0 else ch
      val raw = l2Code(id)(f, gr, i, srcCh, sb)
      val c = if (Mpeg1Audio.ClsGrouped(k)) raw % Mpeg1Audio.ClsSteps(k)
        else raw & ((1 << Mpeg1Audio.ClsBits(k)) - 1)
      Mpeg1Audio.dequantFp2(c, k, eff(ch, sb, gr >> 2))
    }
    val slots = for (sb <- 0 until sbLimit; ch <- 0 until nCh
                     if cls(ch, sb) != 0) yield (ch, sb)
    val nScfPerFrame = slots.map { case (ch, sb) =>
      l2Scfsi(id)(ch, sb) match { case 0 => 3; case 2 => 1; case _ => 2 }
    }.sum
    (vals, nFr.toLong * slots.size, nFr.toLong * nScfPerFrame, tab)
  }

  test("Layer II round-trip: all four 3-B.2 tables, mono / stereo / " +
      "joint, grouping, scfsi, 1-2 frames, all stats") {
    var tabsSeen = Set.empty[Int]
    var scfsiSeen = Set.empty[Int]
    for (id <- 0L until 24L) {
      val f = Mpeg1Audio.decodeL2(l2Fixture(id))
        .getOrElse(fail(s"decodeL2 failed for id=$id"))
      val (m, nAct, nScf, tab) = l2Model(id)
      tabsSeen += tab
      for (sb <- 0 until Mpeg1Audio.L2SbLimit(tab); ch <- 0 until
          f.nChannels) scfsiSeen += l2Scfsi(id)(ch, sb)
      assert(f.tabId === tab, s"id=$id")
      assert(f.sbLimit === Mpeg1Audio.L2SbLimit(tab))
      assert(f.nChannels === (if (id % 3 == 0) 1 else 2))
      assert(f.nFrames === 1 + (id % 2).toInt)
      assert(f.nSamples === m.size.toLong, s"id=$id")
      assert(f.nActive === nAct, s"id=$id")
      assert(f.nScf === nScf, s"id=$id")
      assert(f.sumAbsFp === m.map(math.abs).sum, s"id=$id")
      assert(f.peakFp === m.map(math.abs).max, s"id=$id")
      assert(f.lastFp === m.last, s"id=$id")
    }
    assert(tabsSeen === Set(0, 1, 2, 3), "all four 3-B.2 tables hit")
    assert(scfsiSeen === Set(0, 1, 2, 3), "all scfsi modes hit")
  }

  test("Layer II: malformed payloads and the Layer III seam drop") {
    val good = l2Fixture(5L)
    assert(Mpeg1Audio.decodeL2(Array.empty[Byte]).isEmpty)
    assert(Mpeg1Audio.decodeL2(good.take(9)).isEmpty) // truncated
    val badSync = good.clone(); badSync(0) = 0x21
    assert(Mpeg1Audio.decodeL2(badSync).isEmpty)
    // a Layer I payload is not Layer II (and vice versa — one layer
    // per decoder, the seam stays explicit)
    assert(Mpeg1Audio.decodeL2(fixture(5L)).isEmpty)
    assert(Mpeg1Audio.decode(good).isEmpty)
    val l3 = good.clone() // layer bits 10 -> 01
    l3(1) = ((l3(1) & 0xf9) | 0x02).toByte
    assert(Mpeg1Audio.decodeL2(l3).isEmpty)
    // free-format bitrate (index 0) has no 3-B.2 table
    val free = good.clone(); free(2) = (free(2) & 0x0f).toByte
    assert(Mpeg1Audio.decodeL2(free).isEmpty)
    assert(Mpeg1Audio.decodeL2(good ++ Array[Byte](7)).isEmpty)
  }

  test("Layer II dequant: grouped and ungrouped collapse to " +
      "(2c + 1 - steps) * QSF2, QSF2 matches QSF on ungrouped classes") {
    // ungrouped class 5 (15 steps, 4 bits) == Layer I nb=4
    for (idx <- 0 until 63)
      assert(Mpeg1Audio.QSF2(idx)(5) === Mpeg1Audio.QSF(idx)(4))
    // grouped 3-step class: codes 0,1,2 -> -2,0,+2 over 3 (symmetric)
    assert(Mpeg1Audio.dequantFp2(0, 1, 0) === -2 * Mpeg1Audio.QSF2(0)(1))
    assert(Mpeg1Audio.dequantFp2(1, 1, 0) === 0L)
    assert(Mpeg1Audio.dequantFp2(2, 1, 0) === 2 * Mpeg1Audio.QSF2(0)(1))
    // grouped 9-step: symmetric around code 4
    assert(Mpeg1Audio.dequantFp2(4, 4, 7) === 0L)
    assert(Mpeg1Audio.dequantFp2(0, 4, 7) ===
      -Mpeg1Audio.dequantFp2(8, 4, 7))
  }

  test("CRC-16 (ISO 11172-3 §2.4.3.1): transparent when correct, " +
      "detects protected-field corruption both layers") {
    for (id <- Seq(1L, 4L, 7L, 10L)) {
      // Layer I: a CRC'd frame decodes to the SAME features
      val kind = (id % 3).toInt
      val mode = kind match { case 0 => 3; case 1 => 0; case _ => 1 }
      def enc(c: Boolean) = Mpeg1Audio.encodeLayer1(1, 14, 2, mode,
        (id % 4).toInt, alloc(id), scf(id), code(id), withCrc = c)
      val plain = Mpeg1Audio.decode(enc(false)).get
      val crcd = enc(true)
      assert(Mpeg1Audio.decode(crcd).contains(plain), s"L1 id=$id")
      // corrupt one allocation bit (byte 6 sits in the alloc field
      // past header+CRC): without CRC this would silently decode to
      // DIFFERENT features; with CRC the frame must drop
      val corrupt = crcd.clone()
      corrupt(6) = (corrupt(6) ^ 0x10).toByte
      assert(Mpeg1Audio.decode(corrupt).isEmpty, s"L1 corrupt id=$id")
      // corrupt the CRC itself -> drop
      val badCrc = crcd.clone()
      badCrc(4) = (badCrc(4) ^ 0x01).toByte
      assert(Mpeg1Audio.decode(badCrc).isEmpty, s"L1 badcrc id=$id")

      // Layer II: same contract
      val (m2, ext2, fs2, br2) = l2Params(id)
      val tab = Mpeg1Audio.l2AllocTable(fs2,
        Mpeg1Audio.BitrateL2(br2) / (if (m2 == 3) 1 else 2))
      def enc2(c: Boolean) = Mpeg1Audio.encodeLayer2(1, br2, fs2, m2,
        ext2, l2Alloc(id, tab), l2Scfsi(id), l2Scf(id), l2Code(id),
        withCrc = c)
      val plain2 = Mpeg1Audio.decodeL2(enc2(false)).get
      val crcd2 = enc2(true)
      assert(Mpeg1Audio.decodeL2(crcd2).contains(plain2), s"L2 id=$id")
      val corrupt2 = crcd2.clone()
      corrupt2(6) = (corrupt2(6) ^ 0x10).toByte
      assert(Mpeg1Audio.decodeL2(corrupt2).isEmpty, s"L2 corrupt id=$id")
    }
  }

  test("padding bit: padded frames decode to IDENTICAL features " +
      "(padding bytes are ancillary), both layers, with and without CRC") {
    for (id <- Seq(2L, 5L, 9L); crc <- Seq(false, true)) {
      val kind = (id % 3).toInt
      val mode = kind match { case 0 => 3; case 1 => 0; case _ => 1 }
      def enc1(pad: Int => Int) = Mpeg1Audio.encodeLayer1(3, 14, 2,
        mode, (id % 4).toInt, alloc(id), scf(id), code(id),
        withCrc = crc, padOf = pad)
      val plain1 = Mpeg1Audio.decode(enc1(_ => 0)).get
      val padded1 = enc1(f => f % 2) // the alternating 44.1-style shape
      assert(padded1.length === enc1(_ => 0).length + 4,
        "L1 pads one 32-bit slot")
      assert(Mpeg1Audio.decode(padded1).contains(plain1),
        s"L1 id=$id crc=$crc")

      val (m2, ext2, fs2, br2) = l2Params(id)
      val tab = Mpeg1Audio.l2AllocTable(fs2,
        Mpeg1Audio.BitrateL2(br2) / (if (m2 == 3) 1 else 2))
      def enc2(pad: Int => Int) = Mpeg1Audio.encodeLayer2(3, br2, fs2,
        m2, ext2, l2Alloc(id, tab), l2Scfsi(id), l2Scf(id), l2Code(id),
        withCrc = crc, padOf = pad)
      val plain2 = Mpeg1Audio.decodeL2(enc2(_ => 0)).get
      val padded2 = enc2(f => f % 2)
      assert(padded2.length === enc2(_ => 0).length + 1,
        "L2 pads one byte slot")
      assert(Mpeg1Audio.decodeL2(padded2).contains(plain2),
        s"L2 id=$id crc=$crc")
    }
  }

  test("QSF table: positive, decreasing in scf index, spec magnitudes") {
    for (nb <- 2 to 15) {
      assert(Mpeg1Audio.QSF(0)(nb) > 0)
      for (idx <- 1 until 63)
        assert(Mpeg1Audio.QSF(idx)(nb) <= Mpeg1Audio.QSF(idx - 1)(nb))
    }
    // idx=0 -> SF=2.0 exactly: QSF = round(131072 / (2^nb - 1))
    assert(Mpeg1Audio.QSF(0)(2) === Math.round(131072.0 / 3))
    assert(Mpeg1Audio.QSF(0)(15) === Math.round(131072.0 / 32767))
  }

  test("matrixing table: closed-form anchors and cosine bounds") {
    for (i <- 0 until 64; k <- 0 until 32)
      assert(math.abs(Mpeg1Audio.Nfp(i)(k)) <= 65536L)
    // 16+i = 32: cos((2k+1)π/2) = 0 for every k
    for (k <- 0 until 32) assert(Mpeg1Audio.Nfp(16)(k) === 0L)
    // 16+i = 64: cos((2k+1)π) = -1 for every k
    for (k <- 0 until 32) assert(Mpeg1Audio.Nfp(48)(k) === -65536L)
    // i = 0: cos((2k+1)π/4) alternates ±√2/2, 2-periodic in k pairs
    val r = Math.round(65536.0 * StrictMath.sqrt(0.5))
    assert(Mpeg1Audio.Nfp(0)(0) === r)
    assert(Mpeg1Audio.Nfp(0)(1) === -r)
  }

  test("synthesis window: spec grid, zero head, peak, symmetry classes") {
    val d = Mpeg1Audio.WindowD
    assert(d.length === 512)
    assert(d(0) === 0L)
    assert(d(256) === 75038L) // round(1.144989014 · 2^16), the spec peak
    assert(d.map(math.abs).max === 75038L)
    for (i <- 1 until 256)
      assert(d(512 - i) === (if (i % 64 == 0) d(i) else -d(i)), s"i=$i")
  }

  /** Independent synthesis model: the spec text TRANSCRIBED — build
    * V/U/W as separate arrays with the literal index formulas, no
    * fusion — checked against SynthState's fused loop. */
  private def modelSynth(groups: Seq[Array[Long]]): Seq[Array[Long]] = {
    val v = Array.fill(1024)(0L)
    groups.map { s =>
      for (i <- 1023 to 64 by -1) v(i) = v(i - 64)
      for (i <- 0 until 64)
        v(i) = (0 until 32).map(k => Mpeg1Audio.Nfp(i)(k) * s(k)).sum >> 16
      val u = new Array[Long](512)
      for (i <- 0 until 8; j <- 0 until 32) {
        u(i * 64 + j) = v(i * 128 + j)
        u(i * 64 + 32 + j) = v(i * 128 + 96 + j)
      }
      val w = Array.tabulate(512)(i => u(i) * Mpeg1Audio.WindowD(i))
      Array.tabulate(32)(j => (0 until 16).map(i => w(j + 32 * i)).sum)
    }
  }

  test("SynthState matches the transcribed spec model, incl. history") {
    val groups = (0 until 40).map(g =>
      Array.tabulate(32)(k =>
        (((g * 131 + k * 17) % 997) - 498) * 131L)) // signed, 2^16-ish
    val st = new Mpeg1Audio.SynthState
    val out = new Array[Long](32)
    val expected = modelSynth(groups)
    groups.zipWithIndex.foreach { case (s, gi) =>
      st.processGroup(s, out)
      assert(out.toSeq === expected(gi).toSeq, s"group $gi")
    }
  }

  test("decodePcm: defined iff decode is; impulse history crosses " +
      "group and frame boundaries; silence synthesizes to zero") {
    for (id <- 0L until 24L) {
      val b = fixture(id)
      val pcm = Mpeg1Audio.decodePcm(b)
        .getOrElse(fail(s"decodePcm failed for id=$id"))
      val f = Mpeg1Audio.decode(b).get
      // one group row per (channel, frame·12 + t)
      assert(pcm.size === f.nChannels * f.nFrames * 12, s"id=$id")
      assert(pcm.map(g => (g.ch, g.t)).distinct.size === pcm.size)
    }
    assert(Mpeg1Audio.decodePcm(Array[Byte](1, 2, 3)).isEmpty)
    // all-silent frame: every subband unallocated -> PCM identically 0
    val silent = Mpeg1Audio.encodeLayer1(2, 14, 2, 3, 0,
      (_, _) => 0, (_, _) => 0, (_, _, _, _) => 0)
    val sp = Mpeg1Audio.decodePcm(silent).get
    assert(sp.forall(g => g.sumAbs == 0L && g.peak == 0L && g.last == 0L))
    // a single group with one nonzero subband, then silence: the V
    // register must keep producing windowed tails for 16 groups
    val oneShot = Mpeg1Audio.encodeLayer1(1, 14, 2, 3, 0,
      (_, sb) => if (sb == 0) 5 else 0, (_, _) => 0,
      (_, t, _, _) => if (t == 0) 63 else 31) // t=0 loud, rest midscale
    val op = Mpeg1Audio.decodePcm(oneShot).get
    assert(op.head.sumAbs > 0L)
    assert(op.drop(1).exists(_.sumAbs > 0L), "history carried forward")
  }

  test("synthesis register mechanics: zero-prefix time invariance " +
      "and constant-input steady state (both EXACT)") {
    val sig = (0 until 20).map(g =>
      Array.tabulate(32)(k => (((g * 37 + k * 101) % 513) - 256) * 257L))
    def run(groups: Seq[Array[Long]]): Seq[Seq[Long]] = {
      val st = new Mpeg1Audio.SynthState
      val out = new Array[Long](32)
      groups.map { s => st.processGroup(s, out); out.toSeq }
    }
    // zeros contribute exactly 0 through matrixing, floor and window,
    // so k zero groups only delay the signal: out(0^k ++ S)[k..] ==
    // out(S) — the shift register carries no other state
    val plain = run(sig)
    for (k <- Seq(1, 5, 16, 20)) {
      val delayed = run(Seq.fill(k)(new Array[Long](32)) ++ sig)
      assert(delayed.drop(k) === plain, s"k=$k")
      assert(delayed.take(k).forall(_.forall(_ == 0L)), s"k=$k head")
    }
    // a constant input saturates the 16-generation register: outputs
    // from group 16 onward must be IDENTICAL, exactly
    val const = Array.tabulate(32)(k => (k - 16) * 4097L)
    val steady = run(Seq.fill(24)(const))
    assert(steady.drop(16).distinct.size === 1)
    assert(steady.drop(15).head === steady.last) // already steady at 15
  }

  test("decodePcmSamples: concatenation agrees with decodePcm's " +
      "per-group stats, slice by slice") {
    for (id <- 0L until 12L) {
      val b = fixture(id)
      val samples = Mpeg1Audio.decodePcmSamples(b).get.toMap
      val groups = Mpeg1Audio.decodePcm(b).get
      groups.foreach { g =>
        val slice = samples(g.ch).slice(g.t * 32, g.t * 32 + 32)
        assert(slice.length === 32)
        assert(slice.map(math.abs).sum === g.sumAbs, s"id=$id g=$g")
        assert(slice.map(math.abs).max === g.peak)
        assert(slice.last === g.last)
      }
    }
  }

  test("decodeL2PcmSamples: concatenation agrees with decodeL2Pcm's " +
      "per-group stats, slice by slice") {
    for (id <- 0L until 12L) {
      val b = l2Fixture(id)
      val samples = Mpeg1Audio.decodeL2PcmSamples(b).get.toMap
      val groups = Mpeg1Audio.decodeL2Pcm(b).get
      groups.foreach { g =>
        val slice = samples(g.ch).slice(g.t * 32, g.t * 32 + 32)
        assert(slice.length === 32)
        assert(slice.map(math.abs).sum === g.sumAbs, s"id=$id g=$g")
        assert(slice.map(math.abs).max === g.peak)
        assert(slice.last === g.last)
      }
    }
  }

  test("decodeL2Pcm: 36 groups per (channel, frame), defined iff " +
      "decodeL2 is, synthesis shared with Layer I") {
    for (id <- 0L until 24L) {
      val b = l2Fixture(id)
      val pcm = Mpeg1Audio.decodeL2Pcm(b)
        .getOrElse(fail(s"decodeL2Pcm failed for id=$id"))
      val f = Mpeg1Audio.decodeL2(b).get
      assert(pcm.size === f.nChannels * f.nFrames * 36, s"id=$id")
      assert(pcm.map(g => (g.ch, g.t)).distinct.size === pcm.size)
      assert(pcm.exists(_.sumAbs > 0L), s"id=$id")
    }
    assert(Mpeg1Audio.decodeL2Pcm(Array[Byte](7, 7, 7)).isEmpty)
  }

  // grid, head and symmetry classes: "synthesis window" above
  test("window table: one constant for decoder and q332 oracle, within " +
      "the headroom bound; stand-in decode is deterministic") {
    val d = Mpeg1Audio.WindowD
    assert(d.forall(v => math.abs(v) < (1L << 17)), "|D| < 2^17")
    def pcmSig(): Seq[(Int, Int, Long, Long, Long)] =
      Mpeg1Audio.decodePcm(fixture(7L)).get
        .map(g => (g.ch, g.t, g.sumAbs, g.peak, g.last))
    assert(pcmSig() === pcmSig(), "stand-in decode is deterministic")
    // the q332 oracle embeds the same 512 literals
    assert(graft.SparkEntry.oracleSql("q332_mpeg1_pcm")
      .contains(d.mkString("[", ",", "]")))
  }
}
