package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class BytesSpec extends AnyFunSuite {

  test("the AVI walk visits frames under movi and stops at the depth bound") {
    def nest(depth: Int): Array[Byte] =
      if (depth == 0) Riff.chunk("00dc", Array[Byte](1, 2, 3))
      else Riff.list("rec ", nest(depth - 1))
    def frames(movi: Array[Byte]) = {
      var n = 0
      Riff.walkAvi(Riff.chunk("RIFF", Bytes.ascii("AVI ") ++ movi))(
        (_, _) => true) { (_, id, _, inMovi) =>
        if (inMovi && Riff.isFrameId(id, dib = false)) n += 1
      }
      n
    }
    assert(frames(Riff.list("movi", nest(Riff.AviMaxDepth - 1))) === 1)
    assert(frames(Riff.list("movi", nest(Riff.AviMaxDepth))) === 0)
    assert(!Riff.walkAvi(Bytes.ascii("RIFF\u0000\u0000\u0000\u0000WAVE"))(
      (_, _) => true)((_, _, _, _) => ()))
  }

  test("only Bytes.scala and Riff.scala define byte readers, the parse " +
      "signal, bit readers/writers or a RIFF chunk step") {
    val copies = Seq(
      raw"def\s+(u8|le16|le32|be16|be32)\b".r,
      raw"class\s+(ParseEx|BitReader|BitWriter)\b".r,
      // cursor += 8 + size + (size & 1): the word-aligned chunk step
      raw"\+=\s*8L?\s*\+\s*(\w+)\s*\+\s*\(\s*\1\s*&\s*1\s*\)".r)
    val offenders = Files.list(Paths.get("src/main/scala/graft/functions"))
      .iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => Set("Bytes.scala", "Riff.scala")(p.getFileName.toString))
      .flatMap { p =>
        val src = Files.readString(p)
        copies.flatMap(_.findFirstIn(src)).map(m => s"${p.getFileName}: $m")
      }
    assert(offenders.isEmpty)
  }
}
