package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.QueryDef

class CatalogSpec extends AnyFunSuite {

  private val defs = SparkEntry.catalogue
  private val names = defs.map(_.name)

  test("339 queries, with unique names and unique qNN prefixes") {
    assert(defs.size === 339)
    assert(names.distinct.size === names.size)
    assert(names.map(QueryDef.prefix).distinct.size === names.size)
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("the catalogue is built once") {
    assert(SparkEntry.catalogue eq SparkEntry.catalogue)
  }

  test("every query but q40 has an oracle") {
    assert(SparkEntry.oracleSql.keySet ===
      SparkEntry.queries.keySet - "q40_embed_ann_kmeans")
  }

  test("construction rejects a repeated name or a repeated qNN prefix") {
    val d = defs.head
    val name = intercept[IllegalArgumentException] {
      QueryDef.catalogue(defs :+ d)
    }
    assert(name.getMessage.contains(d.name))
    val prefix = intercept[IllegalArgumentException] {
      QueryDef.catalogue(defs :+ d.copy(name = QueryDef.prefix(d.name) + "_x"))
    }
    assert(prefix.getMessage.contains(QueryDef.prefix(d.name)))
  }

  test("each query name is declared by exactly one QueryDef under src/main") {
    val Decl = """QueryDef\("(q\d+_\w+)"""".r
    val declared = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap(p => Decl.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSeq
    assert(declared.sorted === names.sorted)
  }

  test("every oracle's text matches its pinned SHA-256") {
    // the PCM oracles (q332-q335) interpolate the decoder's window
    // table, so replacing Mpeg1Audio.WindowD changes their pins
    val src = Source.fromResource("graft/oracle-sha256.tsv",
      getClass.getClassLoader)
    val pinned = try src.getLines().filterNot(_.startsWith("#"))
      .map(_.split('\t')).map { case Array(k, v) => k -> v }.toMap
    finally src.close()
    def sha(s: String) = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString
    val live = SparkEntry.oracleSql.map { case (k, v) => k -> sha(v) }
    val differ = (pinned.keySet ++ live.keySet).toSeq.sorted
      .filter(k => pinned.get(k) != live.get(k))
    assert(differ.isEmpty, "oracle text differs from its pin: " +
      differ.mkString(", "))
  }

  // A stage that several queries share is declared once, as a fragment
  // in its module. The scan reads the nine query modules line by line,
  // trimmed, and skips blank lines and lines made only of brackets,
  // commas, quotes or a bare `|` margin; a window of 12 consecutive
  // remaining lines that occurs twice is a pasted copy.
  test("no 12 significant lines of the query modules occur twice") {
    val skip = """[\s()\[\]{},"'|]*""".r
    val window = 12
    val modules = Files.list(Paths.get("src/main/scala/graft/catalog"))
      .iterator().asScala
      .filter(_.getFileName.toString.endsWith("Queries.scala"))
      .toSeq.sortBy(_.toString)
    val seen = collection.mutable.Map[Seq[String], String]()
    val copies = collection.mutable.ArrayBuffer[(String, String)]()
    for (m <- modules) {
      val lines = Files.readAllLines(m).asScala.zipWithIndex
        .map { case (l, i) => (s"${m.getFileName}:${i + 1}", l.trim) }
        .filterNot { case (_, l) => skip.matches(l) }.toSeq
      var inRun = false
      for (w <- lines.sliding(window) if w.size == window) {
        val here = w.head._1
        val first = seen.getOrElseUpdate(w.map(_._2), here)
        // name each repeated run once, at its first window
        if (first != here && !inRun) copies += first -> here
        inRun = first != here
      }
    }
    if (copies.nonEmpty) fail(s"${copies.size} repeated blocks:\n" +
      copies.map { case (a, b) => s"  $a = $b" }.mkString("\n"))
  }
}
