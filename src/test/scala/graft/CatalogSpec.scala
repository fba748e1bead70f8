package graft

import java.nio.file.{Files, Paths}

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
}
