package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {

  test("the shared test session is GraftSession.local(4)") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sql("SELECT isqrt(17L) AS r").head().getLong(0) === 4L)
  }

  test("GraftSession.scala is the only source file that builds a session") {
    val builds = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession." + "builder()"))
      .map(_.getFileName.toString).toSeq
    assert(builds === Seq("GraftSession.scala"))
  }
}
