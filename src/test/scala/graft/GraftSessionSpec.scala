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
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sql("SELECT isqrt(17L) AS r").head().getLong(0) === 4L)
  }

  private val checkpointFiles = "spark.sql.streaming.checkpointFileManagerClass"

  test("the shared session writes checkpoints through LocalCheckpointFiles; " +
      "register names it only when the session names no other manager") {
    assert(spark.conf.get(checkpointFiles) ===
      "graft.streaming.LocalCheckpointFiles")
    val bare = spark.newSession()
    assert(bare.conf.getOption(checkpointFiles).isEmpty)
    GraftFunctions.register(bare)
    assert(bare.conf.get(checkpointFiles) ===
      classOf[graft.streaming.LocalCheckpointFiles].getName)

    val other = spark.newSession()
    val theirs = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"
    other.conf.set(checkpointFiles, theirs)
    GraftFunctions.register(other)
    assert(other.conf.get(checkpointFiles) === theirs)
  }

  private def sourcesContaining(root: String, text: String): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(text))
      .map(_.getFileName.toString).toSeq.sorted

  test("GraftSession.scala is the only source file that builds a session") {
    assert(sourcesContaining("src", "SparkSession." + "builder()") ===
      Seq("GraftSession.scala"))
  }

  // session conf is set only where a session is set up (register); a
  // query that sets conf changes every later and every concurrent query
  // on the session
  test("src/main sets session conf only in GraftExtensions") {
    assert(sourcesContaining("src/main", "conf." + "set(") ===
      Seq("GraftExtensions.scala"))
  }
}
