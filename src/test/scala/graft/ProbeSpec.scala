package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.countDistinct

class ProbeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("explain writes the formatted plan; profile counts the run's jobs") {
    val out = Files.createTempDirectory("graft-probe")
    Probe.run(spark, sf, Seq("explain", out.toString, "t",
      "q01_pricing_summary"))
    val plan = out.resolve("q01_pricing_summary_t.txt")
    assert(Files.exists(plan))
    assert(Files.readString(plan).contains("== Physical Plan =="))

    val buf = new ByteArrayOutputStream()
    Console.withOut(buf) {
      Probe.run(spark, sf, Seq("profile", "q01_pricing_summary", "1"))
    }
    val jobs = raw"jobs=(\d+)".r.findFirstMatchIn(buf.toString("UTF-8"))
      .map(_.group(1).toInt)
    assert(jobs.exists(_ >= 1), buf.toString("UTF-8"))
    assert(!spark.sparkContext.isStopped)
  }

  test("explain prints one plan for two runs of q224, whose typed " +
      "operators print lambda addresses") {
    val out = Files.createTempDirectory("graft-probe-det")
    for (tag <- Seq("a", "b"))
      Probe.run(spark, sf, Seq("explain", out.toString, tag, "q224_debounce"))
    val Seq(a, b) = Seq("a", "b").map(t =>
      Files.readAllBytes(out.resolve(s"q224_debounce_$t.txt")).toSeq)
    assert(new String(a.toArray, "UTF-8").contains("$$Lambda"))
    assert(a === b)
  }

  test("scale: 2x tables double every row and key family, and the mode " +
      "prints one line per multiplier and removes its dirs") {
    val out = Files.createTempDirectory("graft-probe-scale").toString
    Probe.replicate(spark, sf, 2, out)
    def base(t: String) = Tables.load(spark, sf, t)
    def copy(t: String) = Tables.load(spark, out, t)
    for (t <- Probe.replicated)
      assert(copy(t).count() === 2 * base(t).count(), t)
    for (t <- Probe.writtenOnce)
      assert(copy(t).collect().toSet === base(t).collect().toSet, t)
    for (t <- Probe.replicated; c <- Probe.keyFamilies.flatten
         if base(t).columns.contains(c)) {
      def distinct(df: DataFrame) =
        df.agg(countDistinct(c)).head().getLong(0)
      assert(distinct(copy(t)) === 2 * distinct(base(t)), s"$t.$c")
    }
    def joined(tbl: String => DataFrame) =
      tbl("lineitem").join(tbl("orders"),
        tbl("lineitem")("l_orderkey") === tbl("orders")("o_orderkey")).count()
    assert(joined(copy) === 2 * joined(base))
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(out).toFile)
    Tables.invalidate()

    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def scaleDirs() = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-scale")).toSet
    val before = scaleDirs()
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf) {
      Probe.run(spark, sf, Seq("scale", "q01_pricing_summary", "1,2"))
    }
    val lines = buf.toString("UTF-8").linesIterator
      .filter(_.startsWith("[scale]")).toSeq
    assert(lines.map(_.split(' ')(2)) === Seq("1x:", "2x:"), lines)
    assert(lines(1).contains("x time"), lines)
    assert(scaleDirs() === before)
  }
}
