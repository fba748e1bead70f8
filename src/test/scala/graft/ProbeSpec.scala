package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

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
}
