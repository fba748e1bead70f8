package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The benchmark's session: `local[cpus]` with `graft.Bench`'s conf, and
  * every directory Spark writes to kept inside the benchmark's work dir. */
object Session {

  def conf(cpus: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.sql.streaming.checkpointLocation" ->
      work.resolve("checkpoints").toString)

  /** Builds a session and registers the graft functions. */
  def build(cpus: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    conf(cpus, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(spark)
    spark
  }

  /** Builds, registers and warms up `times` sessions in a row, stopping
    * all but the last, and returns it with each set-up's seconds. */
  def setUp(cpus: Int, work: Path, times: Int)
           (warmUp: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (1 to times).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = build(cpus, work)
      warmUp(spark)
      Stats.s(System.nanoTime() - t0)
    }
    (spark, secs)
  }
}
