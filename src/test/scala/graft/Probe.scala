package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.TestBridge

/** Query probe for the optimization work (test scope, like [[Scratch]]):
  * runs named declared queries on a [[GraftSession]] session over
  * `SPARK_GRAFT_SF_DIR`. `<queries>` is a comma-separated name list, or
  * `all`.
  *
  *   sbt "Test/runMain graft.Probe profile <queries> [reps]"
  *     per-stage wall span, task count, task time and shuffle MB of the
  *     last of `reps` (default 2) runs, then its per-operator metrics —
  *     the local stand-in for the Spark UI, which every session disables
  *   sbt "Test/runMain graft.Probe ab <confKey> <offVal> <onVal> <queries> [reps]"
  *     interleaved A/B of one SQL conf in one JVM, so box drift cancels:
  *     one warm run per arm, then `reps` (default 4) measured runs per arm
  *   sbt "Test/runMain graft.Probe explain <outDir> <tag> <queries>"
  *     writes each query's `.explain("formatted")` plan to
  *     `<outDir>/<query>_<tag>.txt`
  *   sbt "Test/runMain graft.Probe load"
  *     the fixed per-query cost: `read.parquet` resolution, DataFrame
  *     build (analysis) and build + execute, for a few cheap queries
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    try {
      GraftSession.warmUp(spark, GraftSession.sfDir)
      run(spark, GraftSession.sfDir, args.toSeq)
    } finally spark.stop()
  }

  private case class Stage(name: String, submitted: Long,
                           var completed: Long = 0L, var tasks: Int = 0,
                           var taskTimeMs: Long = 0L,
                           var shufReadMB: Double = 0,
                           var shufWriteMB: Double = 0)

  /** Runs one mode on a live session and leaves the session running. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    def names(list: String): Seq[String] =
      if (list == "all") SparkEntry.queries.keys.toSeq.sorted
      else list.split(',').map(_.trim).toSeq

    // Builds `q`, applies `act` and returns its seconds; the query's
    // caches are released outside the timed region either way, so every
    // run is independent (as in Bench).
    def timed(q: String)(act: DataFrame => Unit): Double = {
      val fn = SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
      val t0 = System.nanoTime()
      try {
        act(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      } finally {
        SparkEntry.releaseScopedCaches()
        spark.catalog.clearCache()
        System.gc()
      }
    }
    def sink(q: String): Double =
      timed(q)(_.write.format("noop").mode("overwrite").save())

    args match {
      case Seq("profile", list, reps @ _*) =>
        profile(spark, names(list), reps.headOption.fold(2)(_.toInt), sink)

      case Seq("ab", key, offV, onV, list, reps @ _*) =>
        val n = reps.headOption.fold(4)(_.toInt)
        val prev = spark.conf.getOption(key)
        try for (q <- names(list)) {
          val times = Array.fill(2)(mutable.ArrayBuffer[Double]())
          for (r <- -1 until n; arm <- 0 to 1) {
            spark.conf.set(key, if (arm == 0) offV else onV)
            val dt = sink(q)
            if (r >= 0) times(arm) += dt
          }
          def show(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("/")
          def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
          println(f"[ab] $q%s off=${show(times(0).toSeq)} on=${show(times(1).toSeq)}" +
            f"  med off=${med(times(0).toSeq)}%.2f on=${med(times(1).toSeq)}%.2f")
        } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))

      case Seq("explain", outDir, tag, list) =>
        Files.createDirectories(Paths.get(outDir))
        for (q <- names(list)) {
          val out = Paths.get(outDir, s"${q}_$tag.txt")
          try {
            timed(q)(df => Files.writeString(out,
              df.queryExecution.explainString(FormattedMode)))
            println(s"[probe] wrote $out")
          } catch { case e: Throwable =>
            System.err.println(s"[probe] $q FAILED: ${e.getMessage}")
          }
        }

      case Seq("load") =>
        def perCall(n: Int)(body: => Unit): Double = {
          val t0 = System.nanoTime()
          for (_ <- 1 to n) body
          (System.nanoTime() - t0) / 1e9 / n
        }
        // file listing + footer schema inference, per call
        for (tbl <- Seq("lineitem", "orders", "documents", "nation")) {
          val per = perCall(50)(spark.read.parquet(s"$sfDir/$tbl.parquet"))
          println(f"[probe] read.parquet($tbl%s): ${per * 1000}%.1f ms/call")
        }
        // an explicit schema skips inference but still lists files
        val lineitem = s"$sfDir/lineitem.parquet"
        val sch = spark.read.parquet(lineitem).schema
        val perSchema = perCall(50)(spark.read.schema(sch).parquet(lineitem))
        println(f"[probe] read.schema(...).parquet(lineitem): ${perSchema * 1000}%.1f ms/call")
        for (q <- Seq("q01_pricing_summary", "q11_sort_limit", "q21_scalars",
            "q122_mad_outliers")) {
          val build = (1 to 10).map(_ => timed(q)(_ => ())).sum / 10
          val full = (1 to 5).map(_ => sink(q)).sum / 5
          println(f"[probe] $q%s: build=${build * 1000}%.0f ms  " +
            f"build+exec=${full * 1000}%.0f ms")
        }

      case _ => sys.error("usage: Probe profile <queries> [reps] | " +
        "ab <confKey> <offVal> <onVal> <queries> [reps] | " +
        "explain <outDir> <tag> <queries> | load")
    }
  }

  /** Runs each query `reps` times; the last run is measured with a
    * listener recording each stage's wall span, tasks and task time. */
  private def profile(spark: SparkSession, names: Seq[String], reps: Int,
                      sink: String => Double): Unit = {
    val stages = mutable.LinkedHashMap[Int, Stage]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages(s.stageInfo.stageId) = Stage(
          s.stageInfo.name.takeWhile(_ != '\n').take(90), System.nanoTime())
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.get(s.stageInfo.stageId).foreach { st =>
          st.completed = System.nanoTime()
          st.tasks = s.stageInfo.numTasks
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            st.taskTimeMs = m.executorRunTime
            st.shufReadMB = m.shuffleReadMetrics.totalBytesRead / 1e6
            st.shufWriteMB = m.shuffleWriteMetrics.bytesWritten / 1e6
          }
        }
    }
    for (q <- names; r <- 0 until reps) {
      if (r < reps - 1) {
        println(f"== $q%s rep$r (warm): wall=${sink(q)}%.2f s")
      } else {
        stages.clear(); jobs = 0
        spark.sparkContext.addSparkListener(listener)
        val wall = try sink(q) finally {
          TestBridge.drainListeners(spark)
          spark.sparkContext.removeSparkListener(listener)
        }
        println(f"== $q%s rep$r: wall=$wall%.2f s  jobs=$jobs%d  " +
          f"stages=${stages.size}%d")
        for (st <- stages.values.toSeq.sortBy(st => st.submitted - st.completed)
            .take(25)) {
          val span = (st.completed - st.submitted) / 1e6
          println(f"   $span%8.0f ms span  ${st.taskTimeMs}%7d ms task  " +
            f"${st.tasks}%4d tk  r${st.shufReadMB}%6.1f w${st.shufWriteMB}%6.1f MB  ${st.name}%s")
        }
        println(s"-- $q operator metrics (last execution):")
        TestBridge.lastExecMetrics(spark).foreach(l => println("   " + l))
      }
    }
  }
}
