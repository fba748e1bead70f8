package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestBridge

/** Query probe for the optimization work (test scope): runs named
  * declared queries on a [[GraftSession]] session over
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
  *     `<outDir>/<query>_<tag>.txt`, with what differs between runs of
  *     one plan masked or renumbered (see [[stablePlan]])
  *   sbt "Test/runMain graft.Probe load"
  *     the fixed per-query cost: `read.parquet` resolution, DataFrame
  *     build (analysis) and build + execute, for a few cheap queries
  *   sbt "Test/runMain graft.Probe scale <queries> [mults]"
  *     the decade probe: for each multiplier (default `1,10`) writes the
  *     tables replicated that many times (see [[replicate]]) to a temp
  *     sf dir, runs each query there once warm and then best of 2, and
  *     prints its wall time, row count, sorted-row digest and growth
  *     over the previous multiplier; the first multiplier runs every
  *     query once more, untimed, before its timed runs
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    try {
      GraftSession.warmUp(spark, GraftSession.sfDir)
      run(spark, GraftSession.sfDir, args.toSeq)
    } finally spark.stop()
  }

  /** A formatted plan without what differs between two runs of one plan:
    * typed operators' lambda object addresses (`$$Lambda$N/0x…@hash`) and
    * `[plan_id=N]` are masked, and expression ids, which count the
    * expressions the JVM built before, are renumbered `#1`, `#2`, ... in
    * order of first appearance, so references still name their column. */
  def stablePlan(plan: String): String = {
    val ids = mutable.Map[String, Int]()
    """#\d+""".r.replaceAllIn(
      plan.replaceAll("""\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+""", """\$\$Lambda""")
        .replaceAll("""\[plan_id=\d+\]""", "[plan_id=N]"),
      m => "#" + ids.getOrElseUpdate(m.matched, ids.size + 1))
  }

  /** Runs one mode on a live session and leaves the session running. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    def names(list: String): Seq[String] =
      if (list == "all") SparkEntry.queries.keys.toSeq.sorted
      else list.split(',').map(_.trim).toSeq

    // Builds `q`, applies `act` and returns its seconds; the query's
    // caches are released outside the timed region either way, so every
    // run is independent (as in Bench).
    def timed(q: String, dir: String = sfDir)(act: DataFrame => Unit): Double = {
      val fn = SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
      val t0 = System.nanoTime()
      try {
        act(fn(spark, dir))
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
              stablePlan(df.queryExecution.explainString(FormattedMode))))
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

      case Seq("scale", list, mults @ _*) =>
        val prevBest = mutable.Map[String, Double]()
        for ((m, i) <- mults.headOption.fold(Seq(1, 10))(
            _.split(',').map(_.trim.toInt).toSeq).zipWithIndex) {
          val dir = Files.createTempDirectory("graft-scale")
          try {
            replicate(spark, sfDir, m, dir.toString)
            // the first multiplier also pays the JVM's JIT and codegen
            // warm-up: one extra untimed pass of every query first
            if (i == 0)
              for (q <- names(list)) timed(q, dir.toString)(_.collect())
            for (q <- names(list)) {
              var rows = Array.empty[Row]
              val best = (0 to 2).map(_ => timed(q, dir.toString) { df =>
                rows = df.collect()
              }).tail.min
              val digest = MessageDigest.getInstance("SHA-256").digest(
                rows.map(_.mkString("\u0001")).sorted.mkString("\n")
                  .getBytes(UTF_8))
                .take(8).map(b => f"$b%02x").mkString
              val step = prevBest.get(q).fold("")(t => f"  ${best / t}%.1fx time")
              prevBest(q) = best
              println(f"[scale] $q%s ${m}x: $best%.2f s  rows=${rows.length}%d" +
                s"  digest=$digest$step")
            }
          } finally {
            org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
            Tables.invalidate()
          }
        }

      case _ => sys.error("usage: Probe profile <queries> [reps] | " +
        "ab <confKey> <offVal> <onVal> <queries> [reps] | " +
        "explain <outDir> <tag> <queries> | load | scale <queries> [mults]")
    }
  }

  /** Runs each query `reps` times; the last run is measured with a
    * recorder of each stage's wall span, tasks and task time. */
  private def profile(spark: SparkSession, names: Seq[String], reps: Int,
                      sink: String => Double): Unit =
    for (q <- names; r <- 0 until reps) {
      if (r < reps - 1) {
        println(f"== $q%s rep$r (warm): wall=${sink(q)}%.2f s")
      } else {
        val run = TestBridge.recorded(spark)(sink(q))
        println(f"== $q%s rep$r: wall=${run.value}%.2f s  jobs=${run.jobs}%d  " +
          f"stages=${run.stages.size}%d")
        for (st <- run.stages.sortBy(-_.spanMs).take(25)) {
          println(f"   ${st.spanMs}%8.0f ms span  ${st.taskTimeMs}%7d ms task  " +
            f"${st.tasks}%4d tk  r${st.shufReadMB}%6.1f w${st.shufWriteMB}%6.1f MB  ${st.name}%s")
        }
        println(s"-- $q operator metrics (last execution):")
        TestBridge.lastExecMetrics(spark).foreach(l => println("   " + l))
      }
    }

  /** Key families of the replicated tables: a foreign key shares its
    * primary key's family, and no query joins two families. */
  val keyFamilies: Seq[Seq[String]] = Seq(
    Seq("c_custkey", "o_custkey"), Seq("o_orderkey", "l_orderkey"),
    Seq("p_partkey", "l_partkey"), Seq("s_suppkey", "l_suppkey"),
    Seq("doc_id"), Seq("vec_id"), Seq("event_id"), Seq("user_id"))
  val replicated: Seq[String] = Seq("customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val writtenOnce: Seq[String] = Seq("nation", "region")

  /** Writes the tables of `sfDir` to `out`, each of [[replicated]] as
    * `mult` copies. Copy k shifts every key by k · (1 + its family's max),
    * so copies never join across. Documents stay exact copies (shingle df
    * saturates: the worst case for text on purpose). Embeddings flip the
    * sign of a per-copy hash-chosen set of dims: sims within a copy equal
    * the originals while cross-copy sims scramble — exact vector copies
    * would pair every copy with every other at sim 1.0, measuring data
    * pathology, not the plan. Raw columns are written back as loaded, so
    * the copy keeps the source's `events.ts` vintage. */
  def replicate(spark: SparkSession, sfDir: String, mult: Int,
                out: String): Unit = {
    val frames = (replicated ++ writtenOnce)
      .map(t => t -> Tables.load(spark, sfDir, t)).toMap
    val keyMax: Map[String, Long] = replicated.flatMap { t =>
      val keys = frames(t).columns.toSeq.filter(keyFamilies.flatten.contains)
      val maxes = frames(t).select(
        keys.map(c => coalesce(max(col(c)).cast("long"), lit(0L))): _*).head()
      keys.zipWithIndex.map { case (c, i) => c -> maxes.getLong(i) }
    }.toMap
    val step: Map[String, Long] = keyFamilies.flatMap { fam =>
      fam.map(_ -> (1 + fam.flatMap(keyMax.get).max))
    }.toMap
    for (t <- replicated) {
      val df = frames(t)
      (0 until mult).map { k =>
        df.select(df.schema.fields.toSeq.map { f =>
          val c = col(f.name)
          (if (step.contains(f.name)) (c + lit(k * step(f.name))).cast(f.dataType)
           else if (f.name == "embedding" && k > 0) transform(c, (x, i) =>
             (x * when(pmod(xxhash64(i, lit(k)), lit(2)) === 0, 1.0f)
               .otherwise(-1.0f)).cast("float"))
           else c).as(f.name)
        }: _*)
      }.reduce(_ unionByName _).write.parquet(s"$out/$t.parquet")
    }
    writtenOnce.foreach(t => frames(t).write.parquet(s"$out/$t.parquet"))
  }
}
