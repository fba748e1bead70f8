package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    GraftSession.warmUp(spark, sfDir)
    // Sink via the noop data source: every projection/expression executes
    // (a bare count() lets Catalyst prune unused deterministic projections,
    // so projection-heavy queries would never run their hot loops).
    // Best-of-2 per query: the min strips JIT/page-cache cold-start noise
    // (single-run numbers on this box swing ±30%) and approximates the
    // plan's steady-state cost, which is what matters for comparisons.
    // A failed query records -1.0 (never its elapsed time): a query that
    // throws immediately must read as a FAILURE in the JSON, not a
    // near-zero "speedup". Failed names are also listed under "errors".
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      } finally {
        // Queries persist multi-consumer intermediates through
        // SparkEntry's scoped registry (a lambda can't unpersist what its
        // lazy result still reads) — release them here, outside the timed
        // region, so every run is independent: no cross-query cache
        // accumulation evicting a later query's working set, and no run-2
        // reuse of run-1's caches flattering the min. clearCache stays as
        // the backstop for operator-internal persists.
        SparkEntry.releaseScopedCaches()
        spark.catalog.clearCache()
        // localCheckpoint blocks (the dedup-cluster loops) are freed by
        // the ContextCleaner only after driver GC collects the dropped
        // RDD references — without this, blocks from one query squat in
        // storage memory through later queries' timed runs.
        System.gc()
      }
    }
    // Fixed name order: HashMap iteration reshuffles whenever the query
    // set changes, silently moving queries relative to session warmup —
    // sorted order keeps per-query numbers comparable across rounds.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => GraftSession.selects(n) }
      .map {
      case (name, fn) =>
        val (a, b) = (once(name, fn), once(name, fn))
        name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // The driver captures only the tail of the sbt log; with 75 queries a
    // full-name, full-precision line (~3.5 KB) overflows that window and
    // the summary JSON arrives truncated (unparseable). Keys are therefore
    // the qNN prefix (unique by construction — every query name starts
    // qNN_) and seconds are rounded to ms, keeping the line ~1 KB.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def short(name: String): String = name.takeWhile(_ != '_')
    val qs = results.map { case (k, v) => s"\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = failed.map("\"" + short(_) + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only the tail of the sbt log, so with ~200
    // queries the per-query map can be truncated in BENCH_r{N}.json.
    // Persist the full artifact (long names, all timings) in the repo so
    // round-over-round regression checks never depend on the log window.
    try {
      val full = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val payload =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$full,"errors":$errs,"sf":"$sfDir"}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_last.json"),
        payload.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_last.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
