package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import Stats.Metric

/** Benchmark entry point. `perfbench/run.py` builds the program and starts
  * this main as
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --root <checkout> --work <dir>
  * }}}
  * Sessions run on every cpu. It prints the cpu count and session conf,
  * then one JSON result line.
  * With `--record-expected <file>` it instead records the catalogue
  * sample's expected digests.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_s" -> "s",
    "latency_p75_s" -> "s",
    "throughput_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "stream.triggers" -> "count",
    "stream.blocks_per_trigger_p50" -> "count",
    "stream.trigger_ms_p50" -> "ms",
    "stream.latestOffset_ms_p50" -> "ms",
    "stream.getBatch_ms_p50" -> "ms",
    "stream.queryPlanning_ms_p50" -> "ms",
    "stream.addBatch_ms_p50" -> "ms",
    "stream.walCommit_ms_p50" -> "ms",
    "stream.queue_wait_ms_p50" -> "ms",
    "stream.backlog_max_blocks" -> "count",
    "feeder.late_ms_max" -> "ms",
    "domain.build_ms" -> "ms",
    "domain.exec_ms" -> "ms",
    "domain.json_mb" -> "MB",
    "domain.txs" -> "count",
    "domain.hot_txs" -> "count",
    "domain.hot_tx_ratio" -> "ratio",
    "domain.ledger_rows" -> "count",
    "domain.rows_per_hot_tx" -> "ratio",
    "catalog.build_ms" -> "ms",
    "catalog.exec_ms" -> "ms",
    "catalog.executions" -> "count",
    "catalog.cold_pass_s" -> "s",
    "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "codegen.compiles" -> "count",
    "codegen.compile_ms" -> "ms",
    "driver.gap_ms" -> "ms",
    "sched.jobs" -> "count",
    "sched.stages" -> "count",
    "sched.tasks" -> "count",
    "exec.task_ms" -> "ms",
    "exec.task_ms_max" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms",
    "spill.bytes" -> "bytes",
    "scan.bytes" -> "bytes",
    "scan.records" -> "count",
    "scan.files" -> "count",
    "self.stream_ms" -> "ms",
    "self.domain_ms" -> "ms",
    "self.catalog_ms" -> "ms",
    "self.plan_ms" -> "ms",
    "self.exec_ms" -> "ms",
    "self.driver_ms" -> "ms",
    "self.idle_ms" -> "ms",
    "trace.coverage_ratio" -> "ratio",
    "heap_peak_mb" -> "MB",
    "tracing.overhead_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: Path, work: Path,
                        record: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--root")).toAbsolutePath,
      Paths.get(need("--work")).toAbsolutePath,
      m.get("--record-expected").map(Paths.get(_)))
  }

  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  def workload(a: Args): Workload = a.workload match {
    case "live-blocks" => new LiveBlocks
    case "catalog-sample" => catalog(a.root)
    case other => sys.error(s"unknown workload $other")
  }

  def catalog(root: Path): CatalogSample = new CatalogSample(
    root.resolve("perfbench/data/sf0.01"),
    root.resolve("perfbench/expected/catalog-sample.tsv"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    a.record match {
      case Some(out) => record(a, out)
      case None => run(a)
    }
  }

  private def record(a: Args, out: Path): Unit = {
    val w = catalog(a.root)
    val spark = Session.build(Cpus, a.work)
    w.warmUp(spark)
    val lines = w.record(spark)
    Files.write(out, (s"# name\trows:digest (${lines.size} queries)" +: lines).asJava)
    spark.stop()
  }

  private def run(a: Args): Unit = {
    val w = workload(a)
    // a traced run measures untraced, traced, untraced: the tracing overhead
    // compares the traced region with both neighbours, so warm-up drift
    // does not read as overhead
    val phases = if (a.trace) 3 else 1
    w.prepare(a.seed, a.work, phases, a.seconds)
    val (spark, setups) = Session.setUp(Cpus, a.work, SetUps)(w.warmUp)
    try {
      println(s"[perfbench] workload=${a.workload} seed=${a.seed} " +
        s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cpus=$Cpus " +
        s"jvm=${System.getProperty("java.version")} spark=${spark.version}")
      println("[perfbench] conf " + Stats.jsonObject(Session.conf(Cpus, a.work)))
      println("[perfbench] setup_s " + setups.mkString(" "))
      val plain = w.measure(spark, a.seconds, 0, None)
      val (metrics, runs) =
        if (!a.trace) (endToEnd(setups, plain), Seq(plain))
        else {
          val tr = new Tracer(spark)
          tr.start()
          val traced = try w.measure(spark, a.seconds, 1, Some(tr))
            finally tr.stop()
          val after = w.measure(spark, a.seconds, 2, None)
          tr.write(a.root.resolve(".bench_build/traces")
            .resolve(s"${a.workload}-seed${a.seed}.jsonl"))
          (perLayer(tr, traced, Seq(plain, after)), Seq(plain, traced, after))
        }
      val attempted = runs.map(_.attempted).sum
      val failed = runs.map(_.failed).sum
      println(s"[perfbench] failed_ratio ${failed.toDouble / math.max(1, attempted)}")
      println(Stats.resultLine(failed == 0, attempted, failed, metrics))
    } finally spark.stop()
  }

  def endToEnd(setups: Seq[Double], m: Measured): Seq[(String, Metric)] = {
    val lat = if (m.latencies.isEmpty) Seq(Double.NaN) else m.latencies
    val values = Map(
      "setup_s" -> Stats.median(setups),
      "latency_p50_s" -> Stats.quantile(lat, 0.5),
      "latency_p75_s" -> Stats.quantile(lat, 0.75),
      "throughput_per_s" -> m.throughput)
    EndToEnd.map { case (k, u) => k -> Metric(values(k), u) }
  }

  def perLayer(tr: Tracer, m: Measured, plain: Seq[Measured]): Seq[(String, Metric)] = {
    val n = math.max(1L, m.traceUnits).toDouble
    val self = tr.selfTimes(m.top)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val generic = Map(
      "catalog.executions" -> tr.counter("sql_execs") / n,
      "plan.analysis_ms" -> tr.phaseMs("analysis") / n,
      "plan.optimization_ms" -> tr.phaseMs("optimization") / n,
      "plan.planning_ms" -> tr.phaseMs("planning") / n,
      "codegen.compiles" -> tr.compiles / n,
      "codegen.compile_ms" -> tr.compileMs / n,
      // span time outside any running stage
      "driver.gap_ms" -> (self.values.sum - self.getOrElse("exec", 0.0) -
        self.getOrElse("idle", 0.0)) / n,
      "sched.jobs" -> tr.counter("jobs") / n,
      "sched.stages" -> tr.counter("stages") / n,
      "sched.tasks" -> tr.counter("tasks") / n,
      "exec.task_ms" -> tr.counter("task_ms") / n,
      "exec.task_ms_max" -> tr.maxTaskMs.toDouble,
      "exec.cpu_ms" -> tr.counter("cpu_ns") / 1e6 / n,
      "exec.gc_ms" -> tr.counter("gc_ms") / n,
      "shuffle.write_bytes" -> tr.counter("shuffle_w") / n,
      "shuffle.read_bytes" -> tr.counter("shuffle_r") / n,
      "shuffle.fetch_wait_ms" -> tr.counter("fetch_wait_ms") / n,
      "spill.bytes" -> tr.counter("spill") / n,
      "scan.bytes" -> tr.counter("in_bytes") / n,
      "scan.records" -> tr.counter("in_records") / n,
      "scan.files" -> tr.counter("scan_files") / n,
      // the named self times over the region's own wall time: time no
      // span covers lowers it
      "trace.coverage_ratio" -> ratio(self.values.sum, m.wallMs),
      "heap_peak_mb" -> tr.heapPeakMb,
      "tracing.overhead_ratio" -> ratio(Stats.medianOr0(m.latencies),
        Stats.medianOr0(plain.map(p => Stats.medianOr0(p.latencies))))) ++
      self.map { case (k, v) => s"self.${k}_ms" -> v / n }
    val hot = m.layers.getOrElse("domain.hot_txs", 0.0)
    val derived = Map(
      "domain.hot_tx_ratio" -> ratio(hot, m.layers.getOrElse("domain.txs", 0.0)),
      "domain.rows_per_hot_tx" -> ratio(m.layers.getOrElse("domain.ledger_rows", 0.0), hot))
    val values = generic ++ derived ++ m.layers
    PerLayer.map { case (k, u) => k -> Metric(values.getOrElse(k, 0.0), u) }
  }
}
