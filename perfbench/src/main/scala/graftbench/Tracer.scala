package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It registers Spark's public listeners
  * (SparkListener, QueryExecutionListener, StreamingQueryListener), reads
  * the codegen counters, and records spans the workloads open around each
  * layer call. All times are epoch milliseconds on one clock.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(ns: Long = System.nanoTime()): Double = baseMs + (ns - baseNs) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]
  private val stageSpans = new ConcurrentLinkedQueue[(Double, Double)]
  private val phases = new ConcurrentLinkedQueue[(String, Double, Double)]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  private val c = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ns", "gc_ms",
    "shuffle_w", "shuffle_r", "fetch_wait_ms", "spill", "in_bytes",
    "in_records", "sql_execs", "scan_files")
    .map(_ -> new AtomicLong).toMap
  private val taskMsMax = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      c("jobs").incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      c("stages").incrementAndGet()
      val i = e.stageInfo
      for (s <- i.submissionTime; f <- i.completionTime)
        stageSpans.add((s.toDouble, f.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("tasks").incrementAndGet()
      val d = e.taskInfo.duration
      c("task_ms").addAndGet(d)
      taskMsMax.accumulateAndGet(d, math.max)
      val m = e.taskMetrics
      if (m != null) {
        c("cpu_ns").addAndGet(m.executorCpuTime)
        c("gc_ms").addAndGet(m.jvmGCTime)
        c("shuffle_w").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c("shuffle_r").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        c("spill").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c("in_bytes").addAndGet(m.inputMetrics.bytesRead)
        c("in_records").addAndGet(m.inputMetrics.recordsRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => c("sql_execs").incrementAndGet()
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      val files = collect(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      c("scan_files").addAndGet(files)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var cg0 = 0L
  private var compiles0 = 0L
  private val heapMax = new AtomicLong
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    while (sampling) {
      heapMax.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, math.max)
      Thread.sleep(20)
    }
  }, "perfbench-heap-sampler")

  /** Peak heap in use while tracing, sampled every 20 ms. */
  def heapPeakMb: Double = heapMax.get / 1e6

  def start(): Unit = {
    sampler.setDaemon(true)
    sampler.start()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    cg0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Waits for every pending event and unregisters the listeners. */
  def stop(): Unit = {
    sampling = false
    sampler.join()
    Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def begin(): Long = System.nanoTime()
  def end(startNs: Long, id: String, layer: String): Span = {
    val s = Span(id, layer, nowMs(startNs), nowMs())
    spans.add(s)
    s
  }
  def add(s: Span): Unit = spans.add(s)

  // ---- derived figures ---------------------------------------------------

  private lazy val stageUnion: Vector[(Double, Double)] = {
    val sorted = stageSpans.asScala.toVector.sortBy(_._1)
    sorted.foldLeft(Vector.empty[(Double, Double)]) {
      case (acc :+ ((a, b)), (s, f)) if s <= b => acc :+ ((a, math.max(b, f)))
      case (acc, x) => acc :+ x
    }
  }

  /** Milliseconds of [a, b] during which some stage was running. */
  def stageMs(a: Double, b: Double): Double = stageUnion.iterator.map {
    case (s, f) => math.max(0.0, math.min(b, f) - math.max(a, s))
  }.sum

  /** Milliseconds of planning phases that started within [a, b). */
  def planMs(a: Double, b: Double): Double = phases.asScala.iterator.collect {
    case (_, s, f) if s >= a && s < b => f - s
  }.sum

  def phaseMs(name: String): Double = phases.asScala.iterator.collect {
    case (`name`, s, f) => f - s
  }.sum

  def counter(k: String): Long = c(k).get
  def maxTaskMs: Long = taskMsMax.get
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
  def compileMs: Double = (CodeGenerator.compileTime - cg0) / 1e6

  /** Splits each span's wall time into the layer's own time and the engine
    * layers inside it: stages running (exec) and planning phases that
    * started in it (plan). Overlapping spans are clipped first, so no time
    * counts twice. Returns milliseconds per layer. Codegen compiles run
    * both on the driver and inside tasks, so they are reported as counts
    * and time (`codegen.*`), not as a self time. */
  def selfTimes(top: Seq[Span]): Map[String, Double] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
    disjoint(top).foreach { sp =>
      val wall = sp.endMs - sp.startMs
      if (sp.layer == "idle" || sp.layer == "stream") add(sp.layer, wall)
      else {
        val ex = stageMs(sp.startMs, sp.endMs)
        val pl = math.min(planMs(sp.startMs, sp.endMs), wall - ex)
        add("exec", ex); add("plan", math.max(0.0, pl))
        add(sp.layer, math.max(0.0, wall - ex - pl))
      }
    }
    acc.toMap
  }

  /** Writes every span, stage span and planning phase, one JSON object a
    * line, spans of one block or query sharing their `id`. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map(_.json) ++
      stageUnion.map { case (s, f) => Span("stages", "exec", s, f).json } ++
      phases.asScala.toSeq.sortBy(_._2).map { case (n, s, f) =>
        Span("phase", s"plan.$n", s, f).json }
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: String, layer: String, startMs: Double,
                        endMs: Double) {
    def json: String = Stats.jsonObject(Seq("id" -> id, "layer" -> layer,
      "start_ms" -> startMs, "end_ms" -> endMs))
    /** This span cut to [a, b], if anything is left. */
    def clip(a: Double, b: Double): Option[Span] = {
      val s = copy(startMs = math.max(startMs, a), endMs = math.min(endMs, b))
      if (s.endMs > s.startMs) Some(s) else None
    }
  }

  /** The spans in start order, each cut to begin where the earlier ones
    * end. */
  def disjoint(spans: Seq[Span]): Seq[Span] = {
    var cursor = Double.NegativeInfinity
    spans.sortBy(_.startMs).flatMap { s =>
      val cut = s.clip(cursor, Double.PositiveInfinity)
      cursor = math.max(cursor, s.endMs)
      cut
    }
  }
}
