package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.Streams

/** `live-blocks`: an open loop. One feeder thread lands seeded ~1 MB blocks
  * by atomic rename at 2.5 blocks/s (the reference's real-time envelope),
  * each at a seeded random point of its 400 ms slot, and
  * `Streams.tokenFlowsStream` consumes them uncapped on a 200 ms
  * ProcessingTime trigger. The random point spreads the blocks evenly over
  * the phase of the trigger grid, so the wait for the next trigger averages
  * out within a run instead of shifting every block of a run alike. Block
  * latency runs from the land stamp (or the due time, if the feeder ran
  * late) to the sink having collected that block's whole ledger, all 12
  * columns. Throughput is capacity: the blocks of the triggers that carried
  * timed blocks over those triggers' summed execution time, so it rises
  * when a trigger gets cheaper even though the feed's rate is fixed.
  */
final class LiveBlocks extends Workload {
  import LiveBlocks._

  private val shape = Blocks.LiveShape
  private var work: Path = _
  private var dims: Blocks.Dims = _
  private var dimFrames: (DataFrame, DataFrame, DataFrame) = _
  // per phase: staged files and each block's expected digest
  private var staged: Vector[Vector[Path]] = _
  private var expected: Vector[Vector[Digest]] = _
  private var blockTimes: Vector[Vector[Long]] = _
  // per phase: each block's due time within its slot, a share of the slot
  private var slotShare: Vector[Vector[Double]] = _
  private var counts: Vector[Blocks.Counts] = _
  private var bytes: Vector[Long] = _

  def prepare(seed: Long, work: Path, phases: Int, seconds: Int): Unit = {
    this.work = work
    dims = Blocks.dims(seed, shape)
    val warm = Files.createDirectories(work.resolve("warm"))
    (0 until WarmBlocks).foreach { i =>
      val b = Blocks.block(seed + 7777, shape.copy(txPerBlock = WarmTxs), dims,
        i, 1600000000L + i)
      Files.writeString(warm.resolve(f"w$i%03d.json"), Blocks.json(b))
    }
    val res = (0 until phases).map { ph =>
      val dir = Files.createDirectories(work.resolve(s"staged-$ph"))
      val made = Blocks.inParallel(blocksFor(seconds)) { i =>
        val b = Blocks.block(seed, shape, dims, ph * 100000 + i,
          1700000000L + ph * 100000L + i)
        val p = dir.resolve(f"b$i%06d.json")
        Files.writeString(p, Blocks.json(b))
        (p, Blocks.expected(b, dims), b.blockTime, Blocks.counts(Seq(b), dims),
          Files.size(p))
      }
      require(made.forall(_._2.rows > 0), "a generated block has an empty ledger")
      (made.map(_._1), made.map(_._2), made.map(_._3),
        made.map(_._4).reduce(_ + _), made.map(_._5).sum)
    }
    staged = res.map(_._1).toVector
    expected = res.map(_._2).toVector
    blockTimes = res.map(_._3).toVector
    counts = res.map(_._4).toVector
    bytes = res.map(_._5).toVector
    slotShare = (0 until phases).map { ph =>
      val rnd = new scala.util.Random(seed * 1000003L + ph)
      Vector.fill(blocksFor(seconds))(rnd.nextDouble())
    }.toVector
  }

  def warmUp(spark: SparkSession): Unit = {
    dimFrames = frames(spark, dims)
    val (hot, wl, pr) = dimFrames
    val q = Streams.tokenFlowsStream(spark, work.resolve("warm").toString,
      hot, wl, pr, blocksPerTrigger = 1) { (df: DataFrame, _: Long) =>
      df.collect(); ()
    }
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def measure(spark: SparkSession, seconds: Int, phase: Int,
              tracer: Option[Tracer]): Measured = {
    val files = staged(phase)
    val n = files.size
    val index = blockTimes(phase).zipWithIndex.toMap
    val watch = Files.createDirectories(work.resolve(s"watch-$phase"))
    val batches = new ConcurrentLinkedQueue[Batch]
    val rowsOf = new java.util.concurrent.ConcurrentHashMap[Int, Vector[Row]]
    val (hot, wl, pr) = dimFrames
    val q = Streams.tokenFlowsStream(spark, watch.toString, hot, wl, pr,
      blocksPerTrigger = 0,
      trigger = Trigger.ProcessingTime("200 milliseconds")) {
      (df: DataFrame, id: Long) =>
        val open = tracer.map(_.begin())
        val s0 = System.nanoTime()
        val rows = df.collect()
        val s1 = System.nanoTime()
        open.foreach(o => tracer.get.end(o, s"batch-$id", "driver"))
        val byBlock = rows.groupBy(_.getLong(0))
        byBlock.foreach { case (t, rs) =>
          index.get(t).foreach(i => rowsOf.put(i, rs.toVector))
        }
        batches.add(Batch(id, s0, s1,
          byBlock.keys.flatMap(index.get).toVector.sorted))
    }
    try {
      awaitIdle(q)
      val due = new Array[Long](n)
      val land = new Array[Long](n)
      val t0 = System.nanoTime() + 100000000L
      val feeder = new Thread(() => {
        var i = 0
        while (i < n) {
          due(i) = t0 + ((i + slotShare(phase)(i)) * 1e9 / Rate).toLong
          var now = System.nanoTime()
          while (now < due(i)) {
            Thread.sleep(math.max(0L, (due(i) - now) / 1000000L),
              ((due(i) - now) % 1000000L).toInt)
            now = System.nanoTime()
          }
          Files.move(files(i), watch.resolve(files(i).getFileName),
            StandardCopyOption.ATOMIC_MOVE)
          land(i) = System.nanoTime()
          i += 1
        }
      }, "perfbench-feeder")
      feeder.setDaemon(true)
      feeder.start()
      feeder.join()
      val deadline = System.nanoTime() + DrainSeconds * 1000000000L
      def seen = batches.asScala.iterator.map(_.blocks.size).sum
      while (seen < n && System.nanoTime() < deadline && q.isActive)
        Thread.sleep(20)
      q.exception.foreach(e => throw e)

      val bs = batches.asScala.toVector.sortBy(_.id)
      // a trigger reports its progress after the sink returns
      bs.lastOption.foreach(b => awaitProgress(q, b.id))
      val finish = new Array[Long](n)
      val batchOf = Array.fill(n)(-1L)
      bs.foreach(b => b.blocks.foreach { i => finish(i) = b.end; batchOf(i) = b.id })
      val done = (0 until n).filter(batchOf(_) >= 0)
      // open-loop start: the land stamp, or the due time if the feeder
      // was late, so a late feeder cannot hide queueing delay
      def start(i: Int) = if (land(i) - due(i) > LateNs) due(i) else land(i)
      // blocks of the ramp are checked but not timed
      val timed = done.filter(_ >= RampBlocks)
      val lat = timed.map(i => Stats.s(finish(i) - start(i)))
      val bt = blockTimes(phase)
      val wrong = Blocks.mismatches(done.map(i => bt(i) -> rowsOf.get(i)).toMap,
        done.map(i => bt(i) -> expected(phase)(i)).toMap)
      val end = if (done.isEmpty) System.nanoTime() else done.map(finish).max
      val failed = (n - done.size) + wrong
      val (layers, top) = tracer match {
        case Some(tr) =>
          org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
          traced(tr, q, bs, due, land, batchOf, phase, tr.nowMs(t0), tr.nowMs(end))
        case None => (Map.empty[String, Double], Nil)
      }
      Measured(lat, capacity(q, bs), Stats.ms(end - t0), n.toLong,
        failed.toLong, layers, top, math.max(1, bs.size).toLong)
    } finally {
      q.stop()
      q.awaitTermination()
    }
  }

  /** Blocks per second of busy trigger time, over the triggers that
    * carried timed blocks; trigger times come from the query's own progress
    * reports. */
  private def capacity(q: StreamingQuery, bs: Vector[Batch]): Double = {
    val prog = q.recentProgress.map(p => p.batchId -> p).toMap
    val carriers = bs.filter(_.blocks.exists(_ >= RampBlocks))
    val missing = carriers.filterNot(b => prog.contains(b.id)).map(_.id)
    require(missing.isEmpty, s"no progress reported for batches $missing")
    val busyS = carriers.map(b =>
      prog(b.id).durationMs.get("triggerExecution").toDouble / 1e3).sum
    if (busyS == 0) Double.NaN else carriers.map(_.blocks.size).sum / busyS
  }

  private def traced(tr: Tracer, q: StreamingQuery, bs: Vector[Batch],
                     due: Array[Long], land: Array[Long], batchOf: Array[Long],
                     phase: Int, fromMs: Double, toMs: Double)
      : (Map[String, Double], Seq[Tracer.Span]) = {
    // the traced figures cover the whole feed, ramp included: from the
    // first block's due time to the last ledger
    val prog = tr.progress.asScala.filter(_.id == q.id)
      .map(p => p.batchId -> p).toMap
    val dur = (b: Batch, k: String) => prog.get(b.id)
      .flatMap(p => Option(p.durationMs.get(k))).map(_.toDouble).getOrElse(0.0)
    val trig = bs.filter(b => prog.contains(b.id))
    val startMs = trig.map(b => b.id ->
      java.time.Instant.parse(prog(b.id).timestamp).toEpochMilli.toDouble).toMap
    val sinkMs = trig.map(b => b.id -> Stats.ms(b.end - b.start)).toMap
    def p50(k: String) = Stats.medianOr0(trig.map(dur(_, k)))
    // spans of one trigger, each from its own measurement: the streaming
    // machinery before addBatch (latestOffset, walCommit, getBatch,
    // queryPlanning) from the trigger's start, the flagship build (addBatch
    // outside the sink) right before the sink, the sink, and the offset
    // commit ending the trigger. Trigger time that no named duration
    // covers, or that the spans disagree on, lowers trace.coverage_ratio.
    // Gaps between triggers are idle waits.
    val sinkSpans = tr.spans.asScala.filter(_.id.startsWith("batch-"))
      .map(s => s.id.stripPrefix("batch-").toLong -> s).toMap
    val busy = trig.map(b => (startMs(b.id),
      startMs(b.id) + dur(b, "triggerExecution")))
    val derived = trig.flatMap { b =>
      val id = s"batch-${b.id}"
      val (s, e) = (startMs(b.id), startMs(b.id) + dur(b, "triggerExecution"))
      val pre = prog(b.id).durationMs.asScala.collect {
        case (k, v) if !Outside(k) => v.toDouble }.sum
      val commit = dur(b, "commitOffsets")
      val build = math.max(0.0, dur(b, "addBatch") - sinkMs(b.id))
      val domain = sinkSpans.get(b.id).map(sk =>
        Tracer.Span(id, "domain", sk.startMs - build, sk.startMs))
      Seq(Tracer.Span(id, "stream", s, s + pre),
        Tracer.Span(id, "stream", e - commit, e)) ++ domain
    }
    val idle = {
      var cursor = fromMs
      val gaps = Vector.newBuilder[Tracer.Span]
      busy.sortBy(_._1).foreach { case (a, z) =>
        if (a > cursor) gaps += Tracer.Span("stream", "idle", cursor, a)
        cursor = math.max(cursor, z)
      }
      gaps += Tracer.Span("stream", "idle", cursor, toMs)
      gaps.result().filter(s => s.endMs > s.startMs)
    }
    val top = (derived ++ trig.flatMap(b => sinkSpans.get(b.id)) ++ idle)
      .flatMap(_.clip(fromMs, toMs))
    (derived ++ idle).foreach(tr.add)
    val n = due.length
    val landMs = land.map(tr.nowMs(_))
    val waits = (0 until n).filter(batchOf(_) >= 0).flatMap { i =>
      startMs.get(batchOf(i)).map(st => st - landMs(i))
    }
    val backlog = trig.map { b =>
      val st = startMs(b.id)
      (0 until n).count(i => landMs(i) <= st && (batchOf(i) < 0 || batchOf(i) >= b.id))
    }
    val late = (0 until n).map(i => Stats.ms(land(i) - due(i)))
    val c = counts(phase)
    val layers = Map(
      "stream.triggers" -> trig.size.toDouble,
      "stream.blocks_per_trigger_p50" -> Stats.medianOr0(trig.map(_.blocks.size.toDouble)),
      // the foreachBatch sink hands each batch over as an RDD, so the plan
      // shows no file scan; every block is one file
      "scan.files" -> trig.map(_.blocks.size).sum.toDouble / math.max(1, trig.size),
      "stream.trigger_ms_p50" -> p50("triggerExecution"),
      "stream.latestOffset_ms_p50" -> p50("latestOffset"),
      "stream.getBatch_ms_p50" -> p50("getBatch"),
      "stream.queryPlanning_ms_p50" -> p50("queryPlanning"),
      "stream.addBatch_ms_p50" -> p50("addBatch"),
      "stream.walCommit_ms_p50" -> p50("walCommit"),
      "stream.queue_wait_ms_p50" -> Stats.medianOr0(waits),
      "stream.backlog_max_blocks" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "feeder.late_ms_max" -> late.max,
      "domain.build_ms" -> Stats.medianOr0(trig.map(b =>
        math.max(0.0, dur(b, "addBatch") - sinkMs(b.id)))),
      "domain.exec_ms" -> Stats.medianOr0(trig.map(b => sinkMs(b.id))),
      "domain.json_mb" -> bytes(phase) / 1e6,
      "domain.txs" -> c.txs.toDouble,
      "domain.hot_txs" -> c.hotTxs.toDouble,
      "domain.ledger_rows" -> c.ledgerRows.toDouble)
    (layers, top)
  }
}

object LiveBlocks {
  val Rate = 2.5
  /** Each set-up's warm-up streams small blocks, one per trigger: the
    * per-trigger driver path (planning, scheduling, broadcasts) is what
    * needs warming, and a trigger costs the same for small blocks. */
  val WarmBlocks = 4
  val WarmTxs = 100
  /** Blocks fed before the timed region starts (3.2 s), so it opens on a
    * stream already in its steady state. */
  val RampBlocks = 8
  val DrainSeconds = 60L
  val LateNs = 5000000L
  /** Trigger durations that are not the streaming machinery before
    * addBatch. */
  val Outside = Set("triggerExecution", "addBatch", "commitOffsets")

  def blocksFor(seconds: Int): Int =
    RampBlocks + math.max(1, math.ceil(seconds * Rate).toInt)

  final case class Batch(id: Long, start: Long, end: Long, blocks: Vector[Int])

  def frames(spark: SparkSession, d: Blocks.Dims): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    (d.hot.toDF("addr"),
      d.watchlists.toDF("kind", "addr"),
      d.prices.toDF("vault", "side", "price_usd"))
  }

  /** Waits until the stream has reported the progress of batch `id`. */
  def awaitProgress(q: StreamingQuery, id: Long): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def reported = Option(q.lastProgress).exists(_.batchId >= id)
    while (!reported && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Waits until a freshly started stream has finished initialising. */
  def awaitIdle(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (q.isActive && System.nanoTime() < deadline &&
      (q.status.isTriggerActive || q.status.message == "Initializing sources" ||
        q.status.message == "Initializing StreamExecution"))
      Thread.sleep(20)
    q.exception.foreach(e => throw e)
  }
}
