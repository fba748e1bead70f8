package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `catalog-sample`: a closed loop with one client over the queries pinned
  * in the expected file, a stride sample of `SparkEntry.queries` taken when
  * the file was recorded; a pinned query the catalogue no longer holds
  * counts as failed. After an untimed
  * pass that fills the codegen cache, each timed pass runs every sampled
  * query once, in an order shuffled by the seed; a query's wall time covers
  * building its DataFrame and collecting its result, and its latency is its
  * best pass. Every collected result is checked against the expected
  * digests, outside the timed region.
  * Caches are released between queries, outside the timed region, as
  * `graft.Bench` does.
  */
final class CatalogSample(dataDir: Path, expectedFile: Path) extends Workload {
  import CatalogSample._

  private var seed = 0L
  private val pinned: Vector[(String, Digest)] =
    if (!Files.exists(expectedFile)) Vector.empty
    else Files.readAllLines(expectedFile).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t"); n -> Digest.parse(d) }
      .toVector
  private val expected: Map[String, Digest] = pinned.toMap

  /** The queries every run times, in the expected file's order. */
  val names: Vector[String] = pinned.map(_._1)
  private val fns = SparkEntry.queries

  def prepare(seed: Long, work: Path, phases: Int, seconds: Int): Unit = {
    require(names.nonEmpty, s"no queries pinned in $expectedFile")
    this.seed = seed
  }

  def warmUp(spark: SparkSession): Unit = {
    // graft.Bench's warm-up: JVM, codegen and scan set-up
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(dataDir.resolve("lineitem.parquet").toString)
      .limit(1).count()
  }

  /** Runs one query: wall seconds and the digest of its collected rows. */
  def runOnce(spark: SparkSession, name: String, tracer: Option[Tracer],
              id: String): (Double, Either[Throwable, Digest]) = {
    val t0 = System.nanoTime()
    val o1 = tracer.map(_.begin())
    try {
      val query = fns.getOrElse(name, throw new NoSuchElementException(
        s"$name is not in SparkEntry.queries"))
      val df: DataFrame = query(spark, dataDir.toString)
      o1.foreach(o => tracer.get.end(o, id, "catalog"))
      val o2 = tracer.map(_.begin())
      val rows = df.collect()
      val t1 = System.nanoTime()
      o2.foreach(o => tracer.get.end(o, id, "driver"))
      (Stats.s(t1 - t0), Right(Digest.ofRows(df.schema.fieldNames.toSeq, rows)))
    } catch {
      case e: Exception => (Stats.s(System.nanoTime() - t0), Left(e))
    } finally {
      SparkEntry.releaseScopedCaches()
      spark.catalog.clearCache()
      System.gc()
    }
  }

  private var coldPassS = Double.NaN

  def measure(spark: SparkSession, seconds: Int, phase: Int,
              tracer: Option[Tracer]): Measured = {
    var attempted, failed = 0L
    if (coldPassS.isNaN) {
      val t0 = System.nanoTime()
      attempted += names.size
      failed += coldPass(spark)
      coldPassS = Stats.s(System.nanoTime() - t0)
    }
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    var wallS = 0.0
    // per pass: correct queries per second of the pass's query wall time
    val passRates = Vector.newBuilder[Double]
    val top = Vector.newBuilder[Tracer.Span]
    val builds = Vector.newBuilder[Double]
    val execs = Vector.newBuilder[Double]
    val passes = passesFor(seconds)
    for (pass <- 0 until passes) {
      val order = new scala.util.Random(seed * 1000003L + phase * 1009L + pass)
        .shuffle(names)
      var passS, passOk = 0.0
      order.foreach { name =>
        val id = s"$name#$phase.$pass"
        val before = tracer.map(_.spans.size).getOrElse(0)
        val (secs, out) = runOnce(spark, name, tracer, id)
        attempted += 1
        wallS += secs
        passS += secs
        out match {
          case Right(d) if expected.get(name).contains(d) =>
            passOk += 1
            times(name) = times.getOrElse(name, Vector.empty) :+ secs
          case Right(d) =>
            failed += 1
            System.err.println(s"[perfbench] $name: digest $d, expected " +
              expected.get(name).map(_.toString).getOrElse("none recorded"))
          case Left(e) =>
            failed += 1
            System.err.println(s"[perfbench] $name failed: $e")
        }
        tracer.foreach { tr =>
          val mine = tr.spans.asScala.toSeq.drop(before).filter(_.id == id)
          top ++= mine
          mine.find(_.layer == "catalog").foreach(s => builds += s.endMs - s.startMs)
          mine.find(_.layer == "driver").foreach(s => execs += s.endMs - s.startMs)
        }
      }
      passRates += passOk / passS
    }
    // a query's latency is its best timed run, as in graft.Bench; a query
    // that failed in any pass has none
    val l = times.collect { case (_, t) if t.size == passes => t.min }.toSeq
    val layers =
      if (tracer.isEmpty) Map.empty[String, Double]
      else Map(
        "catalog.build_ms" -> Stats.medianOr0(builds.result()),
        "catalog.exec_ms" -> Stats.medianOr0(execs.result()),
        "catalog.cold_pass_s" -> coldPassS)
    // throughput is the median pass's rate, so one slow pass does not move it
    Measured(l, Stats.median(passRates.result()), wallS * 1000, attempted,
      failed, layers, top.result(), passes.toLong * names.size)
  }

  /** The first execution of a query compiles its generated code; this
    * untimed pass, in name order, fills the codegen cache so the timed
    * passes measure the per-query floor a long-lived session pays, as
    * `graft.Bench`'s best-of-2 does. Its outputs are checked too; returns
    * the number of wrong or failed queries. */
  private def coldPass(spark: SparkSession): Int = names.count { n =>
    val out = runOnce(spark, n, None, n)._2
    val ok = out.toOption.exists(expected.get(n).contains)
    if (!ok) System.err.println(s"[perfbench] $n (cold pass): $out")
    !ok
  }

  /** One pass over a fresh stride sample in name order, for recording the
    * expected digests; the names recorded become the pinned queries. */
  def record(spark: SparkSession): Seq[String] =
    sample(fns.keys.toSeq).map { n =>
      val (secs, out) = runOnce(spark, n, None, n)
      System.err.println(f"[perfbench] $n%-40s $secs%.3f s")
      out match {
        case Right(d) => s"$n\t$d"
        case Left(e) => throw new IllegalStateException(s"$n failed", e)
      }
    }
}

object CatalogSample {
  /** When recording: every `Stride`-th query of the catalogue in
    * sorted-name order, 15 of the 339 queries, about 16 s cold and 7 s warm
    * a pass on 4 cores. */
  val Stride = 24
  val PassSeconds = 5

  /** A whole number of passes, fixed by the run length, so every run of one
    * length warms the same way. */
  def passesFor(seconds: Int): Int =
    math.max(1, math.round(seconds.toDouble / PassSeconds).toInt)

  def sample(all: Seq[String]): Vector[String] =
    all.sorted.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }
      .toVector
}
