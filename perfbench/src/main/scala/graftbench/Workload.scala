package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** One named benchmark workload. `prepare` writes the seeded fixture for
  * `phases` timed regions of about `seconds` each (not part of set-up
  * time), `warmUp` is the untimed part of each set-up, and `measure` runs
  * timed region `phase`. */
trait Workload {
  def prepare(seed: Long, work: Path, phases: Int, seconds: Int): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Int, phase: Int,
              tracer: Option[Tracer]): Measured
}

/** What one timed region produced.
  * @param latencies  seconds per unit of work: per block (live) or per
  *                   query (catalogue)
  * @param throughput work per second: blocks per second of busy trigger
  *                   time (live) or, for the median pass, correct queries
  *                   per second of query wall time (catalogue)
  * @param wallMs     the wall time the per-layer self times must cover: the
  *                   whole feed (live) or the summed query wall times
  *                   (catalogue), on the workload's own clock
  * @param layers     workload-specific per-layer figures (traced runs)
  * @param top        the top-level spans of the traced region; their self
  *                   times split `wallMs`
  * @param traceUnits the units per-layer figures are divided by: triggers
  *                   (live) or query executions (catalogue)
  */
final case class Measured(latencies: Seq[Double], throughput: Double,
                          wallMs: Double, attempted: Long, failed: Long,
                          layers: Map[String, Double],
                          top: Seq[Tracer.Span], traceUnits: Long)
