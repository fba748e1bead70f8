package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Test-only bridge: SparkSessionExtensions' build* accessors are
  * `private[sql]`, so verifying what an extensions object INJECTS (the
  * build-time path, which can't be exercised on a shared test
  * SparkContext) happens from inside the package. */
object TestBridge {
  def plannerStrategies(ext: SparkSessionExtensions, spark: SparkSession) =
    ext.buildPlannerStrategies(spark)
  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession) =
    ext.buildOptimizerRules(spark)

  /** True iff the session's CacheManager holds no cached plan — the
    * no-leak assertion operators that once persisted internally are
    * spec-pinned against (sharedState is `private[sql]`). */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Blocks until every posted listener event has been delivered
    * (`listenerBus` is private[spark]). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** One completed stage: name (first line), wall span from submission,
    * task count, summed task run time and shuffle read/write MB. */
  final case class StageSpan(name: String, spanMs: Double, tasks: Int,
                             taskTimeMs: Long, shufReadMB: Double,
                             shufWriteMB: Double)

  /** A body's value with the jobs it started and the stages it
    * completed, in completion order. */
  final case class Recorded[A](value: A, jobs: Int, stages: Seq[StageSpan])

  /** Runs `body` with one job and stage listener attached. The bus is
    * drained before the listener is added and before it is removed, so
    * the record holds exactly the body's jobs; the listener is removed
    * also when the body throws. */
  def recorded[A](spark: SparkSession)(body: => A): Recorded[A] = {
    val jobs = new AtomicInteger
    val submitted = mutable.Map[Int, Long]()
    val stages = mutable.ArrayBuffer[StageSpan]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted(e.stageInfo.stageId) = System.nanoTime()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val m = Option(info.taskMetrics)
        stages += StageSpan(info.name.takeWhile(_ != '\n').take(90),
          submitted.get(info.stageId)
            .fold(0.0)(t0 => (System.nanoTime() - t0) / 1e6),
          info.numTasks, m.fold(0L)(_.executorRunTime),
          m.fold(0.0)(_.shuffleReadMetrics.totalBytesRead / 1e6),
          m.fold(0.0)(_.shuffleWriteMetrics.bytesWritten / 1e6))
      }
    }
    drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val value = try body finally {
      drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    Recorded(value, jobs.get(), stages.toSeq)
  }

  /** Per-operator metrics of the LAST completed SQL execution: lines of
    * "nodeName | metric=value, ..." in plan-graph order (UI-less stand-in
    * for the SQL tab, for the optimization-round profilers;
    * `sharedState.statusStore` is private[sql]). */
  def lastExecMetrics(spark: SparkSession, limit: Int = 80): Seq[String] = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    store.executionsList().lastOption.toSeq.flatMap { exec =>
      val vals = exec.metricValues
      val graph = store.planGraph(exec.executionId)
      graph.allNodes.toSeq.map { n =>
        val ms = n.metrics.flatMap { m =>
          Option(vals).flatMap(_.get(m.accumulatorId))
            .map(v => s"${m.name}=${v.replace("\n", " ")}")
        }.mkString(", ")
        s"${n.name} | $ms"
      }.take(limit)
    }
  }
}
