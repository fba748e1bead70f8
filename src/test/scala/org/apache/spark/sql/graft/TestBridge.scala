package org.apache.spark.sql.graft

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

  /** Blocks until every posted listener event has been delivered
    * (`listenerBus` is private[spark]). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

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
