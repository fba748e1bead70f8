package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (columnNodeSupport.scala); third-party expression
  * libraries bridge from inside the package — the same pattern used by
  * frameless / deequ. This is the only file outside the `graft` package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → catalyst conversion (expression() returns a lazy
    * ColumnNode wrapper that only the Dataset API paths unwrap; a custom
    * logical node needs the real expression tree — e.g. a catalyst
    * SortOrder from `col.desc` — up front). */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Register a function builder into a LIVE session's registry (the
    * extensions path only applies at session build time). */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Unpersist the RDD blocks behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist` only talks to the CacheManager, which has no
    * entry for a LogicalRDD-backed checkpoint — without this, every
    * round of an iterative algorithm leaks a full checkpointed copy
    * until driver GC. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** `df` local-checkpointed, with its row count, from one pass: the
    * checkpoint is taken lazily and its own RDD is counted, and that
    * count job is the one that materialises the blocks and cuts the
    * lineage. `localCheckpoint()` then `count()` runs the checkpoint's
    * job and then a second query over the checkpoint (two more jobs
    * under AQE). The count job runs outside any SQL execution; the
    * checkpoint's own execution still reaches QueryExecutionListeners. */
  def countedCheckpoint(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ck = df.localCheckpoint(eager = false)
    // a checkpoint's plan is always the one LogicalRDD over its RDD
    (ck, ck.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.count())
  }

  /** A `localCheckpoint`ed Dataset re-wrapped so its LogicalRDD declares
    * `hashpartitioning(key, n)`: a checkpoint built under AQE records no
    * output partitioning, so every consumer join would exchange it again.
    * Sound only for rows already laid out by `repartition(n, key)` (which
    * AQE never coalesces); the claim is made only when the RDD has
    * exactly `n` partitions, else `df` comes back unchanged. The
    * checkpoint's statistics are kept for join selection. */
  def declareHashPartitioned(df: org.apache.spark.sql.DataFrame,
      key: String, n: Int): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getNumPartitions == n =>
        lr.output.find(_.name == key).fold(df)(k => declare(df, lr,
          org.apache.spark.sql.catalyst.plans.physical
            .HashPartitioning(Seq(k), n)))
      case _ => df
    }

  /** An RDD-backed Dataset (a checkpoint, a foreachBatch batch) re-wrapped
    * so its LogicalRDD declares `SinglePartition` when its RDD has exactly
    * one partition: one partition is clustered on every key, so an
    * aggregate over it needs no exchange. Any other `df` comes back
    * unchanged. Statistics and constraints are kept. */
  def declareSinglePartition(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getNumPartitions == 1 =>
        declare(df, lr,
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
      case _ => df
    }

  private def declare(df: org.apache.spark.sql.DataFrame,
      lr: org.apache.spark.sql.execution.LogicalRDD,
      partitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
      : org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(session, lr.copy(outputPartitioning = partitioning)(
      session, Some(lr.computeStats()), Some(lr.constraints)))
  }

  /** Wrap a custom logical plan in a DataFrame (Dataset.ofRows is
    * `private[sql]`) — the entry point for library-defined operators that
    * plan through a custom SparkStrategy. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** [[ofRows]] over a plan known to be analysed — e.g. an analysed plan
    * with one leaf swapped for a relation of the same output: marked so,
    * the analyzer returns it as is instead of resolving it again. */
  def ofAnalyzed(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }
}
