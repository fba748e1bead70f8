package graft.domain

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graft.TestBridge

import graft.SparkSpec

/** Guards the executed plan of the flagship per micro-batch: each block's
  * JSON is scanned once, the ledger needs one shuffle, the per-block
  * kernel leaves no object-hash or sort aggregate, and the dimension
  * tables enter as driver-side lookups — no join and no broadcast, so a
  * batch runs the scan-and-shuffle job and the result job only. */
class FlagshipPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("tokenFlows: one scan, one shuffle, no join or broadcast, " +
    "at most 2 jobs") {
    val dir = Files.createTempDirectory("graft-plan-shape")
    FlagshipCorpus.writeBlocks(dir,
      FlagshipCorpus.blockLines(20261017L).take(2), 1)
    val (hot, watchlists, prices) = FlagshipCorpus.dims(spark)
    val ledger = Rugpull.tokenFlows(
      Rugpull.parseBlocks(spark, dir.toString), hot, watchlists, prices)

    val run = TestBridge.recorded(spark)(ledger.collect())
    assert(run.value.nonEmpty)

    val plan = ledger.queryExecution.executedPlan
    def scans(p: SparkPlan) = collect(p) { case s: FileSourceScanExec => s }
    assert(scans(plan).length === 1, plan)
    assert(collect(plan) { case s: ShuffleExchangeExec => s }.length === 1,
      plan)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    assert(run.jobs <= 2, s"${run.jobs} jobs")
    // the per-block kernel folds each transaction: no object-hash or
    // sort aggregate (collect_set, first, max_by) is left
    assert(collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty, plan)
    assert(collect(plan) { case a: SortAggregateExec => a }.isEmpty, plan)
  }
}
