package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, TestBridge}

class BridgeSpec extends SparkSpec {

  /** A 40k-row → 2,000-group aggregate: its checkpoint runs a shuffle. */
  private def grouped = spark.range(40000)
    .groupBy((col("id") % 2000).as("g")).agg(count(lit(1)).as("n"))

  test("countedCheckpoint: the count of a cut checkpoint, in fewer jobs " +
      "than localCheckpoint() then count()") {
    val plain = TestBridge.recorded(spark) {
      val ck = grouped.localCheckpoint()
      (ck, ck.count())
    }
    val counted = TestBridge.recorded(spark)(Bridge.countedCheckpoint(grouped))
    val (ck, n) = counted.value
    assert(n === 2000L)
    assert(n === plain.value._2)
    assert(n === grouped.count())
    val rdd = ck.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case other => fail(s"not a checkpoint: ${other.nodeName}")
    }
    assert(rdd.isCheckpointed)
    assert(rdd.toDebugString.contains("LocalCheckpointRDD"))
    assert(!rdd.toDebugString.contains("ShuffledRowRDD"),
      "the lineage still reaches the shuffle")
    // the checkpoint reads back the aggregate's rows
    assert(ck.agg(sum(col("n"))).head().getLong(0) === 40000L)
    assert(counted.jobs < plain.jobs,
      s"counted ${counted.jobs} jobs, plain ${plain.jobs}")
    Bridge.unpersistCheckpoint(ck)
    Bridge.unpersistCheckpoint(plain.value._1)
    val (empty, none) = Bridge.countedCheckpoint(grouped.filter(col("n") > 100))
    assert(none === 0L && empty.collect().isEmpty)
  }
}
