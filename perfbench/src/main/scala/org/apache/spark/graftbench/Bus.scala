package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached the listeners
    * (SparkListener, QueryExecutionListener and StreamingQueryListener
    * events all travel through this bus). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
