package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so a
  * ledger read right after a job sees all of that job's task metrics. Lives
  * in an `org.apache.spark` package because the listener bus is
  * `private[spark]`. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
