package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * ledger listener has seen all jobs and tasks of a batch before the
  * batch's counters are read. The bus is `private[spark]`, hence this
  * package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
