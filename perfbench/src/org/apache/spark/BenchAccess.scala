package org.apache.spark

/** The one scheduler hook the harness needs that is not public: block
  * until every posted listener event has been delivered, so counters read
  * after an operation include all of its tasks.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
