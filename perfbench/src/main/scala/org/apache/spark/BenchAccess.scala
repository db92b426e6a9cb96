package org.apache.spark

/** The one piece of Spark internals the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so a per-op
  * ledger read right after the op returns is complete. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
