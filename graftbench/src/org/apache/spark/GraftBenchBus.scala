package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so counters read after a traced pass are complete. The bus is
  * package-private; this shim lives in the benchmark, not in graft. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
