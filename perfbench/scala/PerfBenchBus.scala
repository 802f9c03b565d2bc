package org.apache.spark

/** The listener bus is package-private; the traced run drains it before
  * reading counters so that every task and block event of the finished
  * stage calls has been delivered.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
