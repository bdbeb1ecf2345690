package org.apache.spark

/** The listener bus delivers events on its own thread. The harness reads
  * its listeners only after the bus has drained, so a round's counters
  * hold every event the round produced. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
