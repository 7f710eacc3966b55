package org.apache.spark

/** The benchmark's listener reads task and stage events after each
  * operation; the listener bus delivers them asynchronously, so the
  * operation's accounting is closed only once the bus has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
