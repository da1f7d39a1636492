package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its counters only after every event posted so far has been handled. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
