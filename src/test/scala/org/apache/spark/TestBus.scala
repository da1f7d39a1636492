package org.apache.spark

/** The listener bus delivers events asynchronously; a test that counts
  * jobs drains it before it reads its counters. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
