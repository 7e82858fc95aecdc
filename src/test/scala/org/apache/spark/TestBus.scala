// The listener bus is package-private in Spark; specs reach it from here.
package org.apache.spark

object TestBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
