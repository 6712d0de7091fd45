package org.apache.spark

/** The listener bus drain specs need to count jobs exactly; Spark keeps
  * the bus package-private. */
object GraftTestBus {
  /** Blocks until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
