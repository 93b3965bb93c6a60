package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run needs every job/stage/task event of a cycle delivered
  * before it detaches its listener and attributes events to operations. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
