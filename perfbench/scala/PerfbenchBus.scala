package org.apache.spark

/** The listener bus is package-private; the tracer needs to wait for it to
  * empty before it reads the counts its listener has gathered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
