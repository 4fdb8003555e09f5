package org.apache.spark

/** Lets the benchmark wait for its listener to see every event posted so
  * far: listener delivery is asynchronous, and the bus is Spark-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
