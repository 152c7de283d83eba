package org.apache.spark.flowbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark makes: block until the
  * listener bus has delivered every event posted so far, so a traced
  * round's numbers are complete when they are read. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
