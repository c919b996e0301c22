package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the tracer needs: wait until the listener
  * bus has delivered every event posted so far, so the counters read after
  * an operation hold all of that operation's jobs, stages and tasks. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
