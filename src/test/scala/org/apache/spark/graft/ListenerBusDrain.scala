package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The one Spark-internal call a job-counting test needs: wait until the
  * listener bus has delivered every event posted so far, so a listener's
  * counters hold all of the jobs the measured code launched. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
