package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the SparkContext's listener bus, which is private to Spark. */
object Bus {
  /** Block until every posted event has reached every listener, so counters
    * read afterwards include the late task-end and job-end events.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
