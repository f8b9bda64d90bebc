package org.apache.spark.grafttest

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only access to the `private[spark]` listener bus so specs can
  * flush async listener deliveries before asserting on counters.
  */
object TestBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` and count the jobs it starts. The bus is drained before the
    * listener is added, so a late event of an earlier action is not
    * counted, and again before it is read, so none of `body`'s is missed.
    */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      waitUntilEmpty(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
