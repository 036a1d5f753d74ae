package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launches. The listener bus is drained (a
  * `private[spark]` call, hence this package) before the listener is
  * added and after the block, so every job start is counted and no
  * earlier one is. */
object GraftJobCount {
  def of[T](sc: SparkContext)(f: => T): (T, Int) = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
