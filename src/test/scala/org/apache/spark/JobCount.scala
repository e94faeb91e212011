package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. The listener bus is drained
  * before and after the block (its drain is package-private), so the count
  * is complete and holds no earlier job. */
object JobCount {
  def of(sc: SparkContext)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try { body; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(listener)
    jobs.get
  }
}
