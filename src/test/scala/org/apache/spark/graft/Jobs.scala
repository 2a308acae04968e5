package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The block runs under a job group
  * of its own (Spark hands the group on to the threads a query starts),
  * so jobs of other threads are not counted. Lives under `org.apache.spark`
  * to drain the listener bus before the count is read.
  */
object Jobs {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
