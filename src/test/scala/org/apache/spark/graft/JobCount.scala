package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. It lives in an org.apache.spark
  * package because draining the listener bus is package-private: the
  * count is read only once every posted job-start event has arrived. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
