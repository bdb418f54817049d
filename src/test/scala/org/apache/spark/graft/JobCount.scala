package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. A job counts when it carries
  * this call's tag, a local property of the calling thread that Spark
  * copies into every job the thread's queries submit, so jobs of other
  * threads on the shared session are not counted. Job-start events reach
  * listeners asynchronously, so the listener bus is drained before the
  * count is read (the listener bus is `private[spark]`, hence this
  * package).
  */
object JobCount {
  private val Tag = "graft.test.jobCount"

  /** `f`'s result and the number of Spark jobs it submitted. */
  def of[T](sc: SparkContext)(f: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(Tag, outer)
      sc.removeSparkListener(listener)
    }
  }
}
