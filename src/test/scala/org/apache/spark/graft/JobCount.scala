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

  /** `f`'s result and the number of Spark jobs started on `sc` while it
    * ran, from any thread. `graft.core.Par.run` workers carry their
    * caller's local properties, so [[of]] sees their jobs; verbs that
    * append through raw `Future`s on the global pool (IvmJoin's three-log
    * writes) submit jobs from pool threads whose inherited properties
    * belong to whichever block first spawned them, and [[of]] would miss
    * those. The suites run one at a time in one JVM, so nothing else
    * submits jobs while a pinned block runs.
    */
  def all[T](sc: SparkContext)(f: => T): (T, Int) = {
    val (r, props) = property(sc, Tag)(f)
    (r, props.size)
  }

  /** `f`'s result and local property `key` (null where unset) of every
    * Spark job started on `sc` while it ran, from any thread. */
  def property[T](sc: SparkContext, key: String)(f: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key)))); ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq.map(_.orNull))
    } finally sc.removeSparkListener(listener)
  }
}

/** The Dataset actions a block runs on a session, as (action name, query
  * execution) in completion order: `collect`, `count`, `localCheckpoint`
  * and the rest report here once they succeed. Like [[JobCount]] it
  * drains the listener bus before reading. Actions of other threads on
  * the same session are seen too, so assert on what must be present.
  */
object Actions {
  def of[T](spark: org.apache.spark.sql.SparkSession)(f: => T)
      : (T, Seq[(String, org.apache.spark.sql.execution.QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.QueryExecution)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = f
      spark.sparkContext.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
