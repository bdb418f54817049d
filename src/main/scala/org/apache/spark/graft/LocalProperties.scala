package org.apache.spark.graft

import java.util.Properties

import org.apache.spark.SparkContext

/** Carries a thread's Spark local properties (job group, scheduler
  * pool, span tags) onto the pool threads that run work for it. Spark
  * copies local properties only into threads the caller creates, so a
  * pooled worker keeps whatever was set when it was spawned. Listing and
  * replacing a thread's properties is `private[spark]`, hence this
  * package.
  */
object LocalProperties {

  /** The calling thread's properties, copied, without the SQL execution
    * ids (each worker's queries open executions of their own); None when
    * no SparkContext is active. */
  def capture(): Option[(SparkContext, Properties)] =
    SparkContext.getActive.map(sc =>
      (sc, copy(sc.getLocalProperties, !_.startsWith("spark.sql.execution."))))

  /** `f` run with a copy of `captured` as this thread's properties (a
    * copy per call: the queries `f` runs set their execution ids on it);
    * the thread's own are restored afterwards. */
  def withCaptured[T](captured: Option[(SparkContext, Properties)])(f: => T): T =
    captured match {
      case None => f
      case Some((sc, props)) =>
        val own = sc.getLocalProperties
        sc.setLocalProperties(copy(props, _ => true))
        try f finally sc.setLocalProperties(own)
    }

  private def copy(props: Properties, keep: String => Boolean): Properties = {
    val out = new Properties()
    if (props != null) props.stringPropertyNames().forEach { k =>
      if (keep(k)) out.setProperty(k, props.getProperty(k))
    }
    out
  }
}
