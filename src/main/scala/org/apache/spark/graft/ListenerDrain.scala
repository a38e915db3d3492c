package org.apache.spark.graft

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * a listener's totals are complete when they are read. The bus is
  * internal to Spark, hence this file's package.
  */
object ListenerDrain {

  /** False when the queues did not empty within Spark's own bound (10 s). */
  def drain(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(); true }
    catch { case _: TimeoutException => false }
}
