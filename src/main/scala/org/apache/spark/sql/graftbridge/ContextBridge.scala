package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Bridge to `private[spark]` SparkContext members. */
object ContextBridge {
  /** Blocks until every event posted so far has reached every listener;
    * throws (a `TimeoutException`) if the bus does not empty in time. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A copy of the calling thread's local properties. */
  def localProperties(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Replaces the calling thread's local properties with `props`. */
  def setLocalProperties(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(props)
}
