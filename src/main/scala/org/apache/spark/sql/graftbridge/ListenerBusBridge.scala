package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously, and the wait for the
  * bus to empty (`LiveListenerBus.waitUntilEmpty`) is `private[spark]`;
  * telemetry read right after an action goes through this accessor. */
object ListenerBusBridge {
  /** Waits up to `timeoutMs` for every event posted so far to reach every
    * listener; false when the wait timed out. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
