package org.apache.spark

/** The one piece of Spark-private API the benchmark needs: listener events
 *  are delivered asynchronously, so a traced measurement must wait for the
 *  bus to drain before it reads the per-job log. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
