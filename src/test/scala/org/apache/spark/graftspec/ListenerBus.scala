package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Specs that count Spark jobs wait for the asynchronous listener bus to
  * deliver every event first; the wait is package-private to Spark,
  * hence this file's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
