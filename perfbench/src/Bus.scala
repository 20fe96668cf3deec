package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to empty before it reads the counters of an operation. The
  * wait is package-private to Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
