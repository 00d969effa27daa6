package org.apache.spark

/** The listener bus delivers events asynchronously; a traced phase is
  * only complete once every event it caused has reached the
  * benchmark's listener. `waitUntilEmpty` is spark-private, hence this
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
