package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the listener bus, whose
  * `waitUntilEmpty` is package-private: the benchmark waits for every
  * posted event before reading its listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
