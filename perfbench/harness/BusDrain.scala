package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Lives under `org.apache.spark` only to reach the package-private
  * listener bus; the traced run calls it after a key's timed window so
  * that per-key task metrics are complete before they are read.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
