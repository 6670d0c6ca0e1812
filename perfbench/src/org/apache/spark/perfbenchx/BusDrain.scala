// Hosted under org.apache.spark to reach the private[spark] listener bus,
// the same shim the engine's test suite uses (ListenerHook.drain).
package org.apache.spark.perfbenchx

import org.apache.spark.SparkContext

object BusDrain {

  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
