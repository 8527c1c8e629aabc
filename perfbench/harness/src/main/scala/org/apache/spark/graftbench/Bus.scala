package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark harness (`listenerBus` is
  * `private[spark]`, hence this package).
  */
object Bus {

  /** Blocks until every queued listener event has been delivered, so the
    * counters read after an operation hold all of that operation's events.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
