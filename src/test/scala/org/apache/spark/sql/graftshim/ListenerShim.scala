package org.apache.spark.sql
package graftshim

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus. */
object ListenerShim {

  /** Blocks until every queued listener event has been delivered, so job
    * counts read afterwards are complete.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
