/*
 * Lives in package org.apache.spark to reach the `private[spark]`
 * listener bus, whose drain has no public twin.
 */
package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered,
  * so a test reads a listener's counters only after the jobs it ran.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
