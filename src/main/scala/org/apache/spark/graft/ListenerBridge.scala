package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Measurement-harness bridge: `SparkContext.listenerBus` is
  * `private[spark]`, but Bench must drain it after each timed query so the
  * per-query job/stage/task counters are neither polluted by the previous
  * query's late async events nor truncated before the query's own events
  * post. Not on any query path. */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
