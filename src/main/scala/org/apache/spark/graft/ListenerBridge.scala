package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The one listener-bus drain, for the ProfileQuery dev tool and the
  * tests: `SparkContext.listenerBus` is `private[spark]`, and both read
  * listener-collected metrics, which need a real drain first (a fixed
  * sleep undercounts on a loaded host — ADVICE r21). Declared under
  * `org.apache.spark` the standard way; only the public-shaped
  * `waitUntilEmpty` is touched.
  */
object ListenerBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
