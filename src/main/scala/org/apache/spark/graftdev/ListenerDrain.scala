package org.apache.spark.graftdev

import org.apache.spark.SparkContext

/** Listener-bus drain for code that counts Spark events: a counter read
  * or reset on the main thread while the async listener bus is still
  * delivering earlier events miscounts, and a fixed sleep is a heuristic.
  * `LiveListenerBus.waitUntilEmpty` is the deterministic drain but is
  * private[spark], hence this shim package. Used by the test suite's job
  * counter (`TestSpark.jobsDuring`) and the benchmark's trace, never by a
  * registry entry. */
object ListenerDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
