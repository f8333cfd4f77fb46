package org.apache.spark

/** Listener-bus drain for graft's job accounting.
  *
  * `SparkContext.listenerBus` is `private[spark]`; this shim (in the
  * spark package, the same pattern as the sql-package bridges) exposes
  * one call: block until every queued listener event is delivered. The
  * bus is async, so without the drain a listener read right after an
  * action races the delivery thread. Its one caller in the product
  * source is [[graft.JobLog.during]], which drains before registering
  * its listener and again before reading it.
  */
object GraftListenerBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
