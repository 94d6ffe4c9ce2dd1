package org.apache.spark

/** Package-private-API bridge (the GraftColumnBridge pattern):
  * listener-bus delivery is ASYNCHRONOUS, so a measurement tool that
  * removes its SparkListener right after the timed action returns can
  * lose the tail stage/task/job events of exactly the query it is
  * attributing. `LiveListenerBus.waitUntilEmpty` is private[spark];
  * this shim exposes the drain to graft's measurement code (perfbench's
  * per-layer trace). Returns false instead of throwing when
  * the bus does not drain inside the timeout — attribution tools
  * prefer slightly-short numbers over a crash after the run. */
object GraftListenerBridge {
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
