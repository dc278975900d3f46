package org.apache.spark

/** Shim into Spark's `private[spark]` listener-bus API, shared by
  * [[graft.obs.QueryMeter]] and the specs that read listener events.
  *
  * Listener delivery is asynchronous: a job's end events can still be
  * queued when the action that ran it returns. Draining the shared
  * LiveListenerBus, which also carries the SQL execution events that
  * ExecutionListenerBus fans out to QueryExecutionListeners and the
  * StreamingQueryListener events, delivers every event posted so far;
  * fixed sleeps only make a short count less likely. The members are
  * `private[spark]`, hence this one-liner living in Spark's package.
  */
object GraftBusDrain {
  /** Block until every queued listener event has been delivered (or the
    * timeout elapses — surfaced as a TimeoutException, not a silent miss).
    */
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
