package org.apache.spark

/** The SparkContext live in this JVM, whichever thread built it
  * (`SparkContext.getActive` is `private[spark]`).
  */
object GraftLiveContext {
  def get: Option[SparkContext] = SparkContext.getActive

  /** Listeners on `sc`'s bus, over every queue (`listenerBus` is
    * `private[spark]`).
    */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
