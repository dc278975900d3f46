package org.apache.spark

/** The SparkContext live in this JVM, whichever thread built it
  * (`SparkContext.getActive` is `private[spark]`).
  */
object GraftLiveContext {
  def get: Option[SparkContext] = SparkContext.getActive
}
