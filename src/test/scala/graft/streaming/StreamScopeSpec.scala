package graft.streaming

import graft.SparkSpec
import org.apache.spark.GraftLiveContext

/** `s_stream_state_tws` streams on a per-call clone. A session's first
  * stream adds that session's stream listener bus to the context's bus,
  * so unless the scope takes it off again every call on a long-lived
  * session leaves one more listener, and every bus event is offered to
  * all of them.
  */
class StreamScopeSpec extends SparkSpec {

  test("repeated s_stream_state_tws calls on one session leave no listener behind") {
    def call(): Int = {
      assert(StreamQueries.queries("s_stream_state_tws")(spark, sf0001).count() > 0)
      GraftLiveContext.listenerCount(spark.sparkContext)
    }
    val afterFirst = call()
    call()
    val afterThird = call()
    assert(afterThird == afterFirst, s"listeners grew from $afterFirst to $afterThird over two calls")
  }
}
