package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Two callers on ONE session run the same memory-sink legs at the same
  * moment. Spark refuses to start a stream whose name is already active
  * in the session, and a memory sink's view outlives its query unless
  * the caller drops it, so each call must name its own sink and drop it
  * before returning, on every path.
  */
class StreamConcurrencySpec extends SparkSpec {

  private val legs = Seq(
    "s_stream_windows", "s_stream_join", "s_stream_dedup", "s_stream_state",
    "s_stream_ingest_gate")

  private def run(name: String): DataFrame = StreamQueries.queries(name)(spark, sf0001)

  private def assertNoLeftovers(when: String): Unit = {
    val active = spark.streams.active.map(_.name).toSeq
    assert(active.isEmpty, s"$when: streaming queries still active: $active")
    val views = spark.catalog.listTables().collect().map(_.name).filter(_.contains("_sink")).toSeq
    assert(views.isEmpty, s"$when: sink views left in the catalog: $views")
  }

  test("two threads on one session: serial rows, no active query, no sink view left") {
    val serial = legs.map(n => n -> run(n)).toMap
    assertNoLeftovers("serial pass")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 3).foreach { round =>
      legs.foreach { n =>
        // both calls start the same leg together, so their sinks overlap
        val gate = new CyclicBarrier(2)
        val calls = Seq.fill(2)(Future { gate.await(2, TimeUnit.MINUTES); run(n) })
        calls.map(Await.result(_, 5.minutes)).foreach { got =>
          val want = serial(n)
          assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
            s"round $round: $n differs from its serial result")
        }
      }
      assertNoLeftovers(s"round $round")
    } finally pool.shutdownNow()
  }

  test("s_stream_state_tws never shows its state-store provider to the caller's session") {
    // the RocksDB provider is the query's own conf; a second caller on
    // the same session must keep planning on its own provider while the
    // query runs
    val key   = "spark.sql.streaming.stateStore.providerClass"
    val done  = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen  = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    var polls = 0L
    val poller = new Thread(() => {
      while (!done.get()) {
        spark.conf.getOption(key).foreach(seen.add)
        polls += 1
        Thread.sleep(1)
      }
    })
    poller.start()
    val rows = try run("s_stream_state_tws").count()
    finally { done.set(true); poller.join() }
    assert(rows > 0 && polls > 0)
    assert(!seen.contains(StreamQueries.rocksDbProvider),
      s"the caller's session read $key = ${StreamQueries.rocksDbProvider} mid-run")
    assert(!spark.conf.getOption(key).contains(StreamQueries.rocksDbProvider))
  }
}
