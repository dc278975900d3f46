package graft.obs

import graft.SparkSpec

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** QueryMeter counts exactly the jobs its body starts, complete on
  * return: no sleep stands between the body and the record.
  */
class QueryMeterSpec extends SparkSpec {

  // exactly one job of P tasks: Dataset.count() under AQE is two jobs
  // (its map stage, then the final aggregate)
  private val P = 3
  private def countJob(): Long = spark.range(0, 1000, 1, P).rdd.count()

  test("counts exactly the body's jobs while another thread runs untagged jobs") {
    val N = 5
    // build the shared session on the suite's thread, so it is that
    // thread's active session (ExtensionsSpec stops it from there)
    val sc = spark.sparkContext
    val stop = new AtomicBoolean(false)
    val otherJobs = new AtomicInteger(0)
    val started = new CountDownLatch(1)
    // created before the measured call, so it never carries its tag
    val other = new Thread(() => {
      sc.setJobDescription("other-thread")
      while (!stop.get()) {
        spark.range(0, 1000, 1, 2).count()
        otherJobs.incrementAndGet()
        started.countDown()
      }
    })
    other.start()
    try {
      started.await()
      val before = otherJobs.get()
      val (_, rec) = QueryMeter.measure(spark, "n-counts")((1 to N).foreach(_ => countJob()))
      assert(otherJobs.get() > before, "the other thread ran no job during the measured call")
      assert(rec.jobs.size == N)
      assert(rec.tasks == N * P)
      assert(!rec.jobs.exists(_.description == "other-thread"))
    } finally {
      stop.set(true)
      other.join()
    }
  }

  test("jobs of a Future started inside the body are counted") {
    val (n, rec) = QueryMeter.measure(spark, "future") {
      val pool = Executors.newSingleThreadExecutor()
      try Await.result(Future(countJob())(ExecutionContext.fromExecutor(pool)), 2.minutes)
      finally pool.shutdown()
    }
    assert(n == 1000L)
    assert(rec.jobs.size == 1)
    assert(rec.tasks == P)
  }

  test("a repartition body records shuffle write bytes and read records") {
    val (rows, rec) = QueryMeter.measure(spark, "repartition")(
      spark.range(0, 1000, 1, 4).repartition(3).collect())
    assert(rows.length == 1000)
    assert(rec.shuffleWriteBytes > 0L)
    assert(rec.shuffleReadRecords > 0L)
  }

  test("the same body measured 10 times in a row gives identical counts") {
    val counts = (1 to 10).map { i =>
      val (_, rec) = QueryMeter.measure(spark, s"repeat-$i")(countJob())
      (rec.jobs.size, rec.tasks)
    }
    assert(counts.distinct == Seq((1, P)), s"counts per run: $counts")
  }
}
