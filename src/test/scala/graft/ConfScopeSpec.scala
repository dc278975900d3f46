package graft

import graft.syntax._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** [[GraftSession.scoped]] is the one place query code changes conf: the
  * overrides live on a fresh clone, the caller's session never sees them,
  * and the clone starts from the caller's conf as of entry.
  */
class ConfScopeSpec extends SparkSpec {
  private val aqe = "spark.sql.adaptive.enabled"

  test("a query on the caller's session plans with AQE while a quietLoop body runs") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    // thread A holds the loop scope open until thread B has planned
    val loop = Future {
      Checkpoints.quietLoop(spark) { c =>
        entered.countDown()
        assert(release.await(2, TimeUnit.MINUTES), "thread B never released the loop")
        c.conf.get(aqe)
      }
    }
    try {
      assert(entered.await(2, TimeUnit.MINUTES), "the loop body never started")
      val df = spark.range(1000).groupBy($"id" % 10).count()
      df.collect()
      val root = df.queryExecution.executedPlan
      assert(root.isInstanceOf[AdaptiveSparkPlanExec], s"planned without AQE mid-loop:\n$root")
    } finally release.countDown()
    assert(Await.result(loop, 2.minutes) == "false", "the loop body planned with AQE on")
    assert(spark.conf.get(aqe) == "true")
  }

  test("a scope sees the caller's conf as of entry and never writes it back") {
    val key = "spark.graft.scope.probe"
    spark.conf.set(key, "caller")
    try {
      assert(GraftSession.scoped(spark)(_.conf.getOption(key)).contains("caller"))
      assert(GraftSession.scoped(spark, key -> "scope")(_.conf.get(key)) == "scope")
      assert(spark.conf.get(key) == "caller")
    } finally spark.conf.unset(key)
    // a fresh clone per scope: the unset is seen by the next one
    assert(GraftSession.scoped(spark)(_.conf.getOption(key)).isEmpty)
  }

  test("a persisted frame rebound into a scope reads its cache, and comes back on the caller") {
    val cached = spark.range(5000).withColumn("k", $"id" % 7).persist()
    try {
      cached.count()
      val back = GraftSession.scoped(spark, aqe -> "false") { c =>
        val inScope = cached.on(c).groupBy($"k").count()
        assert(inScope.sparkSession eq c)
        val plan = inScope.queryExecution.executedPlan
        assert(plan.collectFirst { case s: InMemoryTableScanExec => s }.nonEmpty, plan.toString)
        assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
        inScope.localCheckpoint()
      }.on(spark)
      assert(back.sparkSession eq spark)
      assert(back.orderBy($"k").collect().map(_.getLong(1)).sum == 5000L)
    } finally cached.unpersist()
  }
}
