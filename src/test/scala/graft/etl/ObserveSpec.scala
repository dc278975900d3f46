package graft.etl

import graft.SparkSpec
import graft.syntax._
import graft.tables.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** `Dataset.observe` — data-quality counters collected DURING a job's
  * single pass over the data (named accumulators evaluated per row as the
  * plan executes), versus `q_dq_checks`' audit query which pays its own
  * scan. The production shape: every ETL write carries an observation and
  * a QueryExecutionListener reads the metrics off the completed action to
  * decide whether to advance the watermark. Note the metrics hang off the
  * EXECUTED QueryExecution — a write (or any derived action) plans its
  * own, so the listener is the only correct capture point there.
  */
class ObserveSpec extends SparkSpec {

  test("observe collects row/null/range counters in the write pass itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft-observe").toString
    @volatile var captured: Option[Row] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("dq").foreach(r => captured = Some(r))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val observed = Tables
        .orders(spark, sf0001)
        .observe(
          "dq",
          count(lit(1)).as("n_rows"),
          sum(when($"o_totalprice".isNull, 1L).otherwise(0L)).as("null_price"),
          sum(when($"o_totalprice" <= 0, 1L).otherwise(0L)).as("nonpositive_price"),
          max($"o_orderdate").as("max_date")
        )
      // ONE action: the write is also the metrics pass
      observed.write.mode("overwrite").parquet(s"$dir/orders")
      // the listener bus is asynchronous: drain it, which delivers the
      // write's SQL execution end to the QueryExecutionListener
      org.apache.spark.GraftBusDrain.drain(spark.sparkContext)
      val m = captured.getOrElse(fail("observed metrics never arrived"))
      val total = Tables.orders(spark, sf0001).count()
      assert(m.getAs[Long]("n_rows") == total)
      assert(m.getAs[Long]("null_price") == 0L)
      assert(m.getAs[Long]("nonpositive_price") == 0L)
      assert(m.getAs[Any]("max_date") != null)
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("observed metrics surface planted violations without a second scan") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10.0)), (2L, None), (3L, Some(-5.0))
    ).toDF("id", "price")
      .observe(
        "dq2",
        count(lit(1)).as("n_rows"),
        sum(when(col("price").isNull, 1L).otherwise(0L)).as("null_price"),
        sum(when(col("price") <= 0, 1L).otherwise(0L)).as("nonpositive_price")
      )
    // collect() executes THIS Dataset's QueryExecution, so the metrics
    // are readable directly off it (count() would plan its own)
    df.collect()
    val m = df.queryExecution.observedMetrics("dq2")
    assert(m.getAs[Long]("n_rows") == 3L)
    assert(m.getAs[Long]("null_price") == 1L)
    assert(m.getAs[Long]("nonpositive_price") == 1L)
  }
}
