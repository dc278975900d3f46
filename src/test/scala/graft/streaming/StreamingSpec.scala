package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** §2.10: the driver queries' 30-minute window aggregate
  * ([[StreamQueries.windowTotals]]) on a MemoryStream — watermark,
  * late-data drop and its count, and convergence to the batch golden.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Window start, event type, total and count, in that column order. */
  private def totals(events: DataFrame): DataFrame =
    StreamQueries.windowTotals(events.toDF("ts", "event_type", "value"))
      .select($"w.start".as("window_start"), $"event_type", $"total_value", $"n_events")

  test("30-min tumbling window with watermark aggregates and drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = totals(mem.toDF())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("window_totals_out")
      .start()
    try {
      mem.addData(
        (ts("2019-06-09 06:10:00"), "purchase", 12.0),
        (ts("2019-06-09 06:20:00"), "purchase", 8.0),
        (ts("2019-06-09 06:40:00"), "purchase", 5.0)
      )
      q.processAllAvailable()
      // advance watermark far past the first windows so they close
      mem.addData((ts("2019-06-09 09:00:00"), "purchase", 1.0))
      q.processAllAvailable()
      // this event is 2.5h late — behind the watermark, must be dropped
      mem.addData((ts("2019-06-09 06:15:00"), "purchase", 999.0))
      q.processAllAvailable()
      mem.addData((ts("2019-06-09 12:00:00"), "view", 2.0))
      q.processAllAvailable()
      val out = spark.table("window_totals_out").collect()
      val w0600 = out.find(_.getTimestamp(0) == ts("2019-06-09 06:00:00")).get
      assert(w0600.getDouble(2) == 20.0 && w0600.getLong(3) == 2) // 12+8, late 999 dropped
      val w0630 = out.find(_.getTimestamp(0) == ts("2019-06-09 06:30:00")).get
      assert(w0630.getDouble(2) == 5.0)
      // the drop is observable, not silent: the aggregate's state
      // operator counts the late row in its progress
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L, s"late drops counted: $dropped")
    } finally {
      q.stop()
      spark.catalog.dropTempView("window_totals_out")
    }
  }

  test("streaming windowed result converges to the batch-mode golden") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts("2019-06-09 06:10:00"), "m1", 10.0),
      (ts("2019-06-09 06:20:00"), "m1", 20.0),
      (ts("2019-06-09 06:40:00"), "m2", 30.0),
      (ts("2019-06-09 07:10:00"), "m1", 40.0)
    )
    // the batch golden is the same call on the static frame
    // (withWatermark is a no-op on a batch DataFrame)
    val golden = totals(data.toDF())
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap

    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = totals(mem.toDF())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("window_totals_conv")
      .start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData((ts("2019-06-09 23:00:00"), "flush", 0.0)) // close all windows
      q.processAllAvailable()
      val got = spark
        .table("window_totals_conv")
        .filter($"event_type" =!= "flush")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
        .toMap
      assert(got == golden)
    } finally {
      q.stop()
      spark.catalog.dropTempView("window_totals_conv")
    }
  }
}
