package graft.etl

import graft.SparkSpec
import graft.analytics.WeeklyDemand
import java.nio.file.Files
import java.sql.Timestamp

/** The complete reference lifecycle (SURVEY §3.1–§3.3) through the DISK
  * warehouse layer: bootstrap dims from CSV (S6/S8), run the three ETLs
  * and append facts with dedup (S7), commit watermarks (S10), read the
  * star schema back and run the weekly-demand query (S5) — then replay a
  * crashed batch and prove the analytics are unchanged.
  */
class ZoloWarehouseSpec extends SparkSpec {

  test("ETL → parquet star schema → weekly demand; crash-replay is idempotent") {
    val wh = Files.createTempDirectory("zolo-wh").toString
    val fx = "/root/repo/fixtures"

    // bootstrap dimensions (S6 + S8)
    Warehouse.overwrite(Warehouse.readItems(spark, s"$fx/items.csv"), s"$wh/items")
    Warehouse.overwrite(Warehouse.readCoffeeProfiles(spark, s"$fx/coffee_profiles.csv"), s"$wh/coffee_profiles")

    // ETL loads with dedup-on-key appends (S7)
    def loadAll(): Unit = {
      val (sqT, sqD) = SquareEtl.run(spark, s"$fx/square_payments.json")
      Warehouse.appendDedup(spark, sqT, s"$wh/square_trans", "payment_id")
      Warehouse.appendDedup(spark, sqD.dropDuplicates("payment_id", "square_id"), s"$wh/square_trans_details", "payment_id")
      val (shT, shD) = ShopifyEtl.run(spark, s"$fx/shopify_orders.json")
      Warehouse.appendDedup(spark, shT, s"$wh/shopify_trans", "order_id")
      Warehouse.appendDedup(spark, shD, s"$wh/shopify_trans_details", "order_id")
      val (qbT, qbD) = QuickbooksEtl.run(spark, s"$fx/qb_invoices.json")
      Warehouse.appendDedup(spark, qbT, s"$wh/qb_trans", "payment_id")
      Warehouse.appendDedup(spark, qbD, s"$wh/qb_trans_details", "payment_id")
      Warehouse.writeWatermark(spark, s"$wh/watermarks", "square",
        Timestamp.valueOf("2019-06-21 00:00:00"))
    }
    loadAll()

    // register the DISK tables and run the analytics query (S5)
    def registerAndRun(): Map[(String, String), Double] = {
      Seq("square_trans", "square_trans_details", "shopify_trans", "shopify_trans_details",
        "qb_trans", "qb_trans_details", "items", "coffee_profiles").foreach { t =>
        spark.read.parquet(s"$wh/$t").createOrReplaceTempView(t)
      }
      spark.sql(WeeklyDemand.sql).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) -> r.getDouble(2))
        .toMap
    }
    val first = registerAndRun()
    assert(math.abs(first(("House", "2019-06-03")) - 50.75) < 1e-9)

    // crash between load and watermark commit ⇒ the whole batch replays;
    // appendDedup must keep the warehouse — and the analytics — identical
    loadAll()
    val second = registerAndRun()
    assert(second == first)
    assert(Warehouse.readWatermark(spark, s"$wh/watermarks", "square")
      .contains(Timestamp.valueOf("2019-06-21 00:00:00")))
  }
}
