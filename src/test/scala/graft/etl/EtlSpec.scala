package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Golden assertions for the four ETL pipelines on the adversarial
  * fixtures (FIXTURES.md §1) — every market-attribution branch including
  * the 07:00:00 boundary, null tender/modifiers/shipping propagation, the
  * drop of QuickBooks lines without Id.
  */
class EtlSpec extends SparkSpec {

  val fx = "/root/repo/fixtures"

  lazy val squareHeaders: Map[String, Row] = {
    val (h, _) = SquareEtl.run(spark, s"$fx/square_payments.json")
    h.collect().map(r => r.getString(0) -> r).toMap
  }
  lazy val squareDetails = {
    val (_, d) = SquareEtl.run(spark, s"$fx/square_payments.json")
    d.collect()
  }

  test("square: every market-attribution branch (F11 + T2/T5 + W1)") {
    val markets = squareHeaders.map { case (id, r) => id -> r.getString(2) }
    assert(markets("p1") == "San Rafael Thurs")             // local Thursday
    assert(markets("p2") == "Danville Farmers Market")      // local Saturday
    assert(markets("p3") == "Alameda Antique Faire")        // Sun, first trans 06:30
    assert(markets("p3b") == "Alameda Antique Faire")       // same device/date window
    assert(markets("p4") == "San Rafael Sunday")            // Sun, first trans 09:00
    assert(markets("p5") == "other")                        // exactly 07:00:00 boundary
    assert(markets("p6") == "other")                        // Monday
    assert(markets("p7") == "San Rafael Sunday")            // midnight-straddle → local Sunday, device d2
  }

  test("square: header aggregation A1 (sum dollars, min tendered/returned)") {
    val p1 = squareHeaders("p1")
    assert(math.abs(p1.getDouble(3) - 89.0) < 1e-9)  // 24.00 + 65.00
    assert(math.abs(p1.getDouble(4) - 100.0) < 1e-9) // tendered
    assert(math.abs(p1.getDouble(5) - 11.0) < 1e-9)  // returned
  }

  test("square: null tender propagates to null cash columns") {
    val p3b = squareHeaders("p3b")
    assert(p3b.isNullAt(4) && p3b.isNullAt(5))
  }

  test("square: explode F1 + modifiers join F12") {
    assert(squareDetails.length == 9) // 9 itemizations across 8 payments
    val p1Rows = squareDetails.filter(_.getString(0) == "p1")
    val mods = p1Rows.map(r => Option(r.getString(4))).toSet
    assert(mods.contains(Some("grind;gift wrap"))) // multi-modifier join
    assert(mods.contains(Some("")))                // empty modifiers array → ""
    val p3 = squareDetails.find(_.getString(0) == "p3").get
    assert(p3.isNullAt(4)) // null modifiers → null
  }

  test("square: local-time shift straddles midnight (T2)") {
    // p7 created 2019-06-10T03:00:00Z → local 2019-06-09 20:00
    val p7 = squareHeaders("p7")
    assert(p7.getTimestamp(1).toString == "2019-06-09 20:00:00.0")
  }

  test("shopify: casts, shipping element_at, null propagation F9") {
    val (h, d) = ShopifyEtl.run(spark, s"$fx/shopify_orders.json")
    val headers = h.collect().map(r => r.getString(0) -> r).toMap
    val o1 = headers("5001")
    assert(math.abs(o1.getDouble(3) - 91.0) < 1e-9)  // 2×14.50 + 62.00
    assert(math.abs(o1.getDouble(2) - 7.25) < 1e-9)  // shipping
    assert(math.abs(o1.getDouble(4) - 98.25) < 1e-9) // total
    val o2 = headers("5002")
    assert(o2.isNullAt(2) && o2.isNullAt(4))          // empty shipping_lines → null total
    assert(math.abs(o2.getDouble(3) - 14.5) < 1e-9)   // subtotal still present
    val det = d.collect()
    assert(det.length == 6)
    assert(det.forall(r => !r.isNullAt(2) && !r.isNullAt(3))) // casts succeeded
  }

  test("quickbooks: lines without Id dropped, missing fields null (F3)") {
    val (h, d) = QuickbooksEtl.run(spark, s"$fx/qb_invoices.json")
    val det = d.collect()
    assert(det.length == 5) // 6 lines total, 1 without Id dropped
    val inv2 = det.filter(_.getString(0) == "inv-2")
    val l1 = inv2.find(r => !r.isNullAt(1) && r.getString(1) == "qb-201").get
    assert(l1.isNullAt(3) && l1.isNullAt(4)) // missing UnitPrice → null price, null dollars
    val l2 = inv2.find(r => r.isNullAt(1)).get
    assert(l2.isNullAt(2) && math.abs(l2.getDouble(3) - 20.0) < 1e-9)
    val headers = h.collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(headers("inv-1").getDouble(3) - 205.0) < 1e-9) // 10×9.5 + 2×55
  }

  test("qb customers: F4 struct projection with null phone") {
    val c = QbCustomersEtl.run(spark, s"$fx/qb_customers.json").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(c("c100").getString(2) == "415-555-0100")
    assert(c("c101").isNullAt(2))
    assert(c("c100").getString(4) == "San Francisco")
  }

  test("weekly demand query: hand-computed weights, inactive profile excluded") {
    val rows = ZoloPipeline.weeklyDemand(spark).collect()
    val m = rows.map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) -> r.getDouble(2)).toMap
    assert(math.abs(m(("House", "2019-06-03")) - 50.75) < 1e-9) // 26.0 sq + 7.25 sh + 17.5 qb
    assert(math.abs(m(("Decaf", "2019-06-10")) - 5.25) < 1e-9)  // 3.0 sq + 2.25 sh
    assert(math.abs(m(("House", "2019-06-17")) - 25.0) < 1e-9)  // 20 sh + 5 qb
    assert(!rows.exists(_.getString(0) == "Retired Blend"))      // active = 0
  }

  test("zolo_weekly_demand leaves no temp view and no cache entry") {
    def views() = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    spark.catalog.clearCache()
    val before = views()
    graft.SparkEntry.queries("zolo_weekly_demand")(spark, sf0001).collect()
    assert(views() == before, s"views left behind: ${views() -- before}")
    assert(spark.sharedState.cacheManager.isEmpty, "zolo_weekly_demand left cached plans behind")
  }
}
