package graft.sources

import graft.SparkSpec
import graft.etl.ZoloPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The DSv2 face of the REST source: Catalyst-negotiated time-range
  * pushdown (not hand-threaded URL params), window-sharded input
  * partitions, and result equality with the file ETLs over the same
  * fixtures the loopback server serves.
  */
class ZoloRestDsv2Spec extends SparkSpec {

  private val begin = "2019-01-01T00:00:00Z"
  private val end   = "2020-01-01T00:00:00Z"

  private def withServer[A](f: String => A): A = {
    val srv = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "LOC1", token = "sq-fixture-token", pageSize = 3, failFirst = 2)
    try f(s"${srv.base}/v1/LOC1/payments")
    finally srv.stop()
  }

  private def scanOf(df: DataFrame): ZoloRestScan = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      p +: kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b.scan }
      .getOrElse(fail(s"no BatchScan in plan:\n${df.queryExecution.executedPlan}"))
      .asInstanceOf[ZoloRestScan]
  }

  test("time range is pushed into the scan and visible in its description") {
    withServer { url =>
      val df   = RestQueries.squareDsv2Records(spark, url, "sq-fixture-token", begin, end, nSlices = 4)
      val scan = scanOf(df)
      assert(scan.pushedRange == ((begin, end)))
      assert(scan.description().contains(s"PushedTimeRange=[$begin, $end)"))
      assert(scan.toBatch.planInputPartitions().length == 4, "4 slices -> 4 window partitions")
      assert(df.count() > 0)
    }
  }

  test("tightest bounds win when the range is filtered twice") {
    withServer { url =>
      val df = spark.read.format("zolo-rest")
        .option("url", url).option("token", "sq-fixture-token")
        .load()
        .filter(col("created_at") >= begin && col("created_at") < end)
        .filter(col("created_at") >= "2019-02-01T00:00:00Z")
      assert(scanOf(df).pushedRange == (("2019-02-01T00:00:00Z", end)))
    }
  }

  test("DSv2 records equal the file ETL's square_trans") {
    withServer { url =>
      val dsv2 = RestQueries
        .squareDsv2Records(spark, url, "sq-fixture-token", begin, end, nSlices = 4)
        .localCheckpoint(true)
      val viaDsv2 = graft.etl.SquareEtl
        .headerTable(graft.etl.SquareEtl.withMarket(graft.etl.SquareEtl.details(dsv2)))
        .orderBy("payment_id")
        .collect()
      val viaFile = graft.etl.SquareEtl
        .run(spark, s"${ZoloPipeline.fixturesDir}/square_payments.json")._1
        .orderBy("payment_id")
        .collect()
      assert(viaDsv2.map(_.toSeq).toSeq == viaFile.map(_.toSeq).toSeq)
    }
  }

  test("non-range predicates stay residual and still apply") {
    withServer { url =>
      val df = RestQueries
        .squareDsv2Records(spark, url, "sq-fixture-token", begin, end, nSlices = 2)
        .filter(col("device.name") === "reg1")
      // the device predicate must NOT be claimed by the source
      assert(scanOf(df).pushedRange == ((begin, end)))
      val rows = df.localCheckpoint(true).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getStruct(rows.head.fieldIndex("device")).getString(0) == "reg1"))
    }
  }

  test("an unbounded scan of the cursor API refuses at planning time") {
    withServer { url =>
      val df = spark.read.format("zolo-rest")
        .option("url", url).option("token", "sq-fixture-token")
        .load()
      val e = intercept[Exception](df.collect())
      assert(e.getMessage.contains("pushed half-open time range"),
        s"unexpected message: ${e.getMessage}")
    }
  }

  test("column pruning reaches the scan; count(*) survives a pruned-to-empty schema") {
    withServer { url =>
      val pruned = RestQueries
        .squareDsv2Records(spark, url, "sq-fixture-token", begin, end, nSlices = 2)
        .select(col("created_at"))
      assert(scanOf(pruned).readSchema().fieldNames.toSeq == Seq("created_at"))
      assert(scanOf(pruned).description().contains("columns=[created_at]"))
      val n = pruned.count()
      assert(n > 0)
      val all = RestQueries
        .squareDsv2Records(spark, url, "sq-fixture-token", begin, end, nSlices = 2)
        .count()
      assert(n == all, "pruned scan must keep the record count")
    }
  }

  private def withShopify[A](f: String => A): A = {
    val srv = FixtureApiServer.shopifyAdmin(
      s"${ZoloPipeline.fixturesDir}/shopify_orders.json",
      user = "sh-key", pass = "sh-pass", failFirst = 2)
    try f(srv.base)
    finally srv.stop()
  }

  test("shopify entity: page partitions, pushed range, fixture records") {
    withShopify { base =>
      val df = RestQueries.shopifyDsv2Records(spark, base, "sh-key", "sh-pass", begin, end, pageSize = 2)
      val scan = scanOf(df)
      assert(scan.pushedRange == ((begin, end)))
      assert(scan.description().contains("entity=shopify_orders"))
      // 4 fixture orders in range / page size 2 -> 2 page partitions
      assert(scan.toBatch.planInputPartitions().length == 2)
      val viaDsv2 = df.localCheckpoint(true).orderBy("id").collect()
      val viaFile = graft.etl.ShopifyEtl
        .readRaw(spark, s"${ZoloPipeline.fixturesDir}/shopify_orders.json")
        .orderBy("id").collect()
      assert(viaDsv2.map(_.toSeq).toSeq == viaFile.map(_.toSeq).toSeq)
    }
  }

  private def withQb[A](f: String => A): A = {
    val srv = FixtureApiServer.qbQuery(
      s"${ZoloPipeline.fixturesDir}/qb_invoices.json",
      realmId = "RLM1", token = "qb-fixture-token", failFirst = 2)
    try f(srv.base)
    finally srv.stop()
  }

  test("qb entity: strict exclusive bounds push; >= stays residual and the scan refuses") {
    withQb { base =>
      val df = RestQueries.qbDsv2Records(
        spark, base, "RLM1", "qb-fixture-token", begin, end, pageSize = 2)
      val scan = scanOf(df)
      assert(scan.pushedRange == ((begin, end)))
      assert(scan.description().contains("entity=qb_invoices"))
      assert(df.count() > 0)
      // a >= lower bound is NOT expressible as a QB SQL range: it must
      // not be claimed, leaving the scan unbounded below -> refusal
      val ge = spark.read.format("zolo-rest")
        .option("entity", "qb_invoices")
        .option("url", base).option("realm", "RLM1").option("token", "qb-fixture-token")
        .load()
        .filter(col("TxnDate") >= begin && col("TxnDate") < end)
      val e = intercept[Exception](ge.collect())
      assert(e.getMessage.contains("pushed half-open time range"))
    }
  }

  test("square entity: an empty or sub-second pushed window plans zero partitions, not a crash") {
    // nothing is fetched (zero partitions == zero requests), so no server
    def read(lo: String, hi: String) =
      spark.read.format("zolo-rest")
        .option("url", "http://localhost:9/v1/LOC1/payments").option("token", "t")
        .load()
        .filter(col("created_at") >= lo && col("created_at") < hi)
    assert(read(begin, begin).count() == 0, "equal bounds = a legitimate empty window")
    assert(read(begin, "2019-01-01T00:00:00.500Z").count() == 0,
      "a window empty at whole-second granularity must plan zero slices")
  }

  test("qb_customers entity: unbounded full refresh is the contract — no range required") {
    val srv = FixtureApiServer.qbQuery(
      s"${ZoloPipeline.fixturesDir}/qb_customers.json",
      realmId = "RLM1", token = "qb-fixture-token", failFirst = 2, entity = "Customer")
    try {
      val df = spark.read.format("zolo-rest")
        .option("entity", "qb_customers")
        .option("url", srv.base).option("realm", "RLM1").option("token", "qb-fixture-token")
        .option("pagesize", 1)
        .load()
      val rows = df.collect() // no filter anywhere: must NOT refuse
      assert(rows.length == 2)
      assert(scanOf(df).toBatch.planInputPartitions().length == 2,
        "2 customers at page size 1 -> 2 STARTPOSITION partitions")
    } finally srv.stop()
  }
}
