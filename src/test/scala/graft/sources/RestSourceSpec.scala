package graft.sources

import graft.SparkSpec
import graft.etl.{QuickbooksEtl, ShopifyEtl, SquareEtl, ZoloPipeline}
import scala.jdk.CollectionConverters._

/** The HTTP extraction layer against the loopback API doubles: pagination
  * contracts, retry policy on the real wire, auth fail-fast, distributed
  * page fetch, and end-to-end equality with the file-based ETLs.
  */
class RestSourceSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("square over HTTP == square over files (token pagination + injected 429/500)") {
    val viaHttp = rows(RestQueries.squareHttpTrans(spark))
    val viaFile = rows(
      SquareEtl
        .run(spark, s"${ZoloPipeline.fixturesDir}/square_payments.json")
        ._1
        .orderBy("payment_id"))
    assert(viaHttp.nonEmpty && viaHttp == viaFile)
  }

  test("time-sliced parallel square == sequential chain (r5 stretch: sharded cursor fetch)") {
    val (b, e) = ("2019-01-01T00:00:00Z", "2020-01-01T00:00:00Z")
    // one window is the sequential chain; n windows are n chains on executors
    def extract(nSlices: Int) = {
      val srv = FixtureApiServer.squareV1(
        s"${ZoloPipeline.fixturesDir}/square_payments.json",
        locationId = "L", token = "t", pageSize = 3)
      try {
        val raw = RestQueries
          .squareDsv2Records(spark, s"${srv.base}/v1/L/payments", "t", b, e, nSlices)
          .localCheckpoint(true)
        (rows(SquareEtl.headerTable(SquareEtl.withMarket(SquareEtl.details(raw))).orderBy("payment_id")),
          srv.requestCount)
      } finally srv.stop()
    }
    val (seq1, _)       = extract(1)
    val (par, requests) = extract(4)
    assert(par.nonEmpty && par == seq1)
    // every sub-window issues at least its first request — the fetch
    // genuinely fanned out across slices instead of one chain
    assert(requests >= 4)
    // degenerate slicing still covers the window exactly
    val slices = RestSource.timeSlices(b, e, 3)
    assert(slices.head._1 == b && slices.last._2 == e)
    assert(slices.sliding(2).forall { case Seq(x, y) => x._2 == y._1; case _ => true })
  }

  test("shopify over HTTP == shopify over files (distributed page fetch)") {
    val viaHttp = rows(RestQueries.shopifyHttpTrans(spark))
    val viaFile = rows(
      ShopifyEtl
        .run(spark, s"${ZoloPipeline.fixturesDir}/shopify_orders.json")
        ._1
        .orderBy("order_id"))
    assert(viaHttp.nonEmpty && viaHttp == viaFile)
  }

  test("quickbooks over HTTP == quickbooks over files (offset pagination, ceil page count)") {
    val viaHttp = rows(RestQueries.qbHttpTrans(spark))
    val viaFile = rows(
      QuickbooksEtl
        .run(spark, s"${ZoloPipeline.fixturesDir}/qb_invoices.json")
        ._1
        .orderBy("payment_id"))
    // 3 invoices at 2/page: the reference's round(3/25)=0 pages would have
    // extracted NOTHING — ceil fetches both pages (RestQueries scaladoc)
    assert(viaHttp.nonEmpty && viaHttp == viaFile)
  }

  test("square pagination really pages: fixture spans multiple Link-chained requests") {
    val srv = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "L", token = "t", pageSize = 3)
    try {
      val tokRe = """batch_token=(.*?)&begin_time=""".r
      val base  = s"${srv.base}/v1/L/payments"
      val bodies = RestSource.fetchTokenPages(
        s"$base?begin_time=2019-01-01&end_time=2020-01-01",
        p => p.header("Link").flatMap(tokRe.findFirstMatchIn(_))
          .map(m => s"$base?batch_token=${m.group(1)}&begin_time=2019-01-01&end_time=2020-01-01"),
        HttpConf().withBearer("t"))
      assert(bodies.size == 3)        // 8 records / 3 per page
      assert(srv.requestCount == 3)   // no over- or re-fetch
    } finally srv.stop()
  }

  test("non-terminating token chain hits the maxPages guard") {
    // pageSize=0 never advances past the window → the server issues a next
    // token forever; the guard must throw rather than loop
    val srv = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "L", token = "t", pageSize = 0)
    try {
      val tokRe = """batch_token=(.*?)&begin_time=""".r
      val base  = s"${srv.base}/v1/L/payments"
      val ex = intercept[IllegalArgumentException] {
        RestSource.fetchTokenPages(
          s"$base?begin_time=2019-01-01&end_time=2020-01-01",
          p => p.header("Link").flatMap(tokRe.findFirstMatchIn(_))
            .map(m => s"$base?batch_token=${m.group(1)}&begin_time=2019-01-01&end_time=2020-01-01"),
          HttpConf().withBearer("t"),
          maxPages = 5)
      }
      assert(ex.getMessage.contains("did not terminate"))
    } finally srv.stop()
  }

  test("429 Retry-After and 500 are retried; budget exhaustion raises the LAST failure") {
    val srv = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "L", token = "t", pageSize = 100, failFirst = 2)
    try {
      // attempts: 429 → 500 → 200 within the default 5-attempt budget
      val ok = Http.get(
        Http.newClient(),
        s"${srv.base}/v1/L/payments?begin_time=2019-01-01&end_time=2020-01-01",
        HttpConf().withBearer("t"))
      assert(ok.status == 200 && ok.body.startsWith("["))
    } finally srv.stop()

    val srv2 = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "L", token = "t", pageSize = 100, failFirst = 100)
    try {
      val e = intercept[HttpFailure] {
        Http.get(
          Http.newClient(),
          s"${srv2.base}/v1/L/payments?begin_time=2019-01-01&end_time=2020-01-01",
          HttpConf(maxAttempts = 3, baseBackoffMs = 1).withBearer("t"))
      }
      assert(e.attempts == 3 && (e.status == 429 || e.status == 500))
    } finally srv2.stop()
  }

  test("distributed fetch retries INSIDE executor tasks: every page URI fails twice first") {
    val srv = FixtureApiServer.shopifyAdmin(
      s"${ZoloPipeline.fixturesDir}/shopify_orders.json",
      user = "u", pass = "p", failFirst = 2)
    try {
      val records = RestQueries
        .shopifyDsv2Records(spark, srv.base, "u", "p",
          "2019-01-01T00:00:00Z", "2020-01-01T00:00:00Z", pageSize = 2)
        .collect()
      assert(records.length == 4)
      // per-URI injection: each page URI the scan requested was attempted
      // exactly 3 times (429, 500, 200) — and those attempts ran in the
      // scan's Spark tasks, so the retry loop survives serialization
      val pageUris = srv.uriAttempts.keySet.asScala.filter(_.startsWith("/admin/orders.json"))
      assert(pageUris.size >= 2, s"page URIs: $pageUris")
      pageUris.foreach { uri =>
        assert(srv.uriAttempts.get(uri).get() == 3, s"attempts for $uri")
      }
    } finally srv.stop()
  }

  test("4xx auth errors fail fast — no retry burns the budget on a bad token") {
    val srv = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "L", token = "right-token", pageSize = 100)
    try {
      val e = intercept[HttpFailure] {
        Http.get(
          Http.newClient(),
          s"${srv.base}/v1/L/payments?begin_time=2019-01-01&end_time=2020-01-01",
          HttpConf().withBearer("wrong-token"))
      }
      assert(e.status == 401 && e.attempts == 1)
    } finally srv.stop()
  }

  test("date-range params filter server-side, like the reference's incremental pull") {
    val srv = FixtureApiServer.shopifyAdmin(
      s"${ZoloPipeline.fixturesDir}/shopify_orders.json", user = "u", pass = "p")
    try {
      val cfg = HttpConf().withBasicAuth("u", "p")
      // only 2 of the 4 fixture orders fall before 2019-06-10
      val body = Http.get(
        Http.newClient(),
        s"${srv.base}/admin/orders/count.json?created_at_min=2019-01-01&created_at_max=2019-06-10",
        cfg).body
      assert(body == """{"count":2}""")
    } finally srv.stop()
  }
}
