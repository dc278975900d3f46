package graft.sources

import graft.etl.{QuickbooksEtl, ShopifyEtl, SquareEtl, ZoloPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver queries exercising the full HTTP extraction path end-to-end:
  * loopback API ([[FixtureApiServer]]) → real connector ([[Http]] retries
  * included — each server 429/500-fails the first attempts of EVERY
  * distinct URI, so the retry policy runs on the driver-side count calls
  * AND inside executor page-fetch tasks) → pinned-schema parse → the SAME
  * transform stages as the file-based ETLs → the SAME DuckDB oracles
  * (which re-derive from the fixture JSONL independently of both the
  * connector and Spark).
  *
  * sfDir is ignored, like the other zolo queries — the reference's nested
  * payloads have no TPC-H analog.
  */
object RestQueries {

  private val begin = "2019-01-01T00:00:00Z"
  private val end   = "2020-01-01T00:00:00Z"

  /** The DSv2 record scan ([[ZoloRestProvider]], `format("zolo-rest")`):
    * the time range travels as a Catalyst filter pushdown (visible in the
    * scan description), the pushed window is sliced into `nSlices`
    * executor-side token chains, and the scan emits pinned-schema
    * payment records.
    */
  def squareDsv2Records(
      spark: SparkSession,
      paymentsUrl: String,
      token: String,
      beginTime: String,
      endTime: String,
      nSlices: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read
      .format("zolo-rest")
      .option("url", paymentsUrl)
      .option("token", token)
      .option("nslices", nSlices)
      .load()
      .filter(col("created_at") >= beginTime && col("created_at") < endTime)
  }

  /** Square driver query: 3 records/page so the fixture spans several
    * pages; injected 429/500s on every URI. Runs through the DSv2 source
    * (pushed time range, 4 executor-side window chains); the one-window
    * sequential chain (`nSlices = 1`) is held to the same rows by
    * RestSourceSpec and drives the incremental-ingest spec. Eager
    * localCheckpoint pins the fetched records before the loopback server
    * stops.
    */
  def squareHttpTrans(spark: SparkSession): DataFrame = {
    val srv = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "LOC1", token = "sq-fixture-token", pageSize = 3, failFirst = 2)
    try {
      val raw = squareDsv2Records(spark, s"${srv.base}/v1/LOC1/payments", "sq-fixture-token",
        begin, end, nSlices = 4)
        .localCheckpoint(true)
      SquareEtl.headerTable(SquareEtl.withMarket(SquareEtl.details(raw)))
        .orderBy("payment_id")
    } finally srv.stop()
  }

  /** Shopify DSv2 records: count-then-pages planned by Spark — the count
    * request runs at partition-planning time, one InputPartition per
    * page, and the `created_at_min`/`created_at_max` range is the pushed
    * filter (the native mapping of `shopify_ETL.py:83-85`).
    */
  def shopifyDsv2Records(
      spark: SparkSession,
      base: String,
      user: String,
      pass: String,
      beginTime: String,
      endTime: String,
      pageSize: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read
      .format("zolo-rest")
      .option("entity", "shopify_orders")
      .option("url", base)
      .option("user", user)
      .option("pass", pass)
      .option("pagesize", pageSize)
      .load()
      .filter(col("created_at") >= beginTime && col("created_at") < endTime)
  }

  /** Shopify driver query through the DSv2 source (page size 2 forces
    * real pagination on the fixture; injected 429/500s on every URI —
    * count call AND page readers exercise the retry budget). Eager
    * localCheckpoint pins the fetched records so the server can stop and
    * plan re-execution never re-hits the API.
    */
  def shopifyHttpTrans(spark: SparkSession): DataFrame = {
    val srv = FixtureApiServer.shopifyAdmin(
      s"${ZoloPipeline.fixturesDir}/shopify_orders.json",
      user = "sh-key", pass = "sh-pass", failFirst = 2)
    try {
      val raw = shopifyDsv2Records(spark, srv.base, "sh-key", "sh-pass", begin, end, pageSize = 2)
        .localCheckpoint(true)
      ShopifyEtl.headerTable(ShopifyEtl.details(raw)).orderBy("order_id")
    } finally srv.stop()
  }

  /** QuickBooks DSv2 records: count query at partition-planning time,
    * STARTPOSITION pages as InputPartitions. QB's SQL range is exclusive
    * both ends, so the pushed shapes are the STRICT `TxnDate > lo` /
    * `TxnDate < hi` (a `>=` would stay residual — the endpoint cannot
    * express it). Deliberate divergence (`quickbooks_ETL.py:92-113`):
    * the reference sizes its page loop with `round(n / 25)` (`:101`),
    * silently fetching ZERO pages when n < 13 — the page count here is
    * `ceil`, the arithmetic the reference plainly intended.
    */
  def qbDsv2Records(
      spark: SparkSession,
      base: String,
      realm: String,
      token: String,
      beginTime: String,
      endTime: String,
      pageSize: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read
      .format("zolo-rest")
      .option("entity", "qb_invoices")
      .option("url", base)
      .option("realm", realm)
      .option("token", token)
      .option("pagesize", pageSize)
      .load()
      .filter(col("TxnDate") > beginTime && col("TxnDate") < endTime)
  }

  def qbHttpTrans(spark: SparkSession): DataFrame = {
    val srv = FixtureApiServer.qbQuery(
      s"${ZoloPipeline.fixturesDir}/qb_invoices.json",
      realmId = "RLM1", token = "qb-fixture-token", failFirst = 2)
    try {
      // fixture dates are interior to [begin, end], so the exclusive QB
      // range selects them all
      val raw = qbDsv2Records(spark, srv.base, "RLM1", "qb-fixture-token", begin, end, pageSize = 2)
        .localCheckpoint(true)
      QuickbooksEtl.headerTable(QuickbooksEtl.details(raw)).orderBy("payment_id")
    } finally srv.stop()
  }

  /** QuickBooks customers: the S4 full-refresh dimension — an UNBOUNDED
    * `select * from Customer` paged by STARTPOSITION (no date predicate;
    * `qb_customers_ETL.py:58-105`). The one DSv2 entity with
    * `unboundedOk`: a full refresh IS its reference contract, so no
    * range filter participates (page size 1 → 2 fixture customers → 2
    * partitions, real pagination).
    */
  def qbCustomersHttp(spark: SparkSession): DataFrame = {
    val srv = FixtureApiServer.qbQuery(
      s"${ZoloPipeline.fixturesDir}/qb_customers.json",
      realmId = "RLM1", token = "qb-fixture-token", failFirst = 2, entity = "Customer")
    try {
      val raw = spark.read
        .format("zolo-rest")
        .option("entity", "qb_customers")
        .option("url", srv.base)
        .option("realm", "RLM1")
        .option("token", "qb-fixture-token")
        .option("pagesize", 1)
        .load()
        .localCheckpoint(true)
      graft.etl.QbCustomersEtl.customers(raw).orderBy("customer_id")
    } finally srv.stop()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zolo_square_http"  -> ((s, _) => squareHttpTrans(s)),
    "zolo_shopify_http" -> ((s, _) => shopifyHttpTrans(s)),
    "zolo_qb_http"      -> ((s, _) => qbHttpTrans(s)),
    "zolo_qbc_http"     -> ((s, _) => qbCustomersHttp(s))
  )

  /** The HTTP paths must land EXACTLY the tables the file ETLs land, so
    * they share those oracles verbatim.
    */
  val oracles: Map[String, String] = Map(
    "zolo_square_http"  -> ZoloPipeline.oracles("zolo_square_trans"),
    "zolo_shopify_http" -> ZoloPipeline.oracles("zolo_shopify_trans"),
    "zolo_qb_http"      -> ZoloPipeline.oracles("zolo_qb_trans"),
    "zolo_qbc_http"     -> ZoloPipeline.oracles("zolo_qb_customers")
  )
}
