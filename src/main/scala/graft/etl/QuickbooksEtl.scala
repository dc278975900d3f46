package graft.etl

import graft.syntax._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** QuickBooks invoice ETL (`/root/reference/bin/etl/quickbooks_ETL.py`) —
  * invoice JSON → `qb_trans` + `qb_trans_details`.
  */
object QuickbooksEtl {

  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ZoloSchemas.qbInvoice).json(path)

  /** F3 — filter Line entries to those WITH an Id (`quickbooks_ETL.py:137`),
    * then explode; missing ItemRef/Qty/UnitPrice become nulls automatically
    * (the reference's per-field try/except KeyError→NaN `:141-161`).
    * F8 dollars = quantity × price (`:184`) — null× anything = null,
    * matching pandas NaN propagation.
    */
  def details(raw: DataFrame): DataFrame =
    raw
      .select(
        $"DocNumber".as("payment_id"),
        $"TxnDate",
        $"CustomerRef.value".as("customer_id"),
        explode(filter($"Line", l => l("Id").isNotNull)).as("line")
      )
      .select(
        $"payment_id",
        $"TxnDate",
        $"customer_id",
        $"line.SalesItemLineDetail.ItemRef.value".as("quickbooks_id"),
        $"line.SalesItemLineDetail.Qty".cast("int").as("quantity"),
        $"line.SalesItemLineDetail.UnitPrice".as("price")
      )
      .withColumn("dollars", $"quantity" * $"price")

  /** A3 — multi-agg to invoice grain (`quickbooks_ETL.py:186-194`). */
  def headerTable(details: DataFrame): DataFrame =
    details
      // try_to_timestamp: same malformed-timestamp totality contract as
      // SquareEtl.withMarket. A filter on created_at (the weekly-demand
      // SQL's) is pushed below the explode, so it also parses the dates
      // of invoices whose lines filter away
      .withColumn("created_at", try_to_timestamp($"TxnDate"))
      .groupBy($"payment_id", $"created_at", $"customer_id")
      .agg(sum($"dollars").as("dollars"))

  def detailsTable(details: DataFrame): DataFrame =
    details.select($"payment_id", $"quickbooks_id", $"quantity", $"price", $"dollars")

  def run(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val d = details(readRaw(spark, path))
    (headerTable(d), detailsTable(d))
  }
}
