package graft.etl

import graft.syntax._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** QuickBooks customers ETL (`/root/reference/bin/etl/qb_customers_ETL.py`)
  * — F4 struct-field extraction (`:119-141`), full-refresh dimension (S4 +
  * S8 overwrite sink `:190`).
  */
object QbCustomersEtl {

  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ZoloSchemas.qbCustomer).json(path)

  def customers(raw: DataFrame): DataFrame =
    raw.select(
      $"Id".as("customer_id"),
      $"CompanyName".as("customer_name"),
      $"PrimaryPhone.FreeFormNumber".as("phone_number"),
      $"ShipAddr.Line1".as("address"),
      $"ShipAddr.City".as("city"),
      $"ShipAddr.CountrySubDivisionCode".as("state"),
      $"ShipAddr.PostalCode".as("zipcode"),
      // try_to_timestamp: a malformed CreateTime is NULL, not a failed
      // read (the totality contract of the Square/Shopify/QuickBooks ETLs)
      try_to_timestamp($"MetaData.CreateTime").as("create_date")
    )

  def run(spark: SparkSession, path: String): DataFrame =
    customers(readRaw(spark, path))
}
