package graft.sources

import graft.SparkSpec
import graft.etl.{Warehouse, ZoloPipeline}
import graft.obs.QueryMeter

import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Table resolution through the warehouse catalog and the `zolo-wh`
  * format face: the schema comes from parquet footers read on the driver,
  * so resolving a table starts no Spark job, and it is the schema
  * `spark.read.parquet(dir)` resolves, file choice, nullability, merge,
  * partition columns and the no-data error included.
  */
class WarehouseCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private val tables = Seq(
    "raw" -> "square_trans", "raw" -> "square_trans_details",
    "raw" -> "shopify_trans", "raw" -> "shopify_trans_details",
    "raw" -> "qb_trans", "raw" -> "qb_trans_details", "raw" -> "qb_customers",
    "ref" -> "items", "ref" -> "coffee_profiles")

  /** A catalog named `name` over `root`, resolved. */
  private def catalog(name: String, root: String): TableCatalog = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[WarehouseCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[TableCatalog]
  }

  /** The schema `cat` loads `ns.table` with. */
  private def loaded(cat: TableCatalog, ns: String, table: String): StructType =
    cat.loadTable(Identifier.of(Array(ns), table)).asInstanceOf[WarehouseSinkTable].schema()

  /** The schema each face resolves for `dir`, and the jobs that took. */
  private def faces(cat: TableCatalog, ns: String, table: String, dir: String): Seq[(String, StructType, Int)] = {
    val (a, ra) = QueryMeter.measure(spark, "loadTable")(loaded(cat, ns, table))
    val (b, rb) = QueryMeter.measure(spark, "inferSchema")(
      new WarehouseSinkProvider().inferSchema(new CaseInsensitiveStringMap(Map("path" -> dir).asJava)))
    Seq(("catalog", a, ra.jobs.size), ("format", b, rb.jobs.size))
  }

  private def assertSameAsRead(cat: TableCatalog, root: String, ns: String, table: String): Unit = {
    val dir  = s"$root/$ns/$table"
    val want = spark.read.parquet(dir).schema
    for ((face, got, jobs) <- faces(cat, ns, table, dir)) {
      assert(got == want, s"$face face, $ns.$table: $got != $want")
      assert(jobs == 0, s"$face face, $ns.$table: resolving ran $jobs jobs")
    }
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("analyzing the weekly-demand SQL over the catalog runs no Spark job") {
    val root = tmp("zolo-analyze")
    ZoloPipeline.loadWarehouse(spark, root)
    catalog("zolo_an", root)
    val sql = ZoloPipeline.weeklyDemandSqlIn("zolo_an")
    val (_, rec) = QueryMeter.measure(spark, "demand-analysis")(spark.sql(sql).queryExecution.analyzed)
    assert(rec.jobs.isEmpty,
      s"analysis ran ${rec.jobs.size} jobs: ${rec.jobs.map(_.description).mkString("; ")}")
    assert(spark.sql(sql).count() > 0)
  }

  test("every table of a loaded warehouse resolves to spark.read.parquet's schema") {
    val root = tmp("zolo-schemas")
    ZoloPipeline.loadWarehouse(spark, root)
    ZoloPipeline.loadWarehouse(spark, root) // appended files and replaced dims
    val cat = catalog("zolo_sch", root)
    for ((ns, t) <- tables) assertSameAsRead(cat, root, ns, t)
  }

  test("zero-row CREATE TABLE, mixed-nullability files and a partitioned table resolve like the read") {
    val root = tmp("zolo-shapes")
    val cat  = catalog("zolo_shp", root)
    spark.sql("CREATE TABLE zolo_shp.x.empty (id BIGINT, name STRING, ts TIMESTAMP)")
    assertSameAsRead(cat, root, "x", "empty")

    // spark.range's id is non-nullable in its file, the Option column nullable
    val mixed = s"$root/x/mixed"
    Warehouse.append(spark.range(3).toDF("id"), mixed)
    Warehouse.append(Seq(Some(7L), None).toDF("id"), mixed)
    assert(spark.range(3).toDF("id").schema.head.nullable == false)
    assertSameAsRead(cat, root, "x", "mixed")
    withConf("spark.sql.parquet.mergeSchema" -> "true")(assertSameAsRead(cat, root, "x", "mixed"))

    val parted = s"$root/x/parted"
    Warehouse.writeDatePartitioned(
      Seq((1L, "2024-01-01", 2.5), (2L, "2024-01-02", 3.5)).toDF("id", "date", "amount"), parted, "date")
    assertSameAsRead(cat, root, "x", "parted")
    assert(loaded(cat, "x", "parted").fieldNames.toSeq == Seq("id", "amount", "date"))
  }

  test("mergeSchema sessions merge every file's footer: two appends that add a column") {
    val root = tmp("zolo-merge")
    val cat  = catalog("zolo_mrg", root)
    val dir  = s"$root/raw/widening"
    Warehouse.append(Seq((1L, "a")).toDF("id", "a"), dir)
    Warehouse.append(Seq((2L, "b", 0.5)).toDF("id", "a", "b"), dir)
    Warehouse.append(Seq((3L, "c", 1.5, true)).toDF("id", "a", "b", "c"), dir)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assertSameAsRead(cat, root, "raw", "widening")
      assert(loaded(cat, "raw", "widening").fieldNames.toSeq == Seq("id", "a", "b", "c"))
    }
    // without the merge one file's footer decides, as it does for the read
    assertSameAsRead(cat, root, "raw", "widening")
  }

  test("ignoreCorruptFiles skips an unreadable footer as the read does") {
    val root = tmp("zolo-corrupt")
    val cat  = catalog("zolo_bad", root)
    val dir  = s"$root/raw/t"
    Warehouse.append(Seq((1L, "a")).toDF("id", "a"), dir)
    Files.write(java.nio.file.Paths.get(s"$dir/part-99999-garbage.parquet"), "not parquet".getBytes)
    withConf("spark.sql.parquet.mergeSchema" -> "true", "spark.sql.files.ignoreCorruptFiles" -> "true") {
      assertSameAsRead(cat, root, "raw", "t")
    }
  }

  test("a directory with no data file fails with the read's error") {
    val root = tmp("zolo-nodata")
    val cat  = catalog("zolo_nod", root)
    val dir  = s"$root/raw/t"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.write(java.nio.file.Paths.get(s"$dir/_SUCCESS"), Array.emptyByteArray)
    val want = intercept[Exception](spark.read.parquet(dir).schema)
    val gotCatalog = intercept[Exception](cat.loadTable(Identifier.of(Array("raw"), "t")))
    val gotFormat = intercept[Exception](
      new WarehouseSinkProvider().inferSchema(new CaseInsensitiveStringMap(Map("path" -> dir).asJava)))
    for (got <- Seq(gotCatalog, gotFormat)) {
      assert(got.getClass == want.getClass, s"${got.getClass} != ${want.getClass}")
      assert(got.getMessage == want.getMessage)
    }
  }
}
