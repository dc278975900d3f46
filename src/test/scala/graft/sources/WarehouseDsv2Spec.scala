package graft.sources

import graft.SparkSpec
import graft.etl.{SquareEtl, ZoloPipeline}

import java.nio.file.Files

/** Contract of the DSv2 warehouse sink (judge r7 next-round #3): the
  * append/truncate capability negotiation, the dedupKey replay contract,
  * the catalog writeTo face, and the end-to-end zolo load routed through
  * it — with byte-level agreement against the plain parquet readers the
  * rest of the engine uses.
  */
class WarehouseDsv2Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("format face: append mode accumulates, overwrite mode truncates") {
    val dir = tmp("zolo-wh-modes") + "/t"
    val df  = Seq((1, "a"), (2, "b")).toDF("id", "v")
    df.write.format("zolo-wh").option("path", dir).mode("append").save()
    df.write.format("zolo-wh").option("path", dir).mode("append").save()
    assert(spark.read.parquet(dir).count() == 4)
    Seq((9, "z")).toDF("id", "v")
      .write.format("zolo-wh").option("path", dir).mode("overwrite").save()
    val rows = spark.read.parquet(dir).collect()
    assert(rows.length == 1 && rows(0).getInt(0) == 9, "overwrite did not truncate")
  }

  test("format face: dedupKey makes append replay effectively-once") {
    val dir = tmp("zolo-wh-dedup") + "/t"
    val b1  = Seq((1, "a"), (2, "b")).toDF("payment_id", "v")
    b1.write.format("zolo-wh").option("path", dir).option("dedupKey", "payment_id")
      .mode("append").save()
    // crash-replay: same batch plus one new row — only the new row lands
    val replay = Seq((1, "a"), (2, "b"), (3, "c")).toDF("payment_id", "v")
    replay.write.format("zolo-wh").option("path", dir).option("dedupKey", "payment_id")
      .mode("append").save()
    assert(spark.read.parquet(dir).count() == 3, "replayed keys duplicated")
  }

  test("catalog face: writeTo append / createOrReplace with ns.table -> root/ns/table layout") {
    val root = tmp("zolo-cat")
    spark.conf.set("spark.sql.catalog.wtest", classOf[WarehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.wtest.root", root)
    Seq((1, "a")).toDF("id", "v").writeTo("wtest.raw.t1").create()
    Seq((2, "b")).toDF("id", "v").writeTo("wtest.raw.t1").append()
    assert(spark.read.parquet(s"$root/raw/t1").count() == 2)
    // if_exists='replace': full swap, schema included
    Seq((9L, "z", true)).toDF("id", "v", "flag").writeTo("wtest.raw.t1").createOrReplace()
    val replaced = spark.read.parquet(s"$root/raw/t1")
    assert(replaced.count() == 1 && replaced.columns.toSeq == Seq("id", "v", "flag"))
  }

  test("catalog face: partitioned create is rejected with the layout pointer") {
    val root = tmp("zolo-cat-part")
    spark.conf.set("spark.sql.catalog.wpart", classOf[WarehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.wpart.root", root)
    val e = intercept[Exception] {
      Seq((1, "2024-01-01")).toDF("id", "d")
        .writeTo("wpart.raw.t").partitionedBy($"d").create()
    }
    assert(e.getMessage.contains("writeDatePartitioned"), e.getMessage)
  }

  /** Split the bundled newline-delimited fixture JSONs into two distinct
    * "extraction windows" (disjoint line ranges) so incremental-load
    * semantics can be exercised: the reference re-runs its ETLs per
    * window and appends (`to_sql(if_exists='append')`), so both windows
    * must survive side by side. The dims (qb_customers, items,
    * coffee_profiles) are copied whole into both windows — the reference
    * replaces those every run.
    */
  private def splitFixtureWindows(): (String, String) = {
    import java.nio.file.{Files => F, Paths}
    val a = tmp("zolo-win-a")
    val b = tmp("zolo-win-b")
    def split(name: String, firstN: Int): Unit = {
      val lines = F.readAllLines(Paths.get(s"${ZoloPipeline.fixturesDir}/$name"))
      F.write(Paths.get(s"$a/$name"), lines.subList(0, firstN))
      F.write(Paths.get(s"$b/$name"), lines.subList(firstN, lines.size))
    }
    def copy(name: String): Unit =
      for (d <- Seq(a, b))
        F.copy(Paths.get(s"${ZoloPipeline.fixturesDir}/$name"), Paths.get(s"$d/$name"))
    split("square_payments.json", 5)
    split("shopify_orders.json", 2)
    split("qb_invoices.json", 2)
    copy("qb_customers.json"); copy("items.csv"); copy("coffee_profiles.csv")
    (a, b)
  }

  test("incremental load: two distinct windows accumulate BOTH headers and details (J1-consistent)") {
    val (winA, winB) = splitFixtureWindows()
    val root         = tmp("zolo-incr")
    ZoloPipeline.loadWarehouse(spark, root, winA)
    val headsA   = spark.read.parquet(s"$root/raw/square_trans").collect().toSet
    val detailsA = spark.read.parquet(s"$root/raw/square_trans_details").collect().toSet
    ZoloPipeline.loadWarehouse(spark, root, winB)
    val heads   = spark.read.parquet(s"$root/raw/square_trans")
    val details = spark.read.parquet(s"$root/raw/square_trans_details")
    // (a) both windows' detail rows present — window A's must NOT be
    // wiped by window B's load (the r8 createOrReplace bug)
    assert(detailsA.subsetOf(details.collect().toSet), "window-A detail rows lost on window-B load")
    assert(details.select("payment_id").distinct().count() >
      detailsA.map(_.getAs[String]("payment_id")).size.toLong,
      "window-B details missing")
    // (b) header/detail J1 consistency: every header has detail lines and
    // no detail row is orphaned
    val headIds   = heads.select("payment_id").distinct()
    val detailIds = details.select("payment_id").distinct()
    assert(detailIds.join(headIds, Seq("payment_id"), "left_anti").count() == 0, "orphan details")
    assert(headIds.join(detailIds, Seq("payment_id"), "left_anti").count() == 0, "header without details")
    // shopify + qb detail tables accumulated too
    assert(spark.read.parquet(s"$root/raw/shopify_trans_details").select("order_id").distinct().count() ==
      spark.read.parquet(s"$root/raw/shopify_trans").count())
    assert(spark.read.parquet(s"$root/raw/qb_trans_details").select("payment_id").distinct().count() ==
      spark.read.parquet(s"$root/raw/qb_trans").count())
    // (c) replaying window A leaves facts effectively-once (dedupKey)
    ZoloPipeline.loadWarehouse(spark, root, winA)
    assert(spark.read.parquet(s"$root/raw/square_trans").collect().toSet ==
      headsA ++ heads.collect().toSet, "fact replay duplicated headers")
  }

  private val loadedTables = Seq(
    "raw/square_trans", "raw/shopify_trans", "raw/qb_trans",
    "raw/square_trans_details", "raw/shopify_trans_details", "raw/qb_trans_details",
    "raw/qb_customers", "ref/items", "ref/coffee_profiles")

  /** The serial reference for one load: the same ETL plans landed one
    * table after another through the batch helpers the DSv2 face
    * delegates to (dedup-appended facts, appended details, overwritten
    * dims).
    */
  private def serialLoad(root: String, dir: String): Unit = {
    import graft.etl.{QbCustomersEtl, QuickbooksEtl, ShopifyEtl, Warehouse}
    val (sqT, sqD) = SquareEtl.run(spark, s"$dir/square_payments.json")
    val (shT, shD) = ShopifyEtl.run(spark, s"$dir/shopify_orders.json")
    val (qbT, qbD) = QuickbooksEtl.run(spark, s"$dir/qb_invoices.json")
    Warehouse.appendDedup(spark, sqT, s"$root/raw/square_trans", "payment_id")
    Warehouse.appendDedup(spark, shT, s"$root/raw/shopify_trans", "order_id")
    Warehouse.appendDedup(spark, qbT, s"$root/raw/qb_trans", "payment_id")
    Warehouse.append(sqD, s"$root/raw/square_trans_details")
    Warehouse.append(shD, s"$root/raw/shopify_trans_details")
    Warehouse.append(qbD, s"$root/raw/qb_trans_details")
    Warehouse.overwrite(QbCustomersEtl.run(spark, s"$dir/qb_customers.json"), s"$root/raw/qb_customers")
    Warehouse.overwrite(Warehouse.readItems(spark, s"$dir/items.csv"), s"$root/ref/items")
    Warehouse.overwrite(Warehouse.readCoffeeProfiles(spark, s"$dir/coffee_profiles.csv"),
      s"$root/ref/coffee_profiles")
  }

  test("concurrent load: two windows and a replay match a serial reference load row for row") {
    val (winA, winB) = splitFixtureWindows()
    val (root, ref)  = (tmp("zolo-conc"), tmp("zolo-serial"))
    for (w <- Seq(winA, winB, winA)) {
      ZoloPipeline.loadWarehouse(spark, root, w)
      serialLoad(ref, w)
    }
    for (t <- loadedTables) {
      val (got, want) = (spark.read.parquet(s"$root/$t"), spark.read.parquet(s"$ref/$t"))
      assert(want.count() > 0, s"$t: empty reference")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$t differs from the serial load")
    }
  }

  /** Tag sets of every Spark job started while `body` runs. */
  private def jobTagsDuring(body: => Unit): Seq[Set[String]] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.GraftBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[Set[String]]).toSeq
  }

  private def taggedLoad(root: String): Seq[Set[String]] = {
    val sc = spark.sparkContext
    jobTagsDuring {
      sc.addJobTag("zolo-load-under-test")
      try ZoloPipeline.loadWarehouse(spark, root)
      finally sc.removeJobTag("zolo-load-under-test")
    }
  }

  test("concurrent load: every job carries the caller's job tag") {
    val root = tmp("zolo-tags")
    // cold (CTAS) and warm (append/replace) loads
    for (jobs <- Seq(taggedLoad(root), taggedLoad(root))) {
      assert(jobs.nonEmpty, "no jobs observed")
      assert(jobs.forall(_.contains("zolo-load-under-test")),
        s"${jobs.count(!_.contains("zolo-load-under-test"))} of ${jobs.size} jobs lost the caller's tag")
    }
  }

  test("warm load starts at most 19 jobs: catalog loads read no footers with a job") {
    val root = tmp("zolo-jobs")
    ZoloPipeline.loadWarehouse(spark, root)
    val jobs = taggedLoad(root)
    assert(jobs.size <= 19, s"warm load ran ${jobs.size} jobs")
  }

  test("concurrent load failure: the first error is rethrown after the other writes land") {
    import java.nio.file.{Files => F, Paths}
    def fixturesWithout(missing: String*): String = {
      val d = tmp("zolo-missing")
      for (f <- Seq("square_payments.json", "shopify_orders.json", "qb_invoices.json",
          "qb_customers.json", "items.csv", "coffee_profiles.csv") if !missing.contains(f))
        F.copy(Paths.get(s"${ZoloPipeline.fixturesDir}/$f"), Paths.get(s"$d/$f"))
      d
    }
    def poolThreads() = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith("loadWarehouse-")).toSeq

    val root = tmp("zolo-fail")
    val e = intercept[Exception](ZoloPipeline.loadWarehouse(spark, root, fixturesWithout("qb_invoices.json")))
    assert(e.getMessage.contains("qb_invoices.json"), e.getMessage)
    // thrown only once every other table has landed
    for (t <- loadedTables.filterNot(_.startsWith("raw/qb_trans")))
      assert(spark.read.parquet(s"$root/$t").count() > 0, s"$t not landed before the error surfaced")
    assert(!new java.io.File(s"$root/raw/qb_trans").exists())
    // the pool is shut down: its threads end (join bounds the exit race)
    poolThreads().foreach(_.join(10000))
    assert(poolThreads().forall(!_.isAlive), s"pool threads alive: ${poolThreads().map(_.getName)}")

    // two failing sources: the first in write order is thrown, the other rides as suppressed
    val e2 = intercept[Exception](ZoloPipeline.loadWarehouse(spark, tmp("zolo-fail2"),
      fixturesWithout("shopify_orders.json", "qb_invoices.json")))
    assert(e2.getMessage.contains("shopify_orders.json"), e2.getMessage)
    assert(e2.getSuppressed.map(_.getMessage).toSeq.exists(_.contains("qb_invoices.json")),
      e2.getSuppressed.map(_.getMessage).mkString("; "))

    // a write that fails on its pool thread surfaces as its own error too
    val root3 = tmp("zolo-fail3")
    F.createDirectories(Paths.get(s"$root3/raw"))
    F.write(Paths.get(s"$root3/raw/square_trans"), "not parquet".getBytes)
    val e3 = intercept[Exception](ZoloPipeline.loadWarehouse(spark, root3))
    assert(!e3.isInstanceOf[java.util.concurrent.ExecutionException], e3.toString)
    assert(spark.read.parquet(s"$root3/raw/shopify_trans").count() > 0)
  }

  test("SQL-only consumer: CREATE / INSERT / SELECT / INSERT OVERWRITE / DROP via the catalog") {
    val root = tmp("zolo-cat-sql")
    spark.conf.set("spark.sql.catalog.wsql", classOf[WarehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.wsql.root", root)
    spark.sql("CREATE TABLE wsql.raw.sales (id BIGINT, amount DOUBLE)")
    spark.sql("INSERT INTO wsql.raw.sales VALUES (1, 10.5), (2, 20.0)")
    spark.sql("INSERT INTO wsql.raw.sales VALUES (3, 7.25)")
    val agg = spark.sql("SELECT sum(amount) AS s, count(*) AS n FROM wsql.raw.sales").head()
    assert(agg.getDouble(0) == 37.75 && agg.getLong(1) == 3)
    // CTAS reads through the catalog and writes through it
    spark.sql("CREATE TABLE wsql.raw.big AS SELECT id, amount * 2 AS amount FROM wsql.raw.sales")
    assert(spark.sql("SELECT sum(amount) AS s FROM wsql.raw.big").head().getDouble(0) == 75.5)
    // INSERT OVERWRITE rides the SupportsTruncate negotiation
    spark.sql("INSERT OVERWRITE wsql.raw.big SELECT id, amount FROM wsql.raw.sales WHERE id = 1")
    assert(spark.sql("SELECT count(*) AS n FROM wsql.raw.big").head().getLong(0) == 1)
    // bytes on disk are the same parquet every other reader consumes
    assert(spark.read.parquet(s"$root/raw/sales").count() == 3)
    spark.sql("DROP TABLE wsql.raw.big")
    val e = intercept[Exception](spark.sql("SELECT * FROM wsql.raw.big").collect())
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
  }

  test("catalog SELECT scan is the real parquet v2 scan: filters push down") {
    val root = tmp("zolo-cat-scan")
    spark.conf.set("spark.sql.catalog.wscan", classOf[WarehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.wscan.root", root)
    Seq((1L, "a", 0.5), (50L, "b", 1.5), (900L, "c", 2.5)).toDF("id", "v", "unused")
      .writeTo("wscan.raw.t").create()
    val df   = spark.sql("SELECT v FROM wscan.raw.t WHERE id > 100")
    val plan = df.queryExecution.executedPlan.toString
    // pushdown reached the parquet scan (delegated ParquetScanBuilder);
    // pruning dropped the never-referenced column from the read schema
    // (id stays — the post-scan Filter re-evaluates the pushed predicate)
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,100)"), plan)
    assert(plan.contains("ReadSchema") && !plan.replaceAll("(?s).*ReadSchema", "").contains("unused"), plan)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("two warehouses in one session: second root gets its own catalog, not the cached first") {
    val rootA = tmp("zolo-multi-a")
    val rootB = tmp("zolo-multi-b")
    ZoloPipeline.loadWarehouse(spark, rootA)
    ZoloPipeline.loadWarehouse(spark, rootB)
    // without per-root catalog resolution the second call silently lands
    // in rootA (Spark caches v2 catalogs by name after first use)
    assert(spark.read.parquet(s"$rootB/raw/square_trans").count() > 0, "second root never written")
    assert(spark.read.parquet(s"$rootA/raw/square_trans").collect().toSet ==
      spark.read.parquet(s"$rootB/raw/square_trans").collect().toSet)
  }

  test("zolo load end-to-end through writeTo: replay-safe facts, replaced dim, bytes match the ETL") {
    val root = tmp("zolo-load")
    ZoloPipeline.loadWarehouse(spark, root)
    val first = spark.read.parquet(s"$root/raw/square_trans").collect().toSet
    // the reference pipeline re-runs daily; a replay must not duplicate facts
    ZoloPipeline.loadWarehouse(spark, root)
    val after = spark.read.parquet(s"$root/raw/square_trans").collect().toSet
    assert(after == first, "replayed load duplicated fact rows")
    // what landed through the DSv2 face is exactly the ETL output
    val (sqTrans, _) = SquareEtl.run(spark, s"${ZoloPipeline.fixturesDir}/square_payments.json")
    assert(first == sqTrans.collect().toSet)
    // dim present and replaced (one copy)
    assert(spark.read.parquet(s"$root/raw/qb_customers").count() ==
      graft.etl.QbCustomersEtl.run(spark, s"${ZoloPipeline.fixturesDir}/qb_customers.json").count())
    assert(spark.read.parquet(s"$root/ref/items").count() > 0)
  }

  test("model write-back round trip: model_meta / model_holt / model_simp_avg land and read back") {
    // the reference's model tables (create_model_meta_table.py:19-29,
    // create_model_holt_table.py, create_model_simp_avg_table.py;
    // to_sql(if_exists='append') at arima_models.py:225-241,
    // holt_model.py:223, simp_avg_model.py:223): forecast output lands
    // through the DSv2 write face shaped exactly like those tables, a
    // later append accumulates, and catalog SQL reads it all back.
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmp("zolo-models") + "/wh"
    spark.conf.set("spark.sql.catalog.zolo_mrt", classOf[WarehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.zolo_mrt.root", root)
    val sf  = "/root/testdata/sf0.001"
    val fs  = lit("2001-06-04 00:00:00").cast("timestamp")
    val meta = graft.forecast.ForecastJobs.arimaJob(spark, sf).withColumn("forecast_start", fs)
    val holt = graft.forecast.ForecastJobs.holtJob(spark, sf, takeWeeks = 20).withColumn("forecast_start", fs)
    val ses  = graft.forecast.ForecastJobs.sesJob(spark, sf).withColumn("forecast_start", fs)
    meta.writeTo("zolo_mrt.models.model_meta").create()
    holt.writeTo("zolo_mrt.models.model_holt").create()
    ses.writeTo("zolo_mrt.models.model_simp_avg").create()
    // reference shape: column-for-column
    assert(spark.table("zolo_mrt.models.model_meta").columns.toSeq ==
      Seq("profile_name", "best_config", "mse", "prediction", "std_error",
        "lower_bound", "upper_bound", "forecast_start"))
    assert(spark.table("zolo_mrt.models.model_holt").columns.toSeq ==
      Seq("profile_name", "mse", "prediction", "forecast_start"))
    // read-back equals what was written
    val back = spark.sql(
      "SELECT * FROM zolo_mrt.models.model_meta ORDER BY profile_name").collect().toSeq
    assert(back.nonEmpty && back == meta.orderBy(col("profile_name")).collect().toSeq)
    // a second weekly run appends (if_exists='append' semantics)
    ses.writeTo("zolo_mrt.models.model_simp_avg").append()
    assert(spark.table("zolo_mrt.models.model_simp_avg").count() == 2 * ses.count())
    // the consumer follow-up: "what did we forecast for week X?"
    val wk = spark.sql(
      """SELECT COUNT(*) FROM zolo_mrt.models.model_meta
        |WHERE forecast_start = TIMESTAMP '2001-06-04 00:00:00'""".stripMargin).head().getLong(0)
    assert(wk == back.size.toLong)
  }
}
