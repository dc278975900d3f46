package graft.tools

import graft.GraftSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Totality probe over an adversarial documents corpus: null / empty /
  * whitespace-only / single-char / multi-byte (CJK, emoji, combining
  * marks) / control-char / very-long texts, plus a null source. A real
  * crawl-scale corpus contains every one of these on day one; the fixture
  * corpus contains none of them, so the oracle gate can't see a UDF that
  * NPEs on null text or an off-by-one on an empty token list.
  *
  * Runs every documents-reading driver query against the chaos dir and
  * catalogs which throw, with the exception class — input for a
  * curated ChaosDocsSpec (documented-contract violations like BPE's
  * ASCII-only corpus are expected to fail loudly, everything else must
  * be total).
  *
  * Beyond the data-chaos modes (docs/emb/events/rel/stream/streamempty/
  * zolo), SPARK_GRAFT_CHAOS_MODE selects two FAULT modes (r14, both
  * requiring a local-cluster master via spark-submit): `execkill` —
  * executor-loss injection with a job-count-triggered kill (`KILL` or
  * `PWR` for decommissioning-enabled planned reclaim) and
  * baseline-vs-chaos result compare; `speccount` — counts speculative
  * task attempts while running named queries under aggressive
  * speculation confs. Measured matrices: BENCH_LOCAL §r14.
  */
object ChaosProbe {

  val chaosRows: Seq[Row] = Seq(
    Row(1L, "normal words here more words and a few extra tokens", "en", "srcA", 52L),
    Row(2L, "", "en", "srcA", 0L),
    Row(3L, null, "en", "srcA", null),
    Row(4L, "   ", "en", "srcA", 3L),
    Row(5L, "a", "en", "srcA", 1L),
    Row(6L, "你好 世界 🌍 café mañana ‍👩‍👧 é combining", "zh", "srcB", 40L),
    Row(7L, Seq.tabulate(5000)(i => s"w${i % 97}").mkString(" "), "en", "srcB", 25000L),
    Row(8L, "tab\tseparated\nnewline\u0000null-byte", "en", null, 30L),
    Row(9L, "dup para dup para dup para dup para dup para dup para dup para dup para", "en", "srcC", 72L)
  )

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)
  ))

  def buildChaosDir(spark: org.apache.spark.sql.SparkSession, base: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos").toString
    spark
      .createDataFrame(spark.sparkContext.parallelize(chaosRows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    StressUtil.symlinkTables(dir, base, Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings"))
    dir
  }

  /** Batch queries whose scan set includes documents (the multimodal
    * families derive their blob/media tables from documents too — text
    * bytes as opaque blobs, per-doc synthesized PNG/WAV).
    */
  def docQueries: Seq[String] =
    (graft.text.TextAnalysis.queries.keys ++ graft.text.Chunking.queries.keys ++
      graft.text.Bpe.queries.keys ++ graft.text.Retrieval.queries.keys ++
      graft.text.WebCurate.queries.keys ++ graft.dedup.Dedup.queries.keys ++
      graft.mm.Multimodal.queries.keys ++ graft.mm.Jpeg.queries.keys ++
      graft.mm.Audio.queries.keys).toSeq.distinct.sorted

  /** Adversarial embeddings: zero-norm (cosine undefined), null vector,
    * empty vector, NaN / Infinity components, wrong dimensionality (both
    * shorter and longer than the corpus dim), null label. Normal rows
    * surround them so k-means/IVF training still has signal.
    */
  def chaosEmbRows(dim: Int): Seq[Row] = {
    def v(seed: Int): Seq[Float] = Seq.tabulate(dim)(i => ((seed * 31 + i * 7) % 13 - 6) / 6.0f)
    Seq.tabulate(40)(i => Row((i + 100).toLong, v(i), i % 3)) ++ Seq(
      Row(1L, Seq.fill(dim)(0.0f), 0),                       // zero norm
      Row(2L, null, 0),                                      // null vector
      Row(3L, Seq.empty[Float], 1),                          // empty vector
      Row(4L, v(4).updated(0, Float.NaN), 1),                // NaN component
      Row(5L, v(5).updated(1, Float.PositiveInfinity), 2),   // Inf component
      Row(6L, v(6).take(dim / 2), 2),                        // short vector
      Row(7L, v(7) ++ v(8), 0),                              // long vector
      Row(8L, v(9), null.asInstanceOf[Integer])              // null label
    )
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true),
    StructField("label", IntegerType, nullable = true)
  ))

  /** Adversarial events: null ts / user / type, NaN and negative value,
    * malformed + null props JSON, duplicate event_ids, far-past and
    * far-future timestamps.
    */
  def chaosEventRows: Seq[Row] = {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq.tabulate(40) { i =>
      Row((i + 100).toLong, ts(f"2024-03-${i % 27 + 1}%02d 10:0${i % 6}:00"), (i % 5 + 1).toLong,
        Seq("view", "click", "buy")(i % 3), i * 1.5, s"""{"k": $i}""")
    } ++ Seq(
      Row(1L, null, 1L, "view", 1.0, """{"k": 1}"""),              // null ts
      Row(2L, ts("2024-03-02 10:00:00"), null, "view", 1.0, "{}"), // null user
      Row(3L, ts("2024-03-03 10:00:00"), 2L, null, 1.0, "{}"),     // null type
      Row(4L, ts("2024-03-04 10:00:00"), 2L, "buy", Double.NaN, "{}"),
      Row(5L, ts("2024-03-05 10:00:00"), 3L, "buy", -5.0, "not json"),
      Row(5L, ts("2024-03-05 10:00:00"), 3L, "buy", -5.0, null),   // dup id + null props
      Row(6L, ts("1970-01-01 00:00:00"), 4L, "view", 0.0, "{}"),   // epoch
      Row(7L, ts("2099-12-31 23:59:59"), 4L, "view", 0.0, "{}")    // far future
    )
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)
  ))

  /** Batch queries whose scan set includes embeddings (Similarity /
    * HierIvf / Pca / Retrieval's fusion + hard negatives / Dedup's
    * embedding paths). Streaming variants excluded as elsewhere.
    */
  def embQueries: Seq[String] =
    (graft.sim.Similarity.queries.keys ++ graft.sim.HierIvf.queries.keys ++
      graft.sim.Pca.queries.keys ++
      Seq("dedup_embedding_cos", "dedup_semdedup_keep",
        "sim_rrf_fusion", "sim_hard_negatives")).toSeq.distinct.sorted

  /** Batch queries whose scan set includes events. */
  def eventQueries: Seq[String] = Seq(
    "w_sessionize", "w_hop_windows", "w_lead_lag", "w_range_frame",
    "w_running_total", "w_rank_funcs", "w_session_tvf",
    "e_funnel", "e_retention", "e_rfm", "e_user_paths", "e_attribution",
    "e_cohort_ltv", "e_growth_accounting", "e_anomalies", "e_anomalies_mad",
    "e_ab_test", "e_ks_test", "e_mann_whitney", "e_survival_km",
    "t_peak_concurrency", "t_gapfill", "f_json_extract"
  ).map { n =>
    // fail loudly on a renamed key rather than silently shrinking the
    // chaos gate (r11 review)
    require(graft.SparkEntry.queries.contains(n), s"chaos gate names unknown query $n")
    n
  }

  def buildEmbChaosDir(spark: org.apache.spark.sql.SparkSession, base: String): String = {
    val dim = graft.tables.Tables.embeddingDim(spark, base)
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-emb").toString
    spark
      .createDataFrame(spark.sparkContext.parallelize(chaosEmbRows(dim), 2), embSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    StressUtil.symlinkTables(dir, base, Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents"))
    dir
  }

  /** Relational chaos: every mutated table keeps ~40 real rows for
    * signal, then appends, for EVERY column, two rows with that column
    * NULLed (corrupt extracts null anything, keys included), plus
    * zeroed and negated variants of every numeric column (divide-by-zero
    * and sign-assumption probes). Schema-generic — no hand-written row
    * literals to drift from the real tables.
    */
  private def mutateTable(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val base = df.limit(40).localCheckpoint(true)
    val nulled = df.schema.fields.map { f =>
      base.limit(2).withColumn(f.name, lit(null).cast(f.dataType))
    }
    val numeric = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val zeroed  = numeric.map(f => base.limit(2).withColumn(f.name, lit(0).cast(f.dataType)))
    val negated = numeric.map(f =>
      base.limit(2).withColumn(f.name, (lit(-1) * org.apache.spark.sql.functions.col(f.name)).cast(f.dataType)))
    (Seq(base) ++ nulled ++ zeroed ++ negated).reduce(_ unionAll _)
  }

  def buildRelChaosDir(spark: org.apache.spark.sql.SparkSession, base: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-rel").toString
    Seq("lineitem", "orders", "part", "customer", "supplier").foreach { tbl =>
      mutateTable(graft.tables.Tables.t(spark, base, tbl))
        .write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
    }
    StressUtil.symlinkTables(dir, base, Seq("region", "nation", "events", "documents", "embeddings"))
    dir
  }

  /** Batch queries over the relational tables (TPC-H, analytics, joins,
    * windows, forecast, series) — everything not already covered by the
    * docs/emb/events modes and not fixture-driven (zolo/REST) or
    * streaming.
    */
  def relQueries: Seq[String] =
    (graft.queries.Relational.queries.keys ++ graft.queries.Tpch.queries.keys ++
      graft.queries.Advanced.queries.keys ++ graft.queries.Matching.queries.keys ++
      graft.queries.AsofJoin.queries.keys ++ graft.queries.ZOrder.queries.keys ++
      graft.queries.Graph.queries.keys ++ graft.queries.Cdc.queries.keys ++
      graft.queries.RuntimeFilter.queries.keys ++ graft.queries.Glm.queries.keys ++
      graft.forecast.ForecastJobs.queries.keys ++ graft.forecast.SeriesAnalysis.queries.keys)
      .toSeq.distinct.sorted
      .filterNot(eventQueries.toSet)
      .filterNot(_.startsWith("s_stream"))
      // m_reconcile's >8-week-history `require` is its DOCUMENTED loud
      // failure mode on degenerate corpora (r5 ADVICE guard) — a
      // data-volume precondition, not a corruption crash; the 40-row
      // chaos tables cannot clear it by construction
      .filterNot(_ == "m_reconcile")

  def buildEventChaosDir(spark: org.apache.spark.sql.SparkSession, base: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-ev").toString
    spark
      .createDataFrame(spark.sparkContext.parallelize(chaosEventRows, 2), eventSchema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    StressUtil.symlinkTables(dir, base, Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings"))
    dir
  }

  /** The full streaming surface — chaos-gated separately from the batch
    * modes because the stream paths read their tables RAW over
    * `readStream` (the ann-serve probe stream bypasses the
    * `Tables.embeddings` vector-space contract; the ingest-gate /
    * near-dedup doc streams bypass nothing but had never seen a null
    * text through the STREAMING kernels and state stores).
    */
  def streamQueries: Seq[String] =
    graft.streaming.StreamQueries.queries.keys.toSeq.sorted

  /** Land `df` as the SINGLE FILE `<dir>/<tbl>.parquet` — the corpus
    * layout the stream sources' `pathGlobFilter` expects (a
    * `<tbl>.parquet/` part-file DIRECTORY matches the glob on none of
    * its files, silently emptying the stream — the first stream-chaos
    * probe run measured exactly that, not chaos behavior).
    */
  private def writeSingleFile(
      df: org.apache.spark.sql.DataFrame, dir: String, tbl: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-chaos-$tbl").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
    val part =
      try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $tbl"))
      finally listing.close()
    java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$tbl.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** One dir with ALL THREE adversarial tables (events, documents,
    * embeddings) so each streaming query meets the chaos variant of
    * whichever table it streams; TPC-H dims symlinked for the IVF
    * index-build side.
    */
  def buildStreamChaosDir(spark: org.apache.spark.sql.SparkSession, base: String): String = {
    val dim = graft.tables.Tables.embeddingDim(spark, base)
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-stream").toString
    writeSingleFile(
      spark.createDataFrame(spark.sparkContext.parallelize(chaosEventRows, 2), eventSchema),
      dir, "events")
    writeSingleFile(
      spark.createDataFrame(spark.sparkContext.parallelize(chaosRows, 2), schema),
      dir, "documents")
    writeSingleFile(
      spark.createDataFrame(spark.sparkContext.parallelize(chaosEmbRows(dim), 2), embSchema),
      dir, "embeddings")
    StressUtil.symlinkTables(dir, base,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
    dir
  }

  /** The zero-micro-batch corpus: events and documents EMPTY (an empty
    * ingest window is a legitimate steady state of any landing zone),
    * embeddings = the base corpus minus the probe-id range (the serving
    * index builds normally, but the probe stream yields zero accepted
    * requests) — so every streaming query runs its never-wrote-output
    * path: ann-serve's missing hits dir, upsert's never-created state
    * table, forecast's windowless bronze.
    */
  def buildEmptyStreamDir(spark: org.apache.spark.sql.SparkSession, base: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-sempty").toString
    writeSingleFile(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], eventSchema), dir, "events")
    writeSingleFile(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), dir, "documents")
    writeSingleFile(
      graft.tables.Tables.embeddingsRaw(spark, base)
        .where(org.apache.spark.sql.functions.col("vec_id") >= 10),
      dir, "embeddings")
    StressUtil.symlinkTables(dir, base,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
    dir
  }

  /** Adversarial API payloads per zolo source — the shapes a live REST
    * endpoint returns on day one that the bundled fixtures never show:
    * missing / null / garbage timestamps, null or empty nested arrays,
    * null structs, negative amounts (refunds), null ids, non-numeric
    * numeric strings, and one syntactically TRUNCATED line per file
    * (Spark's PERMISSIVE mode must null it out, not fail the read).
    */
  def chaosSquareLines: Seq[String] = Seq(
    // missing created_at entirely
    """{"id":"x1","device":{"name":"reg9"},"itemizations":[{"quantity":1.0,"item_variation_name":"12oz bag","item_detail":{"item_variation_id":"sq-101"},"total_money":{"amount":1200},"modifiers":[]}],"tender":[{"tendered_money":{"amount":1200},"change_back_money":{"amount":0}}]}""",
    // garbage timestamp
    """{"id":"x2","created_at":"not-a-timestamp","device":{"name":"reg9"},"itemizations":[{"quantity":1.0,"item_variation_name":"5lb bag","item_detail":{"item_variation_id":"sq-102"},"total_money":{"amount":6500},"modifiers":[]}],"tender":[]}""",
    // null device / itemizations / tender
    """{"id":"x3","created_at":"2019-06-10T10:00:00Z","device":null,"itemizations":null,"tender":null}""",
    // empty itemizations, null money structs in tender
    """{"id":"x4","created_at":"2019-06-10T11:00:00Z","device":{"name":"d9"},"itemizations":[],"tender":[{"tendered_money":null,"change_back_money":null}]}""",
    // null leaf fields inside an itemization
    """{"id":"x5","created_at":"2019-06-10T12:00:00Z","device":{"name":"d9"},"itemizations":[{"quantity":null,"item_variation_name":null,"item_detail":null,"total_money":{"amount":null},"modifiers":[{"name":null}]}],"tender":[{"tendered_money":{"amount":-500},"change_back_money":{"amount":0}}]}""",
    // null id, refund quantities/amounts
    """{"id":null,"created_at":"2019-06-10T13:00:00Z","device":{"name":"d9"},"itemizations":[{"quantity":-2.0,"item_variation_name":"12oz bag","item_detail":{"item_variation_id":"sq-101"},"total_money":{"amount":-2400},"modifiers":[]}],"tender":[{"tendered_money":{"amount":0},"change_back_money":{"amount":0}}]}""",
    // truncated line
    """{"id":"x6","created_at":"2019-06-10T14:00:00Z","device":{"name":"d9"},"itemizations":[{"quantity":"""
  )

  def chaosShopifyLines: Seq[String] = Seq(
    """{"id":null,"created_at":null,"line_items":null,"shipping_lines":null}""",
    """{"id":6001,"created_at":"garbage-date","line_items":[{"quantity":"x","variant_id":null,"price":"abc"}],"shipping_lines":[{"price":null}]}""",
    """{"id":6002,"created_at":"2019-06-21T10:00:00Z","line_items":[],"shipping_lines":[]}""",
    """{"id":6003,"created_at":"2019-06-21T11:00:00Z","line_items":[{"quantity":"-1","variant_id":9001,"price":"-14.50"}],"shipping_lines":[{"price":"7.25"},{"price":"1.00"}]}""",
    """{"id":6004"""
  )

  def chaosQbInvoiceLines: Seq[String] = Seq(
    """{"DocNumber":null,"TxnDate":null,"CustomerRef":null,"Line":null}""",
    """{"DocNumber":"inv-x","TxnDate":"13/45/2019","CustomerRef":{"value":null},"Line":[]}""",
    """{"DocNumber":"inv-y","TxnDate":"2019-06-21","CustomerRef":{"value":"c102"},"Line":[{"Id":null,"SalesItemLineDetail":null},{"Id":"2","SalesItemLineDetail":{"ItemRef":null,"Qty":null,"UnitPrice":null}}]}""",
    """{"DocNumber":"inv-z","TxnDate":"2019-06-22","CustomerRef":{"value":"c103"},"Line":[{"Id":"1","SalesItemLineDetail":{"ItemRef":{"value":"qb-201"},"Qty":-5.0,"UnitPrice":-9.5}}]}""",
    """{"DocNumber":"inv-w""""
  )

  def chaosQbCustomerLines: Seq[String] = Seq(
    """{"Id":null,"CompanyName":null,"PrimaryPhone":null,"ShipAddr":null,"MetaData":null}""",
    """{"Id":"c999","CompanyName":"X","PrimaryPhone":{"FreeFormNumber":null},"ShipAddr":{"Line1":null,"City":null,"CountrySubDivisionCode":null,"PostalCode":null},"MetaData":{"CreateTime":"not-a-time"}}""",
    """{"Id":"c998"""
  )

  /** Chaos fixtures dir: each zolo JSONL = the REAL fixture lines (signal
    * + regression anchor) plus the adversarial lines; CSV seeds copied
    * verbatim.
    */
  def buildZoloChaosDir(): String = {
    val src = java.nio.file.Paths.get(graft.etl.ZoloPipeline.fixturesDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-zolo")
    def mutate(name: String, extra: Seq[String]): Unit = {
      val real = java.nio.file.Files.readString(src.resolve(name)).stripLineEnd
      java.nio.file.Files.writeString(dir.resolve(name), (real +: extra).mkString("\n"))
    }
    mutate("square_payments.json", chaosSquareLines)
    mutate("shopify_orders.json", chaosShopifyLines)
    mutate("qb_invoices.json", chaosQbInvoiceLines)
    mutate("qb_customers.json", chaosQbCustomerLines)
    // CSV seeds get adversarial rows too (short/long rows, non-numeric
    // numerics, quoted commas, an empty line, a null-ish id) — they flow
    // into the weekly-demand check through the same registerAllForce
    mutate("items.csv", Seq(
      "Chaos Blend,\"12oz, bagged\",9901,sq-901,qb-901,9901,coffee,whole bean,not-a-weight,1",
      "Short Row,only-three,9902",
      "Long Row,12oz bag,9903,sq-903,qb-903,9903,coffee,whole bean,0.75,1,EXTRA,COLUMNS",
      "",
      ",,,,,,,,,"))
    mutate("coffee_profiles.csv", Seq(
      "99,Chaos,medium,not-a-bool,0,Brazil,natural,abc,,,,,,",
      "100,\"Comma, Name\",light,1,1,Ethiopia,washed,100.0,,,,,,",
      ",,,,,,,,,,,,,"))
    dir.toString
  }

  /** The zolo ETL surface driven by the chaos fixtures — named thunks
    * rather than driver-query names because the zolo queries pin the
    * bundled fixtures dir; the SAME transform stacks run here against
    * the adversarial payloads, ending with the full weekly-demand SQL
    * over chaos-derived views. Callers must clearCache() afterwards:
    * registerAllForce persists the chaos views, and the next zolo driver
    * query's registerAll re-registers the real fixtures once the cache
    * check fails.
    */
  def zoloChecks(dir: String): Seq[(String, org.apache.spark.sql.SparkSession => Long)] = Seq(
    "zolo_square_etl" -> { s =>
      val (t, dt) = graft.etl.SquareEtl.run(s, s"$dir/square_payments.json")
      t.count() + dt.count()
    },
    "zolo_shopify_etl" -> { s =>
      val (t, dt) = graft.etl.ShopifyEtl.run(s, s"$dir/shopify_orders.json")
      t.count() + dt.count()
    },
    "zolo_qb_etl" -> { s =>
      val (t, dt) = graft.etl.QuickbooksEtl.run(s, s"$dir/qb_invoices.json")
      t.count() + dt.count()
    },
    "zolo_qbc_etl" -> { s =>
      graft.etl.QbCustomersEtl.run(s, s"$dir/qb_customers.json").count()
    },
    "zolo_weekly_demand" -> { s =>
      graft.etl.ZoloPipeline.registerAllForce(s, dir)
      try graft.analytics.WeeklyDemand.run(s).count()
      finally s.catalog.clearCache()
    }
  )

  /** Executor-loss fault injection (r14). Requires a local-cluster
    * master (separate executor JVMs — `SPARK_GRAFT_MASTER=
    * local-cluster[2,16,*]` via spark-submit). Runs the named driver
    * query once uninterrupted for a baseline, then again while kill -9ing
    * one executor JVM mid-flight, and compares the sorted results.
    *
    * What it measures: a plain query survives via task retry (lineage
    * intact — lost blocks recompute); a query that cut lineage with
    * `localCheckpoint` CANNOT recover the killed executor's blocks and
    * fails — that is [[graft.Checkpoints]]'s documented trade, and
    * setting `spark.graft.iter.checkpointDir` (via
    * SPARK_GRAFT_EXTRA_CONFS) flips the same query back to surviving.
    *
    * The kill is JOB-COUNT triggered, not wall-clock (a warm chaos run
    * is several times faster than the cold baseline, so a fixed sleep
    * lands after the query already finished — measured before this
    * landed on jobs): each pagerank round is one eager-checkpoint job,
    * so "after K jobs" deterministically lands mid-iterations, after
    * earlier rounds' localCheckpoint blocks exist on the victim.
    *
    * Env: SPARK_GRAFT_CHAOS_QUERY (default g_pagerank),
    * SPARK_GRAFT_CHAOS_KILL_AFTER_JOBS (default 8),
    * SPARK_GRAFT_CHAOS_KILL_ALL=1 (kill every executor JVM, not one),
    * SPARK_GRAFT_CHAOS_SIGNAL (default KILL; PWR = planned reclaim).
    */
  def execKill(spark: org.apache.spark.sql.SparkSession, base: String): Unit = {
    val master = spark.sparkContext.master
    require(master.startsWith("local-cluster"),
      s"execkill needs separate executor JVMs (master=$master) — run via " +
        "spark-submit with SPARK_GRAFT_MASTER=local-cluster[2,16,24576]")
    val query     = sys.env.getOrElse("SPARK_GRAFT_CHAOS_QUERY", "g_pagerank")
    val killAfter = sys.env.getOrElse("SPARK_GRAFT_CHAOS_KILL_AFTER_JOBS", "8").toInt
    val jobsEnded = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobsEnded.incrementAndGet(); ()
      }
    })
    def run(): Seq[String] =
      graft.SparkEntry.queries(query)(spark, base).collect().map(_.toString).sorted.toSeq
    // filter by THIS app's id: a concurrent Spark app on the same box
    // also runs CoarseGrainedExecutorBackend JVMs, and killing those
    // would sabotage an innocent bystander (executor command lines carry
    // --app-id)
    val appId = spark.sparkContext.applicationId
    def executorPids(): Seq[Long] = {
      import scala.sys.process._
      scala.util.Try(Seq("pgrep", "-f", s"CoarseGrainedExecutorBackend.*--app-id $appId").!!)
        .map(_.linesIterator.flatMap(_.trim.toLongOption).toSeq)
        .getOrElse(Seq.empty)
    }
    println(s"- baseline $query …")
    val t0 = System.nanoTime()
    val baseline = run()
    val baseSec = (System.nanoTime() - t0) / 1e9
    val baselineJobs = jobsEnded.get()
    println(f"- baseline $query rows=${baseline.size} in $baseSec%.1f s " +
      s"($baselineJobs jobs); executors=${executorPids().size}; " +
      s"killing after $killAfter chaos jobs")
    val chaos = scala.concurrent.Future {
      val t = System.nanoTime(); val r = run(); (r, (System.nanoTime() - t) / 1e9)
    }(scala.concurrent.ExecutionContext.global)
    while (jobsEnded.get() - baselineJobs < killAfter && !chaos.isCompleted)
      Thread.sleep(20L)
    require(!chaos.isCompleted,
      s"chaos run finished before $killAfter jobs — lower " +
        s"SPARK_GRAFT_CHAOS_KILL_AFTER_JOBS (baseline ran ${baselineJobs} jobs)")
    val pids = executorPids()
    require(pids.nonEmpty, "no executor JVMs found to kill")
    // killAll removes block-placement luck: the rank frame is tiny (AQE
    // coalesces each round to ~1 partition), so a single-victim kill
    // only hits the checkpoint blocks ~half the time. Killing every
    // executor JVM is the deterministic worst case — the node(s) holding
    // the round's blocks are certainly among the dead.
    val killAll = sys.env.get("SPARK_GRAFT_CHAOS_KILL_ALL").contains("1")
    // SIGNAL=PWR models a PLANNED reclaim (spot interruption with
    // decommissioning enabled): the executor drains and MIGRATES its
    // blocks instead of vanishing — pair with
    // spark.decommission.enabled + spark.storage.decommission.* confs.
    // Default KILL is the unplanned hard loss.
    val signal  = sys.env.getOrElse("SPARK_GRAFT_CHAOS_SIGNAL", "KILL")
    val victims = if (killAll) pids else pids.take(1)
    println(s"- kill -s $signal ${victims.mkString(",")} (of ${pids.size} executor JVMs) after " +
      s"${jobsEnded.get() - baselineJobs} chaos jobs")
    victims.foreach(v => scala.sys.process.Process(Seq("kill", "-s", signal, v.toString)).!)
    scala.util.Try(scala.concurrent.Await.result(
      chaos, scala.concurrent.duration.Duration(600, "s"))) match {
      case scala.util.Success((rows, sec)) =>
        val same = rows == baseline
        println(f"- SURVIVED $query rows=${rows.size} in $sec%.1f s  resultMatch=$same")
        if (!same) println("- MISMATCH vs baseline — investigate before trusting recovery")
      case scala.util.Failure(e) =>
        var c: Throwable = e
        while (c.getCause != null && c.getCause != c) c = c.getCause
        println(s"- FAILED $query ${c.getClass.getSimpleName}: " +
          Option(c.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160))
    }
  }

  /** Speculation exerciser (r14): proves aggressive task speculation
    * actually DUPLICATES attempts on this surface (the oracle gate
    * proves results stay exact — launch Verify separately with the same
    * --conf set; this mode only counts). Launch via spark-submit with
    * e.g. --conf spark.speculation=true --conf
    * spark.speculation.quantile=0.05 --conf
    * spark.speculation.multiplier=1.0 --conf
    * spark.speculation.interval=100ms (static scheduler confs — env
    * passthrough cannot set them). SPARK_GRAFT_CHAOS_QUERY holds a
    * comma-separated query list.
    */
  def specCount(spark: org.apache.spark.sql.SparkSession, base: String): Unit = {
    require(spark.sparkContext.getConf.getBoolean("spark.speculation", false),
      "speccount without spark.speculation=true measures nothing — pass the --confs")
    val spec  = new java.util.concurrent.atomic.AtomicInteger(0)
    val total = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
        total.incrementAndGet()
        if (t.taskInfo.speculative) spec.incrementAndGet()
        ()
      }
    })
    val queries = sys.env.getOrElse("SPARK_GRAFT_CHAOS_QUERY", "g_pagerank").split(',').toSeq
    queries.foreach { q =>
      val (s0, t0) = (spec.get(), total.get())
      val rows = graft.SparkEntry.queries(q)(spark, base).collect().length
      println(s"- $q rows=$rows tasks=${total.get() - t0} speculative=${spec.get() - s0}")
    }
    println(s"== ${spec.get()} speculative of ${total.get()} task starts ==")
  }

  def main(args: Array[String]): Unit = {
    val base  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val mode  = sys.env.getOrElse("SPARK_GRAFT_CHAOS_MODE", "docs")
    val spark = GraftSession.local(appName = "graft-chaos-probe")
    if (mode == "execkill") { execKill(spark, base); spark.stop(); return }
    if (mode == "speccount") { specCount(spark, base); spark.stop(); return }
    val checks: Seq[(String, () => Long)] =
      if (mode == "zolo") {
        val dir = buildZoloChaosDir()
        zoloChecks(dir).map { case (n, f) => (n, () => f(spark)) }
      } else {
        val (dir, queries) = mode match {
          case "docs"        => (buildChaosDir(spark, base), docQueries)
          case "emb"         => (buildEmbChaosDir(spark, base), embQueries)
          case "events"      => (buildEventChaosDir(spark, base), eventQueries)
          case "rel"         => (buildRelChaosDir(spark, base), relQueries)
          case "stream"      => (buildStreamChaosDir(spark, base), streamQueries)
          case "streamempty" => (buildEmptyStreamDir(spark, base), streamQueries)
        }
        queries.map(n =>
          (n, () => graft.SparkEntry.queries(n)(spark, dir).collect().length.toLong))
      }
    var ok, bad = 0
    checks.foreach { case (name, thunk) =>
      val r = scala.util.Try(thunk())
      if (!spark.sharedState.cacheManager.isEmpty) {
        println(s"- LEAK  $name left cacheManager entries behind")
        spark.catalog.clearCache()
      }
      r match {
        case scala.util.Success(n) => ok += 1; println(f"- ok    $name%-28s rows=$n")
        case scala.util.Failure(e) =>
          bad += 1
          val root = {
            var c: Throwable = e
            while (c.getCause != null && c.getCause != c) c = c.getCause
            c
          }
          println(f"- THROW $name%-28s ${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString.take(140)}")
      }
    }
    println(s"== $ok total, $bad throw ==")
    spark.stop()
  }
}
