package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings every entry point shares. It is
  * the only session builder in the engine: Bench, Verify, the tools and
  * the specs all build through `local`, so a number measured through one
  * entry point holds for the others.
  *
  * - UTC session timezone: the DuckDB oracle compares naive timestamps.
  * - shuffle.partitions sized to cores (local mode), not the 200 default;
  *   on a real cluster AQE coalesces post-shuffle partitions anyway.
  * - AQE on: runtime re-plan (skew-join splitting, shuffle coalescing,
  *   broadcast-join demotion/promotion) is the 100 TB safety net.
  */
object GraftSession {
  /** `cores` (local-mode threads and shuffle partitions) defaults to
    * `SPARK_GRAFT_CPUS`, else 4.
    */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
            appName: String = "graft"): SparkSession = {
    // SPARK_GRAFT_MASTER=local-cluster[2,16,24576] runs any entry point
    // with real executor JVMs, so task results, broadcasts and shuffles
    // cross process boundaries (launch via spark-submit with the packaged
    // jar so executors can fetch the graft classes). The builder's
    // .master overrides spark-submit's --master, so the env wins.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // Force the sort-based shuffle writer even for low reduce-partition
      // counts: with shuffle.partitions sized to cores, every exchange sat
      // under the default threshold (200) and took the bypass writer,
      // which opens R partition files PER MAP TASK. jstack sampling of
      // the pagerank rounds showed most executor threads in file
      // open/map instead of query work; the sort writer (1 data + 1 index
      // file per map task) took pagerank rounds 1.2-1.3 → 0.45-0.58
      // s/round in r14. At production partition counts (>200) the bypass
      // writer never fires, so local runs exercise the writer a 100 TB
      // shuffle uses. The full-headline A/B that kept it: BENCH_LOCAL
      // §"Shuffle-writer A/B", OPTIMIZATION_r15.md §3.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // AQE coalescing floor: with `parallelismFirst` AQE coalesces a
      // post-shuffle stage to max(bytes / defaultParallelism,
      // minPartitionSize), and the stock 1 MB floor collapses byte-tiny
      // shuffles to ONE task, serializing every CPU-heavy projection over
      // a small exchange (arima fits, IRLS, PCA, LSH audits, e_anomalies'
      // z-score window; OPTIMIZATION_r15.md §6). 64 KB keeps full
      // parallelism for those stages. On a 100 TB shuffle bytes /
      // parallelism is orders of magnitude above either floor, so the
      // setting never engages there.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    applyExtraConfs(spark)
    spark
  }

  /** Runtime-SQL-conf passthrough for A/B harness runs (r13: the RocksDB
    * state-store A/B drives graft.Verify with
    * spark.sql.streaming.stateStore.providerClass overridden — the
    * engine code stays identical, only the session conf differs).
    * `SPARK_GRAFT_EXTRA_CONFS` holds semicolon-separated k=v pairs;
    * runtime confs only (static confs need builder time and belong in
    * javaOptions -D). ONE definition (r13 review): Verify must apply the
    * same parsing to its parent session AND each worker `newSession()`
    * (which seeds SQLConf from the context conf, not the parent's
    * runtime values) — a drifted copy would silently run workers on the
    * default provider.
    */
  def applyExtraConfs(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach { kvs =>
      kvs.split(';').filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      }
    }
}
