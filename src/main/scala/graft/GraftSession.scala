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
  * - [[GraftExtensions]] installed: the SQL functions and the top-k
  *   planner rules are in every session it builds, and in that session's
  *   `scoped` and streaming clones, so query code never registers anything.
  *
  * A main runs on the one session `local` returns: Verify's 4 worker
  * threads share it, and conf changes only on `scoped` clones.
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
      .withExtensions(new GraftExtensions)
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
      // One executor classloader for all sessions: under artifact
      // isolation (the Spark 4 default) each new session — a `scoped`
      // clone, a stream's batch clone — got its own, and the codegen cache
      // missed for every stage it ran (5 compiles for one cut on a fresh
      // clone, 0 on a reused one). The engine adds no session artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_EXTRA_CONFS="k=v;k=v": runtime SQL confs for an A/B run
    // (the RocksDB state-store provider, say); static confs need -D
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach { kvs =>
      kvs.split(';').filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      }
    }
    spark
  }

  /** Runs `body` on a fresh clone of `s` with `confs` set on the clone —
    * the one place query code changes conf. The clone starts from `s`'s
    * runtime conf and temp views as of entry and shares its context and
    * cache; no query on `s` ever sees the overrides, and nothing is
    * restored. Frames cross with `.on(clone)` and back with `.on(s)`.
    */
  def scoped[T](s: SparkSession, confs: (String, String)*)(body: SparkSession => T): T = {
    val clone = org.apache.spark.sql.GraftSqlBridge.cloneSession(s)
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    body(clone)
  }
}
