package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The sweep runs `threads` queries at a time (run one by one, it idles
  * between small jobs: BENCH_LOCAL §r10) on ONE session, the one
  * `GraftSession.local` returns: the worker threads inherit it as their
  * active session, so the oracle judges every query as one of several
  * concurrent callers of one engine. That holds because no query leaves
  * session state another can see: view, sink and table names are per
  * call (`graft.syntax.callName`), and conf changes only on
  * `GraftSession.scoped` clones. Known-slow queries are scheduled first
  * so a straggler can't land last and stretch the makespan. Results are
  * byte-identical to a sequential sweep (every query is deterministic
  * and writes its own directory).
  */
object Verify {
  /** Queries in flight at once on the one session. */
  private val threads = 4

  /** Historically slowest rows (sequential profile, BENCH_LOCAL §r10) —
    * polled first to minimize makespan. Names that disappear simply fall
    * back to map order.
    */
  private val slowFirst = Seq(
    "a_bootstrap_ci", "sql_arima_auto", "s_stream_join", "s_stream_join_outer",
    "zolo_qb_http", "dedup_lsh_recall", "g_cf_topk", "g_pagerank", "g_k_core",
    "sql_wh_demand", "dedup_cc_incremental", "m_logit_irls", "text_tfidf_pairs",
    "s_stream_dedup", "g_label_prop", "g_adamic_adar", "m_arima_forecast",
    "m_changepoint", "text_textrank", "text_bpe_train", "m_ljung_box",
    "text_bpe_encode", "s_stream_near_dedup", "m_rolling_corr", "g_sssp")

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // only — the driver always calls with 2 args = full sweep)
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [query1,query2,...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").toSet)
    // cores from SPARK_GRAFT_CPUS; SPARK_GRAFT_MASTER=local-cluster[...]
    // runs the identical sweep with real executor JVMs (see
    // GraftSession.local), which also applies SPARK_GRAFT_EXTRA_CONFS
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val picked = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    val ordered =
      slowFirst.flatMap(n => picked.get(n).map(n -> _)) ++
        picked.filterNot { case (n, _) => slowFirst.contains(n) }
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               clearCache: Boolean): Unit = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // NO per-query clearCache while workers run concurrently (r10
      // review): the cacheManager is CONTEXT-shared and an eviction
      // mid-materialization of another thread's cached branch is the
      // same race the gapfillJob fix closed — and a partially-emptied
      // JOIN input would produce a wrong-but-non-empty dump the empties
      // backstop cannot see. Cached blocks are storage-evictable (LRU)
      // under memory pressure, so skipping the clear trades bounded
      // extra storage for correctness isolation; the sequential retry
      // pass clears freely (it is the only runner).
      if (clearCache) spark.catalog.clearCache()
      System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    ordered.foreach(queue.add)
    val workers = (1 to math.min(threads, ordered.size)).map { _ =>
      val t = new Thread(() => {
        var item = queue.poll()
        while (item != null) {
          runOne(item._1, item._2, clearCache = false)
          item = queue.poll()
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join())
    // Backstop against any residual shared-CacheManager race (two
    // concurrent queries persisting the SAME canonical plan share one
    // cache entry; an unpersist mid-materialization intermittently
    // surfaced as an AQE-propagated empty stage): no query in this
    // corpus legitimately dumps 0 rows, so any empty dump is re-run
    // SEQUENTIALLY — a legitimately-empty result would just rewrite
    // itself identically.
    // an unreadable dump dir (write job died after mkdir, before any
    // part file committed) must count as a retry candidate, not crash
    // the sweep — an uncaught throw here would discard every result and
    // zero the round's correctness (r10 review)
    def dumpEmpty(name: String): Boolean =
      try spark.read.parquet(s"$outDir/$name").isEmpty
      catch { case _: Throwable => true }
    // no exists() pre-filter (r11 review): a concurrent-run failure that
    // THROWS before the write creates the dir (instead of landing an
    // empty dump) must also reach the sequential retry — dumpEmpty
    // already treats a missing/unreadable path as a retry candidate, and
    // a deterministic failure just fails once more, sequentially and
    // loudly
    val empties = ordered.collect { case (name, fn) if dumpEmpty(name) => (name, fn) }
    spark.catalog.clearCache() // pool done: reclaim the whole sweep's caches at once
    empties.foreach { case (name, fn) =>
      runOne(name, fn, clearCache = true)
      val after = if (dumpEmpty(name)) "still empty" else "non-empty"
      System.err.println(s"[verify] retried $name: empty -> $after")
    }
    System.err.println(s"[verify] retried ${empties.size} empty dump(s)")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracle SQL is authored against the gate SF; retarget its artifact
    // paths (boundary dumps, golden-fixture CSVs) to THIS sweep's SF so
    // the dumped oracles are valid at any testdata scale (identity at
    // sf0.01 — the driver-facing file is unchanged).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(OracleIo.retarget(v, sfDir))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
