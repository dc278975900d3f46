package graft

/** Benchmark main — times the HEADLINE queries on SPARK_GRAFT_SF_DIR and
  * prints ONE compact JSON line (driver contract):
  *   {"metric":"total_sec","value":N,"unit":"sec","queries":{...},"sf":0.1}
  *
  * Round-1 lesson: timing all 77 queries made the JSON line ~4.6 KB; the
  * driver keeps only a tail window of the output, truncated the line's
  * head, and recorded `parsed: null`. The line must stay small — headline
  * queries only (the full sweep is available via SPARK_GRAFT_BENCH_ALL=1
  * for BENCH_LOCAL.md).
  *
  * Failures are recorded (per ADVICE): a crashing query is excluded from
  * the total and listed in "errors" instead of silently timed.
  */
object Bench {

  /** Headline set: the most expensive / most representative query per
    * family (relational agg+join, windows, events, forecast, dedup, ANN,
    * text, graph, multimodal, web curation) — the ones whose plans
    * matter at 100 TB.
    *
    * WIDENED in r12 (judge r11 next-round #3): the first 14 rows are the
    * historical set every BENCH_r01..r11 total was computed over; the
    * last four pin the graph / multimodal / web / BPE families so their
    * cross-round drift shows up in BENCH_rN, not only in ad-hoc stress
    * runs. Totals are therefore NOT comparable to pre-r12 totals —
    * compare per-query, or sum the first 14 (BENCH_LOCAL §r12 records
    * both).
    */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",
    "a1_multi_agg",
    "j1_header_detail",
    "j_range_binned",
    "w_sessionize",
    "e_anomalies",
    "m_weekly_series",
    "m_ses_forecast",
    "m_arima_forecast",
    "dedup_exact",
    "dedup_minhash_pairs",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "text_rare_score",
    // r12 additions
    "g_pagerank",
    "mm_scene_cut",
    "dedup_paragraph",
    "text_bpe_encode"
  )

  /** The pre-r12 headline rows, for cross-round total comparability. */
  val headlineLegacy: Seq[String] = headline.take(14)

  /** Single-core host-noise anchor (judge r12 next-round #7): a fixed
    * amount of serial integer work (2^30 xorshift64* steps), timed on
    * one thread. Rounds r01–r12 recorded this only as BENCH_LOCAL prose
    * from an ad-hoc loop; from r13 the CANONICAL loop lives here and its
    * wall-seconds ride in the JSON line as `anchor_sec`, so a BENCH_rN
    * total can be read against the host's single-core basis without
    * cross-referencing prose. ~2 s on the reference build host; a value
    * far off that scale means the totals on the same line carry the same
    * distortion. The folded sum is printed into a sink so the loop can't
    * be dead-code-eliminated.
    */
  def anchorSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    val n = 1L << 30
    while (i < n) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    if (acc == 42L) Console.err.println("anchor sink") // defeat DCE
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `df` to completion without collecting it: every row and column
    * is computed and written to the `noop` sink. `count()` lets the
    * optimizer drop output columns, and with them the work behind a
    * one-row global aggregate (a_bootstrap_ci measured 0.8 s under
    * `count()` and 23 s written out).
    */
  def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // cores from SPARK_GRAFT_CPUS; SPARK_GRAFT_MASTER=local-cluster[...]
    // measures the headline with real executor JVMs (see GraftSession.local)
    val spark = GraftSession.local(appName = "graft-bench")
    // JVM/codegen warmup so the first measured query isn't charged for it
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().collect()
    val all = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    // loud, not silent (r11 review): a headline name drifting out of
    // SparkEntry.queries would otherwise shrink total_sec and read as a
    // fake floor improvement against prior rounds' 14-query totals
    val missing = headline.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"Bench.headline names missing from SparkEntry.queries: ${missing.mkString(", ")}")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => all || headline.contains(n) }
    // timed passes in stable order, keep the per-query minimum: JIT and
    // container noise land on pass 1; later passes are steady state
    def timeAll(): Map[String, Either[String, Double]] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val r =
          try { consume(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable => Left(e.getClass.getSimpleName) }
        // drop intra-query persists (outside the measured window) so
        // cached blocks don't accumulate across the sweep — every query
        // starts from a cold cache, same as a fresh session
        spark.catalog.clearCache()
        name -> r
      }.toMap
    // full UNTIMED warmup pass (r11): the one-liner above warms Spark's
    // read/agg path but not the query kernels — the r5 arima probe
    // (git history) measured m_arima_forecast converging 18.96 / 4.94 / 4.80 / 3.78 s
    // across passes, so a 3-pass min starting cold was sampling the JIT
    // curve's tail, not steady state. One discarded pass moves every
    // timed pass onto the plateau the bench is documented to measure.
    timeAll()
    // min-of-3 (judge r3 #5): sub-2s rows drifted ±30% between rounds
    // under two-pass min; a third pass settles the steady state on the
    // record. Keep any successful measurement — a transient failure in
    // one pass must not discard a clean timing from another.
    val passes = Seq.fill(3)(timeAll())
    val results = passes.head.keys.map { k =>
      val rs  = passes.map(_(k))
      val oks = rs.collect { case Right(v) => v }
      // all three passes failed: report every distinct failure mode, not
      // just pass 1's (a persistent steady-state error must not hide
      // behind a transient cold-start one)
      k -> (if (oks.nonEmpty) Right(oks.min)
            else Left(rs.collect { case Left(m) => m }.distinct.mkString(" | ")))
    }.toMap
    def f(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val errs = results.collect { case (k, Left(m)) => k -> m }
    val qs = ok.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${f(v)}""" }
      .mkString("{", ",", "}")
    val errJson =
      if (errs.isEmpty) ""
      else errs.toSeq.sortBy(_._1).map { case (k, m) => s""""$k":"$m"""" }
        .mkString(""","errors":{""", ",", "}")
    val total = ok.values.sum
    // the pre-r12 14-query sum, so cross-round trend lines survive the
    // r12 headline widening (BENCH_r01..r11 totals were over these rows)
    val legacy = ok.collect { case (k, v) if headlineLegacy.contains(k) => v }.sum
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    // measured AFTER the query sweep (executors quiesced), min-of-2 like
    // the queries: the anchor reports the host's single-core basis, not
    // a draft from the sweep's own CPU pressure
    val anchor = math.min(anchorSec(), anchorSec())
    // anchor-normalized headline (judge r13 #3): BENCH_r13 read +14% vs
    // r12 purely from host basis — every query moved together while the
    // builder's quiet-host pairs hit best-ever. legacy14_norm rescales
    // the headline to the REFERENCE host basis (anchor ≈ 2.00 s, the
    // value BENCH_LOCAL has recorded since r01), so cross-round totals
    // compare at equal basis without prose exegesis. First-order
    // correction only: it assumes query wall tracks single-core speed on
    // a fixed 32-thread box (r13's uniform 1.03–1.28× band says it does).
    val anchorRef = 2.0
    val legacyNorm = legacy * anchorRef / anchor
    println(s"""{"metric":"total_sec","value":${f(total)},"unit":"sec","legacy14":${f(legacy)},"legacy14_norm":${f(legacyNorm)},"anchor_sec":${f(anchor)},"queries":$qs$errJson,"sf":$sfNum}""")
    spark.stop()
  }
}
