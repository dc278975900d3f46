package graft.perfbench

import graft.{Bench, GraftSession, OracleIo, SparkEntry}
import graft.analytics.WeeklyDemand
import graft.etl.ZoloPipeline
import graft.sources.WarehouseCatalog
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark main: runs one workload against the engine's public entry
  * points and writes `result.json` for `perfbench/run.py`, which checks the
  * dumped outputs against the DuckDB oracles and prints the metrics.
  *
  *   --workload nightly_load|forecast_weekly|headline_mix --seed N
  *   --seconds S --trace 0|1 --inputs DIR --work DIR --cores C --setups K
  *
  * Every workload sets up a session K times (the median is `setup_s`),
  * runs its untimed warm-up, whose outputs are dumped for the oracle
  * check, then repeats timed operations until S seconds have passed.
  * Timed operations consume results through the `noop` sink and clear the
  * cache after each call, as `graft.Bench` does. Their outputs are checked
  * through untimed re-dumps on the same session: after every nightly
  * cycle, and after the last headline sweep or forecast refresh. With
  * --trace 1 every second timed unit (cycle, refresh or sweep) runs with
  * the span listeners on; the others give the untraced walls the overhead
  * is measured against.
  */
object Main {

  final case class Step(name: String, wallS: Double)
  final case class Op(id: String, wallS: Double, cpuS: Double, stealS: Double, timed: Boolean,
      traced: Boolean, steps: Seq[Step], error: Option[String], checks: Seq[String])

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time the hypervisor took from this VM, summed over all CPUs, in
    * seconds (the `steal` column of /proc/stat, in USER_HZ = 100 ticks).
    */
  def stealS(): Double = {
    val cpu = scala.io.Source.fromFile("/proc/stat")
    try cpu.getLines().next().split("\\s+")(8).toDouble / 100.0
    finally cpu.close()
  }

  final class Ctx(val spark: SparkSession, val trace: Trace, val inputs: String, val work: String,
      val traceOn: Boolean, seconds: Double) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val oracles = mutable.LinkedHashMap.empty[String, (String, String)] // key -> (kind, sql)
    val extras = mutable.LinkedHashMap.empty[String, Any]
    val spanExtras = mutable.HashMap.empty[Int, Map[String, Double]]
    def results: String = s"$work/results"
    private var timedStart = -1L
    private var excludedNs = 0L
    private var units = 0

    /** Runs `body` (an oracle dump between timed operations) without
      * charging it to the run's measured seconds.
      */
    def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally excludedNs += System.nanoTime() - t0
    }

    /** Called before each timed unit (a cycle, a refresh, a sweep): false
      * once the timed units have run for the run's seconds. A traced run
      * alternates untraced and traced units and runs at least one of each.
      */
    def nextUnit(): Boolean = {
      val elapsed = timedStart >= 0 && (System.nanoTime() - timedStart - excludedNs) / 1e9 >= seconds
      val go = !elapsed || (traceOn && units < 2)
      if (go) {
        if (timedStart < 0) timedStart = System.nanoTime()
        units += 1
        trace.listen(traceOn && units % 2 == 0)
      }
      go
    }

    /** One operation: times `body` as the op span; `steps` inside it are
      * the child spans. A throwable fails the operation, not the run.
      */
    def op(id: String, name: String, timed: Boolean)(body: => Seq[String]): Op = {
      val traced = timed && trace.listening
      if (!timed) trace.listen(false)
      val steps0 = trace.all.size
      val (cpu0, steal0) = (os.getProcessCpuTime, stealS())
      val t0 = System.nanoTime()
      val (checks, err) =
        try (trace.span(name, id)(body)._1, None)
        catch { case e: Throwable => (Nil, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")) }
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, steal) = ((os.getProcessCpuTime - cpu0) / 1e9, stealS() - steal0)
      val steps = trace.all.drop(steps0).filter(s => s.op == id && s.name != name).map(s => Step(s.name, s.wallS))
      val o = Op(id, wall, cpu, steal, timed, traced, steps, err, checks)
      ops += o
      err.foreach(m => Console.err.println(s"[perfbench] operation $id failed: $m"))
      o
    }

    def step[T](name: String, op: String)(body: => T): T = trace.span(name, op)(body)._1

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def dump(key: String, df: DataFrame, kind: String, sql: String): String = {
      df.write.mode("overwrite").parquet(s"$results/$key")
      spark.catalog.clearCache()
      oracles(key) = (kind, sql)
      key
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val work = a("work")
    Files.createDirectories(Paths.get(work, "results"))

    // K set-ups of the engine's session factory, each ending with a first
    // tiny job so the sample covers a session that has run work; the last
    // session is kept. Sample 1 also pays JVM class loading.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var coldS = 0.0
    for (i <- 1 to setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, "perfbench")
      spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
      setupS += (System.nanoTime() - t0) / 1e9
      if (i == 1)
        coldS = (System.currentTimeMillis() -
          java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    }
    val ctx = new Ctx(spark, new Trace(spark, cores), a("inputs"), work, a("trace") == "1", seconds)
    workload match {
      case "nightly_load"    => nightly(ctx)
      case "forecast_weekly" => forecast(ctx)
      case "headline_mix"    => headline(ctx)
      case w                 => sys.error(s"unknown workload $w")
    }
    ctx.trace.listen(false)
    val spans = if (ctx.traceOn) ctx.trace.all.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "fields" -> (ctx.trace.fields(s) ++ ctx.spanExtras.getOrElse(s.id, Map.empty)))
    } else Nil
    val info = Map(
      "workload" -> workload, "seed" -> a("seed").toLong, "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "java" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "confs" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "headline" -> Bench.headline)
    val out = Map(
      "info" -> info,
      "setup_s" -> setupS.toSeq,
      "cold_start_s" -> coldS,
      "ops" -> ctx.ops.map(o => Map("id" -> o.id, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS, "steal_s" -> o.stealS, "timed" -> o.timed,
        "traced" -> o.traced, "error" -> o.error.orNull, "checks" -> o.checks,
        "steps" -> o.steps.map(s => Map("name" -> s.name, "wall_s" -> s.wallS)))).toSeq,
      "oracles" -> ctx.oracles.map { case (k, (kind, sql)) => k -> Map("kind" -> kind, "sql" -> sql) }.toMap,
      "extras" -> ctx.extras.toMap,
      "spans" -> spans,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(work, "result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  private def filesUnder(dir: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists) Nil
    else {
      val s = Files.walk(d.toPath)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.map(_.toFile).filter(f => f.isFile && !f.getName.startsWith(".")
          && !f.getName.startsWith("_")).toList
      } finally s.close()
    }
  }

  private def dataFiles(dir: String) = filesUnder(dir).filter(_.getName.endsWith(".parquet"))

  // ------------------------------------------------------------ nightly

  private val demandTables = Seq(
    "square_trans_details" -> "raw", "shopify_trans_details" -> "raw", "qb_trans_details" -> "raw",
    "square_trans" -> "raw", "shopify_trans" -> "raw", "qb_trans" -> "raw",
    "items" -> "ref", "coffee_profiles" -> "ref")

  /** One nightly cycle: `loadWarehouse` appends one window of the three
    * sources, then the weekly-demand SQL reads the warehouse back through
    * the `zolo` [[WarehouseCatalog]].
    */
  def nightly(c: Ctx): Unit = {
    import c.spark
    val root = s"${c.work}/wh"
    val windows = new File(c.inputs).list().filter(_.matches("w\\d+")).sorted.toSeq
    def srcBytes(dir: String) = filesUnder(s"${c.inputs}/$dir").map(_.length).sum

    val tb = System.nanoTime()
    ZoloPipeline.loadWarehouse(spark, root, s"${c.inputs}/backfill")
    c.extras("backfill_s") = (System.nanoTime() - tb) / 1e9
    var landedBytes = srcBytes("backfill")

    spark.sessionState.catalogManager.catalog("zolo") match {
      case w: WarehouseCatalog if w.rootPath == root =>
      case other => sys.error(s"catalog zolo is not bound to the benchmark warehouse: $other")
    }
    val qualified = demandTables.foldLeft(WeeklyDemand.sql) { case (q, (t, ns)) =>
      q.replaceAll(s"(?<![\\w.])$t\\b", java.util.regex.Matcher.quoteReplacement(s"zolo.$ns.$t"))
    }
    val oracle = ZoloPipeline.oracles("zolo_weekly_demand")
    def oracleFor(loaded: Seq[String], dims: String): String = {
      def files(f: String) = (("backfill" +: loaded).map(d => s"'${c.inputs}/$d/$f'")).mkString("[", ", ", "]")
      val subst = Seq("square_payments.json", "shopify_orders.json", "qb_invoices.json").map(f =>
        s"'${ZoloPipeline.fixturesDir}/$f'" -> files(f)) ++
        Seq("items.csv", "coffee_profiles.csv").map(f => s"'${ZoloPipeline.fixturesDir}/$f'" -> s"'${c.inputs}/$dims/$f'")
      subst.foldLeft(oracle) { case (q, (from, to)) =>
        require(q.contains(from), s"weekly-demand oracle no longer reads $from")
        q.replace(from, to)
      }
    }

    // two untimed cycles: the load and read paths are still on the JIT
    // curve after the backfill (measured: 7.3, 5.6, 4.5, 4.5, 4.4 s)
    val warmUp = 2
    val loaded = mutable.ArrayBuffer.empty[String]
    var k = 0
    while (k < windows.size && (k < warmUp || c.nextUnit())) {
      val w = windows(k)
      val id = s"c$k"
      val timed = k >= warmUp
      loaded += w
      val key = s"demand_$id"
      val check = () => c.dump(key, spark.sql(qualified), "oracle", oracleFor(loaded.toSeq, w))
      c.op(id, "nightly.cycle", timed) {
        // the warehouse file counts are span fields: walked in traced units only
        val traced = c.trace.listening
        val before = if (traced) filesUnder(root).map(_.getPath).toSet else Set.empty[String]
        val (_, ls) = c.trace.span("etl.loadWarehouse", id)(ZoloPipeline.loadWarehouse(spark, root, s"${c.inputs}/$w"))
        if (traced) {
          val fresh = filesUnder(root).filterNot(f => before.contains(f.getPath))
          c.spanExtras(ls.id) = Map("files_written" -> fresh.size.toDouble,
            "mb_written" -> fresh.map(_.length).sum / 1e6)
        }
        // an untimed warm-up cycle dumps the read itself; a timed one
        // consumes it through noop and the dump repeats it afterwards
        val (_, ds) = c.trace.span("analytics.WeeklyDemand", id)(if (timed) c.noop(spark.sql(qualified)) else check())
        if (traced) c.spanExtras(ds.id) = Map("files_read" ->
          demandTables.map { case (t, ns) => dataFiles(s"$root/$ns/$t").size }.sum.toDouble)
        spark.catalog.clearCache()
        if (timed) Nil else Seq(key)
      }
      landedBytes += srcBytes(w)
      val last = c.ops.last
      if (timed && last.error.isEmpty) c.ops(c.ops.size - 1) = last.copy(checks = Seq(c.untimed(check())))
      k += 1
    }
    c.extras("source_bytes") = landedBytes
    c.extras("warehouse_bytes") = filesUnder(root).map(_.length).sum
  }

  // ------------------------------------------------------------ forecast

  private val forecastSteps = Seq(
    "m_ses_forecast" -> "forecast.sesJob",
    "m_holt_forecast" -> "forecast.holtJob",
    "m_arima_forecast" -> "forecast.arimaJob",
    "sql_arima_auto" -> "functions.sql_arima_auto")

  /** The engine's oracle SQL for `q`, retargeted to `dir`; ARIMA fits
    * have no independent replay (their repository oracle is a golden CSV
    * of the engine's own output on the repository's test corpora), so they get the
    * structural check in run.py instead.
    */
  private def oracleOf(q: String, dir: String): (String, String) =
    SparkEntry.oracleSql.get(q) match {
      case _ if q == "m_arima_forecast" || q == "sql_arima_auto" => ("arima", "")
      case Some(sql) => ("oracle", OracleIo.retarget(sql, dir))
      case None      => ("rows", "")
    }

  /** Runs query `q` and dumps its output under `key` for the oracle check. */
  private def dumpQuery(c: Ctx, key: String, q: String): String = {
    val (kind, sql) = oracleOf(q, c.inputs)
    c.dump(key, SparkEntry.queries(q)(c.spark, c.inputs), kind, sql)
  }

  /** The key of the untimed re-dump that checks the timed runs of `q`. */
  private def finalKey(q: String) = s"f.$q"

  def forecast(c: Ctx): Unit = {
    import c.spark
    val dir = c.inputs
    var k = 0
    while (k == 0 || c.nextUnit()) {
      val id = s"r$k"
      c.op(id, "forecast.refresh", timed = k > 0) {
        forecastSteps.map { case (q, span) =>
          if (k == 0) c.step(span, id)(dumpQuery(c, q, q))
          else {
            c.step(span, id)(c.noop(SparkEntry.queries(q)(spark, dir)))
            spark.catalog.clearCache()
            finalKey(q)
          }
        }
      }
      k += 1
    }
    c.op("f", "forecast.refresh", timed = false) {
      forecastSteps.map { case (q, span) => c.step(span, "f")(dumpQuery(c, finalKey(q), q)) }
    }
    val auto = spark.read.parquet(s"${c.results}/sql_arima_auto").count()
    c.extras("arima_auto_rows") = auto
  }

  // ------------------------------------------------------------ headline

  /** The layer owning a `SparkEntry` query: the package of the module object
    * whose query map defines it (graft.queries.Graph stays separate as the
    * iterative layer).
    */
  def layerOf(q: String): String = {
    val owner = SparkEntry.queryModules.find(_.contains(q)).map(_(q).getClass.getName).getOrElse("")
    val cls = owner.takeWhile(_ != '$')
    val pkg = cls.split('.').drop(1).dropRight(1).mkString(".")
    if (cls == "graft.queries.Graph") "queries.Graph" else if (pkg.isEmpty) "graft" else pkg
  }

  def headline(c: Ctx): Unit = {
    import c.spark
    val dir = c.inputs
    val qs = Bench.headline
    val layers = qs.map(q => q -> layerOf(q)).toMap
    c.extras("layers") = layers
    // an untimed dump sweep first moves the timed sweeps onto warm JIT and
    // codegen caches; one more after them checks the outputs of a session
    // that has run the timed sweeps, on behalf of their operations
    qs.foreach(q => c.op(s"w.$q", s"${layers(q)}.$q", timed = false)(Seq(dumpQuery(c, q, q))))
    var k = 0
    while (c.nextUnit()) {
      qs.foreach { q =>
        c.op(s"s$k.$q", s"${layers(q)}.$q", timed = true) {
          c.noop(SparkEntry.queries(q)(spark, dir))
          Seq(finalKey(q))
        }
        spark.catalog.clearCache()
      }
      k += 1
    }
    qs.foreach(q => c.op(s"f.$q", s"${layers(q)}.$q", timed = false)(Seq(dumpQuery(c, finalKey(q), q))))
  }
}
