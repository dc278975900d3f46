package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Optimization-round evidence tool: dumps `.explain("formatted")` for a
  * list of driver queries to `plans/<round>/<query>_<suffix>.txt` so plan
  * claims in OPTIMIZATION_rN.md are checkable without running Spark.
  *
  *   sbt "runMain graft.tools.PlanSnap r14 before g_pagerank,j_range_binned"
  *
  * Data dir comes from SPARK_GRAFT_SF_DIR (default sf0.1 — the bench SF)
  * and cores from SPARK_GRAFT_CPUS, as in Bench, so the dumped shapes are
  * the ones the bench times. Iterative queries
  * (pagerank, textrank, BPE) materialize intermediate rounds while the
  * DataFrame is being BUILT (eager localCheckpoint), so a snap of those
  * runs the query; that is fine — this is an offline evidence tool.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <round> <suffix> <q1,q2,...>")
    val round  = args(0)
    val suffix = args(1)
    val names  = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark  = GraftSession.local(appName = "plan-snap")
    val outDir = Paths.get(s"plans/$round")
    Files.createDirectories(outDir)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val hdr = s"== $name @ $sfDir (${new java.util.Date()}) ==\n\n"
      Files.write(outDir.resolve(s"${name}_$suffix.txt"), (hdr + txt).getBytes(StandardCharsets.UTF_8))
      println(s"[plansnap] wrote plans/$round/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
