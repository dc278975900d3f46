package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.obs.QueryMeter

/** Optimization-round profiler: runs one driver query and prints a
  * per-job wall + task-time + shuffle breakdown from its
  * [[graft.obs.QueryRecord]], so the bench seconds can be attributed to
  * operators instead of guessed at.
  *
  *   sbt "runMain graft.tools.ProfileQ g_pagerank [passes]"
  *
  * Methodology matches Bench: SPARK_GRAFT_SF_DIR data dir,
  * SPARK_GRAFT_CPUS cores, `Bench.consume` (the `noop` sink) as the
  * action, one untimed warmup pass then `passes` timed passes (per-pass
  * breakdown printed; min wall reported).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQ <query> [passes]")
    val name = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "profile-q")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))

    def runPass(label: String, timedReport: Boolean): Double = {
      val (_, rec) = QueryMeter.measure(spark, name)(Bench.consume(fn(spark, sfDir)))
      spark.catalog.clearCache()
      val wall = rec.wallMs / 1e3
      if (timedReport) {
        println(f"%n== $name $label: wall $wall%.3f s, ${rec.jobs.size} jobs ==")
        println("jobId  wall_ms  stages tasks taskTime_ms shufWr_MB shufRd_MB  gap_ms  desc")
        var prevEnd = 0L
        rec.jobs.foreach { j =>
          val gap = if (prevEnd == 0) 0 else j.startMs - prevEnd
          prevEnd = math.max(prevEnd, j.endMs)
          println(f"${j.id}%5d ${j.wallMs}%8d ${j.stages}%6d ${j.tasks}%5d ${j.taskMs}%11d ${j.shuffleWriteBytes / 1e6}%9.1f ${j.shuffleReadBytes / 1e6}%9.1f ${gap}%7d  ${j.description.take(60)}")
        }
        println(f"sum(job wall) ${rec.jobWallMs / 1e3}%.3f s of $wall%.3f s total (driver/planning gap ${rec.gapMs / 1e3}%.3f s)")
        println(f"tasks ${rec.tasks}, sum(task time) ${rec.taskMs / 1e3}%.3f s, max task ${rec.maxTaskMs / 1e3}%.3f s")
      }
      wall
    }

    runPass("warmup", timedReport = false)
    val walls = (1 to passes).map(i => runPass(s"pass$i", timedReport = true))
    println(f"%n[profileq] $name min wall over $passes passes: ${walls.min}%.3f s")
    spark.stop()
  }
}
