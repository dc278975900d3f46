package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round profiler: runs one driver query and prints a
  * per-job / per-stage wall + task-time + shuffle breakdown, so the
  * bench seconds can be attributed to operators instead of guessed at.
  *
  *   sbt "runMain graft.tools.ProfileQ g_pagerank [passes]"
  *
  * Methodology matches Bench: SPARK_GRAFT_SF_DIR data dir,
  * SPARK_GRAFT_CPUS cores, count() as the action, one untimed warmup
  * pass then `passes` timed passes (per-pass breakdown printed; min wall
  * reported).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQ <query> [passes]")
    val name = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "profile-q")
    val sc = spark.sparkContext
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))

    case class JobRec(id: Int, desc: String, t0: Long, var t1: Long = 0L,
                      var stages: Int = 0, var tasks: Int = 0,
                      var taskMs: Long = 0L, var shufWr: Long = 0L, var shufRd: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          j.taskMs += si.taskMetrics.executorRunTime
          j.shufWr += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          j.shufRd += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        }
      }
    })

    def runPass(label: String, timedReport: Boolean): Double = {
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(500) // let listener events settle
      if (timedReport) jobs.synchronized {
        println(f"%n== $name $label: wall $wall%.3f s, ${jobs.size} jobs ==")
        println("jobId  wall_ms  stages tasks taskTime_ms shufWr_MB shufRd_MB  gap_ms  desc")
        var prevEnd = 0L
        jobs.values.foreach { j =>
          val gap = if (prevEnd == 0) 0 else j.t0 - prevEnd
          prevEnd = math.max(prevEnd, j.t1)
          println(f"${j.id}%5d ${j.t1 - j.t0}%8d ${j.stages}%6d ${j.tasks}%5d ${j.taskMs}%11d ${j.shufWr / 1e6}%9.1f ${j.shufRd / 1e6}%9.1f ${gap}%7d  ${j.desc.take(60)}")
        }
        val jobMs = jobs.values.map(j => j.t1 - j.t0).sum
        println(f"sum(job wall) ${jobMs / 1e3}%.3f s of $wall%.3f s total (driver/planning gap ${wall - jobMs / 1e3}%.3f s)")
      }
      wall
    }

    runPass("warmup", timedReport = false)
    val walls = (1 to passes).map(i => runPass(s"pass$i", timedReport = true))
    println(f"%n[profileq] $name min wall over $passes passes: ${walls.min}%.3f s")
    spark.stop()
  }
}
