package graft.obs

import org.apache.spark.GraftBusDrain
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One Spark job of a measured call. Times are epoch ms from the
  * scheduler's events; counts sum over the job's task attempts,
  * speculative and failed ones included.
  */
final case class JobRow(id: Int, description: String, startMs: Long, endMs: Long,
    stages: Int = 0, tasks: Int = 0, speculativeTasks: Int = 0, taskMs: Long = 0L,
    maxTaskMs: Long = 0L, shuffleReadBytes: Long = 0L, shuffleReadRecords: Long = 0L,
    shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L, resultBytes: Long = 0L) {
  def wallMs: Long = endMs - startMs
}

/** What one [[QueryMeter.measure]] call saw: its wall and its jobs in
  * start order.
  */
final case class QueryRecord(name: String, wallMs: Long, jobs: Seq[JobRow]) {
  def stages: Int = jobs.map(_.stages).sum
  def tasks: Int = jobs.map(_.tasks).sum
  def speculativeTasks: Int = jobs.map(_.speculativeTasks).sum
  def taskMs: Long = jobs.map(_.taskMs).sum
  def maxTaskMs: Long = jobs.map(_.maxTaskMs).maxOption.getOrElse(0L)
  def shuffleReadRecords: Long = jobs.map(_.shuffleReadRecords).sum
  def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
  def jobWallMs: Long = jobs.map(_.wallMs).sum
  /** Wall not spent inside a job: planning, driver-side work and
    * scheduler gaps. Negative when the call's jobs overlapped.
    */
  def gapMs: Long = wallMs - jobWallMs
}

/** The one job-attribution meter. `measure` tags the calling thread with
  * a job tag of its own, so exactly the jobs `body` starts are counted:
  * on this thread, on threads `body` creates (they inherit the tag, as
  * `loadWarehouse`'s pool does) and on Spark's broadcast and subquery
  * threads (which capture it). Jobs of other threads on the same session
  * are not counted. After `body` the listener bus is drained, so the
  * record is complete when it is returned; nothing sleeps.
  */
object QueryMeter {
  private val calls = new AtomicLong

  def measure[A](spark: SparkSession, name: String)(body: => A): (A, QueryRecord) = {
    val sc = spark.sparkContext
    // a tag may not hold a comma; the counter makes it unique per call
    val tag = s"graft-q-${name.replace(',', '_')}-${calls.incrementAndGet()}"
    val listener = new Listener(tag)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wallMs = (System.nanoTime() - t0) / 1000000L
      GraftBusDrain.drain(sc)
      (out, QueryRecord(name, wallMs, listener.rows))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  /** Keeps a row per job that carries `tag`; events arrive on the bus thread. */
  private final class Listener(tag: String) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    private def update(stageId: Int)(f: JobRow => JobRow): Unit =
      synchronized(stageJob.get(stageId).foreach(id => jobs(id) = f(jobs(id))))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.job.tags").exists(_.split(',').contains(tag))) synchronized {
        jobs(e.jobId) = JobRow(e.jobId, prop("spark.job.description").getOrElse(""), e.time, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      update(e.stageInfo.stageId)(j => j.copy(stages = j.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = update(e.stageId) { j =>
      def m(f: TaskMetrics => Long): Long = Option(e.taskMetrics).fold(0L)(f)
      val run = m(_.executorRunTime)
      j.copy(
        tasks = j.tasks + 1,
        speculativeTasks = j.speculativeTasks + (if (e.taskInfo.speculative) 1 else 0),
        taskMs = j.taskMs + run,
        maxTaskMs = math.max(j.maxTaskMs, run),
        shuffleReadBytes = j.shuffleReadBytes + m(_.shuffleReadMetrics.totalBytesRead),
        shuffleReadRecords = j.shuffleReadRecords + m(_.shuffleReadMetrics.recordsRead),
        shuffleWriteBytes = j.shuffleWriteBytes + m(_.shuffleWriteMetrics.bytesWritten),
        spillBytes = j.spillBytes + m(_.diskBytesSpilled),
        resultBytes = j.resultBytes + m(_.resultSize))
    }

    def rows: Seq[JobRow] = synchronized(jobs.values.toSeq)
  }
}
