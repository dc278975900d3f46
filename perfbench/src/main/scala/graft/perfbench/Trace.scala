package graft.perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed region around a call into a layer. `op` groups the spans of
  * one benchmark operation; `parent` is the enclosing span's id (-1 at the
  * root). Times are epoch milliseconds for joining with Spark's events plus
  * nanoTime for the wall itself.
  */
final case class Span(id: Int, name: String, parent: Int, op: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark job counters gathered by [[Trace]]'s listener. */
final class JobRec(val tags: Set[String], val startMs: Long) {
  var endMs: Long = startMs
  var tasks: Int = 0
  var taskMs: Long = 0L
  var maxTaskMs: Long = 0L
  var shuffleBytes: Long = 0L
}

/** Span recorder and per-span counter attribution.
  *
  * Spans are kept in memory. While a span is open its id rides on every
  * Spark job started from the calling thread as a job tag, so a
  * [[SparkListener]] can attribute job, task and shuffle counters to it.
  * Planning time comes from a [[QueryExecutionListener]]: each finished
  * query's `QueryExecution.tracker` phases are charged to every span open
  * when its planning started. Like job counters, a span's fields include
  * those of the spans nested in it. While [[listen]] is off, spans are
  * still timed (operations need their walls) but no listener is
  * registered and no job is tagged.
  */
final class Trace(spark: SparkSession, cores: Int) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long, Long)]
  private var nextId = 0
  private var on = false

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (planning start ms, planning ms)

  private def tagOf(id: Int) = s"perfbench-span-$id"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
      jobs.synchronized {
        jobs(e.jobId) = new JobRec(tags, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
        rec.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          rec.taskMs += m.executorRunTime
          rec.maxTaskMs = math.max(rec.maxTaskMs, m.executorRunTime)
          rec.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.synchronized(plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def listening: Boolean = on

  /** Turns counter collection on or off between operations. */
  def listen(enable: Boolean): Unit = if (enable != on) {
    if (enable) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    } else {
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    on = enable
  }

  def span[T](name: String, op: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    val sc = spark.sparkContext
    if (on) sc.addJobTag(tagOf(id))
    open.push((id, name, System.currentTimeMillis(), System.nanoTime()))
    try {
      val out = body
      (out, close(id, name, op, parent))
    } catch {
      case e: Throwable => close(id, name, op, parent); throw e
    } finally if (on) sc.removeJobTag(tagOf(id))
  }

  private def close(id: Int, name: String, op: String, parent: Int): Span = {
    val (_, _, ms, ns) = open.pop()
    val s = Span(id, name, parent, op, ms, System.currentTimeMillis(), ns, System.nanoTime())
    spans += s
    s
  }

  def all: Seq[Span] = spans.toSeq

  /** Counter fields for one span: the F set of the benchmark's per-layer
    * metrics plus the extras some spans report. Call after `listen(false)`,
    * which waits for the listener bus to drain.
    */
  def fields(s: Span): Map[String, Double] = {
    val tag = tagOf(s.id)
    val mine = jobs.synchronized(jobs.values.filter(_.tags.contains(tag)).toSeq)
    val wall = s.wallS
    val taskS = mine.map(_.taskMs).sum / 1e3
    // wall not covered by any of the span's jobs: driver-side work and
    // scheduler gaps between jobs
    val intervals = mine.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var coveredMs = 0L
    var hi = Long.MinValue
    for ((a, b) <- intervals if b > hi) {
      coveredMs += b - math.max(a, hi)
      hi = b
    }
    val planMs: Long = plans.synchronized {
      plans.iterator.filter { case (st, _) => st >= s.startMs && st <= s.endMs }.map(_._2).sum
    }
    Map(
      "wall_s" -> wall,
      "jobs" -> mine.size.toDouble,
      "tasks" -> mine.map(_.tasks).sum.toDouble,
      "task_s" -> taskS,
      "gap_s" -> math.max(0.0, wall - coveredMs / 1e3),
      "cpu_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "shuffle_mb" -> mine.map(_.shuffleBytes).sum / 1e6,
      "plan_s" -> planMs / 1e3,
      "one_task_jobs" -> mine.count(_.tasks == 1).toDouble,
      "max_task_s" -> (if (mine.isEmpty) 0.0 else mine.map(_.maxTaskMs).max / 1e3)
    )
  }
}
