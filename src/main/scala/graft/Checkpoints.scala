package graft

import org.apache.spark.sql.Dataset

/** Lineage cut for iterative rounds and multi-job training pins.
  *
  * Default: `localCheckpoint` — blocks live on the executors that
  * computed them, no filesystem round-trip, the right choice in local
  * mode and on a healthy cluster. The trade is fault tolerance: the cut
  * TRUNCATES lineage, so losing an executor destroys blocks that can no
  * longer be recomputed and fails the whole job (Spark documents
  * localCheckpoint as unsafe under dynamic allocation for the same
  * reason; `ChaosProbe` mode `execkill` measures the failure directly by
  * kill -9ing an executor JVM under local-cluster).
  *
  * Fleet deployments opt into reliable cuts by setting
  * `spark.graft.iter.checkpointDir` to a fault-tolerant path (HDFS /
  * object store). Cuts then go through `Dataset.checkpoint`: blocks are
  * files that survive executor loss, so an executor death costs a task
  * retry instead of the job. The conf is a runtime SQL conf (read per
  * cut), so the A/B needs no session rebuild; results are bit-identical
  * either way — checkpointing changes block placement, never values
  * (ReliableCheckpointSpec pins result equality, and both paths preserve
  * the cut plan's partitioning for the downstream joins).
  *
  * Storage lifecycle difference worth knowing: localCheckpoint BLOCKS
  * are reclaimed by the ContextCleaner when the Dataset is unreferenced,
  * but reliable checkpoint FILES outlive their RDDs until the
  * application exits (Spark only GCs them with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`) — a
  * long-running fleet session with the knob on should set that conf or
  * point the dir at storage with a TTL.
  */
object Checkpoints {
  // Scope: the knob covers the ITERATIVE families (graph rounds,
  // textrank, Lloyd/PQ training, BPE merges), where a lost read-back is
  // guaranteed-fatal MID-LOOP and re-running costs O(rounds) of work.
  // Single-shot localCheckpoint pins elsewhere (REST body pins, shared
  // sub-plan pins) deliberately stay local: their worst case is one
  // failed query the orchestrator re-runs, and the streaming legs
  // recover through the engine's own state checkpoint (execkill measured
  // s_stream_sessions hash-exact through a kill of ALL executors).
  val dirKey = "spark.graft.iter.checkpointDir"

  def cut[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val s = ds.sparkSession
    s.conf.getOption(dirKey) match {
      case Some(dir) =>
        val sc = s.sparkContext
        // setCheckpointDir mints a fresh random subdir per call — set it
        // once per context, not once per cut
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        // always eager: a lazy reliable cut would RECOMPUTE its plan to
        // write the files, so only the persist-backed local cut is lazy
        ds.checkpoint(eager = true)
      case None => ds.localCheckpoint(eager)
    }
  }

  /** r15 iterative-round-loop scope (the g_pagerank lesson, applied to
    * every fixed-round graph loop): runs `body` with AQE disabled, on a
    * [[GraftSession.scoped]] clone of `s`.
    *
    * Why AQE off: each round is a fixed-shape query over a
    * pre-partitioned big frame and a compact, lineage-cut state table —
    * AQE re-plans the same two query stages and runs extra
    * stage-materialization jobs EVERY round, driver work that does not
    * shrink with cluster size (measured 0.40 → 0.29-0.34 s/round on the
    * pagerank loop). Only the clone plans without AQE; `s` never does,
    * so nothing is restored, and a query another caller plans on `s`
    * while the loop runs keeps the runtime re-planning safety net. The
    * body rebinds the frames it captures with `.on(clone)`, and its
    * caller takes a frame result back with `.on(s)`.
    *
    * Lazy cuts go with it: an EAGER localCheckpoint per round schedules
    * a materialization job (plus its scheduling gap) per round; a lazy
    * cut still truncates lineage at cut time but lets the blocks persist
    * as a side effect of the NEXT round's job, and the loop's final eager
    * cut (callers: `eager = round == last`) materializes the whole chain
    * inside this scope. Chained rounds meet at shuffle boundaries, which
    * the scheduler materializes exactly once, so a state table consumed
    * by two branches of the next round does not recompute. [[cut]] makes
    * every reliable cut eager, so the callers need no flag for it.
    */
  def quietLoop[T](s: org.apache.spark.sql.SparkSession)(body: org.apache.spark.sql.SparkSession => T): T =
    GraftSession.scoped(s, "spark.sql.adaptive.enabled" -> "false")(body)
}
