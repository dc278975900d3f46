package graft

import org.apache.spark.sql.ColumnName

/** Session-free `$"col"` interpolator (the `spark.implicits._` one is bound
  * to a session instance; query builders here take the session as an
  * argument, so a standalone interpolator keeps them pure functions).
  */
object syntax {
  private val callNames = new java.util.concurrent.atomic.AtomicLong

  private val processToken = s"p${ProcessHandle.current().pid()}"

  /** `<base>_p<pid>_<n>`, unique per call and per process: the catalog
    * name (temp view, table, stream) of one call, so two callers on one
    * session, or two JVMs on one warehouse dir, never share it. It
    * parses as an identifier.
    */
  def callName(base: String): String = s"${base}_${processToken}_${callNames.incrementAndGet()}"

  implicit class ColStringContext(private val sc: StringContext) extends AnyVal {
    def $(args: Any*): ColumnName = new ColumnName(sc.s(args: _*))
  }

  /** [[Checkpoints.cut]] as a chainable method: localCheckpoint by
    * default, reliable `checkpoint` (always eager) when
    * `spark.graft.iter.checkpointDir` is set (fleet fault tolerance).
    */
  implicit class DatasetCutOps[T](private val ds: org.apache.spark.sql.Dataset[T]) extends AnyVal {
    def cutLineage(eager: Boolean = true): org.apache.spark.sql.Dataset[T] =
      Checkpoints.cut(ds, eager)
  }

  /** The same logical plan bound to `s` (a [[GraftSession.scoped]]
    * clone, or back to its caller): it plans under `s`'s conf, and a
    * persisted or checkpointed input still reads its cached blocks.
    */
  implicit class DataFrameSessionOps(private val df: org.apache.spark.sql.DataFrame) extends AnyVal {
    def on(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, org.apache.spark.sql.GraftSqlBridge.logicalPlan(df))
  }

  /** Scale-adaptive spread before a CPU-heavy stage (r14 optimization
    * round, guide §2.6 idle capacity): when the frame's partition count
    * cannot fill the cluster — a small corpus whose scan is bound by
    * file splits/row groups — pay one round-robin shuffle so the
    * downstream per-row work (iterative re-scans, quadratic expansions,
    * broadcast nested-loop probes) runs cluster-wide. At scale the scan
    * already has >= parallelism splits and this is the identity. Only
    * sound above order-free consumers (exact decimal sums, joins,
    * per-row maps): a round-robin shuffle permutes row order.
    *
    * SCAN-LEVEL FRAMES ONLY (r14 ADVICE #4, enforced r15): reading the
    * partition count goes through `df.rdd`, and with AQE enabled that
    * forces `getFinalPhysicalPlan`, which EXECUTES any shuffle stage in
    * the frame's lineage just to learn a partition count — the frame
    * would silently run twice. The guard rejects plans containing a
    * shuffle-introducing operator instead of leaving the footgun latent.
    */
  implicit class DataFrameSpreadOps(private val df: org.apache.spark.sql.DataFrame) extends AnyVal {
    def spreadAcrossCores(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.catalyst.plans.logical._
      val shuffleOp = df.queryExecution.analyzed.collectFirst {
        case p @ (_: Join | _: Aggregate | _: Window | _: Sort |
                  _: Distinct | _: Deduplicate | _: Intersect | _: Except |
                  _: RepartitionOperation | _: GlobalLimit) => p.nodeName
      }
      require(shuffleOp.isEmpty,
        s"spreadAcrossCores is for scan-level frames only — lineage contains a " +
          s"${shuffleOp.getOrElse("")} whose shuffle .rdd would eagerly execute " +
          "under AQE (double-run); spread the frame before that operator instead")
      val cores = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
    }
  }
}
