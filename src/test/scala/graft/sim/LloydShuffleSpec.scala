package graft.sim

import graft.SparkSpec
import graft.obs.QueryMeter
import graft.syntax._
import org.apache.spark.sql.functions._

/** Plan gate for the r7 shuffle-free Lloyd mean step: training must
  * never shuffle the corpus. The old groupByKey/mapGroups mean step
  * shuffled every vector to its cell's reducer each iteration (≥
  * iters × n records); the treeReduce formulation ships one k×dim sum
  * block per partition. Measured from the training call's QueryMeter
  * record (its own jobs' task metrics), on a corpus large enough
  * (replicated ×100) that the two shapes differ by orders of magnitude.
  */
class LloydShuffleSpec extends SparkSpec {

  test("Lloyd training shuffles centroid-sized state, never the corpus") {
    val base = graft.tables.Tables
      .embeddings(spark, sf0001)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val n0 = base.count()
    val e = base
      .crossJoin(spark.range(100).select($"id".as("rep")))
      .select(($"vec_id" + $"rep" * n0).as("vec_id"), $"v")
      .repartition(16)
      .localCheckpoint() // pin the corpus so its own build cost is outside the gate
    val n = e.count()

    val (_, rec) = QueryMeter.measure(spark, "lloyd-train")(
      Similarity.trainCentroids(spark, e, nCells = 16, iters = 3))

    info(s"corpus=$n rows; training shuffle records read=${rec.shuffleReadRecords} " +
      s"across ${rec.stages} stages")
    // old shape: >= iters * n = 15000+ records; new shape: the seed
    // TakeOrdered partials + one sum block per partition per iteration
    assert(rec.shuffleReadRecords < n / 2,
      s"training shuffled ${rec.shuffleReadRecords} records for a $n-row corpus — " +
        "the corpus is crossing the wire again")
  }
}
