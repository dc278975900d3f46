package graft.streaming

import graft.SparkSpec
import graft.etl.Warehouse
import graft.sim.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Two production streaming patterns on top of the batch library:
  *
  *  1. stream-static join — ANN serving: a stream of probe vectors
  *     joined against the static embedding corpus, per-probe best match
  *     computed inside each micro-batch.
  *  2. exactly-once sink — foreachBatch + Warehouse.appendDedup: a
  *     replayed micro-batch (the at-least-once failure mode) must not
  *     duplicate warehouse rows.
  */
class StreamServingSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static join serves nearest neighbors per probe micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.tables.Tables
      .embeddings(spark, sf0001)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val mem = MemoryStream[(Long, Seq[Double])]
    val probes = mem.toDF().toDF("probe_id", "pv")
    val joined = probes
      .join(corpus, expr("true"))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id", Similarity.cosine($"pv", $"v").as("cosine"))
      .groupBy($"probe_id")
      .agg(max_by($"vec_id", $"cosine").as("best_match"), max($"cosine").as("best_cosine"))
    val q = joined.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("serve_out")
      .start()
    try {
      // probe = corpus vector 5's embedding: best match must be vec 5... excluded
      // by the self-filter, so assert the best cosine is the max over others
      val v5 = corpus.filter($"vec_id" === 5).collect()(0).getSeq[Double](1)
      mem.addData((5L, v5))
      q.processAllAvailable()
      val row = spark.table("serve_out").collect()(0)
      assert(row.getLong(0) == 5L)
      assert(row.getDouble(2) < 1.0 && row.getDouble(2) > -1.0)
      // the served neighbor equals the batch brute-force answer
      val batchBest = corpus
        .filter($"vec_id" =!= 5)
        .select($"vec_id", Similarity.cosine(lit(v5.toArray).cast("array<double>"), $"v").as("c"))
        .orderBy($"c".desc, $"vec_id")
        .collect()(0)
      assert(row.getLong(1) == batchBest.getLong(0))
    } finally q.stop()
  }

  test("foreachBatch + appendDedup: replayed micro-batch does not duplicate rows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-eo").toString + "/facts"
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = mem
      .toDF()
      .toDF("created_at", "payment_id", "dollars")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // simulate the at-least-once failure mode: every batch delivered twice
        Warehouse.appendDedup(spark, batch, dir, "payment_id")
        Warehouse.appendDedup(spark, batch, dir, "payment_id")
      }
      .start()
    try {
      mem.addData(
        (Timestamp.valueOf("2019-06-09 06:00:00"), "p1", 10.0),
        (Timestamp.valueOf("2019-06-09 06:05:00"), "p2", 20.0)
      )
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2019-06-09 06:10:00"), "p3", 5.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(dir).collect()
      assert(rows.length == 3)
      assert(rows.map(_.getAs[String]("payment_id")).sorted.toSeq == Seq("p1", "p2", "p3"))
    } finally q.stop()
  }
}
