package graft.sources

import graft.SparkSpec
import graft.etl.{SquareEtl, Warehouse, ZoloPipeline}
import org.apache.spark.sql.functions.col

/** The reference's ACTUAL operating loop, end-to-end over the wire:
  * read watermark → extract [start, end) from the API → transform →
  * effectively-once append → advance watermark (`square_ETL.py:17-56`'s
  * config.yml round-trip, re-expressed as warehouse state; the window is
  * begin-inclusive / end-exclusive on both server and client, so
  * consecutive windows are gap- and overlap-free). Two incremental runs
  * must land exactly the full corpus, and a crash replay of a window
  * (append succeeded, watermark write lost) must not duplicate a single
  * row.
  */
class RestIngestSpec extends SparkSpec {

  // one window = one sequential batch-token chain, then the file ETL's
  // transform stack
  private def extractWindow(srv: FixtureApiServer, begin: String, end: String) = {
    val raw = RestQueries.squareDsv2Records(
      spark, s"${srv.base}/v1/L/payments", "t", begin, end, nSlices = 1)
    SquareEtl.headerTable(SquareEtl.withMarket(SquareEtl.details(raw)))
  }

  test("watermarked incremental HTTP ingest: two windows land the full corpus once") {
    val srv = FixtureApiServer.squareV1(
      s"${ZoloPipeline.fixturesDir}/square_payments.json",
      locationId = "L", token = "t", pageSize = 3)
    val root = java.nio.file.Files.createTempDirectory("graft-rest-ingest").toString
    val (dataPath, wmPath) = (s"$root/square_trans", s"$root/watermarks")
    try {
      val epoch = "2019-01-01T00:00:00Z"
      val split = "2019-06-09T00:00:00Z"
      val now   = "2020-01-01T00:00:00Z"

      // run 1: no watermark yet → extract from epoch
      val start1 = Warehouse.readWatermark(spark, wmPath, "square").map(_.toInstant.toString).getOrElse(epoch)
      assert(start1 == epoch)
      val b1 = extractWindow(srv, start1, split)
      Warehouse.ingestBatch(spark, b1, dataPath, "payment_id", wmPath, "square",
        java.sql.Timestamp.from(java.time.Instant.parse(split)))
      val afterRun1 = spark.read.parquet(dataPath).count()
      assert(afterRun1 > 0 && afterRun1 < 8, s"window 1 should be a strict subset, got $afterRun1")

      // run 2: resumes from the stored watermark, lands the remainder
      val start2 = Warehouse.readWatermark(spark, wmPath, "square").get.toInstant.toString
      assert(start2 == split)
      val b2 = extractWindow(srv, start2, now)
      Warehouse.ingestBatch(spark, b2, dataPath, "payment_id", wmPath, "square",
        java.sql.Timestamp.from(java.time.Instant.parse(now)))

      // the two windows together equal the one-shot file ETL, no dups
      val viaHttp = spark.read.parquet(dataPath)
        .orderBy("payment_id").collect().map(_.toSeq).toSeq
      val viaFile = SquareEtl
        .run(spark, s"${ZoloPipeline.fixturesDir}/square_payments.json")._1
        .orderBy("payment_id").collect().map(_.toSeq).toSeq
      assert(viaHttp == viaFile)

      // crash replay: window 2's append ran but its watermark write was
      // lost → the pipeline re-extracts the same window; the null-safe
      // anti-join must drop every already-landed key
      val replay = extractWindow(srv, split, now)
      Warehouse.appendDedup(spark, replay, dataPath, "payment_id")
      assert(spark.read.parquet(dataPath).count() == 8)
      assert(
        spark.read.parquet(dataPath).groupBy(col("payment_id")).count()
          .filter(col("count") > 1).count() == 0)
    } finally {
      srv.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
