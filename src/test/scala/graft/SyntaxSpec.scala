package graft

import graft.syntax._

/** `spreadAcrossCores` is for scan-level frames: its guard must reject
  * every logical node whose shuffle `.rdd` would execute eagerly under
  * AQE, and leave a plain scan free to spread.
  */
class SyntaxSpec extends SparkSpec {

  private lazy val scan = {
    val p = java.nio.file.Files.createTempDirectory("graft-spread").toString + "/t"
    spark.range(100).toDF("id").coalesce(1).write.parquet(p)
    spark.read.parquet(p)
  }

  test("spreadAcrossCores rejects dropDuplicates, intersect and except lineages") {
    for ((name, df) <- Seq(
        "dropDuplicates" -> scan.dropDuplicates(),
        "intersect"      -> scan.intersect(scan.filter("id < 10")),
        "except"         -> scan.except(scan.filter("id < 10")))) {
      val e = intercept[IllegalArgumentException](df.spreadAcrossCores())
      assert(e.getMessage.contains("scan-level frames only"), s"$name: ${e.getMessage}")
    }
  }

  test("spreadAcrossCores spreads a single-split scan over every core") {
    assert(scan.rdd.getNumPartitions == 1)
    assert(scan.spreadAcrossCores().rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }
}
