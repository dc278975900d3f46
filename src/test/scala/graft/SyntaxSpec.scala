package graft

import graft.syntax._

/** `spreadAcrossCores` is for scan-level frames: its guard must reject
  * every logical node whose shuffle `.rdd` would execute eagerly under
  * AQE, and leave a plain scan free to spread. `callName` names are
  * unique per call and per process, and parse as identifiers.
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

  test("callName embeds this process's token and parses as a bare identifier") {
    val pid = ProcessHandle.current().pid()
    val a = callName("jb_orders")
    val b = callName("jb_orders")
    assert(a != b)
    assert(a.startsWith(s"jb_orders_p${pid}_"), a)
    assert(a.matches("[A-Za-z_][A-Za-z0-9_]*"), a)
    spark.range(3).createOrReplaceTempView(a)
    try assert(spark.sql(s"SELECT count(*) FROM $a").head().getLong(0) == 3L)
    finally spark.catalog.dropTempView(a)
  }
}
