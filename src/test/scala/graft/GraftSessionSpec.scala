package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** GraftSession.local is the engine's one session factory: every entry
  * point runs on the conf set it builds, and no other main-path file
  * builds a session of its own.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.local carries the measured conf set") {
    // a fresh context, so static confs come from this builder and not
    // from an earlier suite's session (same pattern as ExtensionsSpec);
    // stopped afterwards, later suites recreate theirs via getOrCreate
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.local(2, "graft-session-spec")
    try {
      val expected = Map(
        "spark.app.name" -> "graft-session-spec",
        "spark.sql.shuffle.partitions" -> "2",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.shuffle.sort.bypassMergeThreshold" -> "1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64kb",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.warehouse.dir" -> "file:/tmp/graft-warehouse")
      expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("src/main has exactly one SparkSession builder, in GraftSession.scala") {
    // forked tests run with cwd = the project base (FunctionCoverageSpec)
    val base = Paths.get(sys.props("user.dir"), "src/main/scala")
    val builder = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val sites = Files.walk(base).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
        builder.findAllIn(src).map(_ => p.getFileName.toString)
      }.toSeq
    assert(sites == Seq("GraftSession.scala"), s"builder call sites: $sites")
  }

  test("Verify.main rejects a wrong argument count before building a session") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](Verify.main(Array("x")))
    assert(e.getMessage.contains("usage: Verify"))
    assert(SparkSession.getDefaultSession == before)
  }
}
