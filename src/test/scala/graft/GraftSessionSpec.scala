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
        "spark.sql.artifact.isolation.enabled" -> "false",
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

  // forked tests run with cwd = the project base (FunctionCoverageSpec);
  // keys are paths relative to src/main/scala
  private lazy val mainSources: Seq[(String, String)] = {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
      .toSeq
  }

  test("src/main has exactly one SparkSession builder, in GraftSession.scala") {
    val builder = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val sites = mainSources.flatMap { case (f, src) => builder.findAllIn(src).map(_ => f) }
    assert(sites == Seq("graft/GraftSession.scala"), s"builder call sites: $sites")
  }

  test("src/main has one registration route: the factory's GraftExtensions") {
    // functions and planner rules reach a session only through the
    // extension; a second route would let a query depend on which
    // session happened to run it
    val secondRoutes = Seq(
      """createOrReplaceTempFunction""".r,
      """GraftFunctions\s*\.\s*register\b""".r,
      """TopK\s*\.\s*install\b""".r,
      """experimental\s*\.\s*extra(Strategies|Optimizations)\s*[+:]*=(?!=)""".r)
    val sites = for {
      (f, src) <- mainSources
      re       <- secondRoutes
      m        <- re.findAllIn(src)
    } yield s"$f: $m"
    assert(sites.isEmpty, s"second registration routes: $sites")
    val factory = mainSources.collectFirst { case ("graft/GraftSession.scala", src) => src }.get
    assert(factory.contains(".withExtensions(new GraftExtensions)"))
  }

  test("src/main registers SparkListeners only in graft/obs") {
    // job attribution has one home, graft.obs.QueryMeter; a hand-made
    // listener elsewhere is a second meter with its own settle rules
    val sites = mainSources.collect {
      case (f, src) if src.contains("addSparkListener") && !f.startsWith("graft/obs/") => f
    }
    assert(sites.isEmpty, s"addSparkListener outside graft/obs: $sites")
    assert(mainSources.exists { case (f, src) =>
      f.startsWith("graft/obs/") && src.contains("addSparkListener") })
  }

  test("src/main starts bounded streams and memory sinks only in StreamQueries' runner") {
    // per-call sink names, checkpoint cleanup and the view drop live in
    // one place; no other site (a Stress corpus builder, say) needs either
    val runnerOnly = Seq(
      """format\s*\(\s*"memory"\s*\)""".r,
      """Trigger\s*\.\s*AvailableNow\s*\(""".r)
    val runner = "graft/streaming/StreamQueries.scala"
    runnerOnly.foreach { re =>
      val sites = mainSources.flatMap { case (f, src) => re.findAllIn(src).map(_ => f) }
      assert(sites == Seq(runner), s"$re sites: $sites")
    }
    val src = mainSources.collectFirst { case (`runner`, s) => s }.get
    assert("""\.start\s*\(\s*\)""".r.findAllIn(src).size == 1, "a stream started outside runBounded")
    assert(src.contains("def runBounded") && !src.contains("runAvailableNow"))
  }

  test("src/main speaks HTTP only in the REST source modules") {
    // one extraction route: the wire contract (RestSource) and the DSv2
    // source that plans it (ZoloRestSource); a fetch anywhere else is a
    // second route with its own pagination and retry story
    val http    = """Http\s*\.\s*(get|newClient)\s*\(""".r
    val allowed = Set("graft/sources/Http.scala", "graft/sources/RestSource.scala",
      "graft/sources/ZoloRestSource.scala")
    val sites = mainSources.collect { case (f, src) if http.findFirstIn(src).isDefined => f }.toSet
    assert(sites.subsetOf(allowed), s"HTTP call sites outside the REST source: ${sites -- allowed}")
    assert(sites.contains("graft/sources/ZoloRestSource.scala"))
  }

  test("src/main registers no temp view under a literal name") {
    // a fixed view name is session-global state: two callers on one
    // session would read each other's frames (graft.syntax.callName
    // gives a per-call name)
    val literal = """create(OrReplace)?(Global)?TempView\s*\(\s*"""".r
    val sites = mainSources.flatMap { case (f, src) => literal.findAllIn(src).map(m => s"$f: $m") }
    assert(sites.isEmpty, s"literal temp view names: $sites")
  }

  /** A file's source without its comment lines (a scaladoc example is not a call). */
  private def code(src: String): String =
    src.linesIterator.filterNot { l =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }.mkString("\n")

  private def sitesOf(re: scala.util.matching.Regex): Set[String] =
    mainSources.collect { case (f, src) if re.findFirstIn(code(src)).isDefined => f }.toSet

  test("src/main never unsets session conf") {
    // an unset is the tail of a save-and-restore block on a shared
    // session; code scopes its conf on a clone (GraftSession.scoped) instead
    val sites = sitesOf("""conf\s*\.\s*unset\s*\(""".r)
    assert(sites.isEmpty, s"conf.unset sites: $sites")
  }

  test("src/main never calls newSession()") {
    // one session per main (Verify's workers share it); a newSession()
    // starts from the context conf, not its parent's runtime conf, so
    // it would run a caller on a conf set no other entry point has
    val sites = sitesOf("""\.\s*newSession\s*\(""".r)
    assert(sites.isEmpty, s"newSession() call sites: $sites")
  }

  test("src/main writes session conf only at its allow-listed sites") {
    // a conf write on a shared session is seen by every query planning on
    // it at that moment; each site below owns its session or writes a
    // clone. One entry per call site, so a second write in an allowed
    // file fails too.
    val allowed = Seq(
      "graft/GraftSession.scala" -> "the factory sets the env's extra confs on the session it builds",
      "graft/GraftSession.scala" -> "scoped sets its overrides on its own clone",
      "graft/etl/ZoloPipeline.scala" -> "catalog registration: a v2 catalog is bound by its class conf",
      "graft/etl/ZoloPipeline.scala" -> "catalog registration: and by its root conf",
      "graft/tools/Stress.scala" -> "a dev tool: --shuffle-parts on its own session",
      "graft/tools/Stress.scala" -> "a dev tool: --conf on its own session")
    val set = """conf\s*\.\s*set\s*\(""".r
    val sites = mainSources.flatMap { case (f, src) => set.findAllIn(code(src)).map(_ => f) }
    assert(sites.sorted == allowed.map(_._1).sorted, s"conf.set call sites: ${sites.sorted}")
  }

  test("Verify.main rejects a wrong argument count before building a session") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](Verify.main(Array("x")))
    assert(e.getMessage.contains("usage: Verify"))
    assert(SparkSession.getDefaultSession == before)
  }
}
