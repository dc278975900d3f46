package graft.text

import graft.SparkSpec

/** Totality gate over the adversarial documents corpus (null / empty /
  * whitespace-only / single-char / multi-byte / control-char / 5000-token
  * texts, null source — [[graft.tools.ChaosProbe.chaosRows]]): every
  * documents-reading driver query must run to completion. The fixture
  * corpus contains none of these shapes, so the oracle gate cannot see a
  * UDF that NPEs on null text or an ANSI DIVIDE_BY_ZERO on an empty token
  * stream — a crawl-scale corpus contains all of them on day one. The
  * chaos probe originally caught 10 (four UDF NPEs, a null-encoder
  * violation in text_pack, five divide-by-zeros across the minhash family
  * / gopher rules / weighted sampling); this pins their fixes.
  */
class ChaosDocsSpec extends SparkSpec {

  private def assertTotal(dir: String, queries: Seq[String]): Unit = {
    // NO blanket clearCache per query: the session is JVM-shared, so a
    // whole-catalog clear would evict other suites' pinned state. A
    // query that THROWS mid-run, however, can leak its persist past the
    // finally-unpersist (r11 review) — detect it, report it as its own
    // failure, and clear so one regression doesn't cascade into every
    // later suite's cacheManager.isEmpty hygiene assertion.
    // a pre-existing entry is not attributable to any query here
    if (!spark.sharedState.cacheManager.isEmpty) spark.catalog.clearCache()
    val failures = queries.flatMap { name =>
      val r = scala.util.Try {
        graft.SparkEntry.queries(name)(spark, dir).collect().length
      }
      val leaked =
        if (spark.sharedState.cacheManager.isEmpty) None
        else {
          spark.catalog.clearCache()
          Some(s"$name: leaked cacheManager entries")
        }
      r.failed.toOption.map { e =>
        var root: Throwable = e
        while (root.getCause != null && root.getCause != root) root = root.getCause
        s"$name: ${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      } ++ leaked
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every documents-reading query is total on the chaos corpus") {
    assertTotal(
      graft.tools.ChaosProbe.buildChaosDir(spark, sf0001),
      graft.tools.ChaosProbe.docQueries)
  }

  test("every embeddings-reading query is total on the chaos vectors") {
    assertTotal(
      graft.tools.ChaosProbe.buildEmbChaosDir(spark, sf0001),
      graft.tools.ChaosProbe.embQueries)
  }

  test("every events-reading query is total on the chaos events") {
    assertTotal(
      graft.tools.ChaosProbe.buildEventChaosDir(spark, sf0001),
      graft.tools.ChaosProbe.eventQueries)
  }

  test("every relational query is total on the mutated TPC-H tables") {
    assertTotal(
      graft.tools.ChaosProbe.buildRelChaosDir(spark, sf0001),
      graft.tools.ChaosProbe.relQueries)
  }

  test("every streaming query is total on the chaos stream tables") {
    assertTotal(
      graft.tools.ChaosProbe.buildStreamChaosDir(spark, sf0001),
      graft.tools.ChaosProbe.streamQueries)
  }

  test("the zolo ETL surface is total on adversarial API payloads") {
    // malformed timestamps, non-numeric numeric strings, null/empty
    // nested arrays and structs, truncated JSON lines — shapes a live
    // REST endpoint returns that the bundled fixtures never show
    val dir = graft.tools.ChaosProbe.buildZoloChaosDir()
    val failures = graft.tools.ChaosProbe.zoloChecks(dir).flatMap { case (name, f) =>
      scala.util.Try(f(spark)).failed.toOption.map { e =>
        var root: Throwable = e
        while (root.getCause != null && root.getCause != root) root = root.getCause
        s"$name: ${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every streaming query is total on a zero-micro-batch stream") {
    // events/documents empty, probe ids absent: every query runs its
    // never-wrote-output path (ann-serve's missing hits dir, upsert's
    // never-created state table) — an empty ingest window is a steady
    // state of any landing zone, not a crash
    assertTotal(
      graft.tools.ChaosProbe.buildEmptyStreamDir(spark, sf0001),
      graft.tools.ChaosProbe.streamQueries)
  }
}
