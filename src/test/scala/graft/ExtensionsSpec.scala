package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions through `spark.sql.extensions`, the route for sessions
  * not built by `GraftSession.local` — a session built with
  * `spark.sql.extensions=graft.GraftExtensions` must expose the native
  * expressions in SQL and carry the TopK planner strategy. (Extensions
  * are read from the SparkContext's conf when a context is created, so
  * this spec stops the live context, whichever thread built it, and
  * builds a fresh one; later suites recreate theirs via getOrCreate.)
  */
class ExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions=graft.GraftExtensions wires functions and the TopK strategy") {
    checkExtensionsSession()
  }

  test("the extensions take effect when the shared session was built on another thread") {
    val helper = new Thread(() => { GraftSession.local(cores = 2, appName = "built-elsewhere"); () })
    helper.start()
    helper.join()
    SparkSession.clearActiveSession() // this thread holds no session of its own
    assert(org.apache.spark.GraftLiveContext.get.nonEmpty)
    checkExtensionsSession()
  }

  private def checkExtensionsSession(): Unit = {
    org.apache.spark.GraftLiveContext.get.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("extensions-spec")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = spark
        .sql("SELECT hamming64(7L, 1L) AS h, cosine64(array(3.0D, 0.0D), array(1.0D, 0.0D)) AS c")
        .collect()(0)
      assert(r.getInt(0) == 2)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
      // the full library surface rides the same injection list: every
      // registered name resolves through this extensions-built session
      val all = spark.sql(
        """SELECT token_count('a b c') AS tc, simhash64('a b c d') AS sh,
          |  size(minhash_sig('a b c d e')) AS mk, normalize_text('A  B') AS nt,
          |  lang_id('the cat sat on the mat with the dog and the bird') AS li,
          |  forecast_ses(array(1.0D, 2.0D, 3.0D)) AS f
          |""".stripMargin).collect()(0)
      assert(all.getInt(0) == 3)
      assert(all.getInt(2) == graft.dedup.Dedup.numPerms)
      assert(all.getString(3) == "a b")
      assert(!all.isNullAt(1) && !all.isNullAt(4) && !all.isNullAt(5))
      assert(
        spark.sessionState.planner.extraPlanningStrategies
          .contains(graft.plans.TopKStrategy),
        "TopKStrategy not injected by the extensions"
      )
      // completeness: EVERY builder-listed function must resolve in the
      // extensions-built session — a new expression added to builders is
      // covered here automatically, so the two faces can never diverge
      val reg = spark.sessionState.functionRegistry
      graft.functions.GraftFunctions.builders.foreach { case (name, _, _) =>
        assert(
          reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"$name not injected by GraftExtensions")
      }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
