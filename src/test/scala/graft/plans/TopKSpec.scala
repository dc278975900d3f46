package graft.plans

import graft.{GraftSession, SparkSpec}
import graft.sim.Similarity
import org.apache.spark.sql.functions._

/** The custom TopKPerKey physical operator: row-identical to the
  * window-based formulation, planned through TopKPerKeyExec.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("per-key top-k equals window row_number formulation") {
    val native = Similarity.bruteForceTopKNative(spark, sf0001, k = 5).collect()
    val window = Similarity.bruteForceTopK(spark, sf0001, k = 5).collect()
    assert(native.map(_.toSeq).toSeq == window.map(_.toSeq).toSeq)
  }

  test("plan contains the custom exec node") {
    val df = Similarity.bruteForceTopKNative(spark, sf0001, k = 5)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }

  test("TopKRewrite: SQL window-rank pattern plans through the heap operator, rows unchanged") {
    graft.tables.Tables.orders(spark, sf0001).createOrReplaceTempView("tk_orders")
    val sql =
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM tk_orders)
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin
    def run() = spark.sql(sql)
    // off (default): plain window plan
    val off = run(); val offRows = off.collect()
    assert(!off.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    // on: the heap operator plans below the window, rows identical
    GraftSession.scoped(spark, TopKRewrite.confKey -> "true") { rewriting =>
      val on = rewriting.sql(sql); val onRows = on.collect()
      val plan = on.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey") && plan.contains("TopKPerKeyPartial"), plan)
      assert(onRows.map(_.toSeq).toSeq == offRows.map(_.toSeq).toSeq)
    }
    // the caller's session never saw the rewrite conf
    assert(!run().queryExecution.executedPlan.toString.contains("TopKPerKey"))
    spark.catalog.dropTempView("tk_orders")
  }

  test("TopKRewrite: conjunctive filter (rn <= k AND pred) rewrites, residual pred kept") {
    // the common SQL shape — non-key predicates can't be pushed below the
    // Window, so they ride the same Filter as the rank bound (r11 review)
    graft.tables.Tables.orders(spark, sf0001).createOrReplaceTempView("tk_orders3")
    val sql =
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM tk_orders3)
        |WHERE rn <= 3 AND rn <= 2 AND o_totalprice > 1000.0
        |ORDER BY o_custkey, rn""".stripMargin
    val off = spark.sql(sql).collect()
    GraftSession.scoped(spark, TopKRewrite.confKey -> "true") { rewriting =>
      val on   = rewriting.sql(sql)
      val rows = on.collect()
      val plan = on.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), plan)
      // tightest bound wins: the heap is k=2, not 3
      assert(plan.contains("TopKPerKey 2") || plan.toLowerCase.contains("topkperkey, 2") ||
        on.queryExecution.optimizedPlan.toString.contains("TopKPerKey 2") ||
        on.queryExecution.optimizedPlan.toString.contains("topkperkey(2") ||
        on.queryExecution.optimizedPlan.collect {
          case t: TopKPerKey => t.k }.headOption.contains(2))
      assert(rows.map(_.toSeq).toSeq == off.map(_.toSeq).toSeq)
      // disjunction must NOT rewrite: an OR branch can keep rank > k rows
      val orPlan = rewriting.sql(sql.replace("rn <= 3 AND rn <= 2 AND", "rn <= 2 OR"))
        .queryExecution.executedPlan.toString
      assert(!orPlan.contains("TopKPerKey"), orPlan)
    }
    spark.catalog.dropTempView("tk_orders3")
  }

  test("perKey groups 0.0 and -0.0 float keys as one key, like the window") {
    val df = Seq((0.0, 1L, 5.0), (-0.0, 2L, 4.0), (0.0, 3L, 3.0), (1.5, 4L, 2.0))
      .toDF("bucket", "id", "score")
    val got = TopK.perKey(df, Seq(col("bucket")), Seq(col("score").desc, col("id").asc), 2)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._2)
    // one logical key for ±0.0 -> its top-2 by score is ids 1,2; key 1.5 keeps id 4
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 4L), got.toSeq)
  }

  test("perKey fails fast on empty keys and non-positive k") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq.empty, Seq(col("b").desc), 2)
    }
    intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq(col("a")), Seq(col("b").desc), 0)
    }
  }

  test("perKey on a session without GraftExtensions fails early, naming both routes") {
    // a session over the same context, built without the extension;
    // create() also makes it the default, so the suite's session is restored
    val bare = org.apache.spark.sql.SparkSession.builder().create()
    try {
      val e = intercept[IllegalArgumentException] {
        TopK.perKey(bare.range(3).toDF("a"), Seq(col("a")), Seq(col("a").desc), 1)
      }
      assert(e.getMessage.contains("GraftSession.local"), e.getMessage)
      assert(e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"), e.getMessage)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("TopKRewrite: non-matching shapes are left alone") {
    graft.tables.Tables.orders(spark, sf0001).createOrReplaceTempView("tk_orders2")
    GraftSession.scoped(spark, TopKRewrite.confKey -> "true") { rewriting =>
      // rank() is not row_number; no partition spec; bound not a literal —
      // none may rewrite
      val plans = Seq(
        """SELECT * FROM (SELECT o_orderkey,
          |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS rn
          |  FROM tk_orders2) WHERE rn <= 2""".stripMargin,
        """SELECT * FROM (SELECT o_orderkey,
          |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
          |  FROM tk_orders2) WHERE rn <= 2""".stripMargin
      ).map(q => rewriting.sql(q).queryExecution.executedPlan.toString)
      plans.foreach(p => assert(!p.contains("TopKPerKey"), p))
    }
    spark.catalog.dropTempView("tk_orders2")
  }

  test("map-side partial trim runs below the exchange, exact stage above") {
    val df = Similarity.bruteForceTopKNative(spark, sf0001, k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // partial (no required distribution) must appear, and the exchange
    // must sit BETWEEN the exact stage and the partial stage: shuffle
    // volume is ≤ k rows per (mapper, key), not the full candidate set
    assert(plan.contains("TopKPerKeyPartial"))
    val iExact   = plan.indexOf("TopKPerKey ")
    val iPartial = plan.indexOf("TopKPerKeyPartial")
    val iExch    = plan.indexOf("Exchange hashpartitioning", iExact)
    assert(iExact >= 0 && iExch > iExact && iPartial > iExch,
      s"expected exact -> exchange -> partial order in:\n$plan")
  }

  test("partial trim measurably cuts shuffle volume: metric <= k * keys * mappers") {
    val nRows = 100000
    val nKeys = 10
    val k     = 5
    val df = spark.range(nRows).repartition(8)
      .select(($"id" % nKeys).as("key"), $"id", rand(42).as("score"))
    val out = TopK.perKey(df, Seq(col("key")), Seq(col("score").desc, col("id").asc), k = k)
    assert(out.collect().length == nKeys * k)
    // TreeNode.collect stops at QueryStageExec (a leaf) when AQE has
    // re-planned — descend through adaptive wrappers explicitly, or the
    // partial node below the exchange is invisible to the traversal
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def execs(p: SparkPlan): Seq[TopKPerKeyExec] = {
      val here = p match { case t: TopKPerKeyExec => Seq(t); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      here ++ kids.flatMap(execs)
    }
    val all     = execs(out.queryExecution.executedPlan)
    val partial = all.find(_.partial).get
    val exact   = all.find(!_.partial).get
    val shipped = partial.metrics("numOutputRows").value
    // each of the 8 mappers ships at most k rows per key it saw — ~400
    // rows cross the exchange instead of the 100k candidates
    assert(shipped <= (k * nKeys * 8).toLong, s"partial shipped $shipped rows")
    assert(shipped < nRows / 100, s"no real trim: $shipped of $nRows")
    assert(exact.metrics("numOutputRows").value == (nKeys * k).toLong)
  }

  test("heap boundary: k larger than group size returns whole group, ties break by id") {
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.9), ("a", 3L, 0.5),
      ("b", 4L, 0.1)
    ).toDF("key", "id", "score")
    val out = TopK
      .perKey(df, Seq(col("key")), Seq(col("score").desc, col("id").asc), k = 5)
      .orderBy("key", "id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L)))
    val top2 = TopK
      .perKey(df, Seq(col("key")), Seq(col("score").desc, col("id").asc), k = 2)
      .orderBy("key", "id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top2.toSeq == Seq(("a", 1L), ("a", 2L), ("b", 4L))) // tie at 0.9 keeps lower id
  }
}
