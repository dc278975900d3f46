package graft.queries

import graft.SparkSpec

class AdvancedSpec extends SparkSpec {

  test("approx distinct within 5% of exact") {
    Advanced.aApproxDistinct(spark, sf0001).collect().foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact  = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
    }
  }

  test("e_anomalies keeps NULL-typed events as the oracle's PARTITION BY does, via a broadcast join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-anomalies").toString
    try {
      // two groups of 20 (|z| > 3 needs n >= 11): values 10..12 and one
      // planted outlier each, one group typed, one NULL-typed
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val rows = for {
        (tpe, base) <- Seq(("click", 0L), (null, 100L))
        i           <- 0 until 20
      } yield (base + i, ts, 1L, tpe, if (i == 7) 100.0 else 10.0 + i % 3)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      val df = Advanced.eAnomalies(spark, dir)
      val got = df.collect()
      assert(got.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
        Seq((7L, Some("click")), (107L, None)))
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      // the oracle's own SQL, replayed on the same rows
      graft.tables.Tables.events(spark, dir).createOrReplaceTempView("events")
      try {
        val oracle = spark.sql(graft.SparkEntry.oracleSql("e_anomalies")).collect()
        assert(got.map(_.toString).toSeq == oracle.map(_.toString).toSeq)
      } finally spark.catalog.dropTempView("events")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("sessionize: session bounds ordered, events conserved") {
    val rows = Advanced.wSessionize(spark, sf0001).collect()
    assert(rows.map(_.getLong(4)).sum == 1000) // all events assigned
    rows.foreach { r =>
      assert(!r.getTimestamp(2).after(r.getTimestamp(3))) // start <= end
    }
    // session ids are 1..n per user
    rows.groupBy(_.getLong(0)).values.foreach { ss =>
      val ids = ss.map(_.getLong(1)).sorted
      assert(ids.toSeq == (1L to ids.length))
    }
  }

  test("quantile sketch merges: bottomK(A ∪ B) == bottomK(bottomK(A) ∪ bottomK(B))") {
    import org.apache.spark.sql.functions._
    val hashed = graft.tables.Tables
      .lineitem(spark, sf0001)
      .select(
        col("l_extendedprice").as("v"),
        md5(concat_ws("|", col("l_orderkey"), col("l_linenumber")).cast("binary")).as("h")
      )
    // shard on an arbitrary predicate, sketch each shard, merge the states
    val a      = hashed.filter(col("h") < "8")
    val b      = hashed.filter(col("h") >= "8")
    val merged = Advanced.quantileSample(Advanced.quantileSample(a).union(Advanced.quantileSample(b)))
    val direct = Advanced.quantileSample(hashed)
    val key    = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("h").collect().map(r => (r.getDouble(0), r.getString(1))).toSeq
    assert(key(merged) == key(direct))
    assert(direct.count() == Advanced.sketchK)
  }

  test("CMS counters are linear (shard-mergeable) and estimates one-sided") {
    import org.apache.spark.sql.functions._
    val rows = Advanced.aCmsHeavy(spark, sf0001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"CMS under-counted: $r") // est >= exact
      assert(r.getInt(3) == 1)
    }
    // linearity: counters built on the union equal summed shard counters —
    // the merge a 100 TB run performs between executor-local sketches
    val ev = graft.tables.Tables.events(spark, sf0001).select(col("user_id"))
    def counters(df: org.apache.spark.sql.DataFrame) = df
      .select(
        col("user_id"),
        explode(array((0 until Advanced.cmsDepth).map(j =>
          struct(lit(j).as("j"), Advanced.cmsBucketPublic(j, col("user_id")).as("b"))): _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val aSide = ev.filter(col("user_id") % 2 === 0)
    val bSide = ev.filter(col("user_id") % 2 =!= 0)
    val summed = counters(aSide)
      .union(counters(bSide))
      .groupBy("j", "b")
      .agg(sum("c").as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = counters(ev)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(summed == whole)
  }

  test("a_histogram: buckets cover every order exactly once, edges clamp") {
    val rows = Advanced.aHistogram(spark, sf0001).collect()
    val buckets = rows.map(_.getInt(0))
    assert(buckets.forall(b => b >= 0 && b <= 19), s"bucket out of range: ${buckets.mkString(",")}")
    assert(buckets.distinct.length == buckets.length)
    val total = graft.tables.Tables.orders(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total, "histogram loses or double-counts orders")
  }

  test("a_abc_class: Pareto cuts respected and all classes populated") {
    val rows = Advanced.aAbcClass(spark, sf0001).collect()
      .map(r => (r.getDouble(2), r.getString(3)))
    // cum_share is rounded to 6 dp AFTER classification — compare with slack
    assert(rows.collect { case (s, "A") => s }.forall(_ <= 0.8 + 1e-6))
    assert(rows.collect { case (s, "B") => s }.forall(s => s > 0.8 - 1e-6 && s <= 0.95 + 1e-6))
    assert(rows.collect { case (s, "C") => s }.forall(_ > 0.95 - 1e-6))
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq("A", "B", "C"))
  }

  test("e_user_paths: outgoing transition probabilities sum to 1 per state") {
    import org.apache.spark.sql.functions._
    val bad = Advanced.eUserPaths(spark, sf0001)
      .groupBy(col("from_state")).agg(sum(col("p")).as("sp"))
      .filter(abs(col("sp") - 1.0) > lit(1e-4))
      .count()
    assert(bad == 0, s"$bad states whose transition row doesn't normalize")
  }

  test("a_weighted_median: splits the weight mass — neither side exceeds half") {
    import org.apache.spark.sql.functions._
    val med = Advanced.aWeightedMedian(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val li = graft.tables.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice").cast(dec).as("w"))
    med.foreach { case (flag, m) =>
      val below = li.filter(col("l_returnflag") === flag && col("l_quantity") < m)
        .agg(sum(col("w"))).first().getDecimal(0)
      val total = li.filter(col("l_returnflag") === flag)
        .agg(sum(col("w"))).first().getDecimal(0)
      // strictly-below mass < half; mass at-or-below >= half (median def)
      assert(below.doubleValue() < total.doubleValue() / 2, s"$flag: below-mass too large")
      val atOrBelow = li.filter(col("l_returnflag") === flag && col("l_quantity") <= m)
        .agg(sum(col("w"))).first().getDecimal(0)
      assert(atOrBelow.doubleValue() * 2 >= total.doubleValue(), s"$flag: median too small")
    }
  }

  test("w_range_frame: frame counts self and only trailing-7d same-user events") {
    import org.apache.spark.sql.functions._
    val rows = Advanced.wRangeFrame(spark, sf0001)
    // every event counts at least itself
    assert(rows.filter(col("n_prior_7d") < 1).count() == 0)
    // spot-check one user against a direct self-join computation
    val ev = graft.tables.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val u = ev.first().getLong(1)
    val mine = ev.filter(col("user_id") === u).collect().map(r => (r.getLong(0), r.getLong(2)))
    val expected = mine.map { case (id, t) =>
      id -> mine.count { case (_, t2) => t2 <= t && t2 >= t - 7L * 24 * 3600 * 1000000 }.toLong
    }.toMap
    val got = rows.filter(col("user_id") === u).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("fiscal 4-4-5: interior periods carry exactly 4/4/5 weeks by position in quarter") {
    val rows = Relational.tFiscal445(spark, sf0001).collect()
      .map(r => ((r.getInt(0), r.getInt(2)), r.getLong(3))) // (fy, fp) -> n_weeks
    assert(rows.nonEmpty)
    val keys = rows.map(_._1)
    val (first, last) = (keys.min, keys.max)
    rows.filterNot { case (k, _) => k == first || k == last }.foreach { case ((fy, fp), n) =>
      val want = if (fp % 3 == 0) 5L else 4L
      assert(n == want, s"FY$fy P$fp has $n weeks, want $want")
    }
  }

  test("winsorize: clip counts near the 1% tails, clamped mean inside the cut interval") {
    import org.apache.spark.sql.functions._
    val rows = Advanced.aWinsorize(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val sizes = graft.tables.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (flag, p01, p99) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      val (nLo, nHi)       = (r.getLong(3), r.getLong(4))
      val mw               = r.getDouble(6)
      val n                = sizes(flag)
      assert(p01 <= p99)
      assert(nLo <= (0.011 * n).toLong + 1, s"$flag clips too much low: $nLo of $n")
      assert(nHi <= (0.011 * n).toLong + 1, s"$flag clips too much high: $nHi of $n")
      assert(mw >= p01 && mw <= p99, s"$flag clamped mean $mw outside [$p01, $p99]")
    }
  }

  test("basket rules: lift reproduces from confidence and the consequent base rate") {
    val nOrders = graft.tables.Tables.lineitem(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("l_orderkey")).distinct().count()
    val item = graft.tables.Tables.lineitem(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey")).distinct()
      .groupBy("l_partkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Advanced.eBasketRules(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p2, cnt, sup, conf, lift) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(cnt >= Advanced.basketMinSupport)
      assert(sup > 0 && conf > 0 && conf <= 1.0 + 1e-12)
      val expLift = conf / (item(p2).toDouble / nOrders)
      assert(math.abs(lift - expLift) < 1e-9 * expLift, s"lift $lift != $expLift")
    }
  }

  test("session_window TVF agrees with the manual gaps-and-islands sessionization") {
    import org.apache.spark.sql.functions._
    val tvf = Advanced.wSessionTvf(spark, sf0001)
      .select(col("user_id"), col("session_start"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).sorted
    val manual = Advanced.wSessionize(spark, sf0001)
      .select(col("user_id"), col("session_start"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).sorted
    assert(tvf.toSeq == manual.toSeq,
      s"native session_window diverges from the manual construction (${tvf.length} vs ${manual.length})")
  }

  test("bitmap distinct: per-flag counts and the OR-merged total equal exact countDistinct") {
    import org.apache.spark.sql.functions._
    val rows = Advanced.aBitmapDistinct(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val li = graft.tables.Tables.lineitem(spark, sf0001)
    val exactAll = li.agg(countDistinct(col("l_orderkey"))).head().getLong(0)
    assert(rows("__all__") == exactAll)
    li.groupBy(col("l_returnflag")).agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().foreach(r => assert(rows(r.getString(0)) == r.getLong(1), r.getString(0)))
  }

  test("dp counts: noise is nonzero, bounded by the 48-bit Laplace tail, and reproducible") {
    val a = Advanced.aDpCounts(spark, sf0001).collect()
    val b = Advanced.aDpCounts(spark, sf0001).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "DP release is not reproducible")
    a.foreach { r =>
      val noise = r.getDouble(2)
      // Laplace(b=1/ε) from 48 uniform bits cannot exceed b·ln(2^49)
      assert(noise != 0.0 && math.abs(noise) < (1.0 / Advanced.dpEps) * 49 * math.log(2.0))
      assert(r.getDouble(3) == BigDecimal(r.getLong(1) + noise).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("a_ddsketch_quantiles: every estimate within α relative error of the exact quantile") {
    import org.apache.spark.sql.functions._
    val est = Advanced.aDdsketch(spark, sf0001).collect()
    assert(est.nonEmpty)
    val li = graft.tables.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
    est.foreach { r =>
      val flag = r.getString(0); val q = r.getDouble(1); val e = r.getDouble(3)
      // exact type-1 quantile at the same ⌊q(n−1)⌋+1 rank rule
      val vs = li.filter(col("l_returnflag") === flag).collect().map(_.getDouble(1)).sorted
      val exact = vs((q * (vs.length - 1)).floor.toInt)
      val rel = math.abs(e - exact) / exact
      assert(rel <= Advanced.ddAlpha + 1e-9, s"$flag q=$q est=$e exact=$exact rel=$rel")
    }
  }
}
