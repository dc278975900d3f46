package graft.sim

import graft.SparkSpec

/** IVF vs brute-force recall, and basic top-k invariants. */
class SimilaritySpec extends SparkSpec {

  lazy val bf  = Similarity.bruteForceTopK(spark, sf0001, k = 5).collect()
  lazy val ivf = Similarity.ivfTopK(spark, sf0001, k = 5, nCells = 16, nprobe = 4).collect()

  test("brute force: 10 probes x 5 neighbors, ranks 1..5, sims sorted") {
    assert(bf.length == 50)
    val byProbe = bf.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    byProbe.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      val sims = sorted.map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("no probe returns itself") {
    assert(bf.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("IVF recall@5 against brute force is nontrivial (> 0.4)") {
    val bfSet  = bf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfSet = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bfSet & ivfSet).size.toDouble / bfSet.size
    // random 64-d embeddings are a worst case for coarse quantization;
    // the invariant worth locking is "the probe path returns genuine
    // high-cosine neighbors", measured as recall well above chance
    // (chance ≈ k/n = 5/500 = 1%).
    assert(recall > 0.4, s"recall=$recall")
  }

  test("ann_recall_audit equals the set intersection of its two faces") {
    val audit = Similarity.recallAudit(spark, sf0001, k = 5).collect()
    assert(audit.length == 10)
    val bfByProbe  = bf.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    val ivfByProbe = ivf.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    audit.foreach { r =>
      val probe = r.getLong(0)
      val expect = (bfByProbe(probe) & ivfByProbe.getOrElse(probe, Set.empty)).size
      assert(r.getInt(1) == expect, s"probe $probe: hits ${r.getInt(1)} != $expect")
      assert(r.getDouble(2) == expect / 5.0)
    }
  }

  test("int8 quantization: codes in range, dequant error bounded by scale/2") {
    import org.apache.spark.sql.functions._
    val q = graft.tables.Tables
      .embeddings(spark, sf0001)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(
        col("vec_id"),
        col("v"),
        array_min(col("v")).as("v_min"),
        ((array_max(col("v")) - array_min(col("v"))) / 255.0).as("scale")
      )
      .limit(50)
      .collect()
    q.foreach { r =>
      val v = r.getSeq[Double](1)
      val (vMin, scale) = (r.getDouble(2), r.getDouble(3))
      v.foreach { x =>
        val code = math.floor((x - vMin) / scale + 0.5).toInt
        assert(code >= 0 && code <= 255)
        val dequant = vMin + code * scale
        assert(math.abs(dequant - x) <= scale / 2 + 1e-12)
      }
    }
  }

  test("IVF similarities are a subset-maximum: never exceed brute-force top1") {
    val bfTop = bf.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getDouble(2)).toMap
    ivf.foreach { r => assert(r.getDouble(2) <= bfTop(r.getLong(0)) + 1e-9) }
  }

  test("SRP-LSH: nontrivial recall vs brute force, candidates pruned below full scan") {
    val srp = Similarity.srpTopK(spark, sf0001, k = 5).collect()
    val bfSet  = bf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val srpSet = srp.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bfSet & srpSet).size.toDouble / bfSet.size
    info(f"SRP recall@5 = $recall%.2f")
    assert(recall > 0.3, s"recall $recall")
    // subset-maximum: bucketed candidates can never beat the exact top-1
    val bfTop = bf.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getDouble(2)).toMap
    srp.foreach { r => assert(r.getDouble(2) <= bfTop(r.getLong(0)) + 1e-9) }
  }

  test("materialized IVF index: probe read PRUNES to nprobe cell partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    // iters must match ivfTopK's training (3) so centroids — and thus
    // probed cells — agree for the equivalence assert below
    val cents = Similarity.writeIvfIndex(spark, sf0001, dir, nCells = 16, iters = 3)
    // layout: one directory per cell
    val cellDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell_id="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 16)
    // probe vec 0 searches 4 cells → the scan plans PartitionFilters on
    // cell_id and PartitionCount ≤ nprobe (the 100 TB win: nprobe dirs
    // read instead of the corpus)
    val probe = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" === 0L).collect()(0)
      .getSeq[Float](1).map(_.toDouble).toArray
    val top = Similarity.ivfProbeIndex(spark, dir, cents, probe, probeId = 0L, k = 5, nprobe = 4)
    val scan = top.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell_id"), scan)
    assert(top.count() == 5)
    // pruned search must agree with the unpartitioned IVF path for the
    // same probe (same cells, same ordering semantics)
    val full = ivf.filter(_.getLong(0) == 0L).map(_.getLong(1)).toSet
    val got  = top.collect().map(_.getLong(1)).toSet
    assert(got == full, s"pruned-index neighbors $got != in-memory IVF $full")
  }

  test("batched index probing: pruned read per batch; full width equals brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir   = java.nio.file.Files.createTempDirectory("graft-ivf-batch").toString
    val cents = Similarity.writeIvfIndex(spark, sf0001, dir, nCells = 16, iters = 3)
    val e = graft.tables.Tables.embeddings(spark, sf0001)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val probes = e.filter($"vec_id" < 10).select($"vec_id".as("probe_id"), $"v".as("pv"))
    // narrow batch (1 probe × 2 cells) must plan PartitionFilters on
    // cell_id — the pruned read is the point of the materialized index
    val narrow = Similarity.ivfProbeIndexBatch(
      spark, dir, cents, probes.filter($"probe_id" === 0L), k = 5, nprobe = 2)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"), plan)
    assert(narrow.count() == 5)
    // full-width batch covers every cell ⇒ result is EXACTLY brute force
    // (each neighbor lives in one cell), row for row including ranks
    val full = Similarity.ivfProbeIndexBatch(spark, dir, cents, probes, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val bfRows = bf.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(full.toSeq == bfRows.toSeq)
    // the serving-batch contract is enforced, not prose: a batch over the
    // cap must fail fast BEFORE the driver-side cell collect (r3 verdict)
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfProbeIndexBatch(
        spark, dir, cents, probes, k = 5, nprobe = 2, maxBatch = 4)
    }
    assert(err.getMessage.contains("serving-batch cap"))
  }

  test("IVF append: frozen-centroid append covers the corpus, stays probe-exact, re-invocation safe") {
    val n = graft.tables.Tables.embeddings(spark, sf0001).count()
    def run() = Similarity.ivfIndexAppendTopK(spark, sf0001, k = 5, nCells = 16)
    val out1 = run().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val bfRows = bf.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out1.toSeq == bfRows.toSeq)
    // the appended index holds every vector exactly once
    val dir = Similarity.scratchDir("append", sf0001)
    assert(spark.read.parquet(dir).count() == n)
    // second invocation must reset the directory, not double it
    val out2 = run().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out2.toSeq == bfRows.toSeq)
    assert(spark.read.parquet(dir).count() == n)
  }

  test("kmeans elbow: inertia decreases monotonically in k and covers every vector") {
    val dump = java.nio.file.Files.createTempDirectory("graft-elbow").toString
    val rows = Similarity.kmeansElbow(spark, sf0001, Some(s"$dump/cents"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Similarity.elbowKs)
    val n = graft.tables.Tables.embeddings(spark, sf0001).count()
    rows.foreach { case (_, _, cnt) => assert(cnt == n) }
    val inertias = rows.sortBy(_._1).map(_._2)
    assert(inertias.toSeq == inertias.sorted(Ordering[Double].reverse).toSeq,
      s"inertia not monotone in k: ${inertias.toSeq}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dump))
  }

  test("semdedup: planted near-dup group keeps exactly the least-central member") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    // ids 0..3 are orthogonal axes (they become the k-means seeds, so the
    // 4 cells spread); ids 10..12 are tiny rotations of axis 0 → a
    // near-dup group with vec 0 (pairwise cos ≈ 1 >> 0.4), all landing in
    // cell 0 — the within-cell pair graph must collapse them
    val dim = 8
    def unit(axis: Int, eps: Double): Array[Float] = {
      val v = new Array[Double](dim)
      v(axis) = 1.0; v((axis + 1) % dim) += eps
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0L to 3L).map(i => i -> unit(i.toInt, 0.0)) ++
      Seq(10L -> unit(0, 0.01), 11L -> unit(0, 0.02), 12L -> unit(0, 0.03))
    rows
      .map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    spark.catalog.clearCache()
    val out = Similarity
      .semDeDupKeep(spark, dir, nCells = 4, tau = 0.4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3)))
      .toMap
    val group = Seq(0L, 10L, 11L, 12L)
    // the group collapses to one component labeled by the min id...
    assert(group.map(out(_)._1).distinct == Seq(0L))
    // ...keeping exactly one representative
    assert(group.map(out(_)._2).sum == 1, "exactly one representative kept")
    // orthogonal singletons keep themselves
    (1L to 3L).foreach(i => assert(out(i) == (i, 1)))
    // cache hygiene: the builder must clean up its persists
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("matryoshka cascade: top-1 preserved often, result subset of shortlist semantics") {
    val bfSet = bf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val mk    = Similarity.matryoshkaTopK(spark, sf0001, k = 5).collect()
    assert(mk.length == 50)
    val mkSet  = mk.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bfSet & mkSet).size.toDouble / bfSet.size
    info(f"matryoshka recall@5 vs full brute force = $recall%.2f")
    // the rerank is EXACT on the shortlist, so any loss is purely the
    // 16-dim coarse cut; random 64-d vectors are the worst case and the
    // 10%-of-corpus shortlist must still clear chance (1%) by far
    assert(recall > 0.3, s"recall=$recall")
    // reranked scores are true full-dim cosines: each must match the
    // brute-force value whenever the pair also appears there
    val bfScore = bf.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    mk.foreach { r =>
      bfScore.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(r.getDouble(2) == c)
      }
    }
  }

  test("PQ: shortlist recall vs exact L2, ADC ranking sorted, cache hygiene") {
    val vecs = graft.tables.Tables
      .embeddings(spark, sf0001)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toMap
    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val dx = a(i) - b(i); s += dx * dx; i += 1 }
      s
    }
    // exact-L2 top-5 per probe — PQ approximates THIS metric, not cosine
    val exact = (0L until 10L).map { p =>
      p -> vecs.keys
        .filter(_ != p)
        .map(n => (l2sq(vecs(p), vecs(n)), n))
        .toSeq
        .sortBy(identity)
        .take(5)
        .map(_._2)
        .toSet
    }.toMap
    val pq = Similarity.pqTopK(spark, sf0001, k = 5).collect()
    assert(pq.length == 50)
    val pqSet   = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = exact.map { case (p, s) => s.count(n => pqSet((p, n))) }.sum
    val recall  = overlap.toDouble / (10 * 5)
    info(f"PQ recall@5 (vs exact L2) = $recall%.2f")
    // Uniform random 64-d vectors are PQ's worst case (distances
    // concentrate; quantization noise ~ the spread), so direct top-5
    // agreement is only held above chance (5/500 = 1%) here...
    assert(recall > 0.05, s"recall=$recall")
    // ...the metric that matters for serving is SHORTLIST recall: PQ's
    // role at scale is candidate generation (ADC top-L, exact re-rank of
    // L ≪ n rows). Lock that contract: the exact top-5 must live inside
    // the ADC top-50 shortlist (L/n = 10%).
    val short = Similarity.pqTopK(spark, sf0001, k = 50).collect()
    val shortSet = short.map(r => (r.getLong(0), r.getLong(1))).toSet
    val shortOverlap = exact.map { case (p, s) => s.count(n => shortSet((p, n))) }.sum
    val shortRecall  = shortOverlap.toDouble / (10 * 5)
    info(f"PQ shortlist recall (exact top-5 within ADC top-50) = $shortRecall%.2f")
    assert(shortRecall > 0.5, s"shortlist recall=$shortRecall")
    // within each probe the ADC ranking is sorted ascending
    pq.groupBy(_.getLong(0)).values.foreach { rows =>
      val d = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(d == d.sorted)
    }
    // cache hygiene: training persists must be released
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

/** MIPS reduction contract: the norm-augmented shortlist must contain the
  * exact dot-product top-k (the reduction is order-preserving, so recall
  * is 1.0 by math — this pins the implementation to the math), and raw
  * dot order must genuinely differ from cosine order on this corpus
  * (otherwise the query wouldn't be testing MIPS at all).
  */
class MipsSpec extends SparkSpec {
  import graft.syntax._
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window

  private lazy val mips = Similarity.mipsTopK(spark, sf0001, k = 5, shortlist = 50).collect()

  private lazy val exact = {
    val raw = graft.tables.Tables
      .embeddings(spark, sf0001)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("u"))
    // same popularity scaling as mipsTopK's corpus side
    val e = raw.select(
      $"vec_id",
      transform($"u", x => x * (lit(1.0) + ($"vec_id" % 7).cast("double") / lit(4.0))).as("v")
    )
    val probes = raw.filter($"vec_id" < 10).select($"vec_id".as("probe_id"), $"u".as("pv"))
    val w = Window.partitionBy($"probe_id").orderBy($"dot".desc, $"neighbor_id")
    e.join(broadcast(probes), $"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id".as("neighbor_id"),
        round(graft.functions.GraftFunctions.dot64($"pv", $"v"), 6).as("dot"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .collect()
  }

  test("augmented-cosine shortlist has recall 1.0 vs exact MIPS top-5") {
    val got = mips.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = exact.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want)
  }

  test("MIPS order differs from cosine order (norms matter on this corpus)") {
    val cosTop = Similarity.bruteForceTopK(spark, sf0001, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mipsTop = mips.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mipsTop != cosTop, "dot-product and cosine rankings coincide; MIPS query is vacuous")
  }

  test("hard negatives: labels always differ from the anchor, ranks contiguous, cosines descend") {
    val rows = Similarity.hardNegatives(spark, sf0001, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3), r.getDouble(4), r.getInt(5)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, al, nl, _, _) => al != nl }, "a same-label negative leaked through")
    rows.groupBy(_._1).foreach { case (a, g) =>
      val byRank = g.sortBy(_._5)
      assert(byRank.map(_._5).toSeq == (1 to g.length), s"anchor $a: ranks not contiguous")
      assert(byRank.map(_._4).toSeq == byRank.map(_._4).sorted(Ordering[Double].reverse).toSeq,
        s"anchor $a: cosine not descending with rank")
    }
  }

  test("NCM confusion matrix conserves class sizes and predicts exactly once per vector") {
    import org.apache.spark.sql.functions._
    val conf = Similarity.ncmConfusion(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val sizes = graft.tables.Tables.embeddings(spark, sf0001)
      .groupBy($"label").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rowSums = conf.groupBy(_._1).map { case (l, g) => l -> g.map(_._3).sum }
    assert(rowSums == sizes, "confusion row sums != class sizes (a vector was dropped or double-predicted)")
  }
}
