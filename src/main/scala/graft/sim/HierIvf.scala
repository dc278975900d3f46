package graft.sim

import graft.syntax._
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-level (coarse → fine) IVF — the r7 1000×-stress remedy made code.
  *
  * The flat IVF trainer ([[Similarity.trainCentroids]]) pays
  * O(n · nCells · d) flops per Lloyd iteration; once nCells grows ∝ n to
  * hold cell size constant (the scale rule every IVF note in this repo
  * states), training is O(n²·d) and became the measured wall of the r7
  * 1000× probe (2M vectors × 16k cells: 432 s, all of it assignment
  * flops — BENCH_LOCAL §r7-1000×). The standard remedy, named there, is
  * hierarchical assignment; this file implements it:
  *
  *  1. '''Coarse Lloyd''' — kc ≈ √nCells coarse centroids trained by the
  *     existing flat machinery: O(n · √nCells · d) per iteration.
  *  2. '''Bounded per-cell samples''' — each vector is assigned to its
  *     coarse cell (map-only, broadcast), and the `sampleCap` smallest
  *     vec_ids per cell are kept via the bounded-heap
  *     [[graft.plans.TopK]] operator — at most `sampleCap` rows per
  *     (cell, mapper) ever reach the shuffle, so the sampling pass is
  *     O(n · d) with O(kc · sampleCap) shuffle rows. This is the FAISS
  *     train-on-sample discipline: centroid quality needs a bounded
  *     number of examples per centroid, not the corpus.
  *  3. '''Local fine Lloyd''' — per coarse cell, kf fine centroids
  *     trained in one `mapGroups` over its (≤ sampleCap) sample, rows
  *     sorted by vec_id before every fold so the fine centroids are
  *     bit-deterministic regardless of shuffle order (stronger than the
  *     flat trainer, whose running sums fold in iterator order).
  *     Seeding mirrors the flat discipline: the kf smallest vec_ids of
  *     the sample. Cells with fewer than kf sample vectors pad the
  *     missing slots with the coarse centroid itself — global fine ids
  *     stay dense (cell_id = coarse_id · kf + j) and ties resolve to the
  *     smallest id on both engines.
  *  4. '''Hierarchical assignment''' — nearest coarse (kc cosines), then
  *     nearest fine inside that cell (kf cosines): O(kc + kf) per vector
  *     instead of O(nCells) — at nCells = 16k that is 256 vs 16384
  *     cosines, the ~64× flop cut the 1000× probe called for. Probes
  *     rank the fine centroids of their `wCoarse` best coarse cells and
  *     keep the `nprobe` best (one pooled (-sim, cell_id) order).
  *
  * Approximation boundary, exactly as flat IVF: training stays
  * engine-internal; BOTH centroid levels are dumped
  * ([[graft.OracleIo]]) and DuckDB replays assignment → probe
  * restriction → in-cell exact cosine → rank from the dumps, so the
  * emitted result is hash-exact. Recall vs brute force is the
  * spec-measured contract (HierIvfSpec), alongside the hierarchical-vs-
  * flat training-cost A/B (BENCH_LOCAL §r8; rerun via Stress --corpus
  * docs --queries ann_ivf_hier_topk,ann_ivf_topk).
  */
object HierIvf {
  type Q = (SparkSession, String) => DataFrame

  /** One shared tunable set for query + oracle (r5 ADVICE discipline). */
  private[sim] val hierKc      = 4
  private[sim] val hierKf      = 4
  private[sim] val hierNprobe  = 4
  private[sim] val hierWCoarse = 2
  private[sim] val hierK       = 5

  /** In-memory spherical Lloyd over one cell's sample. `vs` must already
    * be in ascending-vec_id order: seeds are its first `k` vectors and
    * every running sum folds in that order, making the result
    * bit-deterministic. Returns min(k, vs.length) centroids; the caller
    * pads short cells.
    */
  private[sim] def localLloyd(vs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val m = math.min(k, vs.length)
    if (m == 0) return Array.empty
    var cents: Array[Array[Double]] = Array.tabulate(m)(vs(_).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(m)(new Array[Double](vs(0).length))
      val hit  = new Array[Boolean](m)
      var r = 0
      while (r < vs.length) {
        val v = vs(r)
        val c = Similarity.nearestCellArr(cents, v)
        hit(c) = true
        val s = sums(c)
        var i = 0
        while (i < v.length) { s(i) += v(i); i += 1 }
        r += 1
      }
      cents = Array.tabulate(m) { c =>
        if (!hit(c)) cents(c) // empty cells keep their previous centroid
        else {
          val s = sums(c)
          var n2 = 0.0; var i = 0
          while (i < s.length) { n2 += s(i) * s(i); i += 1 }
          val n = math.sqrt(n2)
          if (n > 0) s.map(_ / n) else s
        }
      }
    }
    cents
  }

  /** Coarse + fine centroid training. Returns (coarse, fine) where
    * fine(c) has exactly kf entries (coarse-padded where the cell's
    * sample ran short).
    *
    * `sampleCap` ≤ 0 means auto: max(1024, 32·kf) — the per-cell sample
    * scales with the number of fine centroids it has to support
    * (≈32 examples per centroid, the FAISS-order training budget), so a
    * high-kf index at scale doesn't silently starve its fine trainer
    * while small configurations keep the old fixed 1024 bound (and the
    * gate-SF corpora, which never hit either bound, are bit-unchanged).
    */
  private[graft] def trainCentroidsHier(
      s: SparkSession,
      e: DataFrame,
      kc: Int,
      kf: Int,
      iters: Int,
      sampleCap: Int = -1
  ): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import s.implicits._
    val cap    = if (sampleCap > 0) sampleCap else math.max(1024, 32 * kf)
    val coarse = Similarity.trainCentroids(s, e, kc, iters)
    val bc     = s.sparkContext.broadcast(coarse)
    val assigned = e
      .select(col("vec_id"), col("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (Similarity.nearestCellArr(bc.value, v), id, v) }
      .toDF("coarse_id", "vec_id", "v")
    // bounded-heap per-cell sample: ≤ cap rows per (cell, mapper)
    // reach the shuffle — never a full per-cell sort
    val sampled = graft.plans.TopK
      .perKey(assigned, keys = Seq(col("coarse_id")), ordering = Seq(col("vec_id").asc), k = cap)
      .as[(Int, Long, Array[Double])]
    val trained: Map[Int, Array[Array[Double]]] = sampled
      .groupByKey(_._1)
      .mapGroups { (cid, rows) =>
        val vs = rows.toArray.sortBy(_._2).map(_._3)
        (cid, localLloyd(vs, kf, iters))
      }
      .collect()
      .toMap
    // coarse.length, not kc: trainCentroids returns min(n, kc) centroids
    // on a corpus smaller than kc — indexing coarse(c) up to kc-1 would
    // throw where the flat trainer degrades gracefully
    val fine = Array.tabulate(coarse.length) { c =>
      val got = trained.getOrElse(c, Array.empty[Array[Double]])
      Array.tabulate(kf)(j => if (j < got.length) got(j) else coarse(c))
    }
    (coarse, fine)
  }

  /** Hierarchical cell assignment: O(kc + kf) cosines per vector. */
  private[graft] def assignHierArr(
      coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]],
      v: Array[Double]
  ): Int = {
    val c = Similarity.nearestCellArr(coarse, v)
    c * fine(c).length + Similarity.nearestCellArr(fine(c), v)
  }

  /** Probe cells: pool the fine centroids of the wCoarse best coarse
    * cells, keep the nprobe best by the shared (-sim, cell_id) order.
    */
  private[graft] def probeCellsHierArr(
      coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]],
      v: Array[Double],
      wCoarse: Int,
      nprobe: Int
  ): Seq[Int] = {
    val kf = fine(0).length
    Similarity
      .probeCellsArr(coarse, v, wCoarse)
      .flatMap { c =>
        fine(c).zipWithIndex.map { case (fc, j) =>
          (Similarity.cosLocal(fc, v), c * kf + j)
        }
      }
      .sortBy { case (sim, id) => (-sim, id) }
      .take(nprobe)
      .map(_._2)
  }

  /** ann_ivf_hier_topk: same probe/rank tail as [[Similarity.ivfTopK]]
    * (same k, same 16 total cells, same nprobe budget) with the flat
    * Lloyd trainer and O(nCells) assignment replaced by the two-level
    * path.
    */
  def ivfHierTopK(
      s: SparkSession,
      d: String,
      k: Int,
      kc: Int,
      kf: Int,
      nprobe: Int,
      wCoarse: Int,
      coarseDump: Option[String] = None,
      fineDump: Option[String] = None
  ): DataFrame = {
    val e              = Tables.embeddings(s, d).select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val (coarse, fine) = trainCentroidsHier(s, e, kc, kf, iters = 3)
    coarseDump.foreach { p =>
      import s.implicits._
      coarse.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }
        .toDF("coarse_id", "centroid")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p)
    }
    fineDump.foreach { p =>
      import s.implicits._
      fine.toSeq.zipWithIndex
        .flatMap { case (cells, c) =>
          cells.zipWithIndex.map { case (fc, j) => (c * kf + j, c, fc.toSeq) }
        }
        .toDF("cell_id", "coarse_id", "centroid")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p)
    }
    val bcC = s.sparkContext.broadcast(coarse)
    val bcF = s.sparkContext.broadcast(fine)
    val assignCell = udf { (v: Seq[Double]) => assignHierArr(bcC.value, bcF.value, v.toArray) }
    val probeUdf = udf { (v: Seq[Double]) =>
      probeCellsHierArr(bcC.value, bcF.value, v.toArray, wCoarse, nprobe)
    }
    val assigned = e.withColumn("cell_id", assignCell($"v"))
    val probes = e
      .filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"v".as("pv"), explode(probeUdf($"v")).as("cell_id"))
    val cellSims = assigned
      .join(probes, Seq("cell_id"))
      .filter($"vec_id" =!= $"probe_id")
      .select(
        $"probe_id",
        $"vec_id".as("neighbor_id"),
        round(Similarity.cosine($"pv", $"v"), 6).as("cosine")
      )
    Similarity.rankPerProbe(cellSims, k)
  }

  /** Materialize the hier-assigned IVF index: the corpus written
    * PARTITIONED BY the global fine cell id, exactly the
    * [[Similarity.writeIvfIndexFor]] layout, but each row pays O(kc+kf)
    * assignment cosines instead of O(kc·kf). At 100 TB the index BUILD
    * is the operation that touches every vector — with nCells ∝ n the
    * flat assignment term is the O(n²·d) wall the r8 hier A/B measured; this
    * is the build path that scales. Probing is layout-compatible with
    * the flat index (same cell_id partitioning, same probe machinery).
    */
  def writeIvfIndexHierFor(
      s: SparkSession,
      e: DataFrame,
      path: String,
      kc: Int,
      kf: Int,
      iters: Int,
      sampleCap: Int = -1
  ): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (coarse, fine) = trainCentroidsHier(s, e, kc, kf, iters, sampleCap)
    val bcC = s.sparkContext.broadcast(coarse)
    val bcF = s.sparkContext.broadcast(fine)
    val assignCell = udf { (v: Seq[Double]) => assignHierArr(bcC.value, bcF.value, v.toArray) }
    e.withColumn("cell_id", assignCell($"v"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
    (coarse, fine)
  }

  /** Driver row for the hier-built index: build with hierarchical
    * assignment, probe the standard 10 probes through the shared
    * [[Similarity.ivfProbeIndexBatch]] at full width — every vector
    * lives in exactly one cell, so full-width probing is EXACT at any
    * centroid quality and the row hash-matches the shared brute-force
    * oracle while exercising the hier build → partitioned layout →
    * batched pruned read end-to-end (the flat-index discipline of
    * `ann_ivf_index_topk`). The pruning variant (nprobe < kc·kf,
    * planning-time PartitionFilters) is asserted by HierIvfSpec.
    */
  def ivfHierIndexTopK(s: SparkSession, d: String, k: Int, kc: Int, kf: Int): DataFrame = {
    val path = Similarity.scratchDir("hierindex", d)
    val e    = Tables.embeddings(s, d).select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val (_, fine) = writeIvfIndexHierFor(s, e, path, kc, kf, iters = 3)
    val probes = e.filter($"vec_id" < 10).select($"vec_id".as("probe_id"), $"v".as("pv"))
    // the flat centroid list in global-fine-id order: probeCells over it
    // at full width covers every cell, keeping the exactness argument
    Similarity.ivfProbeIndexBatch(s, path, fine.flatten, probes, k, nprobe = kc * kf)
  }

  val queries: Map[String, Q] = Map(
    "ann_ivf_hier_topk" -> ((s, d) =>
      ivfHierTopK(s, d, k = hierK, kc = hierKc, kf = hierKf,
        nprobe = hierNprobe, wCoarse = hierWCoarse,
        coarseDump = Some(s"${graft.OracleIo.dir(d)}/hier_coarse"),
        fineDump = Some(s"${graft.OracleIo.dir(d)}/hier_fine"))),
    "ann_ivf_hier_index_topk" -> ((s, d) =>
      ivfHierIndexTopK(s, d, k = hierK, kc = hierKc, kf = hierKf))
  )

  // Given-centroids replay of BOTH levels: coarse argmax → fine argmax
  // within the assigned cell for assignment; wCoarse best coarse → pooled
  // fine rank for probe cells; then the exact in-cell cosine + rank tail
  // shared with ann_ivf_topk. Identical left-to-right double folds make
  // every similarity bit-exact, so the argmax/rank decisions agree; ties
  // (incl. coarse-padded duplicate fine centroids) resolve to the
  // smallest id on both engines.
  val oracles: Map[String, String] = Map(
    "ann_ivf_hier_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |co AS (
         |  SELECT coarse_id, centroid
         |  FROM read_parquet('${graft.OracleIo.sqlDir}/hier_coarse/*.parquet')),
         |fi AS (
         |  SELECT cell_id, coarse_id, centroid
         |  FROM read_parquet('${graft.OracleIo.sqlDir}/hier_fine/*.parquet')),
         |csim AS (
         |  SELECT e.vec_id, c.coarse_id,
         |    list_dot_product(c.centroid, e.v)
         |      / sqrt(list_dot_product(c.centroid, c.centroid) * list_dot_product(e.v, e.v)) AS sim
         |  FROM e, co c),
         |acoarse AS (
         |  SELECT vec_id, coarse_id FROM (
         |    SELECT vec_id, coarse_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, coarse_id) AS rn
         |    FROM csim) t WHERE rn = 1),
         |fsim AS (
         |  SELECT a.vec_id, f.cell_id,
         |    list_dot_product(f.centroid, e.v)
         |      / sqrt(list_dot_product(f.centroid, f.centroid) * list_dot_product(e.v, e.v)) AS sim
         |  FROM acoarse a
         |  JOIN fi f ON f.coarse_id = a.coarse_id
         |  JOIN e ON e.vec_id = a.vec_id),
         |assigned AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM fsim) t WHERE rn = 1),
         |pcoarse AS (
         |  SELECT vec_id, coarse_id FROM (
         |    SELECT vec_id, coarse_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, coarse_id) AS rn
         |    FROM csim WHERE vec_id < 10) t WHERE rn <= $hierWCoarse),
         |pfsim AS (
         |  SELECT p.vec_id AS probe_id, f.cell_id,
         |    list_dot_product(f.centroid, e.v)
         |      / sqrt(list_dot_product(f.centroid, f.centroid) * list_dot_product(e.v, e.v)) AS sim
         |  FROM pcoarse p
         |  JOIN fi f ON f.coarse_id = p.coarse_id
         |  JOIN e ON e.vec_id = p.vec_id),
         |pcells AS (
         |  SELECT probe_id, cell_id FROM (
         |    SELECT probe_id, cell_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM pfsim) t WHERE rn <= $hierNprobe),
         |sims AS (
         |  SELECT p.probe_id, a.vec_id AS neighbor_id,
         |    round(list_dot_product(pe.v, ae.v)
         |      / sqrt(list_dot_product(pe.v, pe.v) * list_dot_product(ae.v, ae.v)), 6) AS cosine
         |  FROM pcells p
         |  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.probe_id
         |  JOIN e pe ON pe.vec_id = p.probe_id
         |  JOIN e ae ON ae.vec_id = a.vec_id)
         |SELECT probe_id, neighbor_id, cosine, rank FROM (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |  FROM sims) t
         |WHERE rank <= $hierK ORDER BY probe_id, rank""".stripMargin,
    // full-width probing of the hier-built index is exact (every vector
    // in exactly one cell), so the row shares the brute-force oracle —
    // the same argument ann_ivf_index_topk makes for the flat build
    "ann_ivf_hier_index_topk" -> Similarity.oracles("ann_bruteforce_topk")
  )
}
