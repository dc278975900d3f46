package graft.sim

import graft.syntax._
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Distributed PCA over the embedding corpus — the dimensionality
  * reduction step of embedding-based curation (whitening before
  * clustering, variance-based compression, drift monitoring of an
  * embedding space).
  *
  * The algorithm is the classic two-stage split between cluster and
  * driver state:
  *
  *  1. '''Covariance on the cluster''' — per-dimension means, then the
  *     d(d+1)/2 upper-triangle second moments, as ONE grouped aggregate
  *     over the (row × dim-pair) expansion. The expansion looks large
  *     but the shuffle is not: partial aggregation folds every partition
  *     down to ≤ 2080 groups map-side, so only d²-sized state crosses
  *     the wire — the same arithmetic a hand-rolled
  *     mapPartitions/treeAggregate would do, but expressed
  *     declaratively, which is what keeps every addend a DECIMAL(38,18)
  *     (order-free sums — a treeReduce of raw doubles is
  *     partitioning-dependent and could never hash-match an oracle).
  *  2. '''Eigenvector on the driver''' — the d×d matrix is matrix-sized
  *     state (the k-centroids precedent): 10 fixed rounds of power
  *     iteration from the exact-binary start 1/8, every fold in
  *     ascending-index order, sign fixed by the first
  *     largest-|coordinate| rule, final vector rounded ONCE at 9 dp.
  *  3. '''Projection map-side''' — pc1 = ⟨x−μ, v⟩ via the codegen'd
  *     [[graft.functions.Dot64]] kernel against the broadcast literal
  *     eigenvector; no shuffle at all.
  *
  * The DuckDB oracle replays all three stages — DECIMAL moment sums,
  * the 10-round recursion with the same ascending prepended-init folds
  * (the m_pacf discipline), sign rule, rounding — so the entire
  * cascade is hash-anchored.
  */
object Pca {
  type Q = (SparkSession, String) => DataFrame

  val dims   = 64
  val rounds = 10

  private val dec = DecimalType(38, 18)

  /** The covariance grouped-aggregate frame, exposed separately so the
    * plan gate (PcaSpec) can assert its shape: zero joins, a single
    * exchange carrying only the ≤2080 (i,j) DECIMAL groups.
    */
  private[graft] def covarianceFrame(s: SparkSession, d: String): DataFrame = {
    val (e, mu) = meansStage(s, d)
    covFrom(e, mu)
  }

  /** Contract: the row-local upper-triangle expansion below emits
    * d(d+1)/2 structs PER ROW inside a higher-order lambda — linear in
    * the corpus but quadratic in d, and proven only up to d=128 (8256
    * groups; at the corpus d=64 it is 2080). At d=512 the per-row fanout
    * is 131 k structs and the right plan changes shape: a mapPartitions
    * sibling accumulating a primitive d×d Gram matrix per partition and
    * emitting ONE row per partition (d² values once per partition, not
    * per row). This require is the pin that stops the expansion plan
    * from being silently reused past its measured regime.
    */
  private val maxExpansionDims = 128

  private def covFrom(e: DataFrame, mu: Array[Double]): DataFrame = {
    require(
      dims <= maxExpansionDims,
      s"Pca.covFrom: the per-row triangle expansion is contracted to d <= $maxExpansionDims " +
        s"(got $dims); implement the per-partition Gram-matrix sibling before raising this")
    val muLit = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(mu.map(lit)): _*)
    val cent0 = e.select($"vec_id", zip_with($"v", muLit, (x, m) => x - m).as("c"))
    // Scale-adaptive spread before the quadratic-in-d expansion (r14
    // optimization round, guide §2.6): the per-row cost here is ~2080
    // decimal products, so the SCAN's split count caps the whole
    // covariance stage — at sf0.1 the embedding file is one split and the
    // expansion ran as a single 6.4 s task with 31 cores idle (ProfileQ).
    // One narrow shuffle of the centered vectors spreads it; decimal sums
    // are order-free so the moments are bit-identical. At 100 TB the scan
    // has >= cluster-width splits and the condition adds no shuffle.
    val cent = cent0.spreadAcrossCores()
    // Row-local upper-triangle expansion: each row emits its own
    // d(d+1)/2 (i, j, xi·xj) products via nested transform+flatten —
    // no second scan of the corpus, no self-join, no pre-agg shuffle.
    // The partial HashAggregate sits in the same stage as the Generate,
    // so only ≤ d(d+1)/2 = 2080 DECIMAL groups per partition cross the
    // wire. The addends are bit-identical to the former join plan
    // (same double product, same DECIMAL(38,18) cast; decimal sums are
    // order-free), so the query hash is unchanged.
    val idx = sequence(lit(0), lit(dims - 1))
    val triPairs = flatten(
      transform(
        idx,
        i =>
          transform(
            sequence(i, lit(dims - 1)),
            j =>
              struct(
                i.as("i"),
                j.as("j"),
                (element_at($"c", i + 1) * element_at($"c", j + 1)).cast(dec).as("p")))))
    cent
      .select(explode(triPairs).as("t"))
      .groupBy($"t.i".as("i"), $"t.j".as("j"))
      .agg(round(sum($"t.p").cast(DoubleType), 9).as("cv"))
  }

  /** Scan + per-dimension means (rounded 9 dp). */
  private def meansStage(s: SparkSession, d: String) = {
    val e = Tables.embeddings(s, d).select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val muRows = e
      .select(posexplode($"v").as(Seq("i", "x")))
      .groupBy($"i")
      .agg(round(sum($"x".cast(dec)).cast(DoubleType) / count(lit(1)), 9).as("m"))
      .collect()
    val mu = new Array[Double](dims)
    muRows.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    (e, mu)
  }

  /** The driver-side eigenvector step, shared by pc1 and the deflated
    * pc2: 10 fixed power-iteration rounds from the exact-binary start
    * 1/8, every fold in ascending-index order, sign fixed by the first
    * largest-|coordinate| rule, final vector rounded ONCE at 9 dp
    * (BigDecimal.valueOf + HALF_UP is exactly Spark's Round-on-double
    * semantics, which 200+ gated queries have shown agrees with
    * DuckDB's round(double, n)).
    */
  private def powerIterate(cov: Array[Array[Double]]): Array[Double] = {
    var v = Array.fill(dims)(0.125)
    for (_ <- 1 to rounds) {
      val w = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        var acc = 0.0
        var j   = 0
        while (j < dims) { acc += cov(i)(j) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      var n2 = 0.0
      i = 0
      while (i < dims) { n2 += w(i) * w(i); i += 1 }
      val n = math.sqrt(n2)
      i = 0
      while (i < dims) { v(i) = w(i) / n; i += 1 }
    }
    // deterministic sign: the FIRST largest-|coordinate| must be positive
    var best = 0
    var i    = 1
    while (i < dims) { if (math.abs(v(i)) > math.abs(v(best))) best = i; i += 1 }
    if (v(best) < 0) v = v.map(x => -x)
    v.map(x =>
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue)
  }

  private def covMatrix(s: SparkSession, d: String): (Array[Double], Array[Array[Double]]) = {
    val (e, mu) = meansStage(s, d)
    val covRows = covFrom(e, mu).collect()
    val cov = Array.ofDim[Double](dims, dims)
    covRows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c
      cov(j)(i) = c
    }
    (mu, cov)
  }

  /** Per-dimension means (rounded 9 dp) and the power-iterated,
    * sign-fixed, rounded leading eigenvector of the covariance matrix.
    */
  def pcaComponents(s: SparkSession, d: String): (Array[Double], Array[Double]) = {
    val (mu, cov) = covMatrix(s, d)
    (mu, powerIterate(cov))
  }

  /** Means + the two leading eigenvectors. The second comes from
    * Hotelling deflation on the ROUNDED first: λ₁ = v₁ᵀCv₁ (Rayleigh
    * quotient, both folds ascending from 0.0), C₂ = C − λ₁·v₁v₁ᵀ
    * elementwise, then the identical power-iteration discipline on C₂.
    * Using the rounded v₁ keeps every deflation addend a plain IEEE
    * expression the oracle can replay bit-for-bit.
    */
  def pcaComponents2(s: SparkSession, d: String): (Array[Double], Array[Double], Array[Double]) = {
    val (mu, cov) = covMatrix(s, d)
    val v1 = powerIterate(cov)
    val w1 = Array.tabulate(dims) { i =>
      var acc = 0.0
      var j   = 0
      while (j < dims) { acc += cov(i)(j) * v1(j); j += 1 }
      acc
    }
    var lam = 0.0
    var i   = 0
    while (i < dims) { lam += v1(i) * w1(i); i += 1 }
    val cov2 = Array.tabulate(dims, dims)((i, j) => cov(i)(j) - lam * v1(i) * v1(j))
    (mu, v1, powerIterate(cov2))
  }

  /** pc1 score per vector — the driver query. */
  def pcaProject(s: SparkSession, d: String): DataFrame = {
    val (mu, ev) = pcaComponents(s, d)
    val muLit    = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(mu.map(lit)): _*)
    val evLit    = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(ev.map(lit)): _*)
    Tables
      .embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select(
        $"vec_id",
        round(
          graft.functions.GraftFunctions.dot64(zip_with($"v", muLit, (x, m) => x - m), evLit),
          6
        ).as("pc1")
      )
      .orderBy($"vec_id")
  }

  /** (pc1, pc2) score per vector — the 2-D projection curation consumes
    * for embedding-space drift plots and cluster sanity views. Same
    * map-side shape as [[pcaProject]]: two broadcast-literal dot
    * products per row, no shuffle.
    */
  def pca2Project(s: SparkSession, d: String): DataFrame = {
    val (mu, ev1, ev2) = pcaComponents2(s, d)
    val muLit  = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(mu.map(lit)): _*)
    val ev1Lit = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(ev1.map(lit)): _*)
    val ev2Lit = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(ev2.map(lit)): _*)
    Tables
      .embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", zip_with($"v", muLit, (x, m) => x - m).as("c"))
      .select(
        $"vec_id",
        round(graft.functions.GraftFunctions.dot64($"c", ev1Lit), 6).as("pc1"),
        round(graft.functions.GraftFunctions.dot64($"c", ev2Lit), 6).as("pc2")
      )
      .orderBy($"vec_id")
  }

  val queries: Map[String, Q] = Map(
    "sim_pca_project"  -> (pcaProject(_, _)),
    "sim_pca2_project" -> (pca2Project(_, _))
  )

  // DuckDB replay of the full cascade. The unnormalized-iterate list W
  // appears three times inside the recursive step (the m_pacf
  // "repeated verbatim" discipline) because SQL cannot bind it locally.
  private val wList =
    "[list_reduce(list_prepend(0.0, " +
      "[m[CAST(i AS INT)][CAST(j AS INT)] * v[CAST(j AS INT)] for j in range(1, 65)]), " +
      "(a, b) -> a + b) for i in range(1, 65)]"

  private val wNorm =
    s"sqrt(list_reduce(list_prepend(0.0, [x * x for x in $wList]), (a, b) -> a + b))"

  /** The validated cascade up to the rounded first eigenvector — shared
    * verbatim by both PCA oracles so the pc1 semantics can never desync.
    */
  private val cascadeToEv1 =
    s"""WITH RECURSIVE u AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |mu0 AS (
      |  SELECT i, round(CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 9) AS m
      |  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM u)
      |  GROUP BY i),
      |mul AS (SELECT list(m ORDER BY i) AS mu FROM mu0),
      |cent AS (
      |  SELECT vec_id,
      |    [v[CAST(k AS INT)] - mu[CAST(k AS INT)] for k in range(1, 65)] AS c
      |  FROM u, mul),
      |cov0 AS (
      |  SELECT i, j,
      |    round(CAST(SUM(CAST(c[CAST(i AS INT)] * c[CAST(j AS INT)]
      |      AS DECIMAL(38,18))) AS DOUBLE), 9) AS cv
      |  FROM cent, range(1, 65) t1(i), range(1, 65) t2(j)
      |  WHERE i <= j GROUP BY i, j),
      |covm AS (
      |  SELECT i, j, cv FROM cov0
      |  UNION ALL SELECT j, i, cv FROM cov0 WHERE i <> j),
      |cr AS (SELECT i, list(cv ORDER BY j) AS row FROM covm GROUP BY i),
      |cl AS (SELECT list(row ORDER BY i) AS m FROM cr),
      |it AS (
      |  SELECT 0 AS r, [CAST(0.125 AS DOUBLE) for k in range(1, 65)] AS v, m FROM cl
      |  UNION ALL
      |  SELECT r + 1, [x / $wNorm for x in $wList], m
      |  FROM it WHERE r < 10),
      |fin AS (SELECT v FROM it WHERE r = 10),
      |sgn AS (
      |  SELECT CASE WHEN v[list_position([abs(x) for x in v],
      |                                   list_max([abs(x) for x in v]))] < 0
      |    THEN [-x for x in v] ELSE v END AS v
      |  FROM fin),
      |ev AS (SELECT [round(x, 9) for x in v] AS ev FROM sgn)""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_pca_project" ->
      s"""$cascadeToEv1
        |SELECT vec_id,
        |  round(list_reduce(list_prepend(0.0,
        |    [c[CAST(k AS INT)] * ev[CAST(k AS INT)] for k in range(1, 65)]),
        |    (a, b) -> a + b), 6) AS pc1
        |FROM cent, ev ORDER BY vec_id""".stripMargin,
    // pc2 replay: Hotelling deflation on the ROUNDED ev (w₁ = C·ev and
    // λ₁ = Σ ev[i]·w₁[i], both ascending folds from 0.0 — the same
    // prepend discipline as the iteration), C₂ = C − λ₁·ev·evᵀ
    // elementwise (left-assoc product order matches the Scala
    // `lam * v1(i) * v1(j)`), then the identical 10-round recursion,
    // sign rule and 9-dp rounding against C₂
    "sim_pca2_project" ->
      s"""$cascadeToEv1,
        |wl AS (
        |  SELECT [list_reduce(list_prepend(0.0,
        |    [m[CAST(i AS INT)][CAST(j AS INT)] * ev[CAST(j AS INT)] for j in range(1, 65)]),
        |    (a, b) -> a + b) for i in range(1, 65)] AS w1
        |  FROM cl, ev),
        |lm AS (
        |  SELECT list_reduce(list_prepend(0.0,
        |    [ev[CAST(i AS INT)] * w1[CAST(i AS INT)] for i in range(1, 65)]),
        |    (a, b) -> a + b) AS lam
        |  FROM ev, wl),
        |cl2 AS (
        |  SELECT [[m[CAST(i AS INT)][CAST(j AS INT)]
        |      - lam * ev[CAST(i AS INT)] * ev[CAST(j AS INT)]
        |    for j in range(1, 65)] for i in range(1, 65)] AS m
        |  FROM cl, ev, lm),
        |it2 AS (
        |  SELECT 0 AS r, [CAST(0.125 AS DOUBLE) for k in range(1, 65)] AS v, m FROM cl2
        |  UNION ALL
        |  SELECT r + 1, [x / $wNorm for x in $wList], m
        |  FROM it2 WHERE r < 10),
        |fin2 AS (SELECT v FROM it2 WHERE r = 10),
        |sgn2 AS (
        |  SELECT CASE WHEN v[list_position([abs(x) for x in v],
        |                                   list_max([abs(x) for x in v]))] < 0
        |    THEN [-x for x in v] ELSE v END AS v
        |  FROM fin2),
        |ev2t AS (SELECT [round(x, 9) for x in v] AS ev2 FROM sgn2)
        |SELECT vec_id,
        |  round(list_reduce(list_prepend(0.0,
        |    [c[CAST(k AS INT)] * ev[CAST(k AS INT)] for k in range(1, 65)]),
        |    (a, b) -> a + b), 6) AS pc1,
        |  round(list_reduce(list_prepend(0.0,
        |    [c[CAST(k AS INT)] * ev2[CAST(k AS INT)] for k in range(1, 65)]),
        |    (a, b) -> a + b), 6) AS pc2
        |FROM cent, ev, ev2t ORDER BY vec_id""".stripMargin
  )
}
