package graft.text

import graft.tables.Tables
import graft.syntax._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sparse retrieval over the documents corpus — the BM25 half of the
  * retrieval stack the dense-ANN family (`ann_*`) already covers, plus
  * reciprocal-rank fusion of the two, which is how hybrid RAG retrieval
  * actually combines them in production.
  *
  * Scale shape (BM25): one tokenize pass builds doc term frequencies
  * (map-combinable groupBy); query terms join the tf table ON TOKEN, so
  * candidate work is Σ df over the query's terms — the inverted-index
  * bound, never |corpus| × |queries| — and the per-probe top-k rides the
  * native bounded-heap TopK operator (≤ k rows per mapper reach the
  * exchange). Cross-engine exactness: idf and the tf saturation are
  * once-rounded at 9 dp into DECIMAL(20,9) per (term, doc) and
  * decimal-summed (order-free); ranking compares exact decimals with the
  * doc id tiebreak. avgdl enters as the exact ratio of two corpus
  * integers (one correctly-rounded IEEE division, identical in any
  * engine); k1 = 1.2 and b = 0.75 are shared literals.
  */
object Retrieval {
  type Q = (SparkSession, String) => DataFrame

  val bm25K1     = 1.2
  val bm25B      = 0.75
  val bmProbes   = 5  // query docs = doc_id < this
  val bmK        = 5  // results per query
  val rrfC       = 60 // the standard RRF damping constant
  val rrfDepth   = 20 // fusion reads the top-20 of each ranker

  private val dec = DecimalType(20, 9)

  /** (doc_id, token, tf) + per-doc length — one pass over the corpus.
    *
    * r15 (guide §2.3 aggregate-before-shuffle): `dl` is derived from the
    * tf table (`dl = Σ_token tf` per doc — the same integer by
    * definition) instead of re-tokenizing the corpus a second time; the
    * corpus is exploded ONCE and the dl aggregation's input is
    * vocabulary-sized, not corpus-sized, at any scale.
    */
  private def termFreqs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    (tf, dl)
  }

  /** Shared BM25 scoring core: (probe_id, doc_id, score_dec) for every
    * candidate pair, plus a release handle for the persisted tf×dl
    * table (callers materialize their result, then release).
    */
  private def bm25Scores(s: SparkSession, d: String): (DataFrame, () => Unit) = {
    val (tf, dl) = termFreqs(s, d)
    val tfd = tf.join(dl, "doc_id").persist()
    val corpus = dl.agg(
      count(lit(1)).as("n_docs"), sum($"dl").as("tot_len")).head()
    val nDocs  = corpus.getLong(0)
    val avgdl  = corpus.getLong(1).toDouble / nDocs.toDouble
    val df_ = tfd.groupBy($"token").agg(count(lit(1)).as("df"))
    // query = the DISTINCT terms of each probe doc
    val probeTerms = tfd
      .filter($"doc_id" < bmProbes)
      .select($"doc_id".as("probe_id"), $"token")
    // broadcast only the PROBE-term slice of the df table (r11 review):
    // df_ itself is vocabulary-sized — billions of tokens at the scale
    // the header advertises — and only the probe docs' terms survive the
    // join anyway; the semi-join bounds the broadcast by probe vocabulary
    val dfProbe = df_.join(probeTerms.select($"token").distinct(), Seq("token"), "left_semi")
    val scores = probeTerms
      .join(tfd.select($"doc_id", $"token", $"tf", $"dl"), Seq("token"))
      .filter($"doc_id" =!= $"probe_id")
      .join(dfProbe.hint("broadcast"), Seq("token"))
      .select(
        $"probe_id",
        $"doc_id",
        round(
          log((lit(nDocs.toDouble) - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0)) *
            ($"tf" * lit(bm25K1 + 1.0)) /
            ($"tf" + lit(bm25K1) * (lit(1.0 - bm25B) + lit(bm25B) * ($"dl" / lit(avgdl)))),
          9
        ).cast(dec).as("term")
      )
      .groupBy($"probe_id", $"doc_id")
      .agg(sum($"term").as("score_dec"))
    (scores, () => { tfd.unpersist(); () })
  }

  val bm25TopK: Q = (s, d) => bm25TopKBuild(s, d, checkpoint = true)

  /** checkpoint=false returns the un-materialized plan for PlanSpec. */
  private[graft] def bm25TopKBuild(s: SparkSession, d: String, checkpoint: Boolean): DataFrame = {
    val (scores, release) = bm25Scores(s, d)
    try {
      graft.plans.TopK
        .perKey(scores, Seq($"probe_id"), Seq($"score_dec".desc, $"doc_id".asc), bmK)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"probe_id").orderBy($"score_dec".desc, $"doc_id")).cast("int"))
        .select($"probe_id", $"doc_id", round($"score_dec".cast("double"), 6).as("bm25"), $"rank")
        .orderBy($"probe_id", $"rank") match {
          case df if checkpoint => df.localCheckpoint(eager = true)
          case df               => df
        }
    } finally release()
  }

  /** Hybrid fusion: RRF(d) = Σ_rankers 1/(C + rank_r(d)) over the top-20
    * of BM25 and of embedding cosine (vec_id ↔ doc_id by construction of
    * the corpus). Every ingredient is an integer rank, so the fused
    * score is a sum of exact-input IEEE divisions — deterministic with
    * no rounding discipline needed until the 6-dp display round. The two
    * rank lists are probe-bounded (≤ depth rows per probe per ranker),
    * so fusion is a join of two tiny tables regardless of corpus size.
    */
  val rrfFusion: Q = (s, d) => {
    val (bmScores, release) = bm25Scores(s, d)
    val bmRanks = bmScores
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"probe_id").orderBy($"score_dec".desc, $"doc_id")))
      .filter($"r" <= rrfDepth)
      .select($"probe_id", $"doc_id", $"r".as("bm25_rank"))
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val probes = e.filter($"vec_id" < bmProbes)
      .select($"vec_id".as("probe_id"), $"v".as("pv"))
    val cosRanks = e
      .join(broadcast(probes), $"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id".as("doc_id"),
        round(graft.functions.GraftFunctions.cosine64($"pv", $"v"), 6).as("cos"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"probe_id").orderBy($"cos".desc, $"doc_id")))
      .filter($"r" <= rrfDepth)
      .select($"probe_id", $"doc_id", $"r".as("cos_rank"))
    bmRanks
      .join(cosRanks, Seq("probe_id", "doc_id"), "full_outer")
      .select(
        $"probe_id", $"doc_id", $"bm25_rank", $"cos_rank",
        (coalesce(lit(1.0) / (lit(rrfC) + $"bm25_rank"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfC) + $"cos_rank"), lit(0.0))).as("rrf_raw"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"probe_id").orderBy($"rrf_raw".desc, $"doc_id")).cast("int"))
      .filter($"rank" <= bmK)
      .select($"probe_id", $"doc_id", round($"rrf_raw", 6).as("rrf"), $"rank")
      .orderBy($"probe_id", $"rank")
      .localCheckpoint(eager = true) match {
        case out => release(); out
      }
  }

  // ---------------------------------------------------------------- oracles

  /** Shared BM25 score CTE (DuckDB) — identical literals, identical
    * once-rounded term expression, decimal sum.
    */
  private val bm25Cte =
    s"""toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
      |corpus AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(dl) AS BIGINT) AS tot_len FROM dl),
      |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
      |scores AS (
      |  SELECT q.doc_id AS probe_id, t.doc_id,
      |    SUM(CAST(round(
      |      ln((CAST(c.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5) + 1.0) *
      |        (t.tf * ${bm25K1 + 1.0}) /
      |        (t.tf + $bm25K1 * ((1.0 - $bm25B) + $bm25B *
      |          (d2.dl / (CAST(c.tot_len AS DOUBLE) / CAST(c.n_docs AS DOUBLE))))),
      |      9) AS DECIMAL(20,9))) AS sc
      |  FROM (SELECT doc_id, token FROM tf WHERE doc_id < $bmProbes) q
      |  JOIN tf t ON t.token = q.token AND t.doc_id <> q.doc_id
      |  JOIN dl d2 ON d2.doc_id = t.doc_id
      |  JOIN dfx f ON f.token = q.token
      |  CROSS JOIN corpus c
      |  GROUP BY q.doc_id, t.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_bm25_topk" ->
      s"""WITH $bm25Cte
        |SELECT probe_id, doc_id, round(CAST(sc AS DOUBLE), 6) AS bm25,
        |  CAST(rank AS INT) AS rank
        |FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY probe_id ORDER BY sc DESC, doc_id) AS rank
        |  FROM scores) t
        |WHERE rank <= $bmK ORDER BY probe_id, rank""".stripMargin,
    "sim_rrf_fusion" ->
      s"""WITH $bm25Cte,
        |bm AS (
        |  SELECT probe_id, doc_id, rank AS bm25_rank FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY probe_id ORDER BY sc DESC, doc_id) AS rank
        |    FROM scores) t WHERE rank <= $rrfDepth),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < $bmProbes),
        |cosr AS (
        |  SELECT probe_id, doc_id, rank AS cos_rank FROM (
        |    SELECT probe_id, vec_id AS doc_id, row_number() OVER
        |      (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
        |    FROM (
        |      SELECT probe_id, e.vec_id,
        |        round(list_dot_product(pv, v)
        |          / sqrt(list_dot_product(pv, pv) * list_dot_product(v, v)), 6) AS cos
        |      FROM e JOIN p ON e.vec_id <> p.probe_id) s) t
        |  WHERE rank <= $rrfDepth),
        |fused AS (
        |  SELECT coalesce(bm.probe_id, cosr.probe_id) AS probe_id,
        |    coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
        |    bm.bm25_rank, cosr.cos_rank,
        |    coalesce(1.0 / ($rrfC + bm.bm25_rank), 0.0)
        |      + coalesce(1.0 / ($rrfC + cosr.cos_rank), 0.0) AS rrf_raw
        |  FROM bm FULL OUTER JOIN cosr
        |    ON bm.probe_id = cosr.probe_id AND bm.doc_id = cosr.doc_id)
        |SELECT probe_id, doc_id, round(rrf_raw, 6) AS rrf, CAST(rank AS INT) AS rank
        |FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY probe_id ORDER BY rrf_raw DESC, doc_id) AS rank
        |  FROM fused) t
        |WHERE rank <= $bmK ORDER BY probe_id, rank""".stripMargin
  )

  val queries: Map[String, Q] = Map(
    "text_bm25_topk" -> bm25TopK,
    "sim_rrf_fusion" -> rrfFusion
  )
}
