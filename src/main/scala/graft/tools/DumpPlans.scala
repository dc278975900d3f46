package graft.tools

import graft.GraftSession
import graft.queries.Relational
import graft.forecast.ForecastJobs
import graft.sim.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Writes docs/PLANS.md: formatted physical plans for the plans that
  * carry the scale argument (pushdown, pruning, broadcast, partial agg,
  * the custom TopKPerKeyExec). Regenerate with
  * `sbt "runMain graft.tools.DumpPlans"`.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "dump-plans")
    val sf = "/root/testdata/sf0.001"
    def fmt(df: DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val sections: Seq[(String, String, String)] = Seq(
      (
        "TPC-H Q1 shape (q1_pricing_summary)",
        "Filter pushed to parquet scan; two-phase (partial + final) hash aggregation.",
        fmt(Relational.q1PricingSummary(spark, sf))
      ),
      (
        "Dimension joins (j2_dim_join)",
        "Both dimension sides broadcast — the fact scan never shuffles for the joins.",
        fmt(Relational.j2DimJoin(spark, sf))
      ),
      (
        "Weekly series rollup (m_weekly_series input)",
        "Broadcast dim join + decimal-exact partial aggregation before the (profile, week) exchange.",
        fmt(ForecastJobs.weeklySeries(spark, sf, 5))
      ),
      (
        "Custom top-k operator (ann_topk_native)",
        "TopKPerKeyExec: bounded per-key heaps after one clustered exchange — no per-partition full sort.",
        fmt(Similarity.bruteForceTopKNative(spark, sf, 5))
      ),
      (
        "Blocked fuzzy match (j_fuzzy_match)",
        "Dictionary groupBy first, then the self-join keyed on the blocking token — " +
          "the quadratic is bounded per block, and the thresholded levenshtein runs " +
          "only on block-local pairs that survive the length prefilter.",
        fmt(graft.queries.Matching.jFuzzyMatch(spark, sf))
      ),
      (
        "Distributed skyline (a_skyline)",
        "mapPartitions local frontier prune before any exchange; the global verify is " +
          "a broadcast nested-loop anti-join over the tiny candidate set.",
        fmt(graft.queries.Matching.aSkyline(spark, sf))
      ),
      (
        "Frame dedup (mm_frame_dedup)",
        "The stop-frame cap's window count and the pair self-join share one frame_md5 " +
          "exchange; per-doc DISTINCT frames before the join keep counts multiplicity-free.",
        fmt(graft.mm.Multimodal.mmFrameDedup(spark, sf))
      ),
      (
        "Runtime bloom-filter join pruning (j_bloom_prune)",
        "The might_contain predicate sits in the fact scan's Filter, below the join " +
          "exchange — non-joining rows exit map-side for one hash + bitset probe each; " +
          "the equi-join above absorbs bloom false positives. (Dumped with a 4 Kbit " +
          "bloom so the literal stays readable; the query default is 1 Mbit.)",
        fmt(graft.queries.RuntimeFilter.jBloomPrune(spark, sf, numBits = 1 << 12))
      ),
      (
        "Per-domain quota cap (text_domain_cap)",
        "TopKPerKeyPartial below the exchange bounds shuffle volume to k rows per " +
          "(source, mapper); the rank window above runs over ≤ k·domains survivors.",
        fmt(graft.text.TextAnalysis.textDomainCap(spark, sf))
      ),
      (
        "Cell-blocked k-NN graph (sim_knn_graph)",
        "Corpus and probe sides meet on one cell_id exchange (candidates bounded to " +
          "nprobe cells per vector instead of the O(n²) cross join); the bounded-heap " +
          "TopKPerKey tail ships at most k rows per (vector, mapper).",
        fmt(Similarity.knnGraph(spark, sf, k = 3, nCells = 8, nprobe = 3))
      ),
      (
        "Sweep-line peak concurrency (t_peak_concurrency)",
        "The global running sum is decomposed: the only partition-less window sorts " +
          "day-grain rows (calendar-bounded), day offsets broadcast back, and the " +
          "fine-grained cumulative window is partitioned by day.",
        fmt(graft.queries.Advanced.tPeakConcurrency(spark, sf))
      ),
      (
        "BM25 retrieval (text_bm25_topk)",
        "Query terms probe the tf table ON TOKEN (inverted-index bound: work is " +
          "Σ df over query terms, never |corpus|×|queries|); df broadcasts; the " +
          "per-probe top-k rides TopKPerKeyExec's bounded heaps.",
        fmt(graft.text.Retrieval.bm25TopKBuild(spark, sf, checkpoint = false))
      ),
      (
        "Naive-Bayes scoring join (text_nb_classifier)",
        "The V×C model and class table BROADCAST to the doc-term scan — scoring is " +
          "map-side; the only shuffles aggregate doc terms and per-doc class scores " +
          "(fan-out bounded by the class count).",
        fmt(graft.text.TextAnalysis.nbClassifierBuild(spark, sf, checkpoint = false))
      ),
      (
        "IRLS sufficient-statistics pass (m_logit_irls)",
        "Shown: the final metrics aggregate — scan → partial HashAggregate (14 " +
          "decimal sums map-side) → single-row final. Every training iteration is " +
          "this same shape; β moves as broadcast literals, the corpus never shuffles.",
        fmt(graft.queries.Glm.logitIrls(spark, sf))
      ),
      (
        "Seed-bounded Adamic-Adar wedges (g_adamic_adar)",
        "The seed set broadcasts into the adjacency scan, wedge enumeration is " +
          "|S|·d̄² (seed-side only, not the full graph's Σdeg²), and the top-k window " +
          "runs over the already-aggregated candidate table.",
        fmt(graft.queries.Graph.adamicAdarCandidates(
          spark, sf, graft.queries.Graph.coEdges(spark, sf)))
      ),
      (
        // folded from the retired DumpPcaPlan one-off (r13 tools consolidation)
        "PCA covariance stage (sim_pca)",
        "One pass over the validated embedding scan: the d×d sufficient statistics " +
          "accumulate map-side (partial aggregate), one single-row exchange finalizes.",
        fmt(graft.sim.Pca.covarianceFrame(spark, sf))
      ),
      (
        // folded from the retired DumpR7Plans one-off (r13 tools consolidation)
        "Native bigram generator (text_top_ngrams)",
        "WordBigrams runs as a native generator inside the scan's whole-stage span — " +
          "no ScalaUDF boundary in the hot tokenization path.",
        fmt(graft.SparkEntry.queries("text_top_ngrams")(spark, sf))
      )
    )
    // DSv2 REST pushed-range scan (also from the retired DumpR7Plans):
    // needs a live fixture endpoint, so it renders against the local
    // fixture server rather than a parquet dir
    val restSection: (String, String, String) = {
      val srv = graft.sources.FixtureApiServer.shopifyAdmin(
        "/root/repo/fixtures/shopify_orders.json", user = "u", pass = "p")
      try {
        val df = graft.sources.RestQueries
          .shopifyDsv2Records(spark, srv.base, "u", "p",
            "2019-01-01T00:00:00Z", "2020-01-01T00:00:00Z", pageSize = 2)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("created_at"))
        df.collect()
        ("DSv2 REST scan (zolo-rest shopify)",
          "The pushed time range and pruned columns reach the scan: pagination is " +
            "planned from the pushed window, not the full history.",
          fmt(df))
      } finally srv.stop()
    }
    val md = new StringBuilder
    md.append("# Physical plans (generated by graft.tools.DumpPlans at sf0.001)\n")
    (sections :+ restSection).foreach { case (title, note, plan) =>
      md.append(s"\n## $title\n\n$note\n\n```\n$plan```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), md.toString)
    println("wrote docs/PLANS.md")
    spark.stop()
  }
}
