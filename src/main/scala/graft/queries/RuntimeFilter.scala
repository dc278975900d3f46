package graft.queries

import graft.tables.Tables
import graft.syntax._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType}

/** Runtime Bloom-filter join pruning — the manual, verifiable form of
  * what Catalyst's `InjectRuntimeFilter` rule does when its thresholds
  * line up: a selective predicate lands on the DIM side of a join, so
  * the FACT side's scan is cut down *before* the join's shuffle by a
  * Bloom filter built from the filtered dim keys.
  *
  * Shape (two jobs, like a broadcast join's build side):
  *
  *  1. '''Build''': scan the filtered dim slice once and fold its join
  *     keys into one Bloom filter via the native
  *     [[BloomFilterAggregate]] (partial per-partition sketches, one
  *     OR-merge at the driver — same movement as any partial agg). The
  *     result is a KB-scale binary — the same size class as a broadcast
  *     relation, which is what makes collecting it to the driver sound
  *     at 100 TB: its size is set by the distinct-key count of the
  *     *filtered dim*, not by fact volume.
  *  2. '''Prune + verify''': stamp the blob into the fact scan as a
  *     [[BloomFilterMightContain]] predicate over `xxhash64(key)` —
  *     codegen'd, evaluated map-side inside the scan stage, so rows
  *     that cannot join never enter the shuffle. Bloom "maybe" answers
  *     (false positives) are then removed by the ordinary equi-join,
  *     which is why the operator's result provably equals the plain
  *     join: the bloom only ever *adds back* work, never drops a
  *     matching row (no false negatives).
  *
  * At 100 TB the win is the shuffle: a 0.1%-selective dim predicate
  * means ~99.9% of fact rows exit at the scan for the cost of one hash
  * + bitset probe each, instead of being hashed, serialized and shipped
  * to the join. The oracle is the plain SQL join — correctness is
  * independent of the bloom's false-positive rate, which
  * RuntimeFilterSpec exercises by forcing a tiny, FP-heavy filter.
  */
object RuntimeFilter {
  type Q = (SparkSession, String) => DataFrame

  /** Orders slice the bloom is built from: urgent/high orders in
    * H2-1997. ~3% of orders at any SF (priority is uniform 1-of-5, the
    * window is ~7% of the date range) — selective enough that the
    * pruned lineitem scan ships ~3% of its rows into the join shuffle.
    */
  private[queries] def dimSlice(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "2-HIGH") &&
        $"o_orderdate" >= lit("1997-07-01").cast("timestamp"))

  /** Distributed bloom build over `keys`; one binary blob back to the
    * driver (KB-scale — see scaladoc). `numBits` is a forced-FP lever
    * for the spec; the default sizes ~1% FP at `expectedKeys`.
    */
  def buildBloom(df: DataFrame, key: Column, expectedKeys: Long, numBits: Long): Array[Byte] = {
    val hashed = GraftSqlBridge.expression(xxhash64(key))
    val agg = new BloomFilterAggregate(
      hashed,
      Literal(expectedKeys),
      Literal(numBits)
    ).toAggregateExpression()
    df.select(GraftSqlBridge.column(agg).as("bloom"))
      .head().getAs[Array[Byte]](0)
  }

  /** `might_contain(bloom, xxhash64(key))` as a pushable scan predicate. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    GraftSqlBridge.column(
      BloomFilterMightContain(
        Literal(bloom, BinaryType),
        // seed 42 — the same default as the `xxhash64` function used on
        // the build side, so probe and build hash identically
        new XxHash64(Seq(GraftSqlBridge.expression(key)))
      )
    )

  /** The fact side with the bloom predicate applied (exposed so the spec
    * can measure the prefilter's selectivity and plan shape on its own).
    */
  def prunedFact(s: SparkSession, dir: String, bloom: Array[Byte]): DataFrame =
    Tables.lineitem(s, dir)
      .filter(mightContain(bloom, $"l_orderkey"))

  /** Revenue by priority over the urgent-H2-1997 slice, fact scan pruned
    * by the runtime bloom. Result == the plain join (oracle): the final
    * equi-join removes bloom false positives.
    */
  def jBloomPrune(s: SparkSession, dir: String, numBits: Long = 1 << 20): DataFrame = {
    val dim = dimSlice(s, dir)
    val bloom = buildBloom(dim, $"o_orderkey", expectedKeys = 1 << 16, numBits = numBits)
    prunedFact(s, dir, bloom)
      .join(dim.select($"o_orderkey", $"o_orderpriority"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast(DecimalType(18, 6))).cast(DoubleType).as("revenue")
      )
      .orderBy($"o_orderpriority")
  }

  /** Incremental batch dedup behind a Bloom prefilter — the "does this
    * incoming document already exist in the corpus" gate an append-only
    * curation pipeline runs per batch: the CORPUS side is summarized
    * once into a model-sized Bloom filter over prefix fingerprints
    * (first [[dedupPrefixTokens]] tokens — the cheap near-dup key; exact
    * text equality is `dedup_exact`'s job), the incoming batch probes it
    * MAP-SIDE, and only Bloom survivors pay the exact semi-join verify.
    * At 100 TB the corpus never reshuffles per batch — the bloom ships.
    * Correctness is FP-independent (the verify absorbs false positives;
    * the Bloom has no false negatives), so the oracle is the plain
    * semi-join. Batch = odd doc_ids, corpus = even.
    */
  val dedupPrefixTokens = 5
  def dedupIncrementalBloom(s: SparkSession, dir: String, numBits: Long = 1 << 20): DataFrame = {
    val key = array_join(slice(split($"text", " "), 1, dedupPrefixTokens), " ")
    val docs   = graft.tables.Tables.documents(s, dir).select($"doc_id", key.as("fp"))
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch  = docs.filter($"doc_id" % 2 === 1)
    val bloom  = buildBloom(corpus, $"fp", expectedKeys = 1 << 16, numBits = numBits)
    batch
      .filter(mightContain(bloom, $"fp"))
      .join(corpus.select($"fp"), Seq("fp"), "left_semi")
      .select($"doc_id", $"fp")
      .orderBy($"doc_id")
  }

  val queries: Map[String, Q] = Map(
    "j_bloom_prune"          -> ((s, d) => jBloomPrune(s, d)),
    "dedup_incremental_bloom" -> ((s, d) => dedupIncrementalBloom(s, d))
  )

  val oracles: Map[String, String] = Map(
    // FP-independent: the exact semi-join defines the result; the bloom
    // only prunes
    "dedup_incremental_bloom" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:$dedupPrefixTokens], ' ') AS fp
        |  FROM documents)
        |SELECT a.doc_id, a.fp
        |FROM p a
        |WHERE a.doc_id % 2 = 1
        |  AND EXISTS (SELECT 1 FROM p b WHERE b.doc_id % 2 = 0 AND b.fp = a.fp)
        |ORDER BY a.doc_id""".stripMargin,
    // the plain join — correctness must be independent of the bloom
    "j_bloom_prune" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderdate >= TIMESTAMP '1997-07-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
