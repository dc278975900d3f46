package graft.etl

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The co-located-join layout: bucketed fact tables joined on the bucket
  * key must plan with no shuffle exchange — the property that makes J1
  * hold at 100 TB.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed header-detail join plans without a shuffle exchange") {
    try {
      Warehouse.writeBucketed(Tables.orders(spark, sf0001), "b_orders", "o_orderkey", 8)
      Warehouse.writeBucketed(Tables.lineitem(spark, sf0001), "b_lineitem", "l_orderkey", 8)
      // the merge hint keeps the join sort-merge (j_bucketed_colocated's setup)
      val joined = spark
        .table("b_orders").hint("merge")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("q"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      val shufflesBeforeAgg = plan.linesIterator
        .takeWhile(l => !l.contains("HashAggregate"))
        .count(_.contains("Exchange"))
      // join itself must not introduce exchanges; the single allowed
      // exchange would be for the final agg, but since grouping is on the
      // bucket key even that collapses
      assert(!plan.contains("Exchange hashpartitioning"), s"join shuffled:\n$plan")
      // row-level sanity vs the unbucketed join
      val expected = Tables
        .orders(spark, sf0001)
        .join(Tables.lineitem(spark, sf0001), col("o_orderkey") === col("l_orderkey"))
        .count()
      assert(joined.selectExpr("sum(q)").collect()(0).getDouble(0) > 0)
      assert(
        spark.table("b_orders").join(spark.table("b_lineitem"),
          col("o_orderkey") === col("l_orderkey")).count() == expected
      )
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("driver query j_bucketed_colocated equals the plain unbucketed join") {
    import spark.implicits._
    val got = graft.queries.Relational.jBucketedColocated(spark, sf0001)
    val plain = Tables.orders(spark, sf0001)
      .join(Tables.lineitem(spark, sf0001), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderstatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(18,6)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items")
      )
    assert(got.count() > 0)
    assert(got.except(plain).count() == 0)
    assert(plain.except(got).count() == 0)
    // the bucketed tables must not leak into the session catalog
    val left = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("jb_"))
    assert(left.isEmpty, s"bucketed tables left: ${left.toSeq}")
  }
}
