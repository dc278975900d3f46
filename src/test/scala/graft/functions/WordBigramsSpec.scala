package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The native bigram kernel: byte-for-byte agreement with the
  * `split(" ", -1)` + join formulation it replaced, and the plan gate —
  * the five text queries that used to declare a per-query ScalaUDF now
  * carry zero UDF nodes.
  */
class WordBigramsSpec extends SparkSpec {
  import spark.implicits._

  private def reference(text: String): Seq[String] = {
    val w = text.split(" ", -1)
    if (w.length < 2) Seq.empty
    else Seq.tabulate(w.length - 1)(i => w(i) + " " + w(i + 1))
  }

  private def native(text: String): Seq[String] = {
    val a = WordBigrams.compute(UTF8String.fromString(text))
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }

  test("kernel equals the split-and-join reference on edge cases") {
    val cases = Seq(
      "",
      " ",
      "  ",
      "one",
      "a b",
      "a b c",
      " leading",
      "trailing ",
      "double  space",
      "ünïcødé tökens höhö",
      "日本語 テキスト の 場合",
      "mix 日本 b  ",
      "tab\tstays one\ttoken x"
    )
    cases.foreach { c =>
      assert(native(c) == reference(c), s"mismatch on ${c.inspect}")
    }
  }

  test("column surface matches a scala map over the corpus") {
    val texts = graft.tables.Tables
      .documents(spark, sf0001)
      .select($"doc_id", $"text")
      .orderBy($"doc_id")
      .limit(50)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = graft.tables.Tables
      .documents(spark, sf0001)
      .orderBy($"doc_id")
      .limit(50)
      .select($"doc_id", GraftFunctions.bigrams($"text").as("bg"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == reference(t), s"doc $id")
    }
  }

  private def hasScalaUdf(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])))

  test("no ScalaUDF node in any bigram-consuming query plan") {
    val names = Seq(
      "text_top_ngrams", "text_pmi_pairs", "text_perplexity",
      "text_dsir", "text_textrank", "text_lm_generate")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sf0001)
      assert(!hasScalaUdf(df.queryExecution.analyzed), s"$n still plans a ScalaUDF")
      spark.catalog.clearCache()
    }
  }

  private implicit class Inspect(s: String) {
    def inspect: String = s.map {
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }.mkString("\"", "", "\"")
  }
}
