package graft.tools

import graft.GraftSession
import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** One-shot golden-fixture generator for the two queries whose VALUES no
  * independent SQL engine can recompute (run locally, output committed):
  *
  *  - `m_arima_forecast` — the winning grid config's HR → CSS → exact
  *    Kalman-MLE chain (statsmodels semantics; `bin/modelling/lib.py:23-27`,
  *    `arima_models.py:203-217` behavior). The three staged siblings
  *    (`m_arima_mle_fixed` / `m_arima_hr` / `m_arima_grid`) stay
  *    independently hash-exact; this pins the END output the same way
  *    the JPEG family pins a lossy codec (mm/Jpeg.scala): committed
  *    golden CSVs the DuckDB oracle reads verbatim.
  *  - `a_approx_distinct` — Spark's HLL++ estimate. Only the
  *    `approx_orders` column is pinned; the oracle still recomputes
  *    `exact_orders` itself from the lineitem table, so the pin is
  *    exactly as wide as the engine-specific value.
  *
  * Determinism contract (what makes a pin sound): both values are
  * bit-deterministic functions of the input multiset — the MLE chain is
  * a per-profile sequential fold over the vec-id-sorted series (no
  * reduction-order float), the HLL sketch is a max-merge of per-row
  * register updates (commutative + associative). ForecastGoldenSpec
  * re-runs both queries and asserts bit-equality against the committed
  * CSVs at the gate SFs, so a regression that drifts a single ULP fails
  * the build, not just the round.
  *
  * Doubles are written with `java.lang.Double.toString` (shortest
  * round-trip decimal); DuckDB's CSV reader parses correctly-rounded,
  * so the read-back DOUBLE is bit-identical.
  */
object ForecastGoldens {
  val sfs = Seq("sf0.001", "sf0.01", "sf0.1")

  def arimaCsv(sf: String): String  = s"/root/repo/fixtures/arima_forecast_goldens_$sf.csv"
  def approxCsv(sf: String): String = s"/root/repo/fixtures/approx_distinct_goldens_$sf.csv"

  /** CSV field: quote strings that could hold commas; doubles via
    * shortest-round-trip toString (NaN would print as NaN — generation
    * fails loudly if one appears, a NaN golden would be unhashable).
    */
  private def d(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite value in golden output: $v")
    java.lang.Double.toString(v)
  }
  private def s(v: String): String = "\"" + v.replace("\"", "\"\"") + "\""

  /** The SINGLE rendering used by both the generator and
    * ForecastGoldenSpec's bit-equality assertion — sharing it means the
    * spec compares engine OUTPUT against committed bytes, never one CSV
    * dialect against another (a renderer drift can no longer read as
    * false golden drift, or mask real drift).
    */
  def renderArima(rows: Array[org.apache.spark.sql.Row]): String =
    "profile_name,best_config,mse,prediction,std_error,lower_bound,upper_bound\n" +
      rows.map { r =>
        Seq(
          s(r.getString(0)), s(r.getString(1)),
          d(r.getDouble(2)), d(r.getDouble(3)), d(r.getDouble(4)),
          d(r.getDouble(5)), d(r.getDouble(6))
        ).mkString(",")
      }.mkString("\n") + "\n"

  def renderApprox(rows: Array[org.apache.spark.sql.Row]): String =
    "l_returnflag,approx_orders\n" +
      rows.map(r => s"${s(r.getString(0))},${r.getLong(1)}").mkString("\n") + "\n"

  def main(args: Array[String]): Unit = {
    // 8 cores: SparkSpec, which checks these goldens, runs at 8
    val spark = GraftSession.local(cores = 8, appName = "forecast-goldens")
    for (sf <- sfs) {
      val dir = s"/root/testdata/$sf"

      val arima = SparkEntry.queries("m_arima_forecast")(spark, dir).collect()
      Files.writeString(Paths.get(arimaCsv(sf)), renderArima(arima))
      println(s"wrote ${arimaCsv(sf)}: ${arima.length} profiles")

      val approx = SparkEntry.queries("a_approx_distinct")(spark, dir).collect()
      Files.writeString(Paths.get(approxCsv(sf)), renderApprox(approx))
      println(s"wrote ${approxCsv(sf)}: ${approx.length} flags")
    }
    spark.stop()
  }
}
