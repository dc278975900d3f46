package graft.forecast

import org.scalatest.funsuite.AnyFunSuite

/** Kalman-filter MLE validation against closed forms and recovery. */
class KalmanSpec extends AnyFunSuite {

  test("Lyapunov: AR(1) stationary variance is 1/(1-phi^2)") {
    val phi = 0.6
    val p0 = Kalman.lyapunov(Array(Array(phi)), Array(Array(1.0))).get
    assert(math.abs(p0(0)(0) - 1.0 / (1 - phi * phi)) < 1e-10)
  }

  test("filter: AR(1) innovations match the exact decomposition") {
    // after the first observation, F_t = 1 and v_t = z_t - phi z_{t-1}
    val phi = 0.5
    val w = Array(1.0, 2.0, 0.5, -1.0)
    val r = Kalman.filter(w, 1, 0, Array(0.0, phi)).get
    // manual: F0 = 1/(1-phi^2); v0 = w0; then F=1, v_t = w_t - phi*w_{t-1}
    val f0 = 1.0 / (1 - phi * phi)
    var sumLogF = math.log(f0)
    var sumV2F = w(0) * w(0) / f0
    for (t <- 1 until w.length) {
      val v = w(t) - phi * w(t - 1)
      sumV2F += v * v
    }
    val sigma2 = sumV2F / w.length
    val nll = w.length * math.log(sigma2) + sumLogF
    assert(math.abs(r.negLogLik - nll) < 1e-9, s"${r.negLogLik} vs $nll")
    assert(math.abs(r.forecast - phi * w.last) < 1e-9)
  }

  test("filter: MA(1) first-step variance is 1 + theta^2") {
    val theta = 0.4
    val w = Array(1.0)
    val r = Kalman.filter(w, 0, 1, Array(0.0, theta)).get
    // nll = 1*log(sigma2) + log(1+theta^2); sigma2 = w0^2/(1+theta^2)
    val f0 = 1 + theta * theta
    val expected = math.log(w(0) * w(0) / f0) + math.log(f0)
    assert(math.abs(r.negLogLik - expected) < 1e-9)
  }

  /** The filter recursion written with fresh arrays per time step
    * (Array.tabulate for K, a, TP and P): the reference that the
    * buffered [[Kalman.filter]] must reproduce bit for bit.
    */
  private def allocatingFilter(w: Array[Double], p: Int, q: Int, params: Array[Double]): Option[Kalman.FilterResult] = {
    val n = w.length
    val m = math.max(p, q + 1)
    val mu = params(0)
    val phi = Array.tabulate(m)(i => if (i < p) params(1 + i) else 0.0)
    val theta = Array.tabulate(m)(i => if (i == 0) 1.0 else if (i - 1 < q) params(1 + p + i - 1) else 0.0)
    val tm = Array.tabulate(m, m)((i, j) => if (j == 0) phi(i) else if (j == i + 1) 1.0 else 0.0)
    val rr = Array.tabulate(m, m)((i, j) => theta(i) * theta(j))
    var pMat = Kalman.lyapunov(tm, rr).getOrElse(return None)
    var aVec = new Array[Double](m)
    var sumLogF = 0.0
    var sumV2F = 0.0
    for (t <- 0 until n) {
      val v = w(t) - mu - aVec(0)
      val f = pMat(0)(0)
      if (!(f > 1e-12) || f.isNaN) return None
      sumLogF += math.log(f)
      sumV2F += v * v / f
      val k = Array.tabulate(m) { i =>
        var s = 0.0
        for (j <- 0 until m) s += tm(i)(j) * pMat(j)(0)
        s / f
      }
      val aNew = Array.tabulate(m) { i =>
        var s = 0.0
        for (j <- 0 until m) s += tm(i)(j) * aVec(j)
        s + k(i) * v
      }
      val tp = Array.tabulate(m, m) { (i, j) =>
        var s = 0.0
        for (l <- 0 until m) s += tm(i)(l) * pMat(l)(j)
        s
      }
      val pNew = Array.tabulate(m, m) { (i, j) =>
        var s = 0.0
        for (l <- 0 until m) s += tp(i)(l) * tm(j)(l)
        s + rr(i)(j) - k(i) * f * k(j)
      }
      aVec = aNew
      pMat = pNew
    }
    val sigma2 = sumV2F / n
    if (sigma2 <= 0 || sigma2.isNaN) return None
    val nll = n * math.log(sigma2) + sumLogF
    if (nll.isNaN) return None
    Some(Kalman.FilterResult(nll, sigma2, mu + aVec(0), pMat(0)(0) * sigma2))
  }

  test("filter is BIT-identical to the per-step allocating recursion") {
    def bits(r: Option[Kalman.FilterResult]) =
      r.map(f => Seq(f.negLogLik, f.sigma2, f.forecast, f.forecastVar).map(java.lang.Double.doubleToRawLongBits))
    val rnd = new scala.util.Random(5)
    // (p, q) up to state dimension m = max(p, q + 1) = 5
    for (p <- 0 to 5; q <- 0 to 4 if math.max(p, q + 1) <= 5; trial <- 1 to 6) {
      val n = 5 + rnd.nextInt(80)
      val w = Array.fill(n)(3.0 + rnd.nextGaussian() * 2)
      // small coefficients stay stationary; a few large ones probe the None paths
      val scale = if (trial == 6) 1.5 else 0.8 / math.max(1, p + q)
      val params = Array.tabulate(1 + p + q)(i => if (i == 0) 3.0 else (rnd.nextDouble() * 2 - 1) * scale)
      val got = bits(Kalman.filter(w, p, q, params))
      assert(got == bits(allocatingFilter(w, p, q, params)), s"($p,$q) trial $trial n=$n")
    }
  }

  test("MLE recovers AR(1) coefficient and mean") {
    val rnd = new scala.util.Random(3)
    val n = 1500
    val (phi, mu) = (0.7, 5.0)
    val w = new Array[Double](n)
    w(0) = mu
    for (i <- 1 until n) w(i) = mu + phi * (w(i - 1) - mu) + rnd.nextGaussian()
    val (params, _) = Kalman.fitMle(w, 1, 0, Array(4.0, 0.3)).get
    assert(math.abs(params(0) - mu) < 0.3, s"mu=${params(0)}")
    assert(math.abs(params(1) - phi) < 0.07, s"phi=${params(1)}")
  }

  test("MLE likelihood never below the CSS start's likelihood") {
    val rnd = new scala.util.Random(9)
    val n = 400
    val eps = Array.fill(n + 1)(rnd.nextGaussian())
    val xs = Array.tabulate(n)(i => 2.0 + eps(i + 1) + 0.5 * eps(i))
    val css = Models.arimaFitCss(xs, 0, 0, 1).get
    val mu0 = css.c
    val start = Array(mu0, css.theta(0))
    val startLoss = Kalman.filter(xs, 0, 1, start).get.negLogLik
    val (_, fr) = Kalman.fitMle(xs, 0, 1, start).get
    assert(fr.negLogLik <= startLoss + 1e-9)
  }

  test("end-to-end arimaFitMle on trending series forecasts sensibly") {
    val rnd = new scala.util.Random(21)
    val xs = Array.tabulate(60)(i => 10.0 + 2.0 * i + rnd.nextGaussian() * 0.5)
    val fit = Models.arimaFitMle(xs, 1, 1, 1).get
    assert(math.abs(fit.forecast - (10.0 + 2.0 * 60)) < 5.0, s"forecast=${fit.forecast}")
    assert(fit.stdError > 0 && fit.stdError < 5.0)
  }
}
