package graft.forecast

import org.scalatest.funsuite.AnyFunSuite

/** Model-math goldens (FIXTURES.md §4): closed-form sanity series — SES on
  * a constant is the constant, Holt on a linear ramp extrapolates the
  * slope, AR(1) recovery on a synthetic process — plus hand-computed SES
  * recursions at 1e-9.
  */
class ModelsSpec extends AnyFunSuite {

  test("SES on a constant series forecasts the constant") {
    val xs = Array.fill(20)(42.0)
    assert(math.abs(Models.sesForecast(xs, 0.6) - 42.0) < 1e-12)
  }

  test("SES recursion matches hand computation at alpha=0.6") {
    // s0=10; s1=.6*20+.4*10=16; s2=.6*30+.4*16=24.4; s3=.6*10+.4*24.4=15.76
    val xs = Array(10.0, 20.0, 30.0, 10.0)
    assert(math.abs(Models.sesForecast(xs, 0.6) - 15.76) < 1e-9)
  }

  test("SES level stays within series bounds (property)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val xs = Array.fill(30)(rnd.nextDouble() * 100)
      val f = Models.sesForecast(xs, 0.6)
      assert(f >= xs.min - 1e-9 && f <= xs.max + 1e-9)
    }
  }

  test("SES walk-forward on constant series has zero MSE") {
    val (m, _) = Models.sesWalkForward(Array.fill(16)(5.0), 0.6)
    assert(m == 0.0)
  }

  test("SES walk-forward carried level is BIT-identical to per-step full refit") {
    // r14 optimization: sesWalkForward carries the level forward instead
    // of refolding the whole history each test step. The fold is strictly
    // left-to-right, so the carried level must equal the full refit
    // exactly (==, not a tolerance) on arbitrary series.
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 20) {
      val xs = Array.fill(8 + rnd.nextInt(60))(
        (rnd.nextDouble() - 0.3) * math.pow(10, rnd.nextInt(7) - 3))
      val (train, test) = Models.split75(xs)
      if (train.nonEmpty && test.nonEmpty) {
        val naive = {
          val history = scala.collection.mutable.ArrayBuffer.from(train)
          val preds = new Array[Double](test.length)
          var i = 0
          while (i < test.length) {
            preds(i) = Models.sesForecast(history.toArray, 0.6)
            history += test(i)
            i += 1
          }
          (Models.mse(preds, test), preds)
        }
        val fast = Models.sesWalkForward(xs, 0.6)
        assert(fast._1 == naive._1, s"trial $trial mse")
        assert(fast._2.sameElements(naive._2), s"trial $trial preds")
      }
    }
  }

  test("ARIMA walk-forward carried stage-1 sums are BIT-identical to per-step fresh fits") {
    // arimaWalkForward carries the long-AR normal equations from one
    // prefix to the next and adds only the new row; a fresh arimaFit per
    // prefix sums every row again. The sums are ascending-row in both, so
    // the outcome (failure, None, or every bit of MSE and predictions)
    // must agree for all 50 grid configs. Short series make the long-AR
    // order m = min(max(p+q+2, 4), n/4) change as the prefix grows.
    def bits(xs: Array[Double]) = xs.map(java.lang.Double.doubleToRawLongBits).toSeq
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 12) {
      val n = if (trial <= 6) 10 + rnd.nextInt(30) else 40 + rnd.nextInt(50)
      val xs = new Array[Double](n)
      xs(0) = rnd.nextDouble() * 10
      for (t <- 1 until n) xs(t) = 0.6 * xs(t - 1) + rnd.nextGaussian() + (if (trial % 2 == 0) 0.3 * t else 0.0)
      for (p <- 0 until 5; d <- 0 until 2; q <- 0 until 5) {
        val fresh = scala.util.Try {
          val (train, test) = Models.split75(xs)
          if (train.length < d + math.max(p, q) + 5 || test.isEmpty) None
          else {
            val fits = test.indices.map(i => Models.arimaFit(xs.take(train.length + i), p, d, q))
            if (fits.exists(_.isEmpty)) None
            else {
              val preds = fits.map(_.get.forecast).toArray
              Some((Models.mse(preds, test), preds))
            }
          }
        }
        val carried = scala.util.Try(Models.arimaWalkForward(xs, p, d, q))
        val cfg = s"trial $trial n=$n ($p,$d,$q)"
        assert(carried.isSuccess == fresh.isSuccess, cfg)
        for (c <- carried; f <- fresh) {
          assert(c.isDefined == f.isDefined, cfg)
          for ((cm, cp) <- c; (fm, fp) <- f) {
            assert(java.lang.Double.doubleToRawLongBits(cm) == java.lang.Double.doubleToRawLongBits(fm), s"$cfg mse")
            assert(bits(cp) == bits(fp), s"$cfg preds")
          }
        }
      }
    }
  }

  test("fixed-param Holt recursion matches hand computation") {
    // xs = [10, 12, 15]; l0=10, b0=2
    // step1: l=.8*12+.2*12=12, b=.2*(12-10)+.8*2=2
    // step2: l=.8*15+.2*14=14.8, b=.2*(14.8-12)+.8*2=2.16
    val (l, b) = Models.holtStateFixed(Array(10.0, 12.0, 15.0), 0.8, 0.2)
    assert(math.abs(l - 14.8) < 1e-12 && math.abs(b - 2.16) < 1e-12)
  }

  test("fixed-param Holt on a linear ramp tracks level and slope") {
    val xs = Array.tabulate(30)(i => 5.0 + 3.0 * i)
    val (l, b) = Models.holtStateFixed(xs, 0.8, 0.2)
    assert(math.abs(l - xs.last) < 1e-6)
    assert(math.abs(b - 3.0) < 1e-6)
  }

  test("Holt on a linear ramp extrapolates the slope") {
    val xs = Array.tabulate(24)(i => 3.0 + 2.5 * i)
    val f = Models.holtForecast(xs)
    assert(math.abs(f - (3.0 + 2.5 * 24)) < 0.3, s"got $f expected ${3.0 + 2.5 * 24}")
  }

  test("Holt walk-forward beats SES on trending data") {
    val xs = Array.tabulate(40)(i => 10.0 + 3.0 * i)
    // M3 walk-forward with a per-prefix Holt refit
    val (train, test) = Models.split75(xs)
    val holtPreds = test.indices.map(i => Models.holtForecast(xs.take(train.length + i))).toArray
    val holtMse = Models.mse(holtPreds, test)
    val (sesMse, _) = Models.sesWalkForward(xs, 0.6)
    assert(holtMse < sesMse)
  }

  test("AR(1) coefficient recovery within tolerance") {
    val rnd = new scala.util.Random(42)
    val n = 400
    val phi = 0.7
    val xs = new Array[Double](n)
    xs(0) = 0.0
    for (i <- 1 until n) xs(i) = phi * xs(i - 1) + rnd.nextGaussian()
    val fit = Models.arimaFit(xs, 1, 0, 0).get
    assert(math.abs(fit.phi(0) - phi) < 0.1, s"phi=${fit.phi(0)}")
  }

  test("ARIMA(0,1,0) on a linear ramp forecasts next step exactly") {
    // differenced series is constant => forecast = last + slope
    val xs = Array.tabulate(30)(i => 5.0 + 4.0 * i)
    val fit = Models.arimaFit(xs, 0, 1, 0).get
    assert(math.abs(fit.forecast - (5.0 + 4.0 * 30)) < 1e-6, s"got ${fit.forecast}")
    assert(fit.stdError < 1e-6)
  }

  test("grid search picks a finite-MSE config and d=1 family on ramp") {
    val rnd = new scala.util.Random(1)
    val xs = Array.tabulate(40)(i => 2.0 * i + rnd.nextGaussian() * 0.1)
    val (p, d, q, m) = Models.arimaGridSearch(xs).get
    assert(m.isFinite && m < 1.0, s"config ($p,$d,$q) mse=$m")
  }

  test("MA(1) coefficient recovery within tolerance") {
    val rnd = new scala.util.Random(11)
    val n = 2000
    val theta = 0.6
    val eps = Array.fill(n + 1)(rnd.nextGaussian())
    val xs = Array.tabulate(n)(i => eps(i + 1) + theta * eps(i))
    val fit = Models.arimaFit(xs, 0, 0, 1).get
    assert(math.abs(fit.theta(0) - theta) < 0.15, s"theta=${fit.theta(0)}")
  }

  test("ARMA(1,1) recovery within coarse tolerance") {
    val rnd = new scala.util.Random(5)
    val n = 3000
    val (phi, theta) = (0.5, 0.3)
    val eps = Array.fill(n + 1)(rnd.nextGaussian())
    val xs = new Array[Double](n)
    xs(0) = eps(1)
    for (i <- 1 until n) xs(i) = phi * xs(i - 1) + eps(i + 1) + theta * eps(i)
    val fit = Models.arimaFit(xs, 1, 0, 1).get
    assert(math.abs(fit.phi(0) - phi) < 0.15, s"phi=${fit.phi(0)}")
    assert(math.abs(fit.theta(0) - theta) < 0.2, s"theta=${fit.theta(0)}")
  }

  test("CSS refinement never worsens the CSS loss and improves AR(1) recovery") {
    val rnd = new scala.util.Random(42)
    val n = 300
    val phi = 0.7
    val xs = new Array[Double](n)
    for (i <- 1 until n) xs(i) = phi * xs(i - 1) + rnd.nextGaussian()
    val hr = Models.arimaFit(xs, 1, 0, 1).get
    val css = Models.arimaFitCss(xs, 1, 0, 1).get
    val w = xs
    val hrLoss = Models.cssLoss(w, 1, 1, hr.c +: (hr.phi ++ hr.theta))
    val cssLoss = Models.cssLoss(w, 1, 1, css.c +: (css.phi ++ css.theta))
    assert(cssLoss <= hrLoss + 1e-9, s"css=$cssLoss hr=$hrLoss")
  }

  test("CSS MA(1) recovery at least as close as the HR start") {
    val rnd = new scala.util.Random(11)
    val n = 2000
    val theta = 0.6
    val eps = Array.fill(n + 1)(rnd.nextGaussian())
    val xs = Array.tabulate(n)(i => eps(i + 1) + theta * eps(i))
    val css = Models.arimaFitCss(xs, 0, 0, 1).get
    assert(math.abs(css.theta(0) - theta) < 0.1, s"theta=${css.theta(0)}")
  }

  test("Nelder-Mead minimizes a quadratic bowl deterministically") {
    val f = (x: Array[Double]) => (x(0) - 3.0) * (x(0) - 3.0) + 2.0 * (x(1) + 1.0) * (x(1) + 1.0)
    val x = Models.nelderMead(f, Array(0.0, 0.0))
    assert(math.abs(x(0) - 3.0) < 1e-4 && math.abs(x(1) + 1.0) < 1e-4)
    val y = Models.nelderMead(f, Array(0.0, 0.0))
    assert(x.toSeq == y.toSeq) // deterministic
  }

  test("olsSolve solves a known 2x2 system") {
    // y = 1 + 2x on points x=0..3
    val x = Array(Array(1.0, 0.0), Array(1.0, 1.0), Array(1.0, 2.0), Array(1.0, 3.0))
    val y = Array(1.0, 3.0, 5.0, 7.0)
    val b = Models.olsSolve(x, y).get
    assert(math.abs(b(0) - 1.0) < 1e-9 && math.abs(b(1) - 2.0) < 1e-9)
  }

  test("diff twice of quadratic is constant") {
    val xs = Array.tabulate(10)(i => (i * i).toDouble)
    val d2 = Models.diff(xs, 2)
    assert(d2.forall(v => math.abs(v - 2.0) < 1e-12))
  }

  test("fixed-param ARMA(1,1) recursion matches hand computation") {
    // xs = [10, 20, 30]; mean m = 20 (sequential fold (10+20)+30 = 60/3)
    // x̂1 = 20;            e1 = -10; x̂2 = 20 + .5(10-20) + .3(-10) = 12
    // e2 = 20-12 = 8;      x̂3 = 20 + .5(20-20) + .3(8)   = 22.4
    // e3 = 30-22.4 = 7.6;  x̂4 = 20 + .5(30-20) + .3(7.6) = 27.28
    // sse = 100 + 64 + 57.76 = 221.76; mse = 73.92
    val (pred, mse) = Models.armaStateFixed(Array(10.0, 20.0, 30.0), phi = 0.5, theta = 0.3)
    assert(math.abs(pred - 27.28) < 1e-9)
    assert(math.abs(mse - 73.92) < 1e-9)
  }

  test("fixed-param ARMA(1,1) on a constant series predicts the constant, zero MSE") {
    val (pred, mse) = Models.armaStateFixed(Array.fill(25)(42.0), 0.5, 0.3)
    assert(math.abs(pred - 42.0) < 1e-12)
    assert(mse < 1e-20)
  }

  test("75/25 split is positional") {
    val (tr, te) = Models.split75(Array.tabulate(10)(_.toDouble))
    assert(tr.length == 7 && te.length == 3 && te(0) == 7.0)
  }
}
