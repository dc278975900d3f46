package graft.forecast

/** Exact Gaussian likelihood for ARMA(p,q) with mean, via the Kalman
  * filter over Harvey's state-space form — the statsmodels-default MLE
  * path (SURVEY §7.4.1's "hard part"), implemented from the standard
  * published recursions:
  *
  *   state dim m = max(p, q+1)
  *   T = companion(φ), R = (1, θ₁..θ_{m-1})', Z = (1, 0, .., 0)
  *   z_t = w_t − μ,  z_t = Z α_t,  α_{t+1} = T α_t + R ε_{t+1}
  *
  * Stationary initialization: P₀ solves the discrete Lyapunov equation
  * P₀ = T P₀ T' + R R' (σ² concentrated out, so Q = 1), solved exactly as
  * the m²×m² linear system (I − T⊗T) vec(P₀) = vec(R R').
  *
  * The concentrated negative log-likelihood is
  *   n·log σ̂² + Σ log F_t,  σ̂² = (1/n) Σ v_t²/F_t
  * minimized over (μ, φ, θ) by the deterministic Nelder–Mead in
  * [[Models.nelderMead]].
  */
object Kalman {

  /** Gaussian elimination with partial pivoting for a square system. */
  def solveLinear(a0: Array[Array[Double]], b0: Array[Double]): Option[Array[Double]] = {
    val n = b0.length
    val a = Array.tabulate(n, n + 1) { (i, j) => if (j < n) a0(i)(j) else b0(i) }
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (math.abs(a(piv)(col)) < 1e-12) return None
      if (piv != col) { val t = a(piv); a(piv) = a(col); a(col) = t }
      var r2 = 0
      while (r2 < n) {
        if (r2 != col) {
          val f = a(r2)(col) / a(col)(col)
          var c2 = col
          while (c2 <= n) { a(r2)(c2) -= f * a(col)(c2); c2 += 1 }
        }
        r2 += 1
      }
      col += 1
    }
    Some(Array.tabulate(n)(i => a(i)(n) / a(i)(i)))
  }

  /** Stationary state covariance: P = T P T' + RR' via vec/Kronecker. */
  def lyapunov(tm: Array[Array[Double]], rr: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val m = tm.length
    val n2 = m * m
    val a = Array.ofDim[Double](n2, n2)
    val b = new Array[Double](n2)
    // (I - T ⊗ T) vec(P) = vec(RR'), column-major vec
    var i = 0
    while (i < m) {
      var j = 0
      while (j < m) {
        val row = j * m + i // vec index of P(i)(j)
        b(row) = rr(i)(j)
        var k = 0
        while (k < m) {
          var l = 0
          while (l < m) {
            val colIdx = l * m + k // vec index of P(k)(l)
            a(row)(colIdx) = (if (row == colIdx) 1.0 else 0.0) - tm(i)(k) * tm(j)(l)
            l += 1
          }
          k += 1
        }
        j += 1
      }
      i += 1
    }
    solveLinear(a, b).map { v =>
      Array.tabulate(m, m)((i2, j2) => v(j2 * m + i2))
    }
  }

  final case class FilterResult(
      negLogLik: Double,
      sigma2: Double,
      forecast: Double,   // one-step-ahead prediction of the NEXT observation
      forecastVar: Double // its variance (× σ̂² applied)
  )

  /** Run the filter; params = [μ, φ₁..φ_p, θ₁..θ_q]. Returns None on
    * non-stationary/invalid parameter points (caller treats as +∞ loss).
    */
  def filter(w: Array[Double], p: Int, q: Int, params: Array[Double]): Option[FilterResult] = {
    val n = w.length
    val m = math.max(p, q + 1)
    val mu = params(0)
    val phi = Array.tabulate(m)(i => if (i < p) params(1 + i) else 0.0)
    val theta = Array.tabulate(m)(i => if (i == 0) 1.0 else if (i - 1 < q) params(1 + p + i - 1) else 0.0)
    // T (companion), R
    val tm = Array.tabulate(m, m) { (i, j) =>
      if (j == 0) phi(i)
      else if (j == i + 1) 1.0
      else 0.0
    }
    // NOTE: Harvey companion places phi in the FIRST COLUMN with the
    // superdiagonal shifting the state: α_{t+1}(i) = φ_{i+1} α_t(0) + α_t(i+1) + θ_i ε
    val rr = Array.tabulate(m, m)((i, j) => theta(i) * theta(j))
    var pMat = lyapunov(tm, rr).getOrElse(return None)
    // the recursion's state lives in buffers allocated once per call and
    // swapped each step; every entry sums its terms in ascending index
    // order (KalmanSpec pins the bits against a per-step allocating copy)
    var pNew = Array.ofDim[Double](m, m)
    val tp   = Array.ofDim[Double](m, m)
    val k    = new Array[Double](m)
    var aVec = new Array[Double](m)
    var aNew = new Array[Double](m)
    var sumLogF = 0.0
    var sumV2F = 0.0
    var t = 0
    while (t < n) {
      val v = w(t) - mu - aVec(0)
      val f = pMat(0)(0)
      if (!(f > 1e-12) || f.isNaN) return None
      sumLogF += math.log(f)
      sumV2F += v * v / f
      var i = 0
      while (i < m) {
        val ti = tm(i)
        // K = T P Z' / F  (Z picks column 0)
        var s = 0.0
        var j = 0
        while (j < m) { s += ti(j) * pMat(j)(0); j += 1 }
        k(i) = s / f
        // T P
        j = 0
        while (j < m) {
          var s2 = 0.0
          var l = 0
          while (l < m) { s2 += ti(l) * pMat(l)(j); l += 1 }
          tp(i)(j) = s2
          j += 1
        }
        i += 1
      }
      // a' = T a + K v
      i = 0
      while (i < m) {
        val ti = tm(i)
        var s = 0.0
        var j = 0
        while (j < m) { s += ti(j) * aVec(j); j += 1 }
        aNew(i) = s + k(i) * v
        i += 1
      }
      // P' = T P T' + RR' - K F K'
      i = 0
      while (i < m) {
        val tpi = tp(i)
        var j = 0
        while (j < m) {
          val tj = tm(j)
          var s = 0.0
          var l = 0
          while (l < m) { s += tpi(l) * tj(l); l += 1 }
          pNew(i)(j) = s + rr(i)(j) - k(i) * f * k(j)
          j += 1
        }
        i += 1
      }
      val a0 = aVec; aVec = aNew; aNew = a0
      val p0 = pMat; pMat = pNew; pNew = p0
      t += 1
    }
    val sigma2 = sumV2F / n
    if (sigma2 <= 0 || sigma2.isNaN) return None
    val nll = n * math.log(sigma2) + sumLogF
    if (nll.isNaN) return None
    Some(FilterResult(nll, sigma2, mu + aVec(0), pMat(0)(0) * sigma2))
  }

  /** MLE fit: Nelder–Mead over the concentrated likelihood from a given
    * start (typically the CSS estimate). Returns refined
    * [μ, φ…, θ…] + filter outputs at the optimum.
    */
  def fitMle(w: Array[Double], p: Int, q: Int, start: Array[Double]): Option[(Array[Double], FilterResult)] = {
    def loss(x: Array[Double]): Double =
      filter(w, p, q, x).map(_.negLogLik).getOrElse(Double.MaxValue)
    if (loss(start) == Double.MaxValue) return None
    val best = Models.nelderMead(loss, start, step = 0.05, maxIter = 500)
    filter(w, p, q, best).map(r => (best, r))
  }
}
