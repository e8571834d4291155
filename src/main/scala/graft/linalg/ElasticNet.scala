package graft.linalg

import breeze.linalg.{DenseMatrix, DenseVector, sum}

/** Gaussian elastic-net solved by cyclic coordinate descent with warm-started
  * λ paths — the engine's own solver for the reference's per-equation fits
  * (SURVEY §2.6 M1; reference call sites enetVAR.R:10-37).
  *
  * Objective (glmnet parameterization, Friedman–Hastie–Tibshirani, JSS 2010):
  *
  *   min over (β₀, β) of  (1/2N)·Σᵢ (yᵢ − β₀ − xᵢ'β)²  +  λ·Pα(β),
  *   Pα(β) = α·‖β‖₁ + ((1−α)/2)·‖β‖₂²
  *
  * so that α=0, λ>0 has the ridge closed form β = (XᵀX + NλI)⁻¹Xᵀy and λ=0
  * is OLS — the golden anchors in LinalgSpec.
  *
  * Standardization semantics (standardize = true):
  *  - predictors are scaled by their POPULATION sd (1/N variance about the
  *    mean) — and centered only when an intercept is fitted;
  *  - with no intercept the columns are scaled but NOT centered, so the
  *    scaled column has second moment zⱼ = 1 + mean²/var ≠ 1; the
  *    coordinate update keeps the general denominator (zⱼ + λ(1−α)) rather
  *    than assuming unit-variance predictors;
  *  - coefficients are returned on the ORIGINAL scale.
  *
  * Why a custom solver instead of MLlib's LinearRegression (same objective):
  * the reference's tuning workloads fit thousands of (α, λ, origin,
  * equation) combinations on tiny matrices (SURVEY §3.3) — one distributed
  * MLlib job per λ is the wrong granularity by orders of magnitude. This
  * solver computes a whole warm-started λ path in one task-local call, so
  * the grid parallelism lives at the Spark TASK level (see graft.tune).
  *
  * Scale posture: the solver is O(T·k) per sweep and runs inside executor
  * tasks on broadcast designs (T ≤ a few hundred rows for the reference
  * workload). It is deliberately NOT a distributed solver — the distributed
  * dimension is the grid, not the matrix.
  */
object ElasticNet {

  /** Soft-threshold operator S(z, γ) = sign(z)·max(|z| − γ, 0). */
  @inline def softThreshold(z: Double, gamma: Double): Double = {
    val m = math.abs(z) - gamma
    if (m <= 0) 0.0 else math.signum(z) * m
  }

  /** One fitted point on the path: coefficients on the original scale. */
  final case class Fit(lambda: Double, intercept: Double, beta: DenseVector[Double])

  /** A fitted λ path (descending λ, matching glmnet's convention).
    * `maxIterHits` counts the λ steps that used their whole `maxIter` sweep
    * budget — a step that stops there may not have converged.
    */
  final case class Path(alpha: Double, fits: IndexedSeq[Fit], maxIterHits: Int = 0) {
    def lambdas: IndexedSeq[Double] = fits.map(_.lambda)

    /** Coefficients at penalty `s`: exact-λ match wins; otherwise linear
      * interpolation between the two bracketing path points (glmnet's
      * `coef(model, s)` behavior); outside the path range, the end point.
      */
    def at(s: Double): Fit = {
      val ls = lambdas
      val exact = fits.find(f => f.lambda == s)
      exact.getOrElse {
        if (s >= ls.head) fits.head
        else if (s <= ls.last) fits.last
        else {
          val hi = ls.lastIndexWhere(_ >= s)
          val lo = hi + 1
          val (l1, l0) = (ls(hi), ls(lo))
          val w = (s - l0) / (l1 - l0)
          Fit(s,
            w * fits(hi).intercept + (1 - w) * fits(lo).intercept,
            fits(hi).beta * w + fits(lo).beta * (1 - w))
        }
      }
    }
  }

  /** Population (1/N) mean and sd of a column. */
  private def momentsOf(x: DenseVector[Double]): (Double, Double) = {
    val n = x.length.toDouble
    val m = sum(x) / n
    val v = (x dot x) / n - m * m
    (m, math.sqrt(math.max(v, 0.0)))
  }

  /** Fit the whole λ path with warm starts.
    *
    * @param lambdas   descending penalty sequence (the caller picks it —
    *                  e.g. the reference's `seq(2λ, λ/2, length=10)` grid,
    *                  enetVAR.R:24, via [[referenceLambdaGrid]])
    * @param intercept fit an unpenalized intercept (centering on)
    */
  def fitPath(
      x: DenseMatrix[Double],
      y: DenseVector[Double],
      alpha: Double,
      lambdas: Seq[Double],
      intercept: Boolean = false,
      standardize: Boolean = true,
      maxIter: Int = 2000,
      tol: Double = 1e-9): Path =
    fitPathCov(new CovDesign(x, intercept, standardize), y, alpha, lambdas,
      maxIter, tol)

  /** Covariance-mode, active-set coordinate descent over a precomputed
    * (shareable) [[CovDesign]] — glmnet's own internals (JSS 2010 §2.2):
    *
    *  - maintain cᵢ = ⟨x̃ⱼ, r⟩/N for every j, updated after each β change
    *    through the CHANGED feature's Gram row (O(p) multiplies — no O(T)
    *    dot products inside sweeps at all);
    *  - sweep only the EVER-ACTIVE set until convergence, then one KKT scan
    *    of the inactive features (a pure read of cᵢ) activates violators;
    *    repeat until the scan is clean — on warm-started paths most λ steps
    *    converge in a few tiny sweeps;
    *  - cᵢ is refreshed exactly (O(T·k)) once per λ step, so incremental
    *    float drift never crosses a λ boundary; the residual behind it is
    *    computed once per λ boundary — with early stopping, the dev.ratio
    *    check computes it and the next λ step reuses it. Both O(T·k)
    *    passes are register-blocked kernels, four columns per pass over
    *    the rows: [[residual]] subtracts four nonzero-β columns per pass
    *    and [[CovDesign.colDots]] sums four columns' cᵢ per pass. Each
    *    keeps every value's own operations in the order the one-column
    *    loops used (ascending columns per r(i); rows in order per cᵢ), with
    *    no reassociation or fused multiply-add, so the path is the same to
    *    the last bit; they only run independent chains side by side.
    *
    * Per-sweep cost drops from O(T·k) to O(|A|·p) with |A| active features
    * (and to O(|A|) reads when nothing moves); Gram rows are cached on the
    * CovDesign, so the O(T·k) per-feature activation cost is paid once
    * across all equations, λs and αs that share the design.
    */
  def fitPathCov(
      cov: CovDesign,
      y: DenseVector[Double],
      alpha: Double,
      lambdas: Seq[Double],
      maxIter: Int = 2000,
      tol: Double = 1e-9,
      earlyStop: Boolean = false): Path = {
    val nRows = cov.nRows
    val p = cov.p
    val n = cov.n
    require(nRows == y.length, s"design has $nRows rows but y has ${y.length}")

    val yMean = if (cov.intercept) sum(y) / n else 0.0
    val yw = if (cov.intercept) (y - yMean).toArray else y.toArray

    // Scale-aware stopping threshold (glmnet keys its `thresh` off the null
    // deviance the same way): an absolute tolerance would over-iterate on
    // large-scale responses and grind on near-collinear designs, where the
    // per-sweep contraction approaches corr² — the CV over a monthly
    // (revenue, order-count) panel hit exactly that.
    val ySd = {
      var s = 0.0; var s2 = 0.0; var i = 0
      while (i < nRows) { val v = yw(i); s += v; s2 += v * v; i += 1 }
      val m = s / n
      math.sqrt(math.max(s2 / n - m * m, 0.0))
    }
    val effTol = tol * math.max(ySd, 1e-12)

    val xArr = cov.xArr
    val beta = new Array[Double](p)              // warm-started across λs
    val active = new Array[Boolean](p)           // ever-active set
    val cv = new Array[Double](p)                // ⟨x̃ⱼ, r⟩/N for all j
    val r = new Array[Double](nRows)
    val fits = IndexedSeq.newBuilder[Fit]

    // glmnet path early-stopping state (Fortran elnet1's auto-path exit
    // rules; a user-supplied path — flmin >= 1 — skips them, which is the
    // earlyStop=false default here): null deviance Σ yw² (yw is centered
    // exactly when an intercept/mean model is the null model) and the
    // previous λ's dev.ratio.
    val nulldev = { var s = 0.0; var i = 0; while (i < nRows) { s += yw(i) * yw(i); i += 1 }; s }
    var rsqPrev = 0.0
    var stopped = false
    var rFresh = false // r is the residual of the current β (devRatio left it)
    var maxIterHits = 0

    val lamSeq = lambdas.toIndexedSeq
    var li = 0
    while (li < lamSeq.length && !stopped) {
      val lambda = lamSeq(li)
      val sweeps = solveAt(cov, yw, r, cv, beta, active, lambda, alpha, effTol, maxIter, rFresh)
      if (sweeps >= maxIter) maxIterHits += 1
      rFresh = false
      // Back to the original scale: β_orig = β_std / scale.
      val bOrig = cov.toOriginal(beta)
      fits += Fit(lambda, cov.interceptFor(bOrig, yMean), bOrig)

      // glmnet auto-path exit rules (JSS 2010; glmnet.control factory
      // defaults fdev=1e-5, devmax=0.999, mnlam=5): after RECORDING the fit
      // at λ_m, stop when the fractional dev.ratio gain over λ_{m-1} is
      // below fdev, or dev.ratio exceeds devmax — the λ tail glmnet never
      // computes. No exit is taken before the 5th λ (mnlam), so a
      // zero-progress warm-started sweep near λmax can't truncate the path.
      if (earlyStop && nulldev > 0.0) {
        val rsq = devRatio(yw, xArr, beta, r, p, nRows, nulldev)
        rFresh = true
        stopped = li >= GlmnetMnLam - 1 &&
          (rsq > GlmnetDevMax || (rsq - rsqPrev) < GlmnetFDev * rsq)
        rsqPrev = rsq
      }
      li += 1
    }
    Path(alpha, fits.result(), maxIterHits)
  }

  /** One λ step of the coordinate-descent solver: exact residual/cᵢ
    * refresh at the λ boundary (the residual only when `rFresh` is false:
    * [[devRatio]] leaves the current β's residual in `r` with identical
    * arithmetic), warm-started active-set sweeps, KKT scan. Returns the
    * number of sweeps (0 for the exact λ = 0 solve).
    * This is the HOT method and must stay its own compilation unit: in
    * round 4 it was the body of a `for (lambda <- lambdas)` closure; round
    * 5 flattened it into fitPathCov's while loop, whose combined bytecode
    * exceeded the JIT's huge-method limit and silently demoted the whole
    * solver to C1/interpreter — ~1.8× on every tuner fit with
    * bit-identical results. Do not inline it back, nor the refresh
    * kernels into it; JitGuardSpec fails when this method, fitPathCov or a
    * kernel ends at bytecode offset 8000 or more.
    */
  private def solveAt(
      cov: CovDesign,
      yw: Array[Double],
      r: Array[Double],
      cv: Array[Double],
      beta: Array[Double],
      active: Array[Boolean],
      lambda: Double,
      alpha: Double,
      effTol: Double,
      maxIter: Int,
      rFresh: Boolean): Int = {
    val nRows = cov.nRows
    val p = cov.p
    val xArr = cov.xArr
    val zArr = cov.zArr

    // λ = 0 is UNPENALIZED least squares, where cyclic CD is the wrong
    // algorithm: its per-sweep contraction is the squared correlation of
    // the working columns, and on a scaled-NOT-centered design of positive
    // series (every macro panel) that correlation is ~1−1e-4 — measured in
    // round 10, 2·10⁶ sweeps to reach 1e-9 while maxIter=2000 leaves ~0.5
    // relative coefficient error hiding along the near-null direction.
    // Solve the standardized normal equations exactly instead — the same
    // limit the CD path converges to, O(p³) once. Exactly-singular designs
    // (where the OLS minimizer is non-unique) fall through to CD, whose
    // iterates stay bounded and pick one minimizer.
    if (lambda == 0.0) {
      val act = Array.range(0, p).filter(zArr(_) > 0)
      val m = act.length
      var solved = m == 0
      if (m > 0) {
        val g = DenseMatrix.tabulate(m, m)((a, b) => cov.gramRow(act(a))(act(b)))
        val rhs = DenseVector.tabulate(m)(a => cov.colDot(act(a), yw))
        try {
          val sol = g \ rhs
          if ((0 until m).forall(a => java.lang.Double.isFinite(sol(a)))) {
            java.util.Arrays.fill(beta, 0.0)
            var a = 0
            while (a < m) {
              beta(act(a)) = sol(a)
              active(act(a)) = true
              a += 1
            }
            solved = true
          }
        } catch { case _: breeze.linalg.MatrixSingularException => () }
      }
      if (solved) return 0
    }

    // Exact refresh of r and cᵢ at the λ boundary.
    if (!rFresh) residual(yw, xArr, beta, r, p, nRows)
    cov.colDots(r, cv)

    val l1 = lambda * alpha
    val l2 = lambda * (1.0 - alpha)
    var iter = 0
    var clean = false
    while (!clean && iter < maxIter) {
      // Inner sweeps over the ever-active set.
      var delta = Double.MaxValue
      while (delta > effTol && iter < maxIter) {
        delta = 0.0
        iter += 1
        var j = 0
        while (j < p) {
          if (active(j)) {
            val zj = zArr(j)
            val bOld = beta(j)
            val rho = cv(j) + zj * bOld
            val bNew = softThreshold(rho, l1) / (zj + l2)
            if (bNew != bOld) {
              val diff = bNew - bOld
              val qj = cov.gramRow(j)
              var k = 0
              while (k < p) { cv(k) -= qj(k) * diff; k += 1 }
              beta(j) = bNew
              val d = math.abs(diff) * math.sqrt(zj)
              if (d > delta) delta = d
            }
          }
          j += 1
        }
      }
      // KKT scan of the inactive features — a pure read of cᵢ (βⱼ = 0
      // there, so ρ = cᵢ); |cᵢ| > λα means the coordinate would move.
      clean = true
      var jj = 0
      while (jj < p) {
        if (!active(jj) && zArr(jj) > 0 && math.abs(cv(jj)) > l1) {
          active(jj) = true
          clean = false
        }
        jj += 1
      }
    }
    iter
  }

  /** r = yw − Σ x̃ⱼβⱼ, the exact residual of the current coefficients,
    * over the `nRows` values from `yw(rOff)` and `r(rOff)` and the `p`
    * coefficients from `beta(bOff)` (the offsets serve
    * [[GroupElasticNet]]'s column-major response slices).
    *
    * The nonzero-β columns are listed, then taken four per pass over `r`:
    * `r(i) - x0·b0 - x1·b1 - x2·b2 - x3·b3`, evaluated left to right, is
    * the same sequence of rounded subtractions that one pass per column
    * makes, so each r(i) gets its subtractions in ascending column order
    * and the result is the column-by-column loop's bit for bit. The last
    * (nonzero count) mod 4 columns take one pass each. Do not regroup the
    * products or fuse them: either changes the bits.
    */
  private[graft] def residual(
      yw: Array[Double],
      xArr: Array[Double],
      beta: Array[Double],
      r: Array[Double],
      p: Int,
      nRows: Int,
      rOff: Int = 0,
      bOff: Int = 0): Unit = {
    System.arraycopy(yw, rOff, r, rOff, nRows)
    val nz = new Array[Int](p)
    var m = 0
    var j = 0
    while (j < p) {
      if (beta(bOff + j) != 0.0) { nz(m) = j; m += 1 }
      j += 1
    }
    var k = 0
    while (k + 4 <= m) {
      val x0 = nz(k) * nRows
      val x1 = nz(k + 1) * nRows
      val x2 = nz(k + 2) * nRows
      val x3 = nz(k + 3) * nRows
      val b0 = beta(bOff + nz(k))
      val b1 = beta(bOff + nz(k + 1))
      val b2 = beta(bOff + nz(k + 2))
      val b3 = beta(bOff + nz(k + 3))
      var i = 0
      while (i < nRows) {
        r(rOff + i) = r(rOff + i) - xArr(x0 + i) * b0 - xArr(x1 + i) * b1 -
          xArr(x2 + i) * b2 - xArr(x3 + i) * b3
        i += 1
      }
      k += 4
    }
    while (k < m) {
      val base = nz(k) * nRows
      val bj = beta(bOff + nz(k))
      var i = 0
      while (i < nRows) { r(rOff + i) -= xArr(base + i) * bj; i += 1 }
      k += 1
    }
  }

  /** dev.ratio 1 − RSS/nulldev of the current coefficients; leaves their
    * residual in `r`, which the next [[solveAt]] reuses. Kept OUT of
    * [[fitPathCov]] deliberately: inlining this (cold, per-λ) block into
    * the solver method pushed its bytecode past the JIT's huge-method
    * limit in round 5, which silently demoted the ENTIRE coordinate-
    * descent loop to C1/interpreter and cost ~1.8× on every tuner fit —
    * with bit-identical results, so nothing but wall-clock noticed.
    */
  private def devRatio(
      yw: Array[Double],
      xArr: Array[Double],
      beta: Array[Double],
      r: Array[Double],
      p: Int,
      nRows: Int,
      nulldev: Double): Double = {
    residual(yw, xArr, beta, r, p, nRows)
    var rss = 0.0
    var i = 0
    while (i < nRows) { rss += r(i) * r(i); i += 1 }
    1.0 - rss / nulldev
  }

  /** glmnet.control factory defaults governing auto-path early stopping:
    * minimum fractional deviance-ratio gain per λ step, and the dev.ratio
    * ceiling.
    */
  val GlmnetFDev: Double = 1e-5
  val GlmnetDevMax: Double = 0.999

  /** glmnet.control factory default `mnlam = 5`: minimum number of path
    * points recorded before any auto-path exit rule may fire.
    */
  val GlmnetMnLam: Int = 5

  /** The reference's per-fit λ grid: 10 evenly spaced values from 2λ down to
    * λ/2 (enetVAR.R:24) — descending, so warm starts walk toward λ (λ
    * itself is the 7th grid point, so reading the path at λ needs no
    * interpolation).
    */
  def referenceLambdaGrid(lambda: Double): IndexedSeq[Double] =
    DenseVector.rangeD(0, 10).toArray.toIndexedSeq
      .map(i => 2.0 * lambda - i * (1.5 * lambda / 9.0))

  /** glmnet-style automatic λ sequence: `nLambda` log-spaced points from
    * λmax = maxⱼ |⟨x̃ⱼ, ỹ⟩|/(N·max(α, 0.001)) down to λmax·ε,
    * ε = 1e-4 (N > p) or 1e-2 (N ≤ p).
    */
  def autoLambdaSequence(
      x: DenseMatrix[Double],
      y: DenseVector[Double],
      alpha: Double,
      intercept: Boolean = false,
      standardize: Boolean = true,
      nLambda: Int = 100): IndexedSeq[Double] = {
    val n = x.rows.toDouble
    val p = x.cols
    val a = math.max(alpha, 0.001)
    var lmax = 0.0
    val yMean = if (intercept) sum(y) / n else 0.0
    var j = 0
    while (j < p) {
      val cj = x(::, j)
      val (m, sd) = momentsOf(cj)
      val xc = if (intercept) cj - m else cj
      val xs = if (standardize && sd > 0) xc / sd else xc
      val g = math.abs((xs dot y) / n - (if (intercept) yMean * sum(xs) / n else 0.0))
      if (g > lmax) lmax = g
      j += 1
    }
    lmax = lmax / a
    if (lmax <= 0) lmax = 1e-3
    val eps = if (n > p) 1e-4 else 1e-2
    val logMax = math.log(lmax)
    val logMin = math.log(lmax * eps)
    (0 until nLambda).map(i => math.exp(logMax + (logMin - logMax) * i / (nLambda - 1)))
  }

  /** [[autoLambdaSequence]] over a precomputed [[CovDesign]]: λmax =
    * maxⱼ |⟨x̃ⱼ, ỹ⟩|/(N·max(α, 0.001)) read straight off the design's
    * standardized columns — same value, no re-standardization. Blocked CV
    * calls it once on the full data and refits every fold along it; the
    * caret-mode tuner calls it on each origin's training rows and fits that
    * origin's path along it.
    */
  def autoLambdaSequenceCov(
      cov: CovDesign,
      y: DenseVector[Double],
      alpha: Double,
      nLambda: Int = 100): IndexedSeq[Double] = {
    val n = cov.n
    val yMean = if (cov.intercept) sum(y) / n else 0.0
    val yw = if (cov.intercept) (y - yMean).toArray else y.toArray
    val dots = new Array[Double](cov.p)
    cov.colDots(yw, dots)
    var lmax = 0.0
    var j = 0
    while (j < cov.p) {
      val g = math.abs(dots(j))
      if (g > lmax) lmax = g
      j += 1
    }
    lmax = lmax / math.max(alpha, 0.001)
    if (lmax <= 0) lmax = 1e-3
    val eps = if (n > cov.p) 1e-4 else 1e-2
    val logMax = math.log(lmax)
    val logMin = math.log(lmax * eps)
    (0 until nLambda).map(i => math.exp(logMax + (logMin - logMax) * i / (nLambda - 1)))
  }
}
