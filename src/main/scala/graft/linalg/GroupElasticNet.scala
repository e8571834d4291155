package graft.linalg

import breeze.linalg.{norm, DenseMatrix, DenseVector, sum}

/** Multiresponse ("mgaussian") group elastic net — SURVEY §2.6 M7;
  * reference `GroupEnetVAR` (enetVAR.R:344-366), which delegates to
  * `cv.glmnet(family = "mgaussian", standardize.response = TRUE)`.
  *
  * Objective (glmnet's mgaussian parameterization): with B ∈ R^{p×K} and
  * β_j = row j (predictor j's coefficients across all K responses),
  *
  *   min  (1/2N)·‖Y − X·B‖²_F + λ·Σ_j [ α·‖β_j‖₂ + ((1−α)/2)·‖β_j‖₂² ]
  *
  * — the α part is a GROUP penalty: predictor j is in or out for all K
  * responses jointly (joint sparsity), which is what distinguishes M7 from
  * K independent M1 fits. No MLlib equivalent exists (SURVEY §7 hard-part
  * 1); solved here by block coordinate descent over predictor rows with
  * the group soft-threshold
  *
  *   β_j ← S_grp(u_j, λα) / (z_j + λ(1−α)),  S_grp(u, γ) = max(0, 1 − γ/‖u‖₂)·u,
  *   u_j = (1/N)·x_jᵀ·R_j (partial-residual correlation K-vector).
  *
  * `standardizeResponse` scales each response column by its population sd
  * before fitting and unscales the coefficients after (glmnet's
  * standardize.response) — the group norm then weighs responses equally.
  *
  * Scale posture: like M1, a task-local solver over broadcast designs; the
  * distributed axis is origins × grid, never the matrix.
  */
object GroupElasticNet {

  final case class GroupFit(lambda: Double, intercepts: DenseVector[Double], b: DenseMatrix[Double])

  /** A fitted group λ path. `maxIterHits` counts the λ steps that used
    * their whole `maxIter` sweep budget — a step that stops there may not
    * have converged (as [[ElasticNet.Path]] counts it).
    */
  final case class GroupPath(alpha: Double, fits: IndexedSeq[GroupFit], maxIterHits: Int = 0) {
    def lambdas: IndexedSeq[Double] = fits.map(_.lambda)
    def at(s: Double): GroupFit =
      fits.find(_.lambda == s).getOrElse {
        val ls = lambdas
        if (s >= ls.head) fits.head
        else if (s <= ls.last) fits.last
        else {
          val hi = ls.lastIndexWhere(_ >= s)
          val lo = hi + 1
          val w = (s - ls(lo)) / (ls(hi) - ls(lo))
          GroupFit(s,
            fits(hi).intercepts * w + fits(lo).intercepts * (1 - w),
            fits(hi).b * w + fits(lo).b * (1 - w))
        }
      }
  }

  private def colMoments(x: DenseVector[Double]): (Double, Double) = {
    val n = x.length.toDouble
    val m = sum(x) / n
    val v = (x dot x) / n - m * m
    (m, math.sqrt(math.max(v, 0.0)))
  }

  def fitPath(
      x: DenseMatrix[Double],
      y: DenseMatrix[Double],
      alpha: Double,
      lambdas: Seq[Double],
      intercept: Boolean = false,
      standardize: Boolean = true,
      standardizeResponse: Boolean = true,
      maxIter: Int = 2000,
      tol: Double = 1e-9): GroupPath =
    fitPathCov(new CovDesign(x, intercept, standardize), y, alpha, lambdas,
      standardizeResponse, maxIter, tol)

  /** Covariance-mode, active-set block coordinate descent over a shared
    * [[CovDesign]] — the group analog of `ElasticNet.fitPathCov`: the
    * partial-correlation matrix cᵢ(j,·) = ⟨x̃ⱼ, R_c⟩/N is maintained for
    * every (predictor, response) pair through the changed row's Gram
    * column (no O(T) dot products inside sweeps), sweeps visit only the
    * ever-active rows, and a KKT scan of ‖cᵢ(j,·)‖₂ activates violators.
    * cᵢ is refreshed exactly at each λ boundary, and Gram rows are cached
    * on the CovDesign across the whole path (and across fold reuse).
    */
  def fitPathCov(
      cov: CovDesign,
      y: DenseMatrix[Double],
      alpha: Double,
      lambdas: Seq[Double],
      standardizeResponse: Boolean = true,
      maxIter: Int = 2000,
      tol: Double = 1e-9): GroupPath = {
    val nRows = cov.nRows
    val p = cov.p
    val kk = y.cols
    require(y.rows == nRows)
    val intercept = cov.intercept

    val yw = y.copy
    val yMeans = DenseVector.zeros[Double](kk)
    val yScales = DenseVector.ones[Double](kk)
    var c = 0
    while (c < kk) {
      val yc = yw(::, c)
      val (m, sd) = colMoments(yc)
      if (intercept) { yMeans(c) = m; yc :-= m }
      if (standardizeResponse && sd > 0) { yScales(c) = sd; yc :/= sd }
      c += 1
    }
    val ySdAvg = {
      var s = 0.0
      var cc = 0
      while (cc < kk) { val (_, sd) = colMoments(yw(::, cc)); s += sd; cc += 1 }
      math.max(s / kk, 1e-12)
    }
    val effTol = tol * ySdAvg

    require(yw.offset == 0 && yw.majorStride == nRows, "yw must be dense col-major")
    val xArr = cov.xArr
    val zArr = cov.zArr
    val ywArr = yw.data
    val b = DenseMatrix.zeros[Double](p, kk) // warm-started, scaled space
    val bArr = b.data                        // col-major: b(j,c) = bArr(c·p + j)
    val cvM = new Array[Double](p * kk)      // cᵢ(j,c) at (c·p + j)
    val r = new Array[Double](nRows * kk)
    val active = new Array[Boolean](p)
    val u = new Array[Double](kk)
    val fits = IndexedSeq.newBuilder[GroupFit]
    var maxIterHits = 0

    for (lambda <- lambdas) {
      // Exact refresh at the λ boundary: R = Yw − X·B, cᵢ = XᵀR/N, one
      // response column at a time through the single-response kernels
      // (bit for bit the per-(i, c) ascending-j subtractions and the
      // row-order cᵢ sums).
      var cc = 0
      while (cc < kk) {
        ElasticNet.residual(ywArr, xArr, bArr, r, p, nRows, rOff = cc * nRows, bOff = cc * p)
        cov.colDots(r, cvM, vOff = cc * nRows, outOff = cc * p)
        cc += 1
      }

      val l1 = lambda * alpha
      val l2 = lambda * (1.0 - alpha)
      var iter = 0
      var clean = false
      while (!clean && iter < maxIter) {
        var delta = Double.MaxValue
        while (delta > effTol && iter < maxIter) {
          delta = 0.0
          iter += 1
          var jj = 0
          while (jj < p) {
            if (active(jj)) {
              val zj = zArr(jj)
              var un2 = 0.0
              var cc = 0
              while (cc < kk) {
                u(cc) = cvM(cc * p + jj) + zj * bArr(cc * p + jj)
                un2 += u(cc) * u(cc)
                cc += 1
              }
              val un = math.sqrt(un2)
              val shrink = if (un <= l1) 0.0 else (1.0 - l1 / un) / (zj + l2)
              var dn2 = 0.0
              cc = 0
              while (cc < kk) {
                val bNew = u(cc) * shrink
                val diff = bNew - bArr(cc * p + jj)
                if (diff != 0.0) {
                  val qj = cov.gramRow(jj)
                  val cBase = cc * p
                  var k = 0
                  while (k < p) { cvM(cBase + k) -= qj(k) * diff; k += 1 }
                  bArr(cc * p + jj) = bNew
                }
                dn2 += diff * diff
                cc += 1
              }
              val d = math.sqrt(dn2) * math.sqrt(zj)
              if (d > delta) delta = d
            }
            jj += 1
          }
        }
        // KKT: an inactive row violates when its group norm ‖cᵢ(j,·)‖₂
        // exceeds λα (B row is zero there, so u = cᵢ(j,·)).
        clean = true
        var jj = 0
        while (jj < p) {
          if (!active(jj) && zArr(jj) > 0) {
            var un2 = 0.0
            var cc = 0
            while (cc < kk) { val v = cvM(cc * p + jj); un2 += v * v; cc += 1 }
            if (math.sqrt(un2) > l1) { active(jj) = true; clean = false }
          }
          jj += 1
        }
      }
      if (iter >= maxIter) maxIterHits += 1
      // Unscale: β_orig(j,c) = β(j,c) · ysd_c / xsd_j.
      val bOrig = DenseMatrix.tabulate(p, kk)((j, c) => b(j, c) * yScales(c) / cov.scales(j))
      val b0 = DenseVector.tabulate(kk)(c =>
        if (intercept) {
          var s = 0.0
          var jj = 0
          while (jj < p) { s += cov.centers(jj) * bOrig(jj, c); jj += 1 }
          yMeans(c) - s
        } else 0.0)
      fits += GroupFit(lambda, b0, bOrig)
    }
    GroupPath(alpha, fits.result(), maxIterHits)
  }

  /** λmax for the group problem: max_j ‖(1/N)·x̃_jᵀ·Ỹ‖₂ / max(α, 0.001).
    * x̃/Ỹ are standardized exactly the way [[fitPathCov]]'s working
    * problem is — scaled by the population sd always, CENTERED only with
    * an intercept. Unconditional centering here would compute the grid
    * for a different problem than the one being solved: on an uncentered
    * no-intercept fit of data with mean >> sd, the true λmax can exceed
    * the centered one by orders of magnitude and every grid point would
    * land in the dense regime.
    */
  def autoLambdaSequence(
      x: DenseMatrix[Double],
      y: DenseMatrix[Double],
      alpha: Double,
      nLambda: Int = 100,
      intercept: Boolean = false): IndexedSeq[Double] = {
    val n = x.rows.toDouble
    val a = math.max(alpha, 0.001)
    var lmax = 0.0
    var j = 0
    while (j < x.cols) {
      val (m, sd) = colMoments(x(::, j))
      val xc = if (intercept) x(::, j) - m else x(::, j)
      val xs = if (sd > 0) xc / sd else xc
      val u = DenseVector.tabulate(y.cols) { c =>
        val (mc, sdc) = colMoments(y(::, c))
        val yc = if (intercept) y(::, c) - mc else y(::, c)
        val ys = if (sdc > 0) yc / sdc else yc
        (xs dot ys) / n
      }
      val g = norm(u)
      if (g > lmax) lmax = g
      j += 1
    }
    lmax /= a
    if (lmax <= 0) lmax = 1e-3
    val eps = if (n > x.cols) 1e-4 else 1e-2
    (0 until nLambda).map(i =>
      math.exp(math.log(lmax) + (math.log(lmax * eps) - math.log(lmax)) * i / (nLambda - 1)))
  }

  /** `maxIterHits` sums [[GroupPath.maxIterHits]] over the full-data path
    * and every fold path the CV fit.
    */
  final case class GroupCvResult(
      lambdas: IndexedSeq[Double],
      cvm: IndexedSeq[Double],
      lambdaMin: Double,
      path: GroupPath,
      maxIterHits: Int)

  /** Blocked-fold CV for the group fit on [[BlockedCv.designs]]' fold
    * layout: glmnet's 100-point group λ sequence on the full data, pooled
    * multiresponse squared error per λ, argmin → lambda.min.
    */
  def cvFitBlocked(
      x: DenseMatrix[Double],
      y: DenseMatrix[Double],
      alpha: Double,
      intercept: Boolean = false,
      tol: Double = 1e-9): GroupCvResult = {
    val ds = BlockedCv.designs(x, intercept)
    val lambdas = autoLambdaSequence(x, y, alpha, intercept = intercept)
    val fullPath = fitPathCov(ds.full, y, alpha, lambdas, tol = tol)
    val sqErr = new Array[Double](lambdas.length)
    var maxIterHits = fullPath.maxIterHits
    for (fd <- ds.folds) {
      val path = fitPathCov(fd.cov, y(fd.trainIdx, ::).toDenseMatrix, alpha, lambdas, tol = tol)
      maxIterHits += path.maxIterHits
      var li = 0
      while (li < lambdas.length) {
        val fit = path.fits(li)
        for (i <- fd.testIdx; c <- 0 until y.cols) {
          val pred = fit.intercepts(c) + (x(i, ::).t dot fit.b(::, c))
          val e = y(i, c) - pred
          sqErr(li) += e * e
        }
        li += 1
      }
    }
    val cvm = sqErr.map(_ / (x.rows * y.cols)).toIndexedSeq
    val best = cvm.zipWithIndex.minBy(_._1)._2
    GroupCvResult(lambdas, cvm, lambdas(best), fullPath, maxIterHits)
  }
}
