package graft

import breeze.linalg.{diag, DenseMatrix, DenseVector}
import graft.linalg.{BlockedCv, ElasticNet, GroupElasticNet}
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the coordinate-descent elastic net (SURVEY §5.2-2,
  * FIXTURES.md `quarterly_pair` family): OLS and ridge closed forms anchor
  * the solver; KKT conditions verify optimality off the anchors.
  */
class LinalgSpec extends AnyFunSuite {

  private val x = TestData.matrix(60, 5, seed = 42L)
  private val y = {
    val beta = DenseVector(1.5, -2.0, 0.0, 0.7, 0.0)
    x * beta + TestData.vector(60, seed = 7L) * 0.1
  }
  private val n = x.rows.toDouble

  private def maxAbsDiff(a: DenseVector[Double], b: DenseVector[Double]): Double =
    breeze.linalg.max(breeze.numerics.abs(a - b))

  test("lambda=0 reproduces OLS (XtX)^-1 Xty to 1e-6, standardized or not") {
    val bOls = (x.t * x) \ (x.t * y)
    for (std <- Seq(true, false)) {
      val fit = ElasticNet
        .fitPath(x, y, alpha = 0.5, lambdas = Seq(0.0), standardize = std)
        .fits.head
      assert(maxAbsDiff(fit.beta, bOls) < 1e-6, s"standardize=$std")
    }
  }

  test("alpha=0, unstandardized ridge matches closed form (XtX + n*lambda*I)^-1 Xty") {
    val lambda = 0.3
    val bRidge = (x.t * x + diag(DenseVector.fill(5)(n * lambda))) \ (x.t * y)
    val fit = ElasticNet
      .fitPath(x, y, alpha = 0.0, lambdas = Seq(lambda), standardize = false)
      .fits.head
    assert(maxAbsDiff(fit.beta, bRidge) < 1e-6)
  }

  test("intercept fit at lambda=0 matches OLS with appended ones column") {
    val xi = DenseMatrix.horzcat(DenseMatrix.ones[Double](x.rows, 1), x)
    val bFull = (xi.t * xi) \ (xi.t * y)
    val fit = ElasticNet
      .fitPath(x, y, alpha = 0.5, lambdas = Seq(0.0), intercept = true)
      .fits.head
    assert(math.abs(fit.intercept - bFull(0)) < 1e-6)
    assert(maxAbsDiff(fit.beta, bFull(1 until 6).toDenseVector) < 1e-6)
  }

  test("KKT optimality at an interior elastic-net point (alpha=0.6)") {
    val alpha = 0.6
    val lambda = 0.15
    val fit = ElasticNet
      .fitPath(x, y, alpha, Seq(lambda), standardize = false)
      .fits.head
    val r = y - x * fit.beta
    for (j <- 0 until x.cols) {
      val grad = (x(::, j) dot r) / n - lambda * (1 - alpha) * fit.beta(j)
      if (fit.beta(j) == 0.0)
        assert(math.abs(grad) <= lambda * alpha + 1e-8, s"inactive j=$j")
      else
        assert(
          math.abs(grad - lambda * alpha * math.signum(fit.beta(j))) < 1e-7,
          s"active j=$j")
    }
  }

  test("active-set covariance-mode path == independent naive cyclic CD, whole path") {
    // Guards the active-set/KKT machinery: an in-test reference solver
    // (full cyclic sweeps, explicit residual updates — the textbook form
    // with none of the production solver's structure) must agree with
    // fitPath at every lambda of a warm-started path, including mid-path
    // activations and deactivations.
    def naive(xm: DenseMatrix[Double], yv: DenseVector[Double], alpha: Double,
        lambdas: Seq[Double]): Seq[DenseVector[Double]] = {
      val nn = xm.rows.toDouble
      val p = xm.cols
      val z = DenseVector.tabulate(p)(j => (xm(::, j) dot xm(::, j)) / nn)
      val beta = DenseVector.zeros[Double](p)
      val r = yv.copy
      lambdas.map { lambda =>
        val l1 = lambda * alpha
        val l2 = lambda * (1 - alpha)
        var sweep = 0
        var delta = Double.MaxValue
        while (sweep < 20000 && delta > 1e-13) {
          delta = 0.0
          for (j <- 0 until p if z(j) > 0) {
            val rho = (xm(::, j) dot r) / nn + z(j) * beta(j)
            val bNew = ElasticNet.softThreshold(rho, l1) / (z(j) + l2)
            if (bNew != beta(j)) {
              r -= xm(::, j) * (bNew - beta(j))
              delta = math.max(delta, math.abs(bNew - beta(j)))
              beta(j) = bNew
            }
          }
          sweep += 1
        }
        beta.copy
      }
    }
    val lambdas = Seq(0.5, 0.2, 0.08, 0.03, 0.01, 0.003, 0.0)
    for (alpha <- Seq(1.0, 0.5, 0.0)) {
      val path = ElasticNet.fitPath(x, y, alpha, lambdas,
        standardize = false, tol = 1e-12, maxIter = 20000)
      val ref = naive(x, y, alpha, lambdas)
      for ((fit, rBeta) <- path.fits.zip(ref))
        assert(maxAbsDiff(fit.beta, rBeta) < 1e-6,
          s"alpha=$alpha lambda=${fit.lambda}")
    }
  }

  test("sparsity is monotone along the descending lambda path") {
    val lambdas = Seq(2.0, 1.0, 0.5, 0.1, 0.01)
    val path = ElasticNet.fitPath(x, y, alpha = 1.0, lambdas, standardize = false)
    val nActive = path.fits.map(_.beta.toArray.count(_ != 0.0))
    assert(nActive.zip(nActive.tail).forall { case (a, b) => a <= b })
    assert(nActive.last >= 3) // all three true predictors survive a tiny penalty
  }

  test("path interpolation: exact grid point wins, midpoints interpolate linearly") {
    val path = ElasticNet.fitPath(x, y, alpha = 0.0, Seq(0.4, 0.2), standardize = false)
    assert(path.at(0.4).beta == path.fits.head.beta)
    val mid = path.at(0.3)
    val expect = (path.fits(0).beta + path.fits(1).beta) * 0.5
    assert(maxAbsDiff(mid.beta, expect) < 1e-12)
  }

  test("reference lambda grid seq(2l, l/2, 10) contains lambda exactly") {
    val grid = ElasticNet.referenceLambdaGrid(0.37)
    assert(grid.length == 10)
    assert(math.abs(grid.head - 0.74) < 1e-15)
    assert(math.abs(grid.last - 0.185) < 1e-15)
    assert(grid.contains(0.37)) // 7th point — coef read-off needs no interpolation
  }

  test("blocked foldids reproduce the reference's contiguous layout (cv_blocks fixture)") {
    val f57 = BlockedCv.foldIds(57)
    assert(f57.length == 57)
    assert(f57.distinct.toSeq == (1 to 6))
    assert(f57.groupBy(identity).view.mapValues(_.length).toMap ==
      Map(1 -> 10, 2 -> 10, 3 -> 10, 4 -> 10, 5 -> 10, 6 -> 7))
    // Contiguity: ids are non-decreasing along time.
    assert(f57.zip(f57.tail).forall { case (a, b) => b - a == 0 || b - a == 1 })
    // Reference training panel: 163 rows → 17 folds, last holds 3.
    val f163 = BlockedCv.foldIds(163)
    assert(f163.max == 17 && f163.count(_ == 17) == 3)
  }

  test("blocked CV selects a small lambda on a strong dense signal") {
    val cv = BlockedCv.cvFitBlocked(x, y, alpha = 0.5)
    assert(cv.lambdas.contains(cv.lambdaMin))
    // y is essentially noiseless linear signal: CV must not over-penalize.
    assert(cv.lambdaMin < cv.lambdas.head / 10)
    val best = cv.path.at(cv.lambdaMin)
    val bOls = (x.t * x) \ (x.t * y)
    assert(maxAbsDiff(best.beta, bOls) < 0.05)
  }

  test("both blocked CVs reject a design of BlockSize rows with the one guard message") {
    val n = BlockedCv.BlockSize
    val xs = x(0 until n, ::).toDenseMatrix
    val msg = s"requirement failed: blocked CV needs more than $n rows, got $n (no non-empty training fold)"
    val single = intercept[IllegalArgumentException](BlockedCv.cvFitBlocked(xs, y(0 until n).copy, 0.5))
    val group = intercept[IllegalArgumentException](
      GroupElasticNet.cvFitBlocked(xs, DenseMatrix.horzcat(y(0 until n).toDenseMatrix.t, xs(::, 0 to 0)), 0.5))
    assert(single.getMessage == msg)
    assert(group.getMessage == msg)
  }

  test("autoLambdaSequenceCov agrees with the matrix-based sequence") {
    for (intercept <- Seq(true, false)) {
      val a = ElasticNet.autoLambdaSequence(x, y, 0.5, intercept, standardize = true, 20)
      val cov = new graft.linalg.CovDesign(x, intercept, standardize = true)
      val b = ElasticNet.autoLambdaSequenceCov(cov, y, 0.5, 20)
      assert(a.length == b.length)
      a.zip(b).foreach { case (u, v) =>
        assert(math.abs(u - v) <= 1e-12 * math.max(1.0, u), s"intercept=$intercept")
      }
    }
  }

  test("glmnet early stopping truncates the path and is a prefix of the full path") {
    val cov = new graft.linalg.CovDesign(x, false, true)
    val lams = ElasticNet.autoLambdaSequenceCov(cov, y, 0.5, 100)
    val full = ElasticNet.fitPathCov(cov, y, 0.5, lams)
    val es = ElasticNet.fitPathCov(cov, y, 0.5, lams, earlyStop = true)
    // Near-noiseless signal: dev.ratio crosses 0.999 long before λ_100.
    assert(es.fits.length < full.fits.length,
      s"expected truncation, got ${es.fits.length}/${full.fits.length}")
    // The computed prefix must be identical — early stop only cuts the tail.
    es.fits.zip(full.fits).foreach { case (a, b) =>
      assert(a.lambda == b.lambda && maxAbsDiff(a.beta, b.beta) == 0.0)
    }
    // At the stop point the fit explains ≥ devmax of the variance OR the
    // last step's fractional deviance gain was below fdev.
    val last = es.fits.last
    val r = y - x * last.beta
    val devRatio = 1.0 - (r dot r) / (y dot y)
    assert(devRatio > 0.99)
  }

  test("maxIterHits counts the lambda steps that stop at maxIter") {
    val cov = new graft.linalg.CovDesign(x, false, true)
    val lams = ElasticNet.autoLambdaSequenceCov(cov, y, 0.5, 100)
    val capped = ElasticNet.fitPathCov(cov, y, 0.5, lams, maxIter = 1, earlyStop = true)
    assert(capped.maxIterHits > 0)
    val es = ElasticNet.fitPathCov(cov, y, 0.5, lams, earlyStop = true)
    assert(es.maxIterHits == 0)
  }

  test("GroupElasticNet maxIterHits counts the lambda steps that stop at maxIter") {
    // Two responses sharing x's support: a group problem on LinalgSpec's
    // design whose auto path converges well inside the default budget.
    val y2 = DenseMatrix.horzcat(y.toDenseMatrix.t,
      (x * DenseVector(0.5, 1.0, 0.0, -0.4, 0.0) + TestData.vector(60, seed = 8L) * 0.1)
        .toDenseMatrix.t)
    val lams = GroupElasticNet.autoLambdaSequence(x, y2, 0.5, 30)
    val capped = GroupElasticNet.fitPath(x, y2, 0.5, lams, maxIter = 1)
    assert(capped.maxIterHits > 0)
    val converged = GroupElasticNet.fitPath(x, y2, 0.5, lams)
    assert(converged.maxIterHits == 0)
  }

  test("early stopping never exits before mnlam=5 path points") {
    // A pure-noise response converges immediately: without the mnlam guard
    // the zero-progress fdev rule would truncate the path at the 2nd λ.
    val yNoise = TestData.vector(60, seed = 99L)
    val cov = new graft.linalg.CovDesign(x, false, true)
    val lams = ElasticNet.autoLambdaSequenceCov(cov, yNoise, 0.5, 100)
    val es = ElasticNet.fitPathCov(cov, yNoise, 0.5, lams,
      tol = BlockedCv.GlmnetEquivTol, earlyStop = true)
    assert(es.fits.length >= ElasticNet.GlmnetMnLam,
      s"stopped after ${es.fits.length} < mnlam points")
  }

  // The λ-step kernels against the one-column loops they replace, raw bit
  // for raw bit: every p mod 4 tail (p ∈ 1..5, 7, 8, 30, 34) at T ∈
  // {1, 30, 146}, and through the offsets GroupElasticNet passes.
  private val kernelPs = Seq(1, 2, 3, 4, 5, 7, 8, 30, 34)
  private val kernelTs = Seq(1, 30, 146)
  private def rawBits(a: Double): Long = java.lang.Double.doubleToRawLongBits(a)

  test("CovDesign.colDots equals per-column colDot bit for bit, with and without offsets") {
    for (t <- kernelTs; p <- kernelPs; intercept <- Seq(false, true)) {
      val cov = new graft.linalg.CovDesign(TestData.matrix(t, p, seed = 1000L * p + t),
        intercept, standardize = true)
      val v = TestData.vector(t, seed = 31L * p + t).toArray
      val out = new Array[Double](p)
      cov.colDots(v, out)
      // v and out embedded in longer arrays, as one response column of a
      // column-major block; the padding must stay as it was.
      val pad = 3
      val vPad = Array.fill(pad)(Double.NaN) ++ v ++ Array.fill(pad)(Double.NaN)
      val outPad = Array.fill(p + 2 * pad)(-1.0)
      cov.colDots(vPad, outPad, vOff = pad, outOff = pad)
      for (j <- 0 until p) {
        val want = rawBits(cov.colDot(j, v))
        assert(rawBits(out(j)) == want, s"t=$t p=$p intercept=$intercept j=$j")
        assert(rawBits(outPad(pad + j)) == want, s"offset t=$t p=$p intercept=$intercept j=$j")
      }
      assert((outPad.take(pad) ++ outPad.takeRight(pad)).forall(_ == -1.0), s"t=$t p=$p")
    }
  }

  test("jammed ElasticNet.residual equals the column-by-column loop bit for bit") {
    // The loop it replaces: one pass over r per nonzero β, ascending j.
    def columnLoop(yw: Array[Double], xArr: Array[Double], beta: Array[Double],
        t: Int): Array[Double] = {
      val r = yw.clone()
      for (j <- beta.indices if beta(j) != 0.0; i <- 0 until t)
        r(i) -= xArr(j * t + i) * beta(j)
      r
    }
    for (t <- kernelTs; p <- kernelPs) {
      val xArr = new graft.linalg.CovDesign(TestData.matrix(t, p, seed = 2000L * p + t),
        intercept = false, standardize = true).xArr
      val b = TestData.vector(p, seed = 17L * p + t).toArray
      val betas = Seq(
        "all-zero" -> Array.fill(p)(0.0),
        "one-nonzero" -> Array.tabulate(p)(j => if (j == p / 2) b(j) else 0.0),
        "alternating-zero" -> Array.tabulate(p)(j => if (j % 2 == 0) b(j) else 0.0),
        "dense" -> b)
      for ((label, beta) <- betas) {
        val yw = TestData.vector(t, seed = 53L * p + t).toArray
        val want = columnLoop(yw, xArr, beta, t).map(rawBits)
        val r = new Array[Double](t)
        ElasticNet.residual(yw, xArr, beta, r, p, t)
        assert(r.map(rawBits).sameElements(want), s"t=$t p=$p $label")
        // As GroupElasticNet calls it: response column 1 of 3, column-major.
        val ywM = Array.fill(t)(7.0) ++ yw ++ Array.fill(t)(7.0)
        val betaM = Array.fill(p)(1.0) ++ beta ++ Array.fill(p)(1.0)
        val rM = Array.fill(3 * t)(-1.0)
        ElasticNet.residual(ywM, xArr, betaM, rM, p, t, rOff = t, bOff = p)
        assert(rM.slice(t, 2 * t).map(rawBits).sameElements(want), s"offset t=$t p=$p $label")
        assert((rM.take(t) ++ rM.drop(2 * t)).forall(_ == -1.0), s"offset t=$t p=$p $label")
      }
    }
  }
}
