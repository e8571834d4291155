package graft.linalg

import breeze.linalg.{DenseMatrix, DenseVector}

/** Blocked (time-contiguous) cross-validation for the elastic net —
  * SURVEY §2.6 M2; reference enetVAR.R:27-36.
  *
  * The reference builds `foldid` as consecutive BLOCKS OF 10 ROWS
  * (enetVAR.R:28-32): fold k covers rows [10(k−1), 10k), so the fold COUNT
  * is ceil(N/10) — e.g. 17 folds on the 163-row training panel, with the
  * last fold holding N mod 10 rows. This is deliberately not random
  * K-fold: time-contiguous blocks respect serial dependence, and the same
  * fold structure is reused across all K equations "for comparability"
  * (enetVAR.R:27). CvSpec pins the layout against the FIXTURES.md
  * `cv_blocks` shape (57 rows → folds sized 10,10,10,10,10,7).
  *
  * Scale posture: one CV = (#folds × #λ) tiny warm-started fits on a
  * broadcast design — it runs task-local inside one executor core; the
  * cluster-level parallelism is across equations × origins × grid points
  * (SURVEY §3.2-3.3), not inside a single CV.
  */
object BlockedCv {

  val BlockSize = 10

  /** The reference's contiguous fold assignment: row i → fold i/10 + 1
    * (1-based), exactly reproducing enetVAR.R:28-32's rep-then-truncate.
    */
  def foldIds(n: Int): Array[Int] = Array.tabulate(n)(i => i / BlockSize + 1)

  /** `maxIterHits` sums [[ElasticNet.Path.maxIterHits]] over the full-data
    * path and every fold path the CV fit.
    */
  final case class CvResult(
      lambdas: IndexedSeq[Double],
      cvm: IndexedSeq[Double],       // mean squared CV error per λ
      lambdaMin: Double,
      path: ElasticNet.Path,         // full-data path over the same λs
      maxIterHits: Int)

  /** One fold's precomputed solver state. */
  final case class FoldDesign(
      cov: CovDesign,
      trainIdx: IndexedSeq[Int],
      testIdx: IndexedSeq[Int])

  /** Precomputed CV state shareable across EQUATIONS, λ paths and α grid
    * points: the full-data CovDesign plus one CovDesign per training
    * block-complement. The reference reuses the same fold structure across
    * all K equations "for comparability" (enetVAR.R:27) — which also means
    * standardization and Gram rows are identical across those K × nα × nλ
    * fits; building them once per origin is the difference between the
    * r3 42-minute lag-5 CV experiment and minutes.
    */
  final case class CvDesigns(
      x: DenseMatrix[Double],
      full: CovDesign,
      folds: IndexedSeq[FoldDesign])

  /** The blocked fold layout ([[foldIds]] over `x`'s rows) with
    * standardized designs — the one fold split behind both solvers' CV
    * (this object's and [[GroupElasticNet.cvFitBlocked]]). A design of at
    * most [[BlockSize]] rows is one fold with an empty training split, so
    * it is rejected here rather than surfacing as an empty argmin deep
    * inside a lag-selection loop.
    */
  def designs(x: DenseMatrix[Double], intercept: Boolean = false): CvDesigns = {
    val n = x.rows
    require(n > BlockSize,
      s"blocked CV needs more than $BlockSize rows, got $n (no non-empty training fold)")
    val foldid = foldIds(n)
    val folds = (1 to foldid.last).map { f =>
      val trainIdx = (0 until n).filter(foldid(_) != f)
      val testIdx = (0 until n).filter(foldid(_) == f)
      FoldDesign(new CovDesign(x(trainIdx, ::).toDenseMatrix, intercept, true), trainIdx, testIdx)
    }
    CvDesigns(x, new CovDesign(x, intercept, true), folds)
  }

  /** cv.glmnet-style CV over precomputed designs: glmnet's 100-point λ
    * sequence is computed once on the FULL data, each fold refits the whole
    * warm-started path on its training block-complement AT those master
    * λs, held-out squared errors are pooled per observation, and
    * `lambda.min` is the pooled-MSE argmin.
    */
  def cvFitDesigns(
      ds: CvDesigns,
      y: DenseVector[Double],
      alpha: Double,
      tol: Double = 1e-9): CvResult = {
    val x = ds.x
    val lambdas = ElasticNet.autoLambdaSequenceCov(ds.full, y, alpha)
    val fullPath = ElasticNet.fitPathCov(ds.full, y, alpha, lambdas, tol = tol)
    val sqErr = new Array[Double](lambdas.length)
    var maxIterHits = fullPath.maxIterHits
    for (fd <- ds.folds) {
      val path = ElasticNet.fitPathCov(fd.cov, y(fd.trainIdx).toDenseVector, alpha, lambdas,
        tol = tol)
      maxIterHits += path.maxIterHits
      var li = 0
      while (li < lambdas.length) {
        val fit = path.fits(li)
        for (i <- fd.testIdx) {
          val pred = fit.intercept + (x(i, ::).t dot fit.beta)
          val e = y(i) - pred
          sqErr(li) += e * e
        }
        li += 1
      }
    }
    val cvm = sqErr.map(_ / x.rows).toIndexedSeq
    val best = cvm.zipWithIndex.minBy(_._1)._2
    CvResult(lambdas, cvm, lambdas(best), fullPath, maxIterHits)
  }

  /** The reference's default CV call shape (enetVAR.R:27-36): blocked
    * foldids over the design's rows. `tol` is the solver stopping level —
    * the tight default suits golden tests; pass [[GlmnetEquivTol]] for
    * experiment-scale runs (glmnet's own `thresh = 1e-7` stops at
    * max Δ²·z < 1e-7·var(y), i.e. Δ < ~3.2e-4·sd — orders of magnitude
    * looser than the default here, and ~30× fewer sweeps on collinear
    * macro panels).
    */
  def cvFitBlocked(
      x: DenseMatrix[Double],
      y: DenseVector[Double],
      alpha: Double,
      intercept: Boolean = false,
      tol: Double = 1e-9): CvResult =
    cvFitDesigns(designs(x, intercept), y, alpha, tol)

  /** Stopping level equivalent to glmnet's default `thresh = 1e-7`. */
  val GlmnetEquivTol: Double = 3.16e-4
}
