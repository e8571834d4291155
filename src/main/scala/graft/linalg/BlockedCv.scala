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

  final case class CvResult(
      lambdas: IndexedSeq[Double],
      cvm: IndexedSeq[Double],       // mean squared CV error per λ
      lambdaMin: Double,
      path: ElasticNet.Path)         // full-data path over the same λs

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

  def designs(
      x: DenseMatrix[Double],
      foldid: Array[Int],
      intercept: Boolean = false,
      standardize: Boolean = true): CvDesigns = {
    val n = x.rows
    require(foldid.length == n, s"foldid length ${foldid.length} != $n rows")
    val folds = foldid.distinct.sorted.toIndexedSeq.flatMap { f =>
      val trainIdx = (0 until n).filter(foldid(_) != f)
      val testIdx = (0 until n).filter(foldid(_) == f)
      if (trainIdx.nonEmpty && testIdx.nonEmpty)
        Some(FoldDesign(
          new CovDesign(x(trainIdx, ::).toDenseMatrix, intercept, standardize),
          trainIdx, testIdx))
      else None
    }
    CvDesigns(x, new CovDesign(x, intercept, standardize), folds)
  }

  /** cv.glmnet-style CV over precomputed designs.
    *
    * Default mode (`foldPaths = None`): the λ sequence is computed once on
    * the FULL data, each fold refits the whole warm-started path on its
    * training block-complement AT those master λs, held-out squared errors
    * are pooled per observation, and `lambda.min` is the pooled-MSE argmin.
    *
    * Per-fold-path mode (`foldPaths = Some(align)`) reproduces what
    * `cv.glmnet(x, y, foldid)` with NO user λ actually does (the reference
    * call, enetVAR.R:27-36): the master sequence is the full-data AUTO path
    * with glmnet's early stopping (fdev/devmax — so the master grid ends
    * where glmnet's would); each fold then fits its OWN auto path — own
    * λmax, own lambda.min.ratio, own early stop — and fold predictions are
    * aligned onto the master grid before pooling:
    *  - `align = "index"`: fold path position m scores master λ_m, master
    *    positions past the fold's stop point drop out of that λ's mean
    *    (R's `predmat[which, seq(nlami)]` + `na.rm = TRUE` — the glmnet
    *    2.0-era behavior contemporaneous with the reference, later named
    *    `alignment = "fraction"`);
    *  - `align = "lambda"`: fold predictions interpolated at the master λ
    *    values via [[ElasticNet.Path.at]] (glmnet ≥ 4.0's default
    *    `alignment = "lambda"` — `predict(fitobj, s = lambda)`).
    */
  def cvFitDesigns(
      ds: CvDesigns,
      y: DenseVector[Double],
      alpha: Double,
      nLambda: Int = 100,
      tol: Double = 1e-9,
      foldPaths: Option[String] = None): CvResult = {
    val x = ds.x
    val n = x.rows
    // A design of <= BlockSize rows yields a single fold whose training
    // split is empty (designs() drops it): without this guard every cvm
    // entry would be NaN and the argmin would die in an opaque
    // empty.minBy deep inside a lag-selection loop.
    require(ds.folds.nonEmpty,
      s"blocked CV needs more than $BlockSize rows, got $n (no non-empty training fold)")
    val intercept = ds.full.intercept
    val perFold = foldPaths.isDefined
    val align = foldPaths.getOrElse("")
    require(!perFold || align == "index" || align == "lambda",
      s"foldPaths must be index|lambda, got $align")

    // Master sequence and full-data path. In per-fold mode the master path
    // is fit FIRST with early stopping, and the CV grid is the (possibly
    // truncated) sequence glmnet would actually have computed.
    val autoLams = ElasticNet.autoLambdaSequenceCov(ds.full, y, alpha, nLambda)
    val fullPath = ElasticNet.fitPathCov(ds.full, y, alpha, autoLams,
      tol = tol, earlyStop = perFold)
    val lambdas = fullPath.lambdas
    val sqErr = Array.fill(lambdas.length)(0.0)
    val cnt = Array.fill(lambdas.length)(0L)

    for (fd <- ds.folds) {
      val yt = y(fd.trainIdx).toDenseVector
      val path =
        if (perFold) {
          val foldLams = ElasticNet.autoLambdaSequenceCov(fd.cov, yt, alpha, nLambda)
          ElasticNet.fitPathCov(fd.cov, yt, alpha, foldLams, tol = tol,
            earlyStop = true)
        } else ElasticNet.fitPathCov(fd.cov, yt, alpha, lambdas, tol = tol)
      // λ-value alignment interpolates the whole fold path onto the master
      // grid in ONE descending two-pointer walk — Path.at per master λ would
      // be an O(nλ²) scan per fold inside the equations × origins loops.
      val lambdaAligned: Array[ElasticNet.Fit] =
        if (perFold && align == "lambda") alignOnto(path, lambdas) else null
      var li = 0
      while (li < lambdas.length) {
        val fit =
          if (!perFold) path.fits(li)
          else if (align == "lambda") lambdaAligned(li)
          else if (li < path.fits.length) path.fits(li)
          else null // fold path stopped before master position li → NA
        if (fit != null) {
          for (i <- fd.testIdx) {
            val pred = fit.intercept + (x(i, ::).t dot fit.beta)
            val e = y(i) - pred
            sqErr(li) += e * e
            cnt(li) += 1
          }
        }
        li += 1
      }
    }
    // Pooled per-observation mean; in index-aligned per-fold mode a master
    // position unreached by some folds averages over the observations that
    // DO have predictions (R's weighted.mean(..., na.rm = TRUE)); a
    // position reached by no fold is excluded from the argmin.
    val cvm = lambdas.indices.map(li =>
      if (cnt(li) == 0) Double.NaN else sqErr(li) / cnt(li))
    val best = cvm.zipWithIndex.filterNot(_._1.isNaN).minBy(_._1)._2
    CvResult(lambdas, cvm, lambdas(best), fullPath)
  }

  /** Interpolate a fitted fold path at every master λ in one simultaneous
    * walk of the two DESCENDING sequences — same semantics as calling
    * [[ElasticNet.Path.at]] per point (exact λ match wins, clamp outside the
    * fold range, linear interpolation between brackets) at O(nλ_master +
    * nλ_fold) instead of O(nλ_master · nλ_fold).
    */
  private[graft] def alignOnto(
      path: ElasticNet.Path,
      master: IndexedSeq[Double]): Array[ElasticNet.Fit] = {
    val fits = path.fits
    val ls = path.lambdas
    val last = ls.length - 1
    val out = new Array[ElasticNet.Fit](master.length)
    var hi = 0 // fold-path cursor: ls(hi) ≥ s > ls(hi+1) once inside range
    var mi = 0
    while (mi < master.length) {
      val s = master(mi)
      out(mi) =
        if (s >= ls.head) fits.head
        else if (s <= ls(last)) fits(last)
        else {
          while (hi + 1 < last && ls(hi + 1) >= s) hi += 1
          if (ls(hi) == s) fits(hi)
          else {
            val lo = hi + 1
            val l1 = ls(hi); val l0 = ls(lo)
            val w = (s - l0) / (l1 - l0)
            ElasticNet.Fit(s,
              w * fits(hi).intercept + (1 - w) * fits(lo).intercept,
              fits(hi).beta * w + fits(lo).beta * (1 - w))
          }
        }
      mi += 1
    }
    out
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
    cvFitDesigns(designs(x, foldIds(x.rows), intercept), y, alpha, tol = tol)

  /** Stopping level equivalent to glmnet's default `thresh = 1e-7`. */
  val GlmnetEquivTol: Double = 3.16e-4
}
