package graft.varmodel

import breeze.linalg.{DenseMatrix, DenseVector}

/** Common surface of a fitted VAR — what the experiment layer consumes
  * regardless of estimator (per-equation elastic net M3 vs joint group
  * mgaussian M7): the k×K coefficient matrix in the reference layout, the
  * recursive n-ahead forecast (M5), and the in-sample residuals (M6).
  * Forecast and residuals depend only on `design` and `coefMatrix`, so
  * both live here once rather than as per-estimator copies.
  */
trait FittedVar {
  def design: VarDesign
  def coefMatrix: DenseMatrix[Double]

  /** λ steps of the fit's solver paths (CV folds included) that used
    * their whole `maxIter` sweep budget and so may not have converged.
    */
  def maxIterHits: Int

  /** Recursive n-ahead forecast (M5, enetVAR.R:128-154): build Z_ahead from
    * the p most-recent rows (most recent first, row-major — matching the
    * reference's `as.vector(t(y[T:(T−p+1),]))`), multiply by B, append the
    * prediction to the history, repeat.
    */
  def forecast(nAhead: Int): DenseMatrix[Double] = {
    val p = design.p
    val n = design.n
    var history = design.yOrig
    val out = DenseMatrix.zeros[Double](nAhead, n)
    var step = 0
    while (step < nAhead) {
      val t = history.rows
      val zAhead = DenseVector.zeros[Double](design.k)
      var pos = 0
      if (design.intercept) { zAhead(0) = 1.0; pos = 1 }
      var i = 0
      while (i < p) {
        val row = history(t - 1 - i, ::).t
        var c = 0
        while (c < n) { zAhead(pos) = row(c); pos += 1; c += 1 }
        i += 1
      }
      val yAhead: DenseVector[Double] = coefMatrix.t * zAhead // K-vector
      out(step, ::) := yAhead.t
      step += 1
      if (step < nAhead) {
        history = DenseMatrix.vertcat(history, yAhead.toDenseMatrix)
      }
    }
    out
  }

  /** Residual matrix Y − Z·B (M6, enetVAR.R:165-174), (T−p)×K. */
  lazy val residuals: DenseMatrix[Double] = design.yP - design.z * coefMatrix
}
