package graft.varmodel

import breeze.linalg.DenseMatrix
import graft.linalg.{BlockedCv, ElasticNet}

/** Per-equation elastic-net VAR — SURVEY §2.6 M3 (fit), M4 (coefficients),
  * M5 (recursive forecast), M6 (residuals); reference enetVAR.R:52-76,
  * 89-114, 128-154, 165-174.
  *
  * Fit shape: one shared design matrix (VAR.Z), K independent gaussian
  * elastic-net fits — per-equation α and λ vectors supported like the
  * reference (enetVAR.R:12-22). When λ is given, each equation fits the
  * reference's 10-point warm-up grid `seq(2λ, λ/2, 10)` and reads the
  * coefficients at exactly λ; when λ is absent, each equation runs the
  * blocked-fold CV (M2) and uses its `lambda.min`.
  *
  * Coefficient-matrix layout matches the reference's `coef.enetVAR` exactly:
  * a k×K matrix whose rows are the Z columns; when an intercept is fitted,
  * the first row (named "intercept") carries the fitted intercept — so
  * `Z ⋅ B` (with Z's leading ones column) evaluates the full linear
  * predictor (enetVAR.R:89-114's B[-2,] trick, done honestly here).
  *
  * Scale posture: a single fit is task-local math on a broadcast design
  * (the reference panel is ≤231×~750 doubles); the distributed dimension is
  * origins × equations × grid (graft.experiment / graft.tune), never the
  * inside of one fit.
  */
final case class EnetVarModel(
    design: VarDesign,
    alpha: Double,
    equations: IndexedSeq[ElasticNet.Fit],
    maxIterHits: Int) extends FittedVar {

  /** k×K coefficient matrix (rows = Z columns incl. intercept row when
    * present; cols = equations), reference M4 layout.
    */
  lazy val coefMatrix: DenseMatrix[Double] = {
    val k = design.k
    val kk = design.n
    val b = DenseMatrix.zeros[Double](k, kk)
    var j = 0
    while (j < kk) {
      val fit = equations(j)
      if (design.intercept) {
        b(0, j) = fit.intercept
        // beta(0) is the zero coefficient of the constant ones column —
        // excluded, like glmnet's zero-variance drop.
        var r = 1
        while (r < k) { b(r, j) = fit.beta(r); r += 1 }
      } else {
        var r = 0
        while (r < k) { b(r, j) = fit.beta(r); r += 1 }
      }
      j += 1
    }
    b
  }

  /** Mean over equations of the per-equation selected λ (enetVAR.R:181's
    * `mean(sapply(model, lambda.min))`) — consumed by InfCrit.
    */
  def meanLambda: Double = equations.map(_.lambda).sum / equations.length

  // forecast (M5) and residuals (M6) come from FittedVar.
}

object EnetVar {

  /** Fit the per-equation elastic-net VAR (M3).
    *
    * @param alphas  one α per equation, or a single value used for all
    * @param lambdas one λ per equation / single value; empty → blocked CV
    * @param spark   the session the K independent per-equation fits fan
    *                out over ([[graft.FanOut]], one task per core on the
    *                broadcast design, each task building its CovDesign /
    *                CvDesigns once); equations never read each other's
    *                state, so every part count gives the same fits
    *                (SparkParitySpec). Leave None inside already-distributed
    *                callers (e.g. ModelTrain's per-origin tasks).
    */
  def fit(
      y: DenseMatrix[Double],
      p: Int,
      names: IndexedSeq[String] = IndexedSeq.empty,
      alphas: Seq[Double] = Seq(0.4),
      lambdas: Seq[Double] = Seq.empty,
      intercept: Boolean = false,
      solverTol: Double = 1e-9,
      spark: Option[org.apache.spark.sql.SparkSession] = None): EnetVarModel = {
    val kk = y.cols
    require(alphas.length == 1 || alphas.length == kk,
      s"alphas has length ${alphas.length}; EnetVar.fit needs 1 or K = $kk")
    require(lambdas.length <= 1 || lambdas.length == kk,
      s"lambdas has length ${lambdas.length}; EnetVar.fit needs 0 (CV), 1 or K = $kk")
    val design = VarDesign.build(y, p, names, intercept)
    def alphaOf(j: Int) = if (alphas.length == 1) alphas.head else alphas(j)

    // Each part fits its equations against designs it builds once
    // (standardization, fold splits, lazily-cached Gram rows, reused
    // across the part's equations and λ paths); each equation returns its
    // fit and the maxIter hits of every path behind it.
    val fits: IndexedSeq[(ElasticNet.Fit, Int)] =
      graft.FanOut(spark, kk, perCore = 1, design) { (d, share) =>
        lazy val covZ = new graft.linalg.CovDesign(d.z, intercept, true)
        lazy val cvDs = BlockedCv.designs(d.z, intercept)
        share.map { j =>
          if (lambdas.nonEmpty) {
            val lam = if (lambdas.length == 1) lambdas.head else lambdas(j)
            val path = ElasticNet.fitPathCov(covZ, d.response(j), alphaOf(j),
              ElasticNet.referenceLambdaGrid(lam), tol = solverTol)
            (path.at(lam), path.maxIterHits)
          } else {
            val cv = BlockedCv.cvFitDesigns(cvDs, d.response(j), alphaOf(j), solverTol)
            (cv.path.at(cv.lambdaMin), cv.maxIterHits)
          }
        }
      }
    // With heterogeneous per-equation alphas the model records their MEAN
    // for InfCrit's scalar ridge term — the same convention the reference
    // applies to the per-equation λs (enetVAR.R:181 takes mean(lambda.min));
    // with a single alpha (every pipeline use) this is that alpha exactly.
    EnetVarModel(design, (0 until kk).map(alphaOf).sum / kk, fits.map(_._1), fits.map(_._2).sum)
  }
}
