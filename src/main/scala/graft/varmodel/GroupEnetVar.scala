package graft.varmodel

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.linalg.GroupElasticNet

/** Group (multiresponse) elastic-net VAR — SURVEY §2.6 M7; reference
  * `GroupEnetVAR`/coef/predict (enetVAR.R:344-421): one joint mgaussian
  * fit with blocked-fold CV instead of K per-equation fits, giving joint
  * row sparsity (a lag-variable is kept or dropped for ALL equations).
  * The coefficient layout and recursive forecast mirror EnetVarModel.
  */
final case class GroupEnetVarModel(
    design: VarDesign,
    alpha: Double,
    lambdaMin: Double,
    fit: GroupElasticNet.GroupFit,
    maxIterHits: Int) extends FittedVar {

  /** k×K coefficient matrix in the EnetVar layout (intercept row first
    * when present, carrying the fitted intercepts).
    */
  lazy val coefMatrix: DenseMatrix[Double] = {
    val b = DenseMatrix.zeros[Double](design.k, design.n)
    if (design.intercept) {
      b(0, ::) := fit.intercepts.t
      b(1 until design.k, ::) := fit.b(1 until design.k, ::)
    } else {
      b := fit.b
    }
    b
  }

  // forecast (M5) and residuals (M6) come from FittedVar.
}

object GroupEnetVar {

  /** Fit with blocked-fold CV λ selection (the reference's only mode —
    * enetVAR.R:353-362 always runs cv.glmnet).
    */
  def fit(
      y: DenseMatrix[Double],
      p: Int,
      names: IndexedSeq[String] = IndexedSeq.empty,
      alpha: Double = 0.4,
      intercept: Boolean = false,
      solverTol: Double = 1e-9): GroupEnetVarModel = {
    val design = VarDesign.build(y, p, names, intercept)
    val cv = GroupElasticNet.cvFitBlocked(design.z, design.yP, alpha, intercept,
      tol = solverTol)
    GroupEnetVarModel(design, alpha, cv.lambdaMin, cv.path.at(cv.lambdaMin), cv.maxIterHits)
  }
}
