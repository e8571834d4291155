package graft.tune

import breeze.linalg.{cholesky, inv, DenseMatrix, DenseVector}
import graft.stats.Acf
import graft.varmodel.{EnetVar, InfCrit}
import org.apache.spark.sql.SparkSession

/** Variable-selection operators — SURVEY §2.6 M10-M14; reference
  * enetVAR.R:235-254 (greedy IC preselection), 646-661 (naive ACF
  * selection), 665-701 (diversity ACF selection), 704-756 (PACF
  * selection), 617-641 (lasso-path ranking).
  *
  * The target series is assumed to be column 0 ("GDP" in the reference);
  * selections always return it first.
  */
object Selection {

  /** M11 — naive ACF selection (enetVAR.R:646-661): rank series by mean
    * squared correlation with the LAGGED target over lags 1..lag, take the
    * top `maxNrVar`, force the target in front.
    */
  def acfNaive(
      y: DenseMatrix[Double],
      names: IndexedSeq[String],
      lag: Int = 5,
      maxNrVar: Int = 10): Seq[String] = {
    val sq = Acf.squaredVsLaggedTarget(y, lag)
    // A constant series (sd = 0) has NaN correlations (the reference's
    // acf() refuses constant input outright); define its score as 0 so it
    // ranks LAST by its value, not by a sort's NaN convention: Scala's
    // TotalOrdering puts NaN last, but Spark SQL's desc sort puts it first.
    val meanSq = (0 until y.cols).map { j =>
      val v = (0 until lag).map(k => sq(k, j)).sum / lag
      if (v.isNaN) 0.0 else v
    }
    val ranked = meanSq.zipWithIndex.sortBy(-_._1).map(p => names(p._2))
    names(0) +: ranked.filterNot(_ == names(0)).take(maxNrVar - 1)
  }

  /** M12 — diversity ACF selection (enetVAR.R:665-701): greedily pick the
    * series farthest (in squared-ACF-profile distance) from the LAST
    * selected one, zeroing already-selected columns and culling the
    * floor(K/maxNrVar) lowest-scoring candidates each round. Ported loop
    * semantics, including the "never pick the target" guard.
    */
  def acfDiverse(
      y: DenseMatrix[Double],
      names: IndexedSeq[String],
      lag: Int = 10,
      maxNrVar: Int = 10): Seq[String] =
    greedyProfileSelection(Acf.squaredVsLaggedTarget(y, lag), names, maxNrVar)

  /** M13 — PACF selection (enetVAR.R:704-756): same greedy scheme on the
    * partial cross-correlation profile of each series with the target,
    * computed per-pair via the bivariate Whittle/Levinson recursion (the
    * reference's blocks-of-4 stitching is an R `pacf` API workaround —
    * SURVEY W6 drops it; the greedy loop is ported unchanged).
    */
  def pacfSelect(
      y: DenseMatrix[Double],
      names: IndexedSeq[String],
      lag: Int = 8,
      maxNrVar: Int = 10): Seq[String] = {
    // One recursion per COLUMN, then fill the profile from its lag
    // vector — tabulate's per-cell lambda would re-run the whole
    // O(lag²·T) Whittle recursion `lag` times per series. The O(lag·T)
    // autocovariances of each pair are primitive-array sums (see
    // partialCrossTarget), so the per-column cost is the 2×2 recursion.
    val colProfiles: IndexedSeq[DenseVector[Double]] =
      (0 until y.cols).map { j =>
        if (j == 0) Acf.pacfUnivariate(y(::, 0).copy, lag)
        else partialCrossTarget(DenseMatrix.horzcat(
          y(::, 0).toDenseMatrix.t, y(::, j).toDenseMatrix.t), lag)
      }
    val profile = DenseMatrix.tabulate(lag, y.cols)((k, j) => colProfiles(j)(k))
    greedyProfileSelection(profile.map(v => v * v), names, maxNrVar)
  }

  /** Bivariate partial autocorrelation of (target, x) — entry (0, 1) of
    * the normalized partial autocorrelation matrices from the Whittle
    * multivariate Levinson recursion (Reinsel 1997 §2.3): P_k =
    * L_f⁻¹ Δ_k L_bᵀ⁻¹ with Cholesky factors of the forward/backward
    * innovation covariances.
    *
    * The autocovariances Γ_0..Γ_lagMax are scalar sums over the demeaned
    * pair's column-major array, accumulated in time order and divided by T
    * once: bit for bit what summing breeze outer products row by row gives
    * (TuneSpec holds that spelling as the oracle), without the per-row
    * allocations. The recursion itself stays on breeze (`cholesky`, `inv`,
    * the d×d products), so its arithmetic is LAPACK's.
    */
  def partialCrossTarget(pair: DenseMatrix[Double], lagMax: Int): DenseVector[Double] = {
    val t = pair.rows
    val d = pair.cols
    // Autocovariance matrices Γ_0..Γ_m (1/T normalization, demeaned once).
    val c = pair.copy
    for (j <- 0 until d) {
      val m = breeze.linalg.sum(c(::, j)) / t.toDouble
      c(::, j) :-= m
    }
    // Γ_k(i, j) = Σ_tt c(tt + k, i)·c(tt, j) / T, tt ascending: term for
    // term what summing the outer products c(tt + k, ::)ᵀ·c(tt, ::) did,
    // without ~T small matrices per lag.
    val ca = c.toArray
    def gamma(k: Int): DenseMatrix[Double] = DenseMatrix.tabulate(d, d) { (i, j) =>
      val (bi, bj) = (i * t + k, j * t)
      var s = 0.0
      var tt = 0
      while (tt < t - k) { s += ca(bi + tt) * ca(bj + tt); tt += 1 }
      s / t.toDouble
    }
    val gam = (0 to lagMax).map(gamma)

    var phi = IndexedSeq.empty[DenseMatrix[Double]]   // forward coefs
    var psi = IndexedSeq.empty[DenseMatrix[Double]]   // backward coefs
    var vf = gam(0).copy                              // forward innovation cov
    var vb = gam(0).copy                              // backward innovation cov
    val out = DenseVector.zeros[Double](lagMax)
    for (k <- 1 to lagMax) {
      // Δ_k = Γ_k − Σ_{i<k} φ_i Γ_{k−i}
      val delta = gam(k) - phi.zipWithIndex.map { case (f, i) =>
        f * gam(k - i - 1)
      }.foldLeft(DenseMatrix.zeros[Double](d, d))(_ + _)
      val lf = cholesky(symmetrize(vf))
      val lb = cholesky(symmetrize(vb))
      val pk = inv(lf) * delta * inv(lb).t
      out(k - 1) = pk(0, 1)
      // Update coefficients (Whittle recursion).
      val a = delta * inv(vb)       // new forward coef at lag k
      val b = delta.t * inv(vf)     // new backward coef at lag k
      val phiNew = (phi.zipWithIndex.map { case (f, i) =>
        f - a * psi(k - 2 - i)
      } :+ a).toIndexedSeq
      val psiNew = (psi.zipWithIndex.map { case (g, i) =>
        g - b * phi(k - 2 - i)
      } :+ b).toIndexedSeq
      vf = symmetrize(vf - a * delta.t)
      vb = symmetrize(vb - b * delta)
      phi = phiNew
      psi = psiNew
    }
    out
  }

  private def symmetrize(m: DenseMatrix[Double]): DenseMatrix[Double] =
    (m + m.t) / 2.0

  /** Shared greedy loop of M12/M13 (enetVAR.R:673-700): repeatedly take the
    * series maximizing mean squared distance (over the lag profile) to the
    * last pick, zero out picked columns, cull the lowest-score tail.
    */
  private def greedyProfileSelection(
      sqProfile: DenseMatrix[Double],
      names: IndexedSeq[String],
      maxNrVar: Int): Seq[String] = {
    val lag = sqProfile.rows
    val k = sqProfile.cols
    def meanCol(m: DenseMatrix[Double], j: Int): Double =
      (0 until lag).map(m(_, j)).sum / lag

    val baseScores = (0 until k).map(meanCol(sqProfile, _))
    def topNotTarget(scores: IndexedSeq[Double], excluded: Set[Int]): Int = {
      val order = scores.zipWithIndex.filterNot(p => excluded.contains(p._2)).sortBy(-_._1)
      val first = order.head._2
      if (first == 0 && order.length > 1) order(1)._2 else first
    }

    var select = topNotTarget(baseScores, Set.empty)
    var selected = Vector(select)
    var removed = Set.empty[Int]
    val cull = math.max(k / maxNrVar, 0)
    // `< k - 1`, not `< k`: the target (index 0) is never selectable, so
    // the candidate pool holds k-1 indices — with `< k` the loop re-enters
    // after picks+culls consumed every candidate and topNotTarget's
    // order.head throws on the empty ranking (reachable at defaults, e.g.
    // 30 series with maxNrVar=10: 7 rounds of 1 pick + 3 culls).
    while (selected.length < maxNrVar - 1 && removed.size + selected.size < k - 1) {
      val dist = DenseMatrix.tabulate(lag, k) { (r, j) =>
        val d = sqProfile(r, j) - sqProfile(r, select)
        d * d
      }
      val excluded = removed ++ selected + 0
      val scores = (0 until k).map(j =>
        if (selected.contains(j)) 0.0 else meanCol(dist, j))
      val next = topNotTarget(scores, excluded)
      // Cull the lowest-scoring floor(K/maxNrVar) unselected candidates.
      removed ++= scores.zipWithIndex
        .filterNot(p => excluded.contains(p._2) || p._2 == next)
        .sortBy(_._1).take(cull).map(_._2)
      select = next
      selected :+= next
    }
    names(0) +: selected.map(names(_))
  }

  /** M10 — greedy forward IC preselection (enetVAR.R:235-254): start from
    * {target}, repeatedly add the candidate minimizing the SC criterion of
    * a jointly-fitted enet-VAR. The per-round candidate sweep is
    * embarrassingly parallel — a [[graft.FanOut]] per round, one task per
    * core over the broadcast panel, one part on the calling thread without
    * a session.
    */
  def greedyIcPreselection(
      y: DenseMatrix[Double],
      names: IndexedSeq[String],
      lag: Int = 1,
      alpha: Double = 0.25,
      maxNrVar: Int = 5,
      spark: Option[SparkSession] = None): Seq[String] = {
    var target = Vector(0)
    var candidates = (1 until y.cols).toVector
    def scOf(data: DenseMatrix[Double], cols: Vector[Int]): Double = {
      val sub = data(::, cols).toDenseMatrix
      val model = EnetVar.fit(sub, lag, cols.map(names(_)), Seq(alpha))
      InfCrit(model).sc
    }
    while (target.length < maxNrVar && candidates.nonEmpty) {
      val cands = candidates
      val scores = graft.FanOut(spark, cands.length, perCore = 1, (y, target)) {
        case ((yy, tgt), share) => share.map(c => scOf(yy, tgt :+ cands(c)))
      }
      val best = cands(scores.indices.minBy(scores))
      target :+= best
      candidates = candidates.filterNot(_ == best)
    }
    target.map(names(_))
  }

  /** M14 — lasso-path variable ranking (`ezlasso`, enetVAR.R:617-641):
    * tune λ for the target equation with the rolling-origin evaluator,
    * then rank predictors by coefficient. The reference ranks SIGNED
    * coefficients (`order(co, decreasing=T)` — most-positive first, a
    * likely bug); `signedRanking = false` ranks by |coef| instead
    * (SURVEY M14: preserve or fix behind a flag).
    */
  def lassoPathRanking(
      z: DenseMatrix[Double],
      yTarget: DenseVector[Double],
      predictorNames: IndexedSeq[String],
      alpha: Double,
      initWindow: Int,
      maxNrVar: Int = 10,
      signedRanking: Boolean = true): Seq[String] =
    lassoPathScores(z, yTarget, predictorNames, alpha, initWindow, signedRanking)
      .take(maxNrVar).map(_._1)

  /** The full ranked (name, score) list behind [[lassoPathRanking]] — the
    * stable descending sort mirrors R's `order(co, decreasing = T)` tie
    * behavior (ties keep column order), which reproducing the reference's
    * hardcoded ezlasso-30 set exactly needs.
    */
  def lassoPathScores(
      z: DenseMatrix[Double],
      yTarget: DenseVector[Double],
      predictorNames: IndexedSeq[String],
      alpha: Double,
      initWindow: Int,
      signedRanking: Boolean = true): IndexedSeq[(String, Double)] = {
    val lambdas = (0 until 100).map(i => math.pow(10.0, 2.0 - 4.0 * i / 99))
    val origins = initWindow until z.rows
    // Rolling-origin (horizon 1) score per λ at the given α.
    val sse = new Array[Double](lambdas.length)
    for (o <- origins) {
      val path = graft.linalg.ElasticNet.fitPath(
        z(0 until o, ::).toDenseMatrix, yTarget(0 until o).toDenseVector,
        alpha, lambdas, intercept = false, standardize = true)
      for (li <- lambdas.indices) {
        val e = yTarget(o) - (z(o, ::).t dot path.fits(li).beta)
        sse(li) += e * e
      }
    }
    val bestLambda = lambdas(sse.indexOf(sse.min))
    val fit = graft.linalg.ElasticNet.fitPath(z, yTarget, alpha, Seq(bestLambda),
      intercept = false, standardize = true).fits.head
    val scored = predictorNames.indices.map { j =>
      val c = fit.beta(j)
      predictorNames(j) -> (if (signedRanking) c else math.abs(c))
    }
    scored.sortBy(-_._2)
  }
}
