package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.tune.{RollingOriginTuner, Selection}
import graft.varmodel.VarDesign
import org.scalatest.funsuite.AnyFunSuite

/** Tests for the tuning and variable-selection layer (M10-M15). */
class TuneSpec extends AnyFunSuite {

  /** Panel where series 1 is (lagged target + small noise) — a strong
    * predictor — and series 2 is independent noise.
    */
  private def predictivePanel(t: Int, seed: Long): DenseMatrix[Double] = {
    val g = new TestData.Lcg(seed)
    val y = DenseMatrix.zeros[Double](t, 3)
    var prev = 0.0
    for (i <- 0 until t) {
      val x1 = 0.9 * prev + 0.05 * g.gaussian() // leads the target
      val tgt = prev * 0.7 + 0.05 * g.gaussian()
      y(i, 0) = tgt
      y(i, 1) = x1
      y(i, 2) = g.gaussian()
      prev = x1
    }
    y
  }

  test("M15 rolling-origin tuner: near-noiseless signal tunes to small lambda, small RMSE") {
    val y = predictivePanel(70, seed = 21L)
    val grid = RollingOriginTuner.Grid(
      Seq(0.1, 0.5, 0.9), (0 until 30).map(i => math.pow(10.0, 0.0 - 4.0 * i / 29)))
    val best = RollingOriginTuner.tune(y, p = 1, initWindow = 30, horizon = 4, grid,
      IndexedSeq("gdp", "x1", "x2"))
    assert(best.length == 3)
    val eq0 = best.find(_.equation == 0).get
    assert(eq0.lambda < 0.1)       // strong signal → little shrinkage wins
    assert(eq0.meanRmse < 0.2)
    // Winner beats every other grid point for its equation by construction:
    assert(best.forall(b => b.meanRmse > 0))
  }

  test("M15 caret-submodels mode tunes to a winner close to the direct-grid one") {
    val y = predictivePanel(70, seed = 21L)
    val grid = RollingOriginTuner.Grid(
      Seq(0.1, 0.5, 0.9), (0 until 30).map(i => math.pow(10.0, 0.0 - 4.0 * i / 29)))
    val direct = RollingOriginTuner.tune(y, p = 1, initWindow = 30, horizon = 4,
      grid, IndexedSeq("gdp", "x1", "x2"))
    val caret = RollingOriginTuner.tune(y, p = 1, initWindow = 30, horizon = 4,
      grid, IndexedSeq("gdp", "x1", "x2"), caretSubmodels = true)
    assert(caret.length == 3)
    // Interpolated submodels are a different estimator at each grid point,
    // so winners need not be identical — but on a near-noiseless signal
    // both modes must agree that little shrinkage wins, with similar RMSE.
    val d0 = direct.find(_.equation == 0).get
    val c0 = caret.find(_.equation == 0).get
    assert(c0.lambda < 0.1, s"caret-mode lambda ${c0.lambda}")
    assert(math.abs(c0.meanRmse - d0.meanRmse) < 0.05,
      s"caret ${c0.meanRmse} vs direct ${d0.meanRmse}")
  }

  test("M15 rmseOnto equals Path.at + breeze row dot, bit for bit") {
    import graft.linalg.{CovDesign, ElasticNet}
    val (rows, o, horizon) = (80, 60, 8)
    def bits(a: Double): Long = java.lang.Double.doubleToRawLongBits(a)
    for (p <- Seq(1, 5, 34); seed <- 1L to 3L) {
      val z = TestData.matrix(rows, p, seed = 100L * p + seed)
      val y = z * TestData.vector(p, seed = seed + 7L) + TestData.vector(rows, seed = seed + 9L) * 0.3
      val cov = new CovDesign(z(0 until o, ::).toDenseMatrix, intercept = false, standardize = true)
      val yTrain = y(0 until o).copy
      val lams = ElasticNet.autoLambdaSequenceCov(cov, yTrain, 0.5, 40)
      val path = ElasticNet.fitPathCov(cov, yTrain, 0.5, lams, earlyStop = true)
      val pl = path.lambdas
      // All four Path.at cases: above the path, below it, an exact path
      // lambda, and interpolated lambdas between path points.
      val master = (Seq(pl.head * 3, pl.head * 1.5, pl.last / 2, pl.last / 7, pl(2), pl(3)) ++
        pl.indices.init.map(i => 0.3 * pl(i) + 0.7 * pl(i + 1)))
        .sorted(Ordering[Double].reverse).toIndexedSeq
      assert(master.exists(_ > pl.head) && master.exists(_ < pl.last) &&
        master.exists(pl.contains) && master.exists(s => s < pl.head && s > pl.last && !pl.contains(s)))
      def scored(fits: IndexedSeq[ElasticNet.Fit]): Seq[Double] = fits.map { fit =>
        var sse = 0.0
        for (r <- o until o + horizon) {
          val e = y(r) - (z(r, ::).t dot fit.beta)
          sse += e * e
        }
        math.sqrt(sse / horizon)
      }
      val ref = scored(master.map(path.at))
      val got = RollingOriginTuner.rmseOnto(path, master, z.toArray, rows, y.toArray, 0, o, horizon)
      assert(got.map(bits).toSeq == ref.map(bits), s"p=$p seed=$seed")
      // The direct-grid branch: a path fitted at the grid itself scores
      // each grid lambda at its own path point.
      val direct = ElasticNet.fitPathCov(cov, yTrain, 0.5, master)
      val gotDirect = RollingOriginTuner.rmseOnto(direct, master, z.toArray, rows, y.toArray, 0, o, horizon)
      assert(gotDirect.map(bits).toSeq == scored(direct.fits).map(bits), s"direct p=$p seed=$seed")
    }
  }

  test("M15 reference grid shape: 19 alphas x 200 lambdas spanning 10^1..10^-4") {
    val g = RollingOriginTuner.referenceGrid()
    assert(g.alphas.length == 19)
    assert(math.abs(g.alphas.head - 0.05) < 1e-12 && math.abs(g.alphas.last - 0.95) < 1e-12)
    assert(g.lambdas.length == 200)
    assert(math.abs(g.lambdas.head - 10.0) < 1e-9)
    assert(math.abs(g.lambdas.last - 1e-4) < 1e-12)
  }

  test("M11 naive ACF selection ranks the leading indicator first") {
    val y = predictivePanel(300, seed = 23L)
    val sel = Selection.acfNaive(y, IndexedSeq("gdp", "x1", "x2"), lag = 3, maxNrVar = 2)
    assert(sel.head == "gdp")
    assert(sel(1) == "x1")
  }

  test("M12 diversity ACF selection returns target-first, no duplicates") {
    val y = predictivePanel(300, seed = 25L)
    val sel = Selection.acfDiverse(y, IndexedSeq("gdp", "x1", "x2"), lag = 5, maxNrVar = 3)
    assert(sel.head == "gdp")
    assert(sel.distinct == sel)
    assert(sel.length <= 3 && sel.length >= 2)
  }

  test("M12 greedy selection survives candidate exhaustion (picks + culls drain the pool)") {
    // 6 series, maxNrVar = 5 -> cull = 1 per round: after two rounds the
    // pick+cull consumption reaches all 5 non-target candidates; the loop
    // must exit with a shorter selection instead of ranking an empty
    // candidate list (the pre-fix guard counted the never-selectable
    // target as a free slot and crashed on order.head).
    val g = new TestData.Lcg(31L)
    val y = DenseMatrix.tabulate(200, 6)((_, _) => g.gaussian())
    val names = IndexedSeq("gdp", "a", "b", "c", "d", "e")
    val sel = Selection.acfDiverse(y, names, lag = 4, maxNrVar = 5)
    assert(sel.head == "gdp")
    assert(sel.distinct == sel)
    assert(sel.length >= 2 && sel.length <= 5, s"unexpected selection: $sel")
  }

  test("M13 bivariate partial cross-correlation: independent noise ~ 0, leading series != 0") {
    val y = predictivePanel(500, seed = 27L)
    val lead = Selection.partialCrossTarget(
      DenseMatrix.horzcat(y(::, 0).toDenseMatrix.t, y(::, 1).toDenseMatrix.t), 4)
    val indep = Selection.partialCrossTarget(
      DenseMatrix.horzcat(y(::, 0).toDenseMatrix.t, y(::, 2).toDenseMatrix.t), 4)
    assert(math.abs(lead(0)) > 0.3)     // x1 leads the target strongly
    assert(math.abs(indep(0)) < 0.15)   // pure noise: near zero
    val sel = Selection.pacfSelect(y, IndexedSeq("gdp", "x1", "x2"), lag = 4, maxNrVar = 2)
    assert(sel.head == "gdp")
  }

  /** The breeze-γ spelling of [[Selection.partialCrossTarget]]: each Γ_k
    * sums the row-wise outer products c(tt + k, ::)ᵀ·c(tt, ::) into a
    * breeze matrix, then divides by T. Kept as the oracle of the
    * primitive-array Γ_k; the Whittle recursion below it is unchanged.
    */
  private def partialCrossTargetBreeze(pair: DenseMatrix[Double], lagMax: Int): DenseVector[Double] = {
    import breeze.linalg.{cholesky, inv}
    def symmetrize(m: DenseMatrix[Double]): DenseMatrix[Double] = (m + m.t) / 2.0
    val t = pair.rows
    val d = pair.cols
    val c = pair.copy
    for (j <- 0 until d) {
      val m = breeze.linalg.sum(c(::, j)) / t.toDouble
      c(::, j) :-= m
    }
    def gamma(k: Int): DenseMatrix[Double] = {
      val g = DenseMatrix.zeros[Double](d, d)
      var tt = 0
      while (tt < t - k) { g += c(tt + k, ::).t * c(tt, ::); tt += 1 }
      g / t.toDouble
    }
    val gam = (0 to lagMax).map(gamma)
    var phi = IndexedSeq.empty[DenseMatrix[Double]]
    var psi = IndexedSeq.empty[DenseMatrix[Double]]
    var vf = gam(0).copy
    var vb = gam(0).copy
    val out = DenseVector.zeros[Double](lagMax)
    for (k <- 1 to lagMax) {
      val delta = gam(k) - phi.zipWithIndex.map { case (f, i) =>
        f * gam(k - i - 1)
      }.foldLeft(DenseMatrix.zeros[Double](d, d))(_ + _)
      val lf = cholesky(symmetrize(vf))
      val lb = cholesky(symmetrize(vb))
      val pk = inv(lf) * delta * inv(lb).t
      out(k - 1) = pk(0, 1)
      val a = delta * inv(vb)
      val b = delta.t * inv(vf)
      val phiNew = (phi.zipWithIndex.map { case (f, i) => f - a * psi(k - 2 - i) } :+ a).toIndexedSeq
      val psiNew = (psi.zipWithIndex.map { case (g, i) => g - b * phi(k - 2 - i) } :+ b).toIndexedSeq
      vf = symmetrize(vf - a * delta.t)
      vb = symmetrize(vb - b * delta)
      phi = phiNew
      psi = psiNew
    }
    out
  }

  test("M13 partialCrossTarget equals the breeze-γ spelling, bit for bit") {
    var compared = 0
    for (seed <- Seq(41L, 42L, 43L); t <- Seq(30, 160, 500)) {
      val y = predictivePanel(t, seed)
      val g = new TestData.Lcg(seed + 100)
      // A near-constant column: a level of 5 with 1e-7 wiggles.
      val flat = DenseVector.tabulate(t)(_ => 5.0 + 1e-7 * g.gaussian())
      val xs = Seq(y(::, 1).copy, y(::, 2).copy, flat)
      for (x <- xs; lagMax <- 1 to 8) {
        val pair = DenseMatrix.horzcat(y(::, 0).toDenseMatrix.t, x.toDenseMatrix.t)
        val got = Selection.partialCrossTarget(pair, lagMax).toArray
        val want = partialCrossTargetBreeze(pair, lagMax).toArray
        assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ==
          want.map(java.lang.Double.doubleToRawLongBits).toSeq,
          s"seed=$seed T=$t lagMax=$lagMax: ${got.toSeq} vs ${want.toSeq}")
        compared += got.length
      }
    }
    assert(compared == 3 * 3 * 3 * (1 to 8).sum)
  }

  test("M14 lasso-path ranking: signed vs magnitude ranking flag") {
    val g = new TestData.Lcg(29L)
    val z = DenseMatrix.tabulate(120, 3)((_, _) => g.gaussian())
    val yT = DenseVector.tabulate(120)(i => 2.0 * z(i, 0) - 3.0 * z(i, 1) + 0.01 * g.gaussian())
    val names = IndexedSeq("pos", "neg", "null")
    val signed = Selection.lassoPathRanking(z, yT, names, alpha = 0.5,
      initWindow = 60, maxNrVar = 1, signedRanking = true)
    assert(signed == Seq("pos")) // most-POSITIVE coefficient wins (reference quirk)
    val magnitude = Selection.lassoPathRanking(z, yT, names, alpha = 0.5,
      initWindow = 60, maxNrVar = 1, signedRanking = false)
    assert(magnitude == Seq("neg")) // |−3| > |2|
  }

  test("M10 greedy IC preselection picks the informative candidate before noise") {
    val y = predictivePanel(90, seed = 31L)
    val sel = Selection.greedyIcPreselection(y, IndexedSeq("gdp", "x1", "x2"),
      lag = 1, alpha = 0.25, maxNrVar = 2)
    assert(sel == Seq("gdp", "x1"))
  }

  test("VarDesign.frame drops exactly p leading rows and names lag columns <c>_l<i>") {
    // Guards the builder the w4_var_design query relies on (local analog).
    val y = DenseMatrix((1.0, 5.0), (2.0, 6.0), (3.0, 7.0), (4.0, 8.0))
    val d = VarDesign.build(y, p = 1, IndexedSeq("a", "b"))
    assert(d.zNames == IndexedSeq("a.l1", "b.l1"))
    assert(d.tReduced == 3)
  }
}
