package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.varmodel.{EnetVar, InfCrit, VarDesign}
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the VAR design matrix (W4 layout, FIXTURES.md
  * `quarterly_pair`) and the fit/coef/forecast/residual chain (M3-M6) at
  * the OLS anchor.
  */
class VarModelSpec extends AnyFunSuite {

  test("VAR.Z layout: p=2 lag embedding matches the reference row/column order") {
    // 5×2 panel with recognizable values: series a = 1..5, b = 10..50.
    val y = DenseMatrix(
      (1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0), (5.0, 50.0))
    val d = VarDesign.build(y, p = 2, names = IndexedSeq("a", "b"))
    assert(d.tReduced == 3 && d.k == 4 && d.dof == 5 - 2 - 4)
    // Response = rows 3..5.
    assert(d.yP == DenseMatrix((3.0, 30.0), (4.0, 40.0), (5.0, 50.0)))
    // Design row t = [a_{t−1}, b_{t−1}, a_{t−2}, b_{t−2}] — lag-1 block first.
    assert(d.z == DenseMatrix(
      (2.0, 20.0, 1.0, 10.0),
      (3.0, 30.0, 2.0, 20.0),
      (4.0, 40.0, 3.0, 30.0)))
    assert(d.zNames == IndexedSeq("a.l1", "b.l1", "a.l2", "b.l2"))
  }

  test("VAR.Z with intercept: leading ones column, bookkeeping k includes it") {
    val y = DenseMatrix((1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0))
    val d = VarDesign.build(y, p = 1, names = IndexedSeq("a", "b"), intercept = true)
    assert(d.k == 3)
    assert(d.zNames == IndexedSeq("intercept", "a.l1", "b.l1"))
    assert(d.z(::, 0) == DenseVector(1.0, 1.0, 1.0))
  }

  test("lambda=0 fit recovers the exact coefficient of a noiseless VAR(1)") {
    // y_t = A y_{t−1} with known A; start from a non-degenerate state.
    val a = DenseMatrix((0.5, 0.1), (-0.2, 0.3))
    val t = 40
    val y = DenseMatrix.zeros[Double](t, 2)
    y(0, ::) := DenseVector(1.0, -1.0).t
    for (i <- 1 until t) y(i, ::) := (a * y(i - 1, ::).t).t
    val model = EnetVar.fit(y, p = 1, IndexedSeq("u", "v"), Seq(0.4), Seq(0.0))
    // coefMatrix rows are [u.l1, v.l1], cols are equations — i.e. Aᵀ.
    val rec = model.coefMatrix.t
    assert(breeze.linalg.max(breeze.numerics.abs(rec - a)) < 1e-6)
    // Residuals vanish (up to the solver's own 1e-9-per-sweep tolerance on
    // a geometrically decaying series), forecast continues the recursion.
    assert(breeze.linalg.max(breeze.numerics.abs(model.residuals)) < 1e-6)
    val expect1 = a * y(t - 1, ::).t
    val fc = model.forecast(3)
    assert(breeze.linalg.max(breeze.numerics.abs(fc(0, ::).t - expect1)) < 1e-6)
    val expect3 = a * (a * expect1)
    assert(breeze.linalg.max(breeze.numerics.abs(fc(2, ::).t - expect3)) < 1e-6)
  }

  test("per-equation lambda=0 fit equals per-equation OLS on the shared design") {
    val y = TestData.matrix(50, 3, seed = 11L)
    val model = EnetVar.fit(y, p = 2, IndexedSeq("a", "b", "c"), Seq(0.4), Seq(0.0))
    val d = model.design
    for (j <- 0 until 3) {
      val bOls = (d.z.t * d.z) \ (d.z.t * d.response(j))
      assert(breeze.linalg.max(
        breeze.numerics.abs(model.coefMatrix(::, j) - bOls)) < 1e-6, s"eq $j")
    }
  }

  test("intercept fit: coefMatrix first row carries the fitted intercept") {
    val y = TestData.matrix(50, 2, seed = 13L) + 3.0 // shifted mean
    val model = EnetVar.fit(y, p = 1, IndexedSeq("a", "b"), Seq(0.4), Seq(0.0),
      intercept = true)
    val d = model.design
    for (j <- 0 until 2) {
      val bOls = (d.z.t * d.z) \ (d.z.t * d.response(j)) // Z includes ones col
      assert(math.abs(model.coefMatrix(0, j) - bOls(0)) < 1e-6)
      assert(breeze.linalg.max(breeze.numerics.abs(
        model.coefMatrix(1 until d.k, j).toDenseVector -
          bOls(1 until d.k).toDenseVector)) < 1e-6)
    }
    // Z·B reproduces fitted values including intercept → small residuals on
    // the mean-shifted data.
    val residMean = breeze.linalg.sum(model.residuals) /
      (model.residuals.rows * model.residuals.cols)
    assert(math.abs(residMean) < 0.2)
  }

  test("M9 lag selection: a true VAR(1) process selects lag 1 on every criterion") {
    val g = new TestData.Lcg(71L)
    val a = DenseMatrix((0.6, 0.1), (-0.1, 0.4))
    val t = 120
    val y = DenseMatrix.zeros[Double](t, 2)
    y(0, ::) := DenseVector(0.5, -0.5).t
    for (i <- 1 until t) {
      val base = a * y(i - 1, ::).t
      y(i, ::) := DenseVector(base(0) + 0.1 * g.gaussian(), base(1) + 0.1 * g.gaussian()).t
    }
    val sel = graft.varmodel.LagSelect.select(y, maxLag = 4, alpha = 0.25,
      names = IndexedSeq("u", "v"))
    assert(sel.icTable.nonEmpty)
    // SC/HQ penalize extra lags hardest — both must point at p=1.
    assert(sel.icLag("SC") == 1)
    assert(sel.icLag("HQ") == 1)
    assert(sel.icLag.keySet == Set("FPE", "AIC", "HQ", "SC"))
  }

  test("infCrit: saturated OLS fit has dof == number of active coefficients (lambda→0)") {
    val y = TestData.matrix(60, 2, seed = 17L)
    val model = EnetVar.fit(y, p = 1, IndexedSeq("a", "b"), Seq(0.4), Seq(1e-9))
    val ic = InfCrit(model)
    // At λ≈0 the TT dof collapses to |A| = k·K = 4.
    assert(math.abs(ic.dof - 4.0) < 1e-3)
    assert(ic.aic > ic.sc - 10 && !ic.aic.isNaN)
    // SC penalizes dof harder than AIC at T=59 (log T > 2).
    assert(ic.sc > ic.aic)
  }

  // A per-equation vector must have length 1 or K: a short one used to
  // throw IndexOutOfBounds inside a task, a long one was cut to K silently.
  for (what <- Seq("alphas", "lambdas"))
    test(s"EnetVar.fit rejects $what of length neither 1 nor K, naming both lengths") {
      val y = TestData.matrix(40, 3, seed = 19L)
      for (len <- Seq(2, 4)) {
        val v = Seq.fill(len)(0.1)
        val e = intercept[IllegalArgumentException] {
          if (what == "alphas") EnetVar.fit(y, p = 1, alphas = v, lambdas = Seq(0.1))
          else EnetVar.fit(y, p = 1, alphas = Seq(0.4), lambdas = v)
        }
        assert(e.getMessage.contains(s"$what has length $len") &&
          e.getMessage.contains("K = 3"), e.getMessage)
      }
    }
}
