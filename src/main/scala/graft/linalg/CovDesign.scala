package graft.linalg

import breeze.linalg.{DenseMatrix, DenseVector, sum}

/** Precomputed, shareable solver state for one design matrix: the
  * standardized working copy, per-column second moments, and lazily-filled
  * rows of the Gram matrix XᵀX/N — the "covariance mode" of glmnet's
  * coordinate descent (Friedman–Hastie–Tibshirani, JSS 2010, §2.2).
  *
  * Why this exists: the reference's CV workload (enetVAR.R:27-36) fits the
  * SAME fold design for every equation, every λ on the path, and every α of
  * a tuning grid — K × nλ × nα path fits per fold. Standardization and Gram
  * rows depend only on X, so computing them once per fold and sharing the
  * object across all those fits removes the dominant redundant O(T·k)
  * work from every coordinate-descent sweep (the r3 lag-5 CV experiment
  * spent 42 min mostly re-doing those dot products).
  *
  * A Gram row is computed on FIRST ACTIVATION of its feature (O(T·k)) and
  * cached; the ever-active union across equations/λ/α shares the cache.
  * Memory: k² doubles worst-case (151² ≈ 180 KB for the lag-5 panel).
  *
  * The exact cᵢ refresh at each λ boundary, ⟨x̃ⱼ, r⟩/N for every j, is
  * [[colDots]]: four columns per pass over the rows, each column's sum
  * still taken alone and in row order, so it gives [[colDot]]'s bits.
  *
  * Thread-safety: task-local by design — one CovDesign per executor task
  * (the distributed dimension is origins × grid points, SURVEY §3.2-3.3),
  * so the lazy fill needs no synchronization.
  */
final class CovDesign(
    x: DenseMatrix[Double],
    val intercept: Boolean,
    val standardize: Boolean) {

  val nRows: Int = x.rows
  val p: Int = x.cols
  val n: Double = nRows.toDouble

  /** Standardized working copy (population sd; centered only with
    * intercept — the no-intercept scaled-not-centered semantics of
    * ElasticNet's scaladoc), column-major primitive array.
    */
  private val xw: DenseMatrix[Double] = x.copy
  val centers: Array[Double] = new Array[Double](p)
  val scales: Array[Double] = Array.fill(p)(1.0)

  {
    var j = 0
    while (j < p) {
      val cj = xw(::, j)
      val nD = n
      val m = sum(cj) / nD
      val v = (cj dot cj) / nD - m * m
      val sd = math.sqrt(math.max(v, 0.0))
      if (intercept) { centers(j) = m; cj :-= m }
      if (standardize && sd > 0) { scales(j) = sd; cj :/= sd }
      j += 1
    }
  }

  require(xw.offset == 0 && xw.majorStride == nRows, "xw must be dense col-major")
  val xArr: Array[Double] = xw.data

  /** Second moments zⱼ = ⟨x̃ⱼ, x̃ⱼ⟩/N of the working predictors (≠ 1 when
    * not centered).
    */
  val zArr: Array[Double] = Array.tabulate(p) { j =>
    val base = j * nRows
    var s = 0.0
    var i = 0
    while (i < nRows) { val v = xArr(base + i); s += v * v; i += 1 }
    s / n
  }

  private val gram = new Array[Array[Double]](p)

  /** Row j of XᵀX/N over the working predictors, computed on first use. */
  def gramRow(j: Int): Array[Double] = {
    var row = gram(j)
    if (row == null) {
      row = new Array[Double](p)
      val bj = j * nRows
      var k = 0
      while (k < p) {
        val bk = k * nRows
        var s = 0.0
        var i = 0
        while (i < nRows) { s += xArr(bj + i) * xArr(bk + i); i += 1 }
        row(k) = s / n
        k += 1
      }
      gram(j) = row
    }
    row
  }

  /** ⟨x̃ⱼ, v⟩/N, v the `nRows` values of a primitive vector from `v(vOff)`. */
  def colDot(j: Int, v: Array[Double], vOff: Int = 0): Double = {
    val base = j * nRows
    var s = 0.0
    var i = 0
    while (i < nRows) { s += xArr(base + i) * v(vOff + i); i += 1 }
    s / n
  }

  /** [[colDot]] for every column at once: `out(outOff + j)` = ⟨x̃ⱼ, v⟩/N
    * with v the `nRows` values from `v(vOff)`. Four columns share one pass
    * over the rows. Each has its own accumulator, summed in row order and
    * divided by N as `colDot` does, so every entry is `colDot`'s value bit
    * for bit: four independent add chains per pass instead of one
    * latency-bound chain per column. The last p mod 4 columns take
    * `colDot`'s loop. No reassociation and no fused multiply-add: the
    * solver's bit-identity with earlier releases rests on it.
    */
  def colDots(v: Array[Double], out: Array[Double], vOff: Int = 0, outOff: Int = 0): Unit = {
    var j = 0
    while (j + 4 <= p) {
      val b0 = j * nRows
      val b1 = b0 + nRows
      val b2 = b1 + nRows
      val b3 = b2 + nRows
      var s0 = 0.0
      var s1 = 0.0
      var s2 = 0.0
      var s3 = 0.0
      var i = 0
      while (i < nRows) {
        val vi = v(vOff + i)
        s0 += xArr(b0 + i) * vi
        s1 += xArr(b1 + i) * vi
        s2 += xArr(b2 + i) * vi
        s3 += xArr(b3 + i) * vi
        i += 1
      }
      out(outOff + j) = s0 / n
      out(outOff + j + 1) = s1 / n
      out(outOff + j + 2) = s2 / n
      out(outOff + j + 3) = s3 / n
      j += 4
    }
    while (j < p) { out(outOff + j) = colDot(j, v, vOff); j += 1 }
  }

  /** Original-scale coefficient from the standardized one. */
  def toOriginal(betaStd: Array[Double]): DenseVector[Double] =
    DenseVector.tabulate(p)(j => betaStd(j) / scales(j))

  def interceptFor(betaOrig: DenseVector[Double], yMean: Double): Double =
    if (!intercept) 0.0
    else {
      var s = 0.0
      var j = 0
      while (j < p) { s += centers(j) * betaOrig(j); j += 1 }
      yMean - s
    }
}
