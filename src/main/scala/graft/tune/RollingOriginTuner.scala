package graft.tune

import breeze.linalg.{DenseMatrix, DenseVector}
import dev.ludovic.netlib.blas.BLAS
import graft.linalg.ElasticNet
import graft.varmodel.VarDesign
import org.apache.spark.sql.SparkSession

/** Rolling-origin hyperparameter tuning — SURVEY §2.6 M15; reference
  * `enetVARtune` (enetVAR.R:538-565), caret `trainControl(method =
  * "timeSlice", initialWindow, horizon, fixedWindow = FALSE)`.
  *
  * Resampling semantics ported exactly: the design matrix is built ONCE on
  * the full series (enetVAR.R:542-544); resample t ∈ {initWindow .. T−h}
  * trains on design rows 1..t and scores rows t+1..t+h; a grid point's
  * score is the MEAN over resamples of the per-resample RMSE (caret's
  * "best" selection on RMSE); per equation, the winner is the (α, λ) with
  * the lowest mean RMSE.
  *
  * This is the engine's flagship distributed workload (SURVEY §3.3): the
  * reference burns hours fitting grid × origins × equations sequentially
  * (readme.txt:31,39). Here a TASK owns a round-robin share of the K·|α|
  * (equation, α) SEGMENTS and walks all origins ascending: per origin it
  * builds the prefix CovDesign (standardization + lazily-cached Gram rows)
  * once, fits each of its segments' warm-started λ paths on it — each path
  * scoring ALL λs in a single pass (glmnet's trick) — and adds the RMSE
  * array into the segment's running sum. Summing origin-ascending in one
  * place is what makes every task count agree bit for bit (a reduceByKey
  * would sum in shuffle-arrival order); there is no shuffle, and the driver
  * collects K·|α| summed arrays, each with its segment's maxIter hits. The
  * tasks are a [[graft.FanOut]] over the segments (which cost alike;
  * origins do not), 4 per core; without a session the same fold runs over
  * all segments as one part, and SparkParitySpec pins the two
  * bit-identical.
  */
object RollingOriginTuner {

  /** One equation's winning (α, λ) and its mean RMSE. `maxIterHits` sums
    * [[ElasticNet.Path.maxIterHits]] over every path the equation's tune
    * fitted (all α, all origins): λ steps that used their whole sweep
    * budget and so may not have converged.
    */
  final case class Best(
      equation: Int, alpha: Double, lambda: Double, meanRmse: Double, maxIterHits: Int)

  final case class Grid(alphas: Seq[Double], lambdas: Seq[Double])

  /** Per-λ RMSE over design rows `from until from + horizon` of a fitted
    * path scored at every `master` λ, on column-major `z` (`zRows` rows)
    * and the response column starting at `y(yBase)`. A master λ maps onto
    * the path by [[ElasticNet.Path.at]]'s rules — clamp outside the
    * path, exact λ match, else linear interpolation — and the arithmetic
    * is breeze's for `Path.at` + `z(r, ::).t dot beta`, bit
    * for bit: interpolated coefficients `bh·w + bl·(1 − w)` and the strided
    * BLAS `ddot` breeze calls for a matrix row. A clamped or exact master
    * λ reuses its path point's RMSE, computed once. The path's
    * coefficient vectors must be dense at offset 0, as
    * [[ElasticNet.fitPathCov]] builds them.
    */
  private[graft] def rmseOnto(
      path: ElasticNet.Path,
      master: IndexedSeq[Double],
      z: Array[Double],
      zRows: Int,
      y: Array[Double],
      yBase: Int,
      from: Int,
      horizon: Int): Array[Double] = {
    val fits = path.fits
    val last = fits.length - 1
    val p = fits.head.beta.length
    val blas = BLAS.getInstance()
    def rmse(beta: Array[Double]): Double = {
      var sse = 0.0
      var r = from
      while (r < from + horizon) {
        val e = y(yBase + r) - blas.ddot(p, beta, 0, 1, z, r, zRows)
        sse += e * e
        r += 1
      }
      math.sqrt(sse / horizon)
    }
    val atPoint = new Array[Double](fits.length)
    val done = new Array[Boolean](fits.length)
    def pointRmse(k: Int): Double = {
      if (!done(k)) { atPoint(k) = rmse(fits(k).beta.data); done(k) = true }
      atPoint(k)
    }
    val scratch = new Array[Double](p)
    val out = new Array[Double](master.length)
    var hi = 0 // path cursor: λ_hi ≥ s > λ_(hi+1) once inside the path
    var mi = 0
    while (mi < master.length) {
      val s = master(mi)
      out(mi) =
        if (s >= fits.head.lambda) pointRmse(0)
        else if (s <= fits(last).lambda) pointRmse(last)
        else {
          while (hi + 1 < last && fits(hi + 1).lambda >= s) hi += 1
          if (fits(hi).lambda == s) pointRmse(hi)
          else {
            val l1 = fits(hi).lambda; val l0 = fits(hi + 1).lambda
            val w = (s - l0) / (l1 - l0)
            val bh = fits(hi).beta.data; val bl = fits(hi + 1).beta.data
            var k = 0
            while (k < p) { scratch(k) = bh(k) * w + bl(k) * (1 - w); k += 1 }
            rmse(scratch)
          }
        }
      mi += 1
    }
    out
  }

  /** The reference's caret grid: α ∈ .05..(.95) step .05, λ = 10^seq(1, −4,
    * length 200) (enetVAR.R:556-557). Descending λ for warm starts.
    */
  def referenceGrid(nLambda: Int = 200): Grid = Grid(
    (1 to 19).map(_ * 0.05),
    (0 until nLambda).map(i => math.pow(10.0, 1.0 - 5.0 * i / (nLambda - 1))))

  /** @param tol solver stopping level per λ step — the tight default suits
    *             parity tests; pass [[graft.linalg.BlockedCv.GlmnetEquivTol]]
    *             for reference-grid runs (caret's glmnet fits run at
    *             thresh 1e-7, and the 200-λ grid reaches λ=1e-4 where
    *             tighter tolerances grind on collinear designs).
    * @param caretSubmodels fit what caret's glmnet method ACTUALLY fits:
    *             one AUTO λ path per (α, resample) — glmnet's own sequence
    *             with early stopping, `lambda` never passed through — and
    *             score the grid λs by linear interpolation on that path
    *             (caret's submodel `predict(s = lambda)`; clamped outside
    *             the path range like `approx(rule = 2)`). The default fits
    *             the user grid directly — same estimator family, but not
    *             what `train(method = "glmnet")` executes; the submodel
    *             mode is also cheaper (≤100 early-stopped λs vs the full
    *             200-λ grid per fit).
    */
  def tune(
      y: DenseMatrix[Double],
      p: Int,
      initWindow: Int,
      horizon: Int,
      grid: Grid,
      names: IndexedSeq[String] = IndexedSeq.empty,
      spark: Option[SparkSession] = None,
      tol: Double = 1e-9,
      caretSubmodels: Boolean = false): IndexedSeq[Best] = {
    val design = VarDesign.build(y, p, names, intercept = false)
    val t = design.tReduced
    require(initWindow < t - horizon + 1, s"initWindow=$initWindow too large for T=$t")
    val origins = (initWindow to (t - horizon)).toIndexedSeq
    val lambdas = grid.lambdas.sortBy(-_).toIndexedSeq

    val alphas = grid.alphas.toIndexedSeq
    val nAlpha = alphas.length
    val nSeg = design.n * nAlpha
    val (zRows, zCols, yRows) = (design.z.rows, design.z.cols, design.yP.rows)

    // The one fold, over column-major z and yP. Segment s is (equation
    // s / |α|, α index s % |α|). Origins ascending: one prefix CovDesign
    // per origin (standardization and Gram rows shared by the segments),
    // one λ path per segment, its RMSE array added into the segment's sum,
    // so every sum is taken in origin order. Each segment also counts its
    // paths' maxIter hits.
    def foldSegments(za: Array[Double], ya: Array[Double], segs: IndexedSeq[Int])
        : Seq[(Array[Double], Int)] = {
      val z = new DenseMatrix(zRows, zCols, za)
      val sums = new Array[Array[Double]](segs.length)
      val hits = new Array[Int](segs.length)
      for (o <- origins) {
        val cov = new graft.linalg.CovDesign(
          z(0 until o, ::).toDenseMatrix, intercept = false, standardize = true)
        var i = 0
        while (i < segs.length) {
          val j = segs(i) / nAlpha
          val a = alphas(segs(i) % nAlpha)
          val yTrain = new DenseVector(ya, j * yRows, 1, o)
          val path =
            if (caretSubmodels) {
              val autoLams = ElasticNet.autoLambdaSequenceCov(cov, yTrain, a)
              ElasticNet.fitPathCov(cov, yTrain, a, autoLams, tol = tol, earlyStop = true)
            } else ElasticNet.fitPathCov(cov, yTrain, a, lambdas, tol = tol)
          hits(i) += path.maxIterHits
          val rmse = rmseOnto(path, lambdas, za, zRows, ya, j * yRows, o, horizon)
          val acc = sums(i)
          if (acc == null) sums(i) = rmse
          else {
            var l = 0
            while (l < acc.length) { acc(l) += rmse(l); l += 1 }
          }
          i += 1
        }
      }
      sums.toSeq.zip(hits)
    }

    val perSeg = graft.FanOut(spark, nSeg, perCore = 4,
      (design.z.toArray, design.yP.toArray)) { case ((za, ya), segs) =>
      foldSegments(za, ya, segs)
    }

    val nOrigins = origins.length.toDouble
    (0 until design.n).map { j =>
      val candidates = for {
        ai <- alphas.indices
        sums = perSeg(j * nAlpha + ai)._1
        li <- lambdas.indices
      } yield (alphas(ai), lambdas(li), sums(li) / nOrigins)
      val (a, l, r) = candidates.minBy(_._3)
      Best(j, a, l, r, alphas.indices.map(ai => perSeg(j * nAlpha + ai)._2).sum)
    }
  }
}
