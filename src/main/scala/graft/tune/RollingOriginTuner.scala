package graft.tune

import breeze.linalg.{DenseMatrix, DenseVector}
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
  * (readme.txt:31,39). Here a TASK is one ORIGIN: it builds the origin's
  * prefix CovDesign (standardization + lazily-cached Gram rows) ONCE and
  * fits all K·19 warm-started λ paths on it, each path scoring ALL λs in a
  * single pass (glmnet's trick) — so the heavy per-fit work is shared
  * K·19-fold within a task, and tasks are farmed with `spark.parallelize`
  * over a broadcast design. Per-origin RMSE arrays are folded in origin
  * order — deliberately NOT reduceByKey, which would sum doubles in
  * shuffle-arrival order and drift a ulp from the sequential path — ON
  * THE EXECUTORS (segment-partitioned, origin-sorted sequential fold; the
  * driver collects only K × |α| summed arrays). SparkParitySpec pins the
  * distributed and sequential paths bit-identical.
  */
object RollingOriginTuner {

  final case class Best(equation: Int, alpha: Double, lambda: Double, meanRmse: Double)

  final case class Grid(alphas: Seq[Double], lambdas: Seq[Double])

  /** Sequential fold: group per-origin RMSE arrays by (equation, α) and
    * sum them origin-ascending.
    */
  private def foldInOriginOrder(
      results: Seq[((Int, Double, Int), Array[Double])]): Map[(Int, Double), Array[Double]] =
    results
      .groupBy { case ((j, a, _), _) => (j, a) }
      .view.mapValues { group =>
        group.sortBy(_._1._3).map(_._2).reduce { (x, y) =>
          x.zip(y).map { case (u, v) => u + v }
        }
      }.toMap

  /** Executor-side segment fold over a partition whose composite keys
    * ((equation, α), origin) are sorted: each segment's origins arrive
    * consecutively ascending, so a single sequential pass reproduces the
    * sequential fold's summation order exactly.
    */
  private def foldSortedSegments(
      it: Iterator[(((Int, Double), Int), Array[Double])]): Iterator[((Int, Double), Array[Double])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[((Int, Double), Array[Double])]
    var cur: (Int, Double) = null
    var acc: Array[Double] = null
    for (((seg, _), rmse) <- it) {
      if (cur == null || cur != seg) {
        if (cur != null) out += ((cur, acc))
        cur = seg
        acc = rmse.clone()
      } else {
        var i = 0
        while (i < acc.length) { acc(i) += rmse(i); i += 1 }
      }
    }
    if (cur != null) out += ((cur, acc))
    out.iterator
  }

  /** Routes a composite ((equation, α), origin) key by its segment so every
    * segment lands wholly in one partition for the sorted sequential fold.
    */
  private class SegmentPartitioner(override val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    override def getPartition(key: Any): Int = {
      val h = key.asInstanceOf[((Int, Double), Int)]._1.hashCode % numPartitions
      if (h < 0) h + numPartitions else h
    }
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

    // One task = one ORIGIN: build the prefix CovDesign once, fit all
    // (equation, α) λ paths on it (Gram rows and standardization shared
    // K·|α|-fold), score the horizon block, emit per-λ RMSE per key.
    def runOrigin(z: DenseMatrix[Double], yp: DenseMatrix[Double])(
        o: Int): Seq[((Int, Double, Int), Array[Double])] = {
      val cov = new graft.linalg.CovDesign(
        z(0 until o, ::).toDenseMatrix, intercept = false, standardize = true)
      for {
        j <- 0 until design.n
        a <- grid.alphas
      } yield {
        val yTrain = yp(0 until o, j).toDenseVector
        val fitsAtGrid: IndexedSeq[ElasticNet.Fit] =
          if (caretSubmodels) {
            val autoLams = ElasticNet.autoLambdaSequenceCov(cov, yTrain, a)
            val path = ElasticNet.fitPathCov(cov, yTrain, a, autoLams,
              tol = tol, earlyStop = true)
            graft.linalg.BlockedCv.alignOnto(path, lambdas).toIndexedSeq
          } else {
            ElasticNet.fitPathCov(cov, yTrain, a, lambdas, tol = tol).fits
          }
        val rmse = fitsAtGrid.map { fit =>
          var sse = 0.0
          var r = o
          while (r < o + horizon) {
            val e = yp(r, j) - (z(r, ::).t dot fit.beta)
            sse += e * e
            r += 1
          }
          math.sqrt(sse / horizon)
        }.toArray
        ((j, a, o), rmse)
      }
    }

    // Per-(equation, α) RMSE sums, always folded in ORIGIN ORDER — a
    // reduceByKey would sum doubles in shuffle-arrival order and drift a
    // ulp from the sequential path (SparkParitySpec pins exact parity).
    // Distributed, the fold itself runs on EXECUTORS — composite keys
    // ((j, α), origin) are partitioned by segment and sorted within
    // partitions, so each segment's origins arrive consecutively ascending
    // and fold sequentially; the driver then collects only K × |α| summed
    // arrays (~1 MB at the reference grid) instead of origins × K × |α|
    // (~11 MB there, ~GB at a 100× scale-up).
    val perAlpha: Map[(Int, Double), Array[Double]] = spark match {
      case Some(s) =>
        val bc = s.sparkContext.broadcast(
          (design.z.toArray, design.z.rows, design.z.cols,
            design.yP.toArray, design.yP.rows, design.yP.cols))
        val slices = math.min(origins.length, s.sparkContext.defaultParallelism * 4)
        val segs = design.n * grid.alphas.length
        val parts = math.max(1, math.min(segs, s.sparkContext.defaultParallelism))
        val folded = s.sparkContext.parallelize(origins, slices)
          .flatMap { o =>
            val (za, zr, zc, ya, yr, yc) = bc.value
            runOrigin(new DenseMatrix(zr, zc, za), new DenseMatrix(yr, yc, ya))(o)
          }
          .map { case ((j, a, o), rmse) => (((j, a), o), rmse) }
          .repartitionAndSortWithinPartitions(new SegmentPartitioner(parts))
          .mapPartitions(foldSortedSegments, preservesPartitioning = true)
          .collect().toMap
        bc.destroy()
        folded
      case None =>
        foldInOriginOrder(origins.flatMap(runOrigin(design.z, design.yP)))
    }

    require(perAlpha.size == design.n * grid.alphas.length,
      s"tuner fold lost segments: ${perAlpha.size} of ${design.n * grid.alphas.length}")

    val nOrigins = origins.length.toDouble
    (0 until design.n).map { j =>
      val candidates = for {
        a <- grid.alphas
        sums = perAlpha((j, a))
        li <- lambdas.indices
      } yield (a, lambdas(li), sums(li) / nOrigins)
      val (a, l, r) = candidates.minBy(_._3)
      Best(j, a, l, r)
    }
  }
}
