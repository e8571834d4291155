package graft.experiment

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.experiment.Ar1Train.HorizonMetrics
import graft.varmodel.{EnetVar, EnetVarModel}
import org.apache.spark.sql.SparkSession

/** Expanding-window out-of-sample forecast experiment — SURVEY §2.6 M17;
  * reference `modeltrain` (enetVAR.R:427-496). The headline workload: for
  * each origin from (start.pred − h) to N−1, refit the elastic-net VAR on
  * the growing prefix, forecast h steps ahead, and score horizons
  * {1,2,4,8} on a common target-date range — MSFE, Theil's U vs the random
  * walk, and Theil's U vs an AR(1) benchmark (M16).
  *
  * Distribution (SURVEY §3.2): the ~100 per-origin refits are independent,
  * so they run through [[graft.FanOut]], one task per core — the panel
  * matrix is broadcast once (≤231×K doubles) and each task fits its
  * origins' K equations locally with the warm-started solver; only 4
  * forecast values per origin return to the driver. Metrics are a
  * driver-side fold over the tiny (4 × origins) result matrix. Without a
  * session the same refits run as one part on the calling thread.
  *
  * Quirk preserved (flag `rwQuirkOffByOne`, default true = reference
  * behavior): the reference seeds its random-walk error matrix with a
  * scalar-0 column (`u_2 <- 0; u_2 <- cbind(u_2, …)`, enetVAR.R:441,463),
  * so Theil's-U-vs-RW reads RW errors shifted one origin late relative to
  * the model errors. Golden parity requires the quirk; `false` aligns the
  * columns properly.
  */
object ModelTrain {

  final case class HorizonResult(
      forecasts: DenseVector[Double],
      errors: DenseVector[Double],
      msfe: Double,
      theilsURw: Double,
      theilsUAr1: Double)

  final case class Result(
      byHorizon: Map[Int, HorizonResult],
      residuals: DenseMatrix[Double],
      lastModel: graft.varmodel.FittedVar,
      maxIterHits: Int) {       // summed over every origin's refit

    /** The reference's raw squared-error sum, the figure its "mse sum"
      * comments record: Σ over horizons and origins of e² (u_1,
      * enetVAR.R:475-478), i.e. Σ_h MSFE_h × the shared horizon length
      * h.ind.len. Horizons are summed in ascending order.
      */
    def rawErrSum: Double =
      byHorizon.keys.toSeq.sorted.map(byHorizon(_).msfe).sum * byHorizon(1).errors.length
  }

  def run(
      data: DenseMatrix[Double],
      names: IndexedSeq[String],
      startPredIdx: Int,             // 0-based index of start.pred in the date index
      step: Int = 1,
      h: Int = 8,
      alphas: Seq[Double] = Seq(0.4),
      lambdas: Seq[Double] = Seq.empty,
      lag: Int = 1,
      const: Boolean = false,
      spark: Option[SparkSession] = None,
      rwQuirkOffByOne: Boolean = true,
      solverTol: Double = 1e-9,
      method: String = "enet"): Result = {
    require(method == "enet" || method == "genet",
      s"method must be enet|genet (reference modeltrain signature), got $method")
    val n = data.rows
    val windowSize = startPredIdx + 1 - h // R's 1-based window.size
    require(windowSize > lag + 1, s"start.pred too early for lag=$lag")
    val predInd = OosAlign.predInd(h)
    val origins = (windowSize to (n - 1) by step).toIndexedSeq

    // --- distributed per-origin refits -----------------------------------
    // method="genet" swaps the K per-equation fits for one joint
    // group-mgaussian fit (reference enetVAR.R:447-452), same forecast
    // recursion downstream. The LAST origin's task also ships its fitted
    // model back (a coefficient matrix plus the small design state — tens
    // of KB): the reference's modeltrain returns the last refit's
    // model/residuals, and refitting it on the driver after the job would
    // double that origin's work (for genet, a full joint CV). Every origin
    // also ships its refit's maxIter hit count.
    def fitOrigin(data: DenseMatrix[Double], i: Int): (Array[Double], Int, Option[graft.varmodel.FittedVar]) = {
      val train = data(0 until i, ::).toDenseMatrix
      val model: graft.varmodel.FittedVar =
        if (method == "genet")
          // NOTE: `lambdas` is ignored for genet — the reference's
          // GroupEnetVAR always CV-selects λ (enetVAR.R:353-362).
          graft.varmodel.GroupEnetVar.fit(train, lag, names, alphas.head, const,
            solverTol = solverTol)
        else
          EnetVar.fit(train, lag, names, alphas, lambdas, const, solverTol)
      val fc = model.forecast(h)
      (predInd.map(pi => fc(pi - 1, 0)).toArray, model.maxIterHits,
        if (i == origins.last) Some(model) else None)
    }

    val fitted: IndexedSeq[(Array[Double], Int, Option[graft.varmodel.FittedVar])] =
      graft.FanOut(spark, origins.length, perCore = 1, data) { (d, share) =>
        share.map(c => fitOrigin(d, origins(c)))
      }
    val predCols: IndexedSeq[Array[Double]] = fitted.map(_._1)

    // --- driver-side metric assembly (tiny) -------------------------------
    val y0 = data(::, 0)
    val errCols = Array.newBuilder[Array[Double]]
    val rwCols = Array.newBuilder[Array[Double]]
    origins.zipWithIndex.foreach { case (i, c) =>
      val pred = predCols(c)
      val trueVals = OosAlign.zeroPadded(y0, i, predInd)
      val yT = OosAlign.zeroPadded(y0, i - 1, predInd) // y_{t−1} for the RW
      errCols += predInd.indices.map(r => pred(r) - trueVals(r)).toArray
      rwCols += predInd.indices.map(r => trueVals(r) - yT(r)).toArray
    }
    val fcColsArr = predCols.toArray
    val errColsArr = errCols.result()
    val base = OosAlign.horizonMetrics(h, predInd, fcColsArr, errColsArr)

    // RW error columns, optionally shifted one origin late (the reference's
    // leading-zero-column indexing quirk).
    val rwArr = rwCols.result()
    val rwShifted: Array[Array[Double]] =
      if (rwQuirkOffByOne) Array(Array.fill(predInd.length)(0.0)) ++ rwArr.dropRight(1)
      else rwArr
    val rwMetrics = OosAlign.horizonMetrics(h, predInd, rwShifted, rwShifted)

    // AR(1) benchmark on the full first column. DELIBERATE GENERALIZATION:
    // the reference's theils_u_ar1 (enetVAR.R:847-855) always calls
    // ar1_train with ITS OWN defaults (start.pred="2000 Q1", step=1, h=8)
    // regardless of the experiment's arguments; here the benchmark follows
    // the caller's startPredIdx/step/h so the two error panels are always
    // comparable. The results coincide exactly when the experiment runs at
    // the reference defaults — which every golden run does. const=false is
    // NOT a simplification: ar1_train's own default (enetVAR.R:569) is
    // const=FALSE and theils_u_ar1 never overrides it, so the reference's
    // AR(1) benchmark is zero-mean even in const=TRUE experiments.
    val ar1 = Ar1Train.run(y0, startPredIdx, step, h, const = false)

    val byHorizon = base.map { case (hh, m: HorizonMetrics) =>
      val rwSq = { val e = rwMetrics(hh).errors; e dot e }
      val mSq = m.errors dot m.errors
      val uRw = math.sqrt(mSq / rwSq)
      val uAr1 = math.sqrt(m.msfe) / math.sqrt(ar1.byHorizon(hh).msfe)
      hh -> HorizonResult(m.forecasts, m.errors, m.msfe, uRw, uAr1)
    }

    // The reference's modeltrain returns the LAST refit's residuals/model
    // (enetVAR.R:488-489) — method-consistent: genet runs hand back the
    // group fit, not a fresh per-equation one. The model comes out of the
    // fan-out itself (fitOrigin keeps origins.last's fit), not a duplicate
    // driver-side refit.
    val lastModel: graft.varmodel.FittedVar = fitted.last._3.getOrElse(
      sys.error("last origin's task returned no model"))
    Result(byHorizon, lastModel.residuals, lastModel, fitted.map(_._2).sum)
  }
}
