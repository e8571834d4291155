package graft.experiment

import graft.Scratch
import graft.sources.TuningIO
import graft.tune.RollingOriginTuner

/** The flagship distributed workload end-to-end at reference scale
  * (VERDICT r3 #3): run M15's rolling-origin tuner at the reference's FULL
  * caret grid (19 α × 200 λ, enetVAR.R:546-557) per equation on the golden
  * panel's TRAINING span, persist the per-equation (α, λ) through the S4
  * tuning table (TuningIO), then feed them into M17's modeltrain — the
  * analog of Testing.R:223-229's `import_tune` → `result1` run, whose
  * recorded sums are 0.009757152 (tuned import) / 0.015914531 (untuned
  * import).
  *
  * The reference's actual import workbook is not in the repo, so exact
  * (α, λ) parity is unknowable; what IS reproducible is the tuning
  * PROCEDURE (enetVARtune): grid, timeSlice resampling, per-equation
  * argmin-RMSE. We tune on the pre-2000 rows only (the experiment's
  * training span) — the reference's visible caret calls pass the full
  * series with initialWindow 159, which lets resamples cross into the
  * forecast-evaluation era; we keep the tuned run leakage-free and report
  * the gap honestly.
  *
  * Usage: runMain graft.experiment.GoldenTune [lag] [initWindow] [span] [horizon] [mode]
  *   span ∈ {train (default, leakage-free), full (the reference's visible
  *   caret calls pass the full series, so resamples cross into the
  *   evaluation era)};
  *   mode ∈ {grid (default: fit the 200-λ grid directly), caret (what
  *   caret's glmnet method actually executes — auto path per resample,
  *   grid λs scored by interpolation; see RollingOriginTuner.tune)}.
  */
object GoldenTune {
  def main(args: Array[String]): Unit = {
    val lag = if (args.nonEmpty) args(0).toInt else 5
    val initWindow = if (args.length > 1) args(1).toInt else 100
    val span = if (args.length > 2) args(2) else "train"
    val horizon = if (args.length > 3) args(3).toInt else 8
    val caretMode = args.length > 4 && args(4) == "caret"
    val spark = graft.Session.build()
    val panel = GoldenExperiment.buildPanel(spark)
    val names = GoldenExperiment.EzlassoAll.toIndexedSeq

    // Tune on the training span (rows before start.pred, 2000 Q1) or the
    // full series (the reference's visible shape).
    val yTrain = if (span == "full") panel.y else panel.trainY
    println(s"[tune] tuning span ${yTrain.rows}×${yTrain.cols} ($span), lag=$lag, " +
      s"grid=19α×200λ, initWindow=$initWindow, horizon=$horizon, " +
      s"mode=${if (caretMode) "caret-submodels" else "direct-grid"}")
    val t0 = System.nanoTime()
    val best = RollingOriginTuner.tune(yTrain, lag, initWindow, horizon,
      RollingOriginTuner.referenceGrid(), names, spark = Some(spark),
      tol = graft.linalg.BlockedCv.GlmnetEquivTol, caretSubmodels = caretMode)
    val tuneWall = (System.nanoTime() - t0) / 1e9
    best.take(6).foreach(b => println(
      f"[tune]   eq${b.equation}%2d (${names(b.equation)}%-16s) alpha=${b.alpha}%.2f " +
        f"lambda=${b.lambda}%.6g rmse=${b.meanRmse}%.6g"))
    println(f"[tune] full grid tuned in $tuneWall%.0f s, " +
      s"maxIter hits ${best.map(_.maxIterHits).sum}")

    // Round-trip the tuned values through the S4 tuning table — a
    // per-invocation directory, so concurrent GoldenTune runs (different
    // lags) can never read each other's overwrite mid-round-trip; it is
    // deleted with the scratch root at JVM exit.
    val path = Scratch.path("tuned_params_")
    TuningIO.write(spark, path, best.map(b => (names(b.equation), b.alpha, b.lambda)))
    val (alphas, lambdas) = TuningIO.asVectors(spark, path, names)

    val t1 = System.nanoTime()
    val res = ModelTrain.run(panel.y, names, panel.startPredIdx, h = 8,
      alphas = alphas, lambdas = lambdas, lag = lag, const = true,
      spark = Some(spark))
    val wall = (System.nanoTime() - t1) / 1e9
    println(f"[tune] TUNED RAW ERR SUM = ${res.rawErrSum}%.9f  (lag=$lag, $wall%.0f s)")
    println("[tune] reference tuned golden = 0.009757152; untuned import = 0.015914531")
    spark.stop()
  }
}
