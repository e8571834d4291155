package graft.experiment

import graft.linalg.BlockedCv
import graft.tune.RollingOriginTuner
import graft.varmodel.LagSelect

/** The reference's headline "~6 hour" workload (readme.txt:31, Main.R:
  * 185-227), end-to-end: for each of the 5 hardcoded enet-preselected model
  * sets (Main.R:150-180), IC-based lag selection on the training span (M9,
  * FPE excluded), then for lag.min and lag.max: the full 19α × 200λ
  * rolling-origin tune (M15, init.window=40, horizon=8) on the training
  * span and a tuned `modeltrain` (M17, const=FALSE) on the full span —
  * every stage Spark-distributed. One number to compare against the
  * reference's ~6 h on a `detectCores()-1` PSOCK machine.
  *
  * Usage: runMain graft.experiment.ReferenceWorkload
  */
object ReferenceWorkload {

  /** Main.R:150-180 — the recorded enetVARpreselection outputs. */
  val EnetSelc25: Seq[String] = Seq(
    "GDP", "AHETPI", "CES0600000008", "CES3000000008", "CES2000000008",
    "M2SL", "M1SL", "TCDSL", "CURRSL", "LOANINVNSA", "REALLN", "NONREVSL",
    "MABMM301USM189S", "CUUR0000SAD", "M2REAL", "CUUR0000SEFV",
    "DDURRG3M086SBEA", "CPIULFSL", "CUSR0000SAS", "INDPRO", "CUUR0000SA0L2",
    "IPDMAT", "PCEPI", "DSERRG3M086SBEA", "M2MOWN")

  val ModelSets: Seq[(String, Seq[String])] = Seq(
    "enet.selc.5" -> EnetSelc25.take(5),
    "enet.selc.10" -> EnetSelc25.take(10),
    "enet.selc.15" -> EnetSelc25.take(15),
    "enet.selc.20" -> EnetSelc25.take(20),
    "enet.selc.25" -> EnetSelc25)

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build()
    val tol = BlockedCv.GlmnetEquivTol
    val t0 = System.nanoTime()
    val prep = GoldenExperiment.prepare(spark)

    for ((label, cols) <- ModelSets) {
      val tm = System.nanoTime()
      val panel = GoldenExperiment.assemble(prep, cols)
      val names = cols.toIndexedSeq
      val trainY = panel.y(0 until panel.startPredIdx, ::).toDenseMatrix

      // M9 on the training span; FPE (index 0) excluded like Main.R:202.
      val sel = LagSelect.select(trainY, maxLag = 30, alpha = 0.25,
        intercept = false, names = names, solverTol = tol,
        spark = Some(spark))
      val icLags = Seq("AIC", "HQ", "SC").map(sel.icLag)
      val lags = Seq(icLags.min, icLags.max).distinct
      println(s"[workload] $label (${cols.size} vars): IC lags AIC/HQ/SC = " +
        s"${icLags.mkString("/")} -> testing lags ${lags.mkString(",")}")

      for (lag <- lags) {
        val t1 = System.nanoTime()
        // caret-submodels mode: what train(method = "glmnet") actually
        // executes per resample (auto path + grid interpolation) — and the
        // reason the reference burned ~6 h here is NOT this trick's absence
        // (caret uses it too) but its per-fit R overhead.
        val best = RollingOriginTuner.tune(trainY, lag, initWindow = 40,
          horizon = 8, RollingOriginTuner.referenceGrid(), names,
          spark = Some(spark), tol = tol, caretSubmodels = true)
        val alphas = best.map(_.alpha)
        val lambdas = best.map(_.lambda)
        val tuneWall = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        val res = ModelTrain.run(panel.y, names, panel.startPredIdx, h = 8,
          alphas = alphas, lambdas = lambdas, lag = lag, const = false,
          spark = Some(spark), solverTol = tol)
        val trainWall = (System.nanoTime() - t2) / 1e9
        val total = Seq(1, 2, 4, 8).map(h => res.byHorizon(h).msfe).sum
        val hLen = res.byHorizon(1).errors.length
        println(f"[workload] $label lag=$lag: raw err sum = ${total * hLen}%.9f " +
          f"(tune ${tuneWall}%.0f s + modeltrain ${trainWall}%.0f s)")
      }
      println(f"[workload] $label done in ${(System.nanoTime() - tm) / 1e9}%.0f s")
    }
    println(f"[workload] FULL 5-model x 2-lag workload (reference: ~6 h) = " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s at local[${spark.sparkContext.defaultParallelism}]")
    spark.stop()
  }
}
