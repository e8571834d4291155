package graft.experiment

import graft.linalg.BlockedCv
import graft.tune.RollingOriginTuner
import graft.varmodel.LagSelect
import org.apache.spark.sql.SparkSession

/** The reference's headline "~6 hour" workload (readme.txt:31, Main.R:
  * 185-227), end-to-end: for each of the 5 hardcoded enet-preselected model
  * sets (Main.R:150-180), IC-based lag selection on the training span (M9,
  * FPE excluded), then [[tunedCase]] at lag.min and lag.max — every stage
  * Spark-distributed. One number to compare against the
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

  /** One tuned case's forecast result, its two stage times and the tune's
    * `maxIter` hits summed over the equations ([[RollingOriginTuner.Best]]).
    */
  final case class Tuned(
      result: ModelTrain.Result, tuneSeconds: Double, trainSeconds: Double, tuneMaxIterHits: Int)

  /** One (model set, lag) case of both reference runs: the full 19α × 200λ
    * rolling-origin tune (M15, init.window=40, horizon=8) on the panel's
    * training span, then a tuned `modeltrain` (M17, const=FALSE) on the
    * full span, both at [[BlockedCv.GlmnetEquivTol]].
    *
    * The tune runs in caret-submodels mode: what train(method = "glmnet")
    * actually executes per resample (auto path + grid interpolation). The
    * reference burned its hours here not for want of this trick (caret uses
    * it too) but on per-fit R overhead. Measured after the round-6 solveAt
    * JIT fix (solo runs): caret 194 s vs direct-grid 314 s end-to-end on
    * the ~12 h run.
    */
  def tunedCase(
      spark: SparkSession, panel: GoldenExperiment.Panel, names: IndexedSeq[String],
      lag: Int): Tuned = {
    val tol = BlockedCv.GlmnetEquivTol
    val t0 = System.nanoTime()
    val best = RollingOriginTuner.tune(panel.trainY, lag, initWindow = 40,
      horizon = 8, RollingOriginTuner.referenceGrid(), names,
      spark = Some(spark), tol = tol, caretSubmodels = true)
    val t1 = System.nanoTime()
    val res = ModelTrain.run(panel.y, names, panel.startPredIdx, h = 8,
      alphas = best.map(_.alpha), lambdas = best.map(_.lambda), lag = lag,
      const = false, spark = Some(spark), solverTol = tol)
    Tuned(res, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, best.map(_.maxIterHits).sum)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build()
    val t0 = System.nanoTime()
    val prep = GoldenExperiment.prepare(spark)
    GoldenExperiment.repairSummary(prep).foreach(println)

    for ((label, cols) <- ModelSets) {
      val tm = System.nanoTime()
      val panel = GoldenExperiment.assemble(prep, cols)
      val names = cols.toIndexedSeq

      // M9 on the training span; FPE (index 0) excluded like Main.R:202.
      val sel = LagSelect.select(panel.trainY, maxLag = 30, alpha = 0.25,
        intercept = false, names = names, solverTol = BlockedCv.GlmnetEquivTol,
        spark = Some(spark))
      val icLags = Seq("AIC", "HQ", "SC").map(sel.icLag)
      val lags = Seq(icLags.min, icLags.max).distinct
      println(s"[workload] $label (${cols.size} vars): IC lags AIC/HQ/SC = " +
        s"${icLags.mkString("/")} -> testing lags ${lags.mkString(",")}")

      for (lag <- lags) {
        val t = tunedCase(spark, panel, names, lag)
        println(f"[workload] $label lag=$lag: raw err sum = ${t.result.rawErrSum}%.9f " +
          f"(tune ${t.tuneSeconds}%.0f s + modeltrain ${t.trainSeconds}%.0f s, " +
          s"tune maxIter hits ${t.tuneMaxIterHits})")
      }
      println(f"[workload] $label done in ${(System.nanoTime() - tm) / 1e9}%.0f s")
    }
    println(f"[workload] FULL 5-model x 2-lag workload (reference: ~6 h) = " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s at local[${spark.sparkContext.defaultParallelism}]")
    spark.stop()
  }
}
