package perfbench

import breeze.linalg.DenseVector
import graft.experiment.{Ar1Train, GoldenExperiment, ModelTrain, ReferenceWorkload, ReferenceWorkloadLarge}
import graft.ingest.PanelIngest
import graft.linalg.BlockedCv
import graft.stats.HacTests
import graft.tune.{RollingOriginTuner, Selection}
import graft.varmodel.LagSelect
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload's passes share: the session, the layer spans, the work
  * counters computed from the inputs, and the pins.
  */
final class Ctx(
    val spark: SparkSession,
    val spans: Spans,
    val pins: Map[String, String],
    val recording: Boolean) {
  /** Work sizes per layer (counts computed from the inputs, not timed). */
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty.withDefaultValue(0.0)
  /** Latencies of the passes run with this context, per query (or case). */
  val latencies: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Everything recorded while `recording` is set. */
  val recorded: mutable.Map[String, String] = mutable.LinkedHashMap.empty

  def checker(): Checker = new Checker(pins, recording)

  def finish(name: String, chk: Checker): Seq[String] = {
    recorded ++= chk.recorded
    chk.mismatches.toSeq.map(m => s"$name: $m")
  }

  def timed[A](key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally latencies.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
  }
}

/** One pass of a workload: a unit the closed-loop client waits for. It
  * returns the names of its failed checks (empty when every output matches).
  */
trait Pass {
  def name: String
  /** Cases or queries this pass attempts. */
  def attempts: Int = 1
  def run(ctx: Ctx): Seq[String]
}

trait Workload {
  def name: String
  /** The passes of one cycle, in the seed's order. */
  def cycle: IndexedSeq[Pass]
  /** The warm pass run by every set-up. */
  def warm(ctx: Ctx): Seq[String]
  /** The first case's layers timed on the session and through the
    * single-thread `spark = None` path: layer -> (session s, serial s).
    */
  def serial(ctx: Ctx): Map[String, (Double, Double)]
  /** Checks run after the timed passes (the corpus dumps its results). */
  def after(ctx: Ctx): Seq[String] = Seq.empty
}

/** The paper's model sets and the pipeline steps shared by `tune` and
  * `oos_cv`.
  */
object Paper {
  val Tol: Double = BlockedCv.GlmnetEquivTol
  val H = 8
  val Horizons: Seq[Int] = Seq(1, 2, 4, 8)
  val SelectSizes: Seq[Int] = Seq(5, 10)

  val fixedSets: Map[String, Seq[String]] =
    (ReferenceWorkload.ModelSets ++ ReferenceWorkloadLarge.EconVars).toMap +
      ("ezlasso.30" -> GoldenExperiment.EzlassoAll)

  /** The reference's lag heuristic for the Large workload's sets. */
  def heuristicLags(k: Int, trainRows: Int): Seq[Int] = {
    val base = 24.0 / math.pow(k.toDouble, 2.0 / 3.0)
    Seq(math.floor(base).toInt.max(1), math.ceil(base + 1).toInt).distinct
      .filter(l => trainRows - l > 60)
  }

  def prepare(ctx: Ctx): GoldenExperiment.Prepared = {
    val prep = ctx.spans("ingest")(GoldenExperiment.prepare(ctx.spark))
    ctx.counts("ingest.transforms") += prep.ledger.size
    prep
  }

  /** The ACF/PACF selections on the training span of the full frame. */
  def select(ctx: Ctx, prep: GoldenExperiment.Prepared, chk: Checker): Map[String, Seq[String]] = {
    val sets = ctx.spans("select") {
      val allCols = "GDP" +: PanelIngest.seriesNames
      val full = GoldenExperiment.assemble(prep, allCols)
      val train = full.y(0 until full.startPredIdx, ::).toDenseMatrix
      SelectSizes.flatMap { n =>
        Seq(s"acf.selc.$n" -> Selection.acfDiverse(train, allCols.toIndexedSeq, lag = 20, maxNrVar = n),
          s"pacf.selc.$n" -> Selection.pacfSelect(train, allCols.toIndexedSeq, lag = 8, maxNrVar = n))
      }.toMap
    }
    sets.foreach { case (l, cols) => chk.str(s"select|$l", cols.mkString(",")) }
    sets
  }

  /** Checks the forecast outputs and runs CW/DM against the AR(1). */
  def checkForecasts(
      ctx: Ctx, key: String, chk: Checker, y0: DenseVector[Double],
      startPredIdx: Int, res: ModelTrain.Result): Unit = {
    val hLen = res.byHorizon(1).errors.length
    chk.num(s"$key|raw_err_sum", Horizons.map(h => res.byHorizon(h).msfe).sum * hLen)
    Horizons.foreach { h =>
      val r = res.byHorizon(h)
      chk.num(s"$key|msfe.h$h", r.msfe)
      chk.num(s"$key|theils_u_rw.h$h", r.theilsURw)
      chk.num(s"$key|theils_u_ar1.h$h", r.theilsUAr1)
    }
    val tests = ctx.spans("stats") {
      val ar1 = Ar1Train.run(y0, startPredIdx, 1, H, const = false)
      Horizons.map { h =>
        val m = res.byHorizon(h)
        val b = ar1.byHorizon(h)
        val cw = HacTests.clarkWest(b.errors, m.errors, b.forecasts, m.forecasts, nwlag = h)
        val dm = HacTests.dieboldMariano(b.errors *:* b.errors - m.errors *:* m.errors, l = h)
        (h, cw, dm)
      }
    }
    tests.foreach { case (h, cw, dm) =>
      chk.num(s"$key|cw_stat.h$h", cw.statistic)
      chk.num(s"$key|cw_p.h$h", cw.pValue)
      chk.num(s"$key|dm_stat.h$h", dm.statistic)
      chk.num(s"$key|dm_p.h$h", dm.pValue)
    }
  }

  /** Counts of the ModelTrain origin fan-out and, with per-origin CV, of
    * the blocked-CV paths: K equations × (folds + 1) per origin.
    */
  def countOos(ctx: Ctx, rows: Int, k: Int, startPredIdx: Int, lag: Int, cv: Boolean): Unit = {
    val origins = (startPredIdx + 1 - H) until rows
    ctx.counts("oos.origins") += origins.size
    if (cv) ctx.counts("oos.cv_paths") += origins.map { i =>
      val designRows = i - lag
      k * ((designRows + BlockedCv.BlockSize - 1) / BlockedCv.BlockSize + 1)
    }.sum
  }
}

/** `tune`: prepare, selection, IC or heuristic lags, the rolling-origin
  * α×λ tune, a tuned ModelTrain and CW/DM against the AR(1).
  */
final case class TuneCase(set: String, lag: Int) extends Pass {
  val name = s"tune|$set|lag$lag"

  def run(ctx: Ctx): Seq[String] = {
    val chk = ctx.checker()
    val prep = Paper.prepare(ctx)
    val selected = Paper.select(ctx, prep, chk)
    ctx.timed(name) {
      val cols = Paper.fixedSets.getOrElse(set, selected(set))
      val names = cols.toIndexedSeq
      val panel = ctx.spans("ingest")(GoldenExperiment.assemble(prep, cols))
      val trainY = panel.y(0 until panel.startPredIdx, ::).toDenseMatrix
      val lags =
        if (set.startsWith("enet.")) {
          val sel = ctx.spans("lagselect")(LagSelect.select(trainY, maxLag = 30, alpha = 0.25,
            intercept = false, names = names, solverTol = Paper.Tol, spark = Some(ctx.spark)))
          ctx.counts("lagselect.lags") += sel.icTable.size
          val ic = Seq("AIC", "HQ", "SC").map(sel.icLag)
          chk.str(s"$name|ic_lags", ic.mkString(","))
          Seq(ic.min, ic.max).distinct
        } else Paper.heuristicLags(cols.size, trainY.rows)
      if (!lags.contains(lag)) chk.fail(s"lag $lag is not among the selected lags ${lags.mkString(",")}")
      val best = ctx.spans("tune")(RollingOriginTuner.tune(trainY, lag, initWindow = 40,
        horizon = Paper.H, RollingOriginTuner.referenceGrid(), names, spark = Some(ctx.spark),
        tol = Paper.Tol, caretSubmodels = true))
      val origins = (trainY.rows - lag) - Paper.H - 40 + 1
      ctx.counts("tune.paths") += cols.size * RollingOriginTuner.referenceGrid().alphas.size * origins
      best.foreach { b =>
        chk.num(s"$name|alpha.${b.equation}", b.alpha)
        chk.num(s"$name|lambda.${b.equation}", b.lambda)
      }
      val res = ctx.spans("oos")(ModelTrain.run(panel.y, names, panel.startPredIdx, h = Paper.H,
        alphas = best.map(_.alpha), lambdas = best.map(_.lambda), lag = lag, const = false,
        spark = Some(ctx.spark), solverTol = Paper.Tol))
      Paper.countOos(ctx, panel.y.rows, cols.size, panel.startPredIdx, lag, cv = false)
      Paper.checkForecasts(ctx, name, chk, panel.y(::, 0), panel.startPredIdx, res)
    }
    ctx.finish(name, chk)
  }

  /** The tuner and the tuned ModelTrain on the session and through
    * `spark = None`.
    */
  def serial(ctx: Ctx): Map[String, (Double, Double)] = {
    val prep = GoldenExperiment.prepare(ctx.spark)
    val cols = Paper.fixedSets(set)
    val panel = GoldenExperiment.assemble(prep, cols)
    val trainY = panel.y(0 until panel.startPredIdx, ::).toDenseMatrix
    def tune(s: Option[SparkSession]) = RollingOriginTuner.tune(trainY, lag, initWindow = 40,
      horizon = Paper.H, RollingOriginTuner.referenceGrid(), cols.toIndexedSeq, spark = s,
      tol = Paper.Tol, caretSubmodels = true)
    val (best, tunePar) = Serial.time(tune(Some(ctx.spark)))
    val (_, tuneSer) = Serial.time(tune(None))
    def train(s: Option[SparkSession]) = ModelTrain.run(panel.y, cols.toIndexedSeq,
      panel.startPredIdx, h = Paper.H, alphas = best.map(_.alpha), lambdas = best.map(_.lambda),
      lag = lag, const = false, spark = s, solverTol = Paper.Tol)
    Map("tune" -> (tunePar, tuneSer),
      "oos" -> (Serial.time(train(Some(ctx.spark)))._2, Serial.time(train(None))._2))
  }
}

/** `oos_cv`: prepare, then ModelTrain with per-origin blocked-CV λ at one α. */
final case class OosCase(set: String, lag: Int, alpha: Double) extends Pass {
  val name = s"oos_cv|$set|lag$lag|a$alpha"

  def run(ctx: Ctx): Seq[String] = {
    val chk = ctx.checker()
    val prep = Paper.prepare(ctx)
    ctx.timed(name) {
      val cols = Paper.fixedSets(set)
      val panel = ctx.spans("ingest")(GoldenExperiment.assemble(prep, cols))
      val res = ctx.spans("oos")(ModelTrain.run(panel.y, cols.toIndexedSeq, panel.startPredIdx,
        h = Paper.H, alphas = Seq(alpha), lambdas = Seq.empty, lag = lag, const = true,
        spark = Some(ctx.spark), solverTol = Paper.Tol))
      Paper.countOos(ctx, panel.y.rows, cols.size, panel.startPredIdx, lag, cv = true)
      Paper.checkForecasts(ctx, name, chk, panel.y(::, 0), panel.startPredIdx, res)
    }
    ctx.finish(name, chk)
  }

  def serial(ctx: Ctx): Map[String, (Double, Double)] = {
    val prep = GoldenExperiment.prepare(ctx.spark)
    val cols = Paper.fixedSets(set)
    val panel = GoldenExperiment.assemble(prep, cols)
    def train(s: Option[SparkSession]) = ModelTrain.run(panel.y, cols.toIndexedSeq,
      panel.startPredIdx, h = Paper.H, alphas = Seq(alpha), lambdas = Seq.empty, lag = lag,
      const = true, spark = s, solverTol = Paper.Tol)
    Map("oos" -> (Serial.time(train(Some(ctx.spark)))._2, Serial.time(train(None))._2))
  }
}

object Serial {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Pools of cases of similar cost (1-2.5 s at 4 cores; see README.md). A
  * cycle runs the whole pool in the seed's order, so every seed measures
  * the same work.
  */
object Pools {
  val Tune: Seq[TuneCase] = Seq(
    TuneCase("enet.selc.5", 1), TuneCase("econ.vars.1", 15), TuneCase("econ.vars.1", 17))
  val TuneWarm: TuneCase = TuneCase("enet.selc.5", 1)

  val Oos: Seq[OosCase] = Seq(
    OosCase("econ.vars.2", 4, 0.95), OosCase("econ.vars.2", 2, 0.5),
    OosCase("econ.vars.3", 2, 0.4), OosCase("econ.vars.4", 1, 0.5),
    OosCase("enet.selc.5", 1, 0.5), OosCase("econ.vars.1", 4, 0.4))
  val OosWarm: OosCase = OosCase("econ.vars.2", 4, 0.95)

  /** Cases too costly for a timed run, pinned and cross-checked against
    * the values recorded independently of this benchmark.
    */
  val Independent: Seq[(Pass, Double)] = Seq(
    TuneCase("enet.selc.20", 10) -> 0.009362566,
    TuneCase("enet.selc.25", 4) -> 0.009376659,
    OosCase("ezlasso.30", 1, 0.4) -> 0.012403281922,
    OosCase("econ.vars.2", 4, 0.95) -> 0.012260948726)
}

final class TuneWorkload(seed: Long, smoke: Boolean) extends Workload {
  val name = "tune"
  val cycle: IndexedSeq[TuneCase] =
    if (smoke) IndexedSeq(Pools.TuneWarm) else new scala.util.Random(seed).shuffle(Pools.Tune).toIndexedSeq
  def warm(ctx: Ctx): Seq[String] = Pools.TuneWarm.run(ctx)
  def serial(ctx: Ctx): Map[String, (Double, Double)] = cycle.head.serial(ctx)
}

final class OosWorkload(seed: Long, smoke: Boolean) extends Workload {
  val name = "oos_cv"
  val cycle: IndexedSeq[OosCase] =
    if (smoke) IndexedSeq(Pools.OosWarm) else new scala.util.Random(seed).shuffle(Pools.Oos).toIndexedSeq
  def warm(ctx: Ctx): Seq[String] = Pools.OosWarm.run(ctx)
  def serial(ctx: Ctx): Map[String, (Double, Double)] = cycle.head.serial(ctx)
}
