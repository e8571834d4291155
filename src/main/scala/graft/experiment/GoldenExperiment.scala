package graft.experiment

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.ingest.PanelIngest
import graft.stats.Adf
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.immutable.ListMap

/** End-to-end reproduction of the reference's OOS experiment on the REAL
  * dataset (Main.R data prep + Testing.R:214-243 golden runs): ingest →
  * quarterly diffs → iterative stationarity repair → end_var merge →
  * hardcoded 30-variable ezlasso set (Testing.R:215-218) → na.omit →
  * `modeltrain(lag, alpha, const=TRUE)` with per-equation blocked-CV λ,
  * per-origin refits distributed over Spark.
  *
  * Prints the per-horizon MSFEs and their sum next to the recorded golden
  * values (BASELINE.md): lag=5/α=0.4 → 0.00907175092168175, lag=1 →
  * 0.0107635485836803, lag=5/α=0.5 → 0.009076151. Exact agreement is not
  * expected — the reference's numbers come from glmnet's Fortran solver
  * and R's ADF borderline calls — but the figure should land in the same
  * neighborhood; the gap is reported, not hidden.
  *
  * Usage: runMain graft.experiment.GoldenExperiment [lag] [alpha]
  */
object GoldenExperiment {

  /** Testing.R:215-218 — the hardcoded 30-var ezlasso preselection. */
  val EzlassoAll: Seq[String] = Seq(
    "GDP", "DDURRG3M086SBEA", "DPCERA3M086SBEA", "W875RX1", "INDPRO",
    "IPFINAL", "IPCONGD", "IPDCONGD", "IPNCONGD", "IPBUSEQ", "IPMAT",
    "IPDMAT", "IPNMAT", "IPFPNSS", "IPFUELN", "TCU", "MCUMFN", "CLF16OV",
    "CE16OV", "UNRATE", "UEMPMEAN", "UEMPLT5", "UEMP5TO14", "UEMP15OV",
    "UEMP15T26", "UEMP27OV", "PAYEMS", "USPRIV", "CES1021000001", "FEDFUNDS")

  /** Quarter sum of a monthly diff series with R NA semantics (A1): the
    * first quarter is dropped, a quarter with any NaN diff is NaN.
    */
  private def quarterSums(diffs: Array[Double]): DenseVector[Double] = {
    // diffs(i) = value for month i (i=0 is 1959-01, diff = NaN).
    val nQ = diffs.length / 3
    val out = DenseVector.zeros[Double](nQ - 1)
    var q = 1
    while (q < nQ) {
      var s = 0.0
      var ok = true
      var m = 3 * q
      while (m < 3 * q + 3) {
        if (diffs(m).isNaN) ok = false else s += diffs(m)
        m += 1
      }
      out(q - 1) = if (ok) s else Double.NaN
      q += 1
    }
    out
  }

  /** The prepared golden panel: the 230×30 na.omit'ed ezlasso design and
    * the start.pred row (2000 Q1).
    */
  final case class Panel(y: DenseMatrix[Double], startPredIdx: Int) {
    /** The training span: the rows before start.pred. */
    lazy val trainY: DenseMatrix[Double] = y(0 until startPredIdx, ::).toDenseMatrix
  }

  /** Repaired columns + GDP log-diffs — the prep state that does NOT
    * depend on the model's column set, so multi-model workloads run it
    * once.
    */
  final case class Prepared(
      gdpLd: DenseVector[Double],
      repaired: ListMap[String, DenseVector[Double]],
      ledger: Seq[Stationarity.LedgerEntry],
      converged: Boolean)

  /** The repair's summary lines for the mains to print: whether it
    * converged and how many transforms it made, then the column count per
    * transform kind.
    */
  def repairSummary(prep: Prepared): Seq[String] =
    s"[golden] repair: converged=${prep.converged} transforms=${prep.ledger.size}" +:
      prep.ledger.groupBy(_.transform).toSeq.map { case (t, es) =>
        s"[golden]   $t: ${es.map(_.column).distinct.size} columns"
      }

  /** na.omit over `panelCols` of the prepared frame → the model panel and
    * its start.pred row.
    */
  def assemble(prep: Prepared, panelCols: Seq[String]): Panel = {
    // Column 0 is REPLACED by the GDP log-diff series (the reference's
    // end_var layout): the caller must actually mean that.
    require(panelCols.headOption.contains("GDP"),
      s"panelCols must start with GDP (column 0 carries the GDP log-diffs), got ${panelCols.headOption}")
    val cols: IndexedSeq[DenseVector[Double]] =
      prep.gdpLd +: panelCols.drop(1).map(prep.repaired(_)).toIndexedSeq
    val tQ = prep.gdpLd.length
    require(cols.forall(_.length == tQ), "quarter alignment broke")
    val keep = (0 until tQ).filter(r => cols.forall(c => !c(r).isNaN))
    val y = DenseMatrix.tabulate(keep.length, cols.length)((r, c) => cols(c)(keep(r)))
    val startUnfiltered = (2000 - 1959) * 4 + 0 - 1 // 1959Q2-based offset of 2000Q1
    val startPredIdx = keep.indexWhere(_ >= startUnfiltered)
    Panel(y, startPredIdx)
  }

  /** Testing.R's data prep on the real converted dataset, through repair
    * and the na.omit over `cols` — shared by the golden experiment, the
    * tuned run, and the econ.vars variants (Testing.R:214-243 all start
    * from this frame with different column sets).
    */
  def buildPanel(spark: SparkSession, panelCols: Seq[String] = EzlassoAll): Panel = {
    val prep = prepare(spark)
    repairSummary(prep).foreach(println)
    val ez = panelCols.toSet
    val ezLedger = prep.ledger.filter(e => ez.contains(e.column))
    println(s"[golden]   panel-relevant transforms: " +
      (if (ezLedger.isEmpty) "none"
       else ezLedger.map(e => s"${e.column}:${e.transform}@${e.iteration}").mkString(", ")))
    val panel = assemble(prep, panelCols)
    println(s"[golden] panel after na.omit: ${panel.y.rows}×${panel.y.cols}, " +
      s"start.pred row=${panel.startPredIdx} (golden layout: 163 of 231)")
    panel
  }

  /** The real-panel fixture dir as an absolute path: `SPARK_GRAFT_PANEL_DIR`
    * when set, else `data/panel` under the working directory (the repo
    * root under sbt).
    */
  def panelDir: String = new java.io.File(
    sys.env.getOrElse("SPARK_GRAFT_PANEL_DIR", "data/panel")).getAbsolutePath

  /** The monthly panel's rows (696×147), date-ascending — the one
    * driver-side ingest of the monthly panel (P9 collect, sorted on the
    * driver by [[PanelIngest.collectByDate]]).
    */
  private def monthlyRows(spark: SparkSession): Array[Row] =
    PanelIngest.collectByDate(
      PanelIngest.loadMonthly(spark, s"$panelDir/monthly_panel.parquet"))

  /** Column-set-independent half of buildPanel: ingest, quarterly diffs,
    * Testing.R-variant repair, GDP log-diffs — run ONCE per session for
    * multi-model workloads.
    *
    * Both tables are collected to the driver whole (P9 — 696×147 monthly,
    * 232×2 GDP) and sorted there by [[PanelIngest.collectByDate]]: one Spark
    * job per table, where a Spark `orderBy` ran three (range-bound sample,
    * shuffle map, result) only to send every row to the driver. The
    * collect also checks that dates strictly increase.
    */
  def prepare(spark: SparkSession): Prepared = {
    // Collect the monthly panel column-wise (696×146 — P9 dematerialize).
    val mRows = monthlyRows(spark)
    val monthly: Map[String, Array[Double]] = PanelIngest.seriesNames.zipWithIndex
      .map { case (n, j) =>
        n -> mRows.map(r => if (r.isNullAt(j + 1)) Double.NaN else r.getDouble(j + 1))
      }.toMap

    // W1+A1: quarterly sums of monthly first differences.
    def diffs(xs: Array[Double]): Array[Double] =
      Array.tabulate(xs.length)(i => if (i == 0) Double.NaN else xs(i) - xs(i - 1))
    val quarterly = ListMap.from(PanelIngest.seriesNames.map { n =>
      n -> quarterSums(diffs(monthly(n)))
    })

    // T2 repair: currency + all-positive columns replace with quarterly
    // log-diffs; others second-difference (Main.R:64-92).
    def logDiffQuarterly(name: String): Option[DenseVector[Double]] = {
      val lv = monthly(name)
      if (lv.filterNot(_.isNaN).forall(_ > 0.0))
        Some(quarterSums(Array.tabulate(lv.length)(i =>
          if (i == 0) Double.NaN else math.log(lv(i)) - math.log(lv(i - 1)))))
      else None
    }
    // TESTING.R's repair variant, not Main.R's — the recorded goldens come
    // from Testing.R:43-96: adf lag fixed at 7, crit 0.05 inclusive, the
    // two-range currency pool, currency names never consumed (its pool-
    // depletion line is a no-op), loop breaks when stuck.
    val repaired = Stationarity.repair(
      quarterly, logDiffQuarterly, PanelIngest.currencyNamesTesting.toSet,
      crit = 0.05, adfK = 7, gteCrit = true, consumeCurrency = false)

    // GDP log-diffs (232 → 231 quarters, aligned 1959Q2..2016Q4).
    val gdpLevels = PanelIngest.collectByDate(
      PanelIngest.loadGdp(spark, s"$panelDir/gdp_quarterly.parquet")).map(_.getDouble(1))
    val gdpLd = DenseVector.tabulate(gdpLevels.length - 1)(i =>
      math.log(gdpLevels(i + 1)) - math.log(gdpLevels(i)))
    Prepared(gdpLd, repaired.columns, repaired.ledger, repaired.converged)
  }

  /** Testing.R:254 — the 3-variable econ.vars.2 set of the 0.01482406
    * golden (`modeltrain(testing1.sample, alpha=0.95, lag=4, const=TRUE)`).
    */
  val EconVars2: Seq[String] = Seq("GDP", "FEDFUNDS", "CPIAUCSL")

  /** Usage: runMain graft.experiment.GoldenExperiment [lag] [alpha] [tol] [colset] [method]
    * colset ∈ {ezlasso, econ2}; method ∈ {enet, genet}.
    */
  def main(args: Array[String]): Unit = {
    val lag = if (args.nonEmpty) args(0).toInt else 5
    val alpha = if (args.length > 1) args(1).toDouble else 0.4
    val tol = if (args.length > 2) args(2).toDouble
              else graft.linalg.BlockedCv.GlmnetEquivTol
    val panelCols = if (args.length > 3 && args(3) == "econ2") EconVars2 else EzlassoAll
    val method = if (args.length > 4) args(4) else "enet"
    val spark = graft.Session.build()
    val panel = buildPanel(spark, panelCols)
    val y = panel.y
    val startPredIdx = panel.startPredIdx

    val t1 = System.nanoTime()
    val res = ModelTrain.run(y, panelCols.toIndexedSeq, startPredIdx,
      h = 8, alphas = Seq(alpha), lambdas = Seq.empty, lag = lag,
      const = true, spark = Some(spark), solverTol = tol, method = method)
    val wall = (System.nanoTime() - t1) / 1e9
    val msfes = Seq(1, 2, 4, 8).map(h => h -> res.byHorizon(h).msfe)
    msfes.foreach { case (h, m) => println(f"[golden] msfe h$h%d = $m%.12f") }
    println(f"[golden] MSFE SUM = ${msfes.map(_._2).sum}%.12f  (lag=$lag alpha=$alpha, $wall%.0f s)")
    // The reference's recorded "mse sum" comments are the raw squared-error
    // sums (ModelTrain.Result.rawErrSum); report both normalizations.
    println(f"[golden] RAW ERR SUM (msfe × ${res.byHorizon(1).errors.length}, summed) = " +
      f"${res.rawErrSum}%.12f")
    println(s"[golden] maxIter hits (CV paths, all origins) = ${res.maxIterHits}")
    println("[golden] reference goldens: lag5/a0.4 CV = 0.00907175092168175 | " +
      "lag1 = 0.0107635485836803 | lag5/a0.5 = 0.009076151")
    Seq(1, 2, 4, 8).foreach { h =>
      println(f"[golden] theils_u_rw h$h = ${res.byHorizon(h).theilsURw}%.6f " +
        f"theils_u_ar1 h$h = ${res.byHorizon(h).theilsUAr1}%.6f")
    }
    // The reference's final self-check (Main.R:304): Hosking portmanteau on
    // the last fitted model's residuals, order = the VAR lag order.
    graft.stats.Portmanteau.hosking(res.residuals, order = lag).foreach { r =>
      println(f"[golden] hosking m=${r.lag}%2d Q=${r.statistic}%.2f " +
        f"df=${r.df}%.0f p=${r.pValue}%.4f")
    }
    spark.stop()
  }
}
