package graft.experiment

import graft.ingest.PanelIngest
import graft.tune.Selection

/** The reference's "~12 hour" workload (readme.txt:39, Main.R:232-274):
  * 15 model sets — the 5 hardcoded econ.vars lists (Main.R:115-125), 5
  * ACF-diversity selections (M12, lag 20, Main.R:129-135) and 5 PACF
  * selections (M13, lag 8, Main.R:139-145), all selected on the training
  * span of the FULL 147-column frame — each tested at the two heuristic
  * lags lag.min = ⌊24/K^(2/3)⌋, lag.max = ⌈24/K^(2/3)+1⌉ through
  * [[ReferenceWorkload.tunedCase]]. Data prep runs ONCE
  * (GoldenExperiment.prepare); everything downstream is Spark-distributed.
  *
  * Usage: runMain graft.experiment.ReferenceWorkloadLarge
  */
object ReferenceWorkloadLarge {

  /** Main.R:115-125 — the hardcoded econ model sets. */
  val EconVars: Seq[(String, Seq[String])] = Seq(
    "econ.vars.1" -> Seq("GDP", "DPCERA3M086SBEA"),
    "econ.vars.2" -> Seq("GDP", "FEDFUNDS", "CPIAUCSL"),
    "econ.vars.3" -> Seq("GDP", "DPCERA3M086SBEA", "CPIAUCSL", "TB3MS"),
    "econ.vars.4" -> Seq("GDP", "DPCERA3M086SBEA", "FEDFUNDS", "AWHI", "RPI"),
    "econ.vars.5" -> Seq("GDP", "FEDFUNDS", "DPCERA3M086SBEA", "AWHI", "RPI",
      "GS5", "GS10", "M2SL", "SP500", "MCUMFN", "INDPRO", "UNRATE", "HOUST",
      "PPIACO", "PCEPI", "CES3000000008", "M1SL", "WTISPLC"))

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build()
    val t0 = System.nanoTime()
    val prep = GoldenExperiment.prepare(spark)
    GoldenExperiment.repairSummary(prep).foreach(println)

    // ACF/PACF selections on the training span of the full 147-col frame
    // (na.omit inside, like the reference's selection helpers).
    val allCols = "GDP" +: PanelIngest.seriesNames
    val trainAll = GoldenExperiment.assemble(prep, allCols).trainY
    println(s"[workload12] full-frame train span after na.omit: " +
      s"${trainAll.rows}×${trainAll.cols}")
    val sizes = Seq(5, 10, 15, 20, 25)
    val acfSets = sizes.map(n =>
      s"acf.selc.$n" -> Selection.acfDiverse(trainAll, allCols.toIndexedSeq,
        lag = 20, maxNrVar = n))
    val pacfSets = sizes.map(n =>
      s"pacf.selc.$n" -> Selection.pacfSelect(trainAll, allCols.toIndexedSeq,
        lag = 8, maxNrVar = n))
    (acfSets ++ pacfSets).foreach { case (l, cs) =>
      println(s"[workload12] $l -> ${cs.mkString(",")}")
    }

    for ((label, cols) <- EconVars ++ acfSets ++ pacfSets) {
      val tm = System.nanoTime()
      val panel = GoldenExperiment.assemble(prep, cols)
      val k = cols.size
      val base = 24.0 / math.pow(k.toDouble, 2.0 / 3.0)
      val lags = Seq(math.floor(base).toInt.max(1), math.ceil(base + 1).toInt).distinct
        // guard: the lag embedding must leave rows for the tuner's windows
        .filter(l => panel.trainY.rows - l > 60)
      for (lag <- lags) {
        val t = ReferenceWorkload.tunedCase(spark, panel, cols.toIndexedSeq, lag)
        println(f"[workload12] $label (${k} vars) lag=$lag: raw err sum = " +
          f"${t.result.rawErrSum}%.9f (tune ${t.tuneSeconds}%.0f s + modeltrain ${t.trainSeconds}%.0f s, " +
          s"tune maxIter hits ${t.tuneMaxIterHits})")
      }
      println(f"[workload12] $label done in ${(System.nanoTime() - tm) / 1e9}%.0f s")
    }
    println(f"[workload12] FULL 15-model x 2-lag workload (reference: ~12 h) = " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s at local[${spark.sparkContext.defaultParallelism}]")
    spark.stop()
  }
}
