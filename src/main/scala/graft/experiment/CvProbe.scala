package graft.experiment

import graft.linalg.{BlockedCv, ElasticNet}
import graft.varmodel.VarDesign

/** Temporary diagnostic: per-equation CV diagnostics on the golden panel —
  * where does lambda.min land on the path, how many coefficients survive,
  * and what does the cvm curve look like? Investigating the +37% lag-5
  * golden-MSFE gap (VERDICT r3).
  */
object CvProbe {
  def main(args: Array[String]): Unit = {
    val lag = if (args.nonEmpty) args(0).toInt else 5
    val alpha = if (args.length > 1) args(1).toDouble else 0.4
    val spark = graft.Session.build()
    val panel = GoldenExperiment.buildPanel(spark)
    // ADF(k=7) p-values per ezlasso column on the REPAIRED panel columns —
    // borderline values near 0.05 flag transform-flip risk vs R.
    for (j <- 1 until math.min(panel.y.cols, 30)) {
      val col = panel.y(::, j)
      val r = graft.stats.Adf.test(col, 7)
      val name = GoldenExperiment.EzlassoAll(j)
      if (r.pValue > 0.01)
        println(f"[probe] adf $name%-16s stat=${r.statistic}%8.3f p=${r.pValue}%.4f")
    }
    // Pre-repair: p-values of the PLAIN first-diff quarterly ezlasso
    // columns (what iteration 1 of the repair saw).
    {
      import graft.ingest.PanelIngest
      val mRows = GoldenExperiment.monthlyRows(spark)
      for (name <- GoldenExperiment.EzlassoAll.drop(1)) {
        val j = PanelIngest.seriesNames.indexOf(name)
        val lv = mRows.map(r => if (r.isNullAt(j + 1)) Double.NaN else r.getDouble(j + 1))
        val diffs = Array.tabulate(lv.length)(i =>
          if (i == 0) Double.NaN else lv(i) - lv(i - 1))
        val q = GoldenExperiment.quarterSumsForProbe(diffs).toArray.filter(!_.isNaN)
        val r = graft.stats.Adf.test(breeze.linalg.DenseVector(q), 7)
        if (r.pValue > 0.02)
          println(f"[probe] prerepair adf $name%-16s stat=${r.statistic}%8.3f p=${r.pValue}%.4f")
      }
    }
    val y = panel.y
    val design = VarDesign.build(y, lag, GoldenExperiment.EzlassoAll.toIndexedSeq,
      intercept = true)
    val ds = BlockedCv.designs(design.z, BlockedCv.foldIds(design.z.rows),
      intercept = true)
    println(s"[probe] design: ${design.z.rows}x${design.z.cols}")
    // Per-equation CV diagnostics under all three fold-path modes: the
    // master-grid CV (r3/r4 behavior) vs cv.glmnet's per-fold auto paths
    // with index alignment (glmnet 2.0-era, contemporaneous with the
    // reference) and λ-value alignment (glmnet ≥ 4.0 default).
    for (mode <- Seq(None, Some("index"), Some("lambda"))) {
      var sumActive = 0
      for (j <- 0 until math.min(design.n, 8)) {
        val yj = design.response(j)
        val cv = BlockedCv.cvFitDesigns(ds, yj, alpha,
          tol = BlockedCv.GlmnetEquivTol, foldPaths = mode)
        val idx = cv.lambdas.indexOf(cv.lambdaMin)
        val fit = cv.path.at(cv.lambdaMin)
        val active = fit.beta.toArray.count(_ != 0.0)
        sumActive += active
        val cvmMin = cv.cvm(idx)
        println(f"[probe] ${mode.getOrElse("master")}%-6s eq$j%2d " +
          f"lambdaMin=${cv.lambdaMin}%.6g idx=$idx%3d/" +
          f"${cv.lambdas.length}%d active=$active%3d cvm(min)=$cvmMin%.6g " +
          f"cvm(0)=${cv.cvm.head}%.6g cvm(last)=${cv.cvm.last}%.6g")
      }
      val probed = math.min(design.n, 8)
      println(s"[probe] ${mode.getOrElse("master")} mean active over probed eqs = ${sumActive.toDouble / probed}")
    }
    // Full golden experiment under each CV fold-path mode: the raw error
    // sum comparable to the recorded goldens (lag5/α0.4 → 0.00907...).
    for (mode <- Seq(None, Some("index"), Some("lambda"))) {
      val t0 = System.nanoTime()
      val res = ModelTrain.run(y, GoldenExperiment.EzlassoAll.toIndexedSeq,
        panel.startPredIdx, h = 8, alphas = Seq(alpha), lambdas = Seq.empty,
        lag = lag, const = true, spark = Some(spark),
        solverTol = BlockedCv.GlmnetEquivTol, cvFoldPaths = mode)
      val total = Seq(1, 2, 4, 8).map(h => res.byHorizon(h).msfe).sum
      val hLen = res.byHorizon(1).errors.length
      println(f"[probe] cvmode=${mode.getOrElse("master")}%-6s raw err sum = " +
        f"${total * hLen}%.9f  (${(System.nanoTime() - t0) / 1e9}%.0f s)")
    }

    // Fixed-λ sensitivity: the best achievable raw error sum over a λ grid
    // bounds how much of the golden gap λ-SELECTION can explain.
    for (lam <- Seq(0.0005, 0.001, 0.002, 0.005, 0.01, 0.02, 0.05, 0.1)) {
      val res = ModelTrain.run(y, GoldenExperiment.EzlassoAll.toIndexedSeq,
        panel.startPredIdx, h = 8, alphas = Seq(alpha), lambdas = Seq(lam),
        lag = lag, const = true, spark = Some(spark))
      val total = Seq(1, 2, 4, 8).map(h => res.byHorizon(h).msfe).sum
      val hLen = res.byHorizon(1).errors.length
      println(f"[probe] fixed lambda=$lam%.4f raw err sum = ${total * hLen}%.9f")
    }
    spark.stop()
  }
}
