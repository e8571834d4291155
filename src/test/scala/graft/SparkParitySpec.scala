package graft

import breeze.linalg.DenseMatrix
import graft.experiment.ModelTrain
import graft.tune.{RollingOriginTuner, Selection}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Distributed-vs-local parity: the Spark-distributed fan-outs (per-origin
  * refits, grid tasks, candidate sweeps) must produce byte-identical
  * results to the sequential path — broadcast reconstruction and
  * reduce ordering must not change the numbers.
  */
class SparkParitySpec extends AnyFunSuite with SparkSuite {

  private def panel(t: Int, seed: Long): DenseMatrix[Double] = {
    val g = new TestData.Lcg(seed)
    val y = DenseMatrix.zeros[Double](t, 2)
    var a = 0.0
    var b = 0.0
    for (i <- 0 until t) {
      a = 0.5 * a + 0.1 * b + 0.3 * g.gaussian()
      b = 0.3 * b - 0.2 * a + 0.3 * g.gaussian()
      y(i, 0) = a
      y(i, 1) = b
    }
    y
  }

  /** One ModelTrain configuration on 27 origins of an 80-row panel, run
    * without a session and on the 4-core one, compared exactly.
    */
  private def assertModelTrainParity(
      run: Option[SparkSession] => ModelTrain.Result): Unit = {
    val local = run(None)
    val dist = run(Some(spark))
    for (h <- Seq(1, 2, 4, 8)) {
      assert(local.byHorizon(h).msfe == dist.byHorizon(h).msfe, s"h=$h msfe")
      assert(local.byHorizon(h).errors == dist.byHorizon(h).errors, s"h=$h errors")
      assert(local.byHorizon(h).theilsURw == dist.byHorizon(h).theilsURw)
      assert(local.byHorizon(h).theilsUAr1 == dist.byHorizon(h).theilsUAr1)
    }
    assert(local.lastModel.coefMatrix == dist.lastModel.coefMatrix)
  }

  private val mtPanel = panel(80, seed = 41L)
  private val mtNames = IndexedSeq("a", "b")

  test("M17 modeltrain: Spark-distributed origins == sequential loop, exactly") {
    assertModelTrainParity(s =>
      ModelTrain.run(mtPanel, mtNames, startPredIdx = 60, lambdas = Seq(0.0), spark = s))
  }

  test("M17 modeltrain, per-origin blocked CV with const: Spark == sequential, exactly") {
    // lambdas empty: every origin CV-selects its λ, the oos_cv and
    // GoldenExperiment path.
    assertModelTrainParity(s =>
      ModelTrain.run(mtPanel, mtNames, startPredIdx = 60, const = true, spark = s))
  }

  test("M17 modeltrain, method = genet: Spark == sequential, exactly") {
    assertModelTrainParity(s =>
      ModelTrain.run(mtPanel, mtNames, startPredIdx = 60, method = "genet", spark = s))
  }

  test("M15 tuner: Spark-distributed grid == sequential, exactly") {
    val y = panel(60, seed = 43L)
    val small = RollingOriginTuner.Grid(
      Seq(0.2, 0.8), (0 until 10).map(i => math.pow(10.0, -4.0 * i / 9)))
    // At least 3 equations, and more (equation, α) segments than the
    // tuner's defaultParallelism x 4 tasks, so tasks fold several segments.
    val wide = RollingOriginTuner.Grid(RollingOriginTuner.referenceGrid().alphas,
      (0 until 20).map(i => math.pow(10.0, 1.0 - 5.0 * i / 19)))
    val tasks = spark.sparkContext.defaultParallelism * 4
    val k = math.max(3, tasks / wide.alphas.size + 1)
    assert(k * wide.alphas.size > tasks)
    val g = new TestData.Lcg(44L)
    val yk = DenseMatrix.horzcat(y, DenseMatrix.tabulate(60, k - 2)((_, _) => g.gaussian()))
    val kNames = (0 until k).map(j => ('a' + j).toChar.toString)
    for {
      (yy, names, grid) <- Seq((y, IndexedSeq("a", "b"), small), (yk, kNames, wide))
      caret <- Seq(false, true)
    } {
      val local = RollingOriginTuner.tune(yy, p = 1, initWindow = 30, horizon = 4,
        grid, names, caretSubmodels = caret)
      val dist = RollingOriginTuner.tune(yy, p = 1, initWindow = 30, horizon = 4,
        grid, names, spark = Some(spark), caretSubmodels = caret)
      assert(local == dist, s"${names.size} equations x ${grid.alphas.size} alphas, caret=$caret")
    }
  }

  test("M3 EnetVar: Spark per-equation fits == sequential, exactly") {
    val y = panel(60, seed = 43L)
    for (lambdas <- Seq(Seq.empty[Double], Seq(0.05))) {
      val local = graft.varmodel.EnetVar.fit(y, p = 2,
        IndexedSeq("a", "b"), Seq(0.4), lambdas)
      val dist = graft.varmodel.EnetVar.fit(y, p = 2,
        IndexedSeq("a", "b"), Seq(0.4), lambdas, spark = Some(spark))
      assert(local.equations == dist.equations, s"lambdas=$lambdas")
      assert(local.maxIterHits == dist.maxIterHits, s"lambdas=$lambdas")
    }
  }

  test("M10 preselection: Spark candidate sweep == sequential") {
    val g = new TestData.Lcg(45L)
    val base = panel(70, seed = 47L)
    val y = DenseMatrix.horzcat(base,
      DenseMatrix.tabulate(70, 1)((_, _) => g.gaussian()))
    val names = IndexedSeq("a", "b", "noise")
    val local = Selection.greedyIcPreselection(y, names, maxNrVar = 2)
    val dist = Selection.greedyIcPreselection(y, names, maxNrVar = 2,
      spark = Some(spark))
    assert(local == dist)
  }
}
