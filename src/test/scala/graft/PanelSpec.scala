package graft

import graft.experiment.GoldenExperiment
import graft.ingest.PanelIngest
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end panel ingest + data-prep pipeline against the converted
  * reference dataset (FIXTURES.md §1.4 derived-shape goldens: 696×147
  * monthly, 232-row GDP, 231-row quarterly frames, 163/68 split).
  */
class PanelSpec extends AnyFunSuite with SparkSuite {

  private val dir = "data/panel"

  test("S2: monthly panel loads with the fixed 147-column schema, 696 rows") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    assert(m.columns.length == 147)
    assert(m.count() == 696)
    assert(m.columns.count(_ == "WPSFD49207") == 1 && m.columns.contains("WPSFD49207_2"))
    assert(m.columns.contains("AMBSL_2"))
  }

  test("S2: GDP loads 232 rows with the recorded first/last values") {
    val g = PanelIngest.loadGdp(spark, s"$dir/gdp_quarterly.parquet")
    assert(g.count() == 232)
    val vals = g.orderBy(col("date")).select(col("GDP")).collect().map(_.getDouble(0))
    assert(math.abs(vals.head - 2976.629) < 1e-9)
    assert(math.abs(vals.last - 16813.328) < 1e-9)
  }

  test("collectByDate: shuffled rows come back date-ascending, as the ordered collect; a repeated date throws") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val ordered = m.orderBy(col("date")).collect()
    val shuffled = spark.createDataFrame(
      java.util.Arrays.asList(new scala.util.Random(7).shuffle(ordered.toSeq): _*), m.schema)
    assert(!shuffled.collect().sameElements(ordered), "the input must arrive out of order")
    val got = PanelIngest.collectByDate(shuffled)
    assert(got.sameElements(ordered))
    assert(got.map(_.getDate(0).toLocalDate).sliding(2).forall(p => p(0).isBefore(p(1))))

    val g = PanelIngest.loadGdp(spark, s"$dir/gdp_quarterly.parquet")
    val repeated = g.union(g.orderBy(col("date").desc).limit(1))
    val e = intercept[IllegalArgumentException](PanelIngest.collectByDate(repeated))
    assert(e.getMessage.contains("strictly increase"), e.getMessage)
  }

  test("GoldenExperiment.prepare runs exactly 2 Spark jobs (one plain collect per table)") {
    val sc = spark.sparkContext
    val prepareJobs = new AtomicInteger
    val sentinelDone = new CountDownLatch(1)
    def group(props: java.util.Properties): String =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        group(j.properties) match {
          case "prepare" => prepareJobs.incrementAndGet()
          case "sentinel" => sentinelDone.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("prepare", "GoldenExperiment.prepare")
      GoldenExperiment.prepare(spark)
      // The listener bus delivers events in order: once the sentinel job's
      // start has arrived, every job prepare started has been counted.
      sc.setJobGroup("sentinel", "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelDone.await(60, TimeUnit.SECONDS))
      assert(prepareJobs.get == 2)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("W1+A1: quarterly diffed panel is 231×147 spanning 1959Q2..2016Q4") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val q = PanelIngest.quarterlyDiffs(m)
    assert(q.columns.length == 147)
    assert(q.count() == 231)
    val span = q.agg(min(col("quarter")), max(col("quarter"))).collect()(0)
    assert(span.getDate(0).toString == "1959-04-01")
    assert(span.getDate(1).toString == "2016-10-01")
  }

  test("A1 telescoping: quarterly sum of monthly diffs = quarter-end minus prior quarter-end") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val q = PanelIngest.quarterlyDiffs(m)
    val qv = q.filter(col("quarter") === lit("1960-04-01").cast("date"))
      .select(col("INDPRO")).collect()(0).getDouble(0)
    val levels = m.orderBy(col("date"))
      .filter(col("date").between(
        lit("1960-03-01").cast("date"), lit("1960-06-01").cast("date")))
      .select(col("INDPRO")).collect().map(_.getDouble(0))
    // 1960Q2 sum of diffs = INDPRO(1960-06) − INDPRO(1960-03).
    assert(math.abs(qv - (levels.last - levels.head)) < 1e-9)
  }

  test("J1+split: end_var is 231 rows × 148 cols; train 163 / test 68 at 2000Q1") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val g = PanelIngest.loadGdp(spark, s"$dir/gdp_quarterly.parquet")
    val ev = PanelIngest.endVar(PanelIngest.gdpLogDiff(g), PanelIngest.quarterlyDiffs(m))
    assert(ev.columns.length == 148) // quarter + GDP + 146 series
    assert(ev.count() == 231)
    val (train, test0) = PanelIngest.trainTestSplit(ev)
    assert(train.count() == 163)
    assert(test0.count() == 68)
  }

  test("NA semantics: a quarter with any missing monthly diff is NULL, not a partial sum") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val q = PanelIngest.quarterlyDiffs(m)
    // Series with late start (#N/A leading cells) must be NULL through
    // their missing span — count nulls stays >= the raw missing quarters.
    val lateStarters = Seq("TCU", "MCUMFN", "DGS3")
    val nNullRaw = m.select(lateStarters.map(n => count(when(col(n).isNull, 1)).as(n)): _*)
      .collect()(0)
    val nNullQ = q.select(lateStarters.map(n => count(when(col(n).isNull, 1)).as(n)): _*)
      .collect()(0)
    lateStarters.indices.foreach { i =>
      if (nNullRaw.getLong(i) > 0) assert(nNullQ.getLong(i) > 0, lateStarters(i))
    }
  }
}
