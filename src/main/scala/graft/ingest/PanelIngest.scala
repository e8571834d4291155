package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest of the reference's real dataset — SURVEY §2.1 S1/S2/S3, §1.3;
  * FIXTURES.md §1. The xlsx is converted once to parquet by
  * `tools/convert_panel.py` (ingest-side, stdlib-only); this module owns
  * the FIXED schema (declared in code, validated against the source — no
  * runtime inference in the query path) and the Main.R:40-107 data-prep
  * pipeline as DataFrame algebra.
  *
  * Schema quirks handled exactly as the survey requires:
  *  - the two duplicated FRED headers (`WPSFD49207` at sheet cols BY & CH,
  *    `AMBSL` at DN & DQ) are uniquified with an `_2` suffix — R's zoo
  *    silently dedupes, Spark must not see duplicate names (SURVEY §1.3);
  *  - the GDP sheet's day/month-transposed dates (Main.R:47 strptime
  *    "%Y-%d-%m") are normalized to quarter-start dates at conversion;
  *  - '#N/A' cells arrive as SQL NULLs.
  */
object PanelIngest {

  /** The 146 FRED series, in sheet order, duplicates uniquified. */
  val seriesNames: IndexedSeq[String] = IndexedSeq(
    "DDURRG3M086SBEA", "DNDGRG3M086SBEA", "DPCERA3M086SBEA",
    "DSERRG3M086SBEA", "PCEPI", "RPI", "W875RX1", "INDPRO", "IPFINAL",
    "IPCONGD", "IPDCONGD", "IPNCONGD", "IPBUSEQ", "IPMAT", "IPDMAT",
    "IPNMAT", "IPFPNSS", "IPFUELN", "TCU", "MCUMFN", "CLF16OV", "CE16OV",
    "UNRATE", "UEMPMEAN", "UEMPLT5", "UEMP5TO14", "UEMP15OV", "UEMP15T26",
    "UEMP27OV", "PAYEMS", "USPRIV", "CES1021000001", "USCONS", "MANEMP",
    "DMANEMP", "NDMANEMP", "SRVPRD", "USTPU", "USWTRADE", "USTRADE",
    "USFIRE", "USGOVT", "CES0000000010", "CES0600000007", "AWOTMAN",
    "AWHMAN", "AWHI", "HOUST", "HOUSTNE", "HOUSTMW", "HOUSTS", "HOUSTW",
    "PERMIT", "PERMITNE", "PERMITMW", "PERMITS", "PERMITW", "PERMIT1",
    "HOUST1F", "MSACSR", "CPF3M", "TB3MS", "TB6MS", "GS1", "DGS3", "GS5",
    "GS10", "AAA", "BAA", "T1YFF", "T5YFF", "T10YFF", "INTDSRUSM193N",
    "MPRIME", "INTGSBUSM193N", "WPSFD49207", "WPUFD49502", "WPUID615",
    "PPICMM", "WPSFD49504", "PPIACO", "WPSFD41312", "WPSID62", "PPIENG",
    "WPSFD4111", "WPSFD49207_2", "PPIIDC", "CPIAUCSL", "CPIAPPSL",
    "CPITRNSL", "CPIMEDSL", "CUSR0000SAC", "CUUR0000SAD", "CUSR0000SAS",
    "CPIULFSL", "CUUR0000SA0L2", "CUSR0000SA0L5", "CUSR0000SAF11",
    "CUUR0000SEFV", "CES0600000008", "CES2000000008", "CES3000000008",
    "AHETPI", "CES0500000030", "SP500", "EXSZUS", "EXJPUS", "EXUSUK",
    "EXCAUS", "DJCA", "DJIA", "DJTA", "DJUA", "M1SL", "M2SL", "M2REAL",
    "AMBSL", "TOTRESNS", "NONBORRES", "AMBSL_2", "CURRSL", "DEMDEPSL",
    "MABMM301USM189S", "MBCURRCIR", "REQRESNS", "RESBALNS", "SAVINGSL",
    "STDCBSL", "STDSL", "SVGCBSL", "TCDSL", "M2MOWN", "M2MSL", "BUSLOANS",
    "CONSUMER", "OTHSEC", "REALLN", "TOTALSL", "NONREVSL", "INVESTNSA",
    "LOANINVNSA", "LOANS", "OLLACBM027NBOG", "USGSEC", "WTISPLC", "FEDFUNDS")

  /** Currency-unit series (FRED ranges DK1:EB1, ED1:EP1, CW1:DA1 —
    * Main.R:58-60; FIXTURES.md §1.3): the log-diff branch of stationarity
    * repair applies to these.
    */
  val currencyNames: Seq[String] = Seq(
    "M1SL", "M2SL", "M2REAL", "AMBSL", "TOTRESNS", "NONBORRES", "AMBSL_2",
    "CURRSL", "DEMDEPSL", "MABMM301USM189S", "MBCURRCIR", "REQRESNS",
    "RESBALNS", "SAVINGSL", "STDCBSL", "STDSL", "SVGCBSL", "TCDSL", "M2MSL",
    "BUSLOANS", "CONSUMER", "OTHSEC", "REALLN", "TOTALSL", "NONREVSL",
    "INVESTNSA", "LOANINVNSA", "LOANS", "OLLACBM027NBOG", "USGSEC",
    "WTISPLC", "CES0600000008", "CES2000000008", "CES3000000008", "AHETPI",
    "CES0500000030")

  /** The TESTING.R currency pool (Testing.R:62-64): ranges DK1:EB1 and
    * ED1:EP1 only — it omits Main.R's third CW1:DA1 range (the five
    * CES…0008/AHETPI wage series). The recorded golden MSFEs were produced
    * by Testing.R's prep, so the golden experiment uses this pool.
    */
  val currencyNamesTesting: Seq[String] =
    currencyNames.filterNot(Set("CES0600000008", "CES2000000008",
      "CES3000000008", "AHETPI", "CES0500000030"))

  val monthlySchema: StructType = StructType(
    StructField("date", DateType, nullable = false) +:
      seriesNames.map(n => StructField(n, DoubleType, nullable = true)))

  val gdpSchema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("GDP", DoubleType, nullable = false)))

  private def validated(df: DataFrame, expected: StructType, what: String): DataFrame = {
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = expected.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want,
      s"$what schema drift: expected ${want.take(3)}…, got ${got.take(3)}…")
    df
  }

  /** S2: fixed-schema scan of the monthly panel (696×147). */
  def loadMonthly(s: SparkSession, path: String): DataFrame =
    validated(s.read.schema(monthlySchema).parquet(path), monthlySchema, "monthly panel")

  /** S2: fixed-schema scan of quarterly GDP (232×2). */
  def loadGdp(s: SparkSession, path: String): DataFrame =
    validated(s.read.schema(gdpSchema).parquet(path), gdpSchema, "gdp")

  /** P9 collect of a dated table, rows in ascending `date` order. The rows
    * all go to the driver anyway, so they are sorted there: one Spark job
    * (the scan) where `orderBy("date").collect()` ran three (range-bound
    * sample, shuffle map, result). Dates must be non-null and strictly
    * increasing — a duplicated month fails here, where Spark's sort would
    * have passed it through.
    */
  def collectByDate(df: DataFrame): Array[Row] = {
    val di = df.schema.fieldIndex("date")
    val rows = df.collect()
    require(rows.forall(!_.isNullAt(di)), "null date in a dated table")
    val sorted = rows.sortBy(_.getDate(di).toLocalDate.toEpochDay)
    for (i <- 1 until sorted.length) {
      val (prev, cur) = (sorted(i - 1).getDate(di), sorted(i).getDate(di))
      require(cur.toLocalDate.isAfter(prev.toLocalDate),
        s"dates must strictly increase: $cur repeats")
    }
    sorted
  }

  private def quarterCol(c: Column): Column = to_date(date_trunc("quarter", c))

  /** W1+A1 (Main.R:43): quarterly sums of monthly first differences for
    * every series, DROPPING the first quarter (R's `[-1,]`). All 146 diffs
    * share one window spec (single sort); the quarterly sum preserves R's
    * NA semantics — a quarter containing any NULL monthly diff is NULL
    * (Spark's `sum` skips nulls; zoo's does not).
    */
  def quarterlyDiffs(monthly: DataFrame): DataFrame = {
    val w = Window.orderBy(col("date"))
    val diffed = monthly.select(
      quarterCol(col("date")).as("quarter") +:
        seriesNames.map(n => (col(n) - lag(col(n), 1).over(w)).as(n)): _*)
    val aggs = seriesNames.map { n =>
      when(count(col(n)) === count(lit(1)), sum(col(n))).otherwise(lit(null)).as(n)
    }
    val minQ = diffed.agg(min(col("quarter")).as("q0"))
    diffed
      .groupBy(col("quarter")).agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(minQ))
      .filter(col("quarter") > col("q0"))
      .drop("q0")
  }

  /** W2 (Main.R:48): GDP log first differences, quarterly. */
  def gdpLogDiff(gdp: DataFrame): DataFrame = {
    val w = Window.orderBy(col("date"))
    gdp.select(quarterCol(col("date")).as("quarter"),
        (log(col("GDP")) - lag(log(col("GDP")), 1).over(w)).as("GDP"))
      .na.drop("any")
  }

  /** J1 (Main.R:96): time-index full outer join of GDP log-diffs with the
    * quarterly diffed panel. No broadcast hint: Spark cannot build a
    * broadcast hash join for FULL OUTER (the hint would be silently
    * dropped), so this is a sort-merge join — cheap here because BOTH
    * sides of a quarterly time-index merge are calendar-bounded (≤231
    * rows each at any data scale; the 146 series live in columns).
    */
  def endVar(gdpLd: DataFrame, panelQ: DataFrame): DataFrame =
    gdpLd.join(panelQ, Seq("quarter"), "full_outer")
      .orderBy(col("quarter"))

  /** P4/P5 (Main.R:100-101): the reference's train/test split at 2000Q1. */
  def trainTestSplit(endVar: DataFrame): (DataFrame, DataFrame) =
    (endVar.filter(col("quarter") < lit("2000-01-01").cast("date")),
      endVar.filter(col("quarter") >= lit("2000-01-01").cast("date")))
}
