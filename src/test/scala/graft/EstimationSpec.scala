package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Estimation-layer checks that need a SparkSession (the numeric kernels
  * themselves are covered matrix-level in TuneSpec/StatsSpec/LinalgSpec).
  */
class EstimationSpec extends AnyFunSuite with SparkSuite {

  test("t22 bhFdr: the step-up rejects a rank that fails its own threshold (planted battery)") {
    // BH's distinguishing behavior vs per-test thresholding, planted
    // exactly: a 3-test battery at q = 0.1 where the smallest p
    // (series a: 8-of-9 up-days, p = 20/512 = 0.0390625) EXCEEDS its
    // own threshold q·1/3 ≈ 0.0333, but rank 2 (series b: 13-of-17,
    // p = 6428/131072 ≈ 0.04904) clears q·2/3 ≈ 0.0667 — so the
    // step-up threshold lands at 2 and BOTH a and b are rejected while
    // the alternating series c (p = 1 exactly: Σ_{j≤4}C(9,j) = 256 =
    // 2⁹/2) is kept. All three p-values and the binomial tail sums are
    // checked e9-exact against hand arithmetic, so the multiplicative
    // C(n,j) recurrence is pinned too.
    val s = spark
    import s.implicits._
    def series(name: String, vals: Seq[Long]) =
      vals.zipWithIndex.map { case (v, i) =>
        (name, java.sql.Date.valueOf(f"2024-03-${i + 1}%02d"), v)
      }
    val a = series("a", Seq(100L, 101, 102, 103, 104, 105, 106, 107, 106, 107))
    val b = series("b",
      (100L to 113L) ++ Seq(112L, 111, 110, 109))
    val c = series("c", Seq(100L, 99, 100, 99, 100, 99, 100, 99, 100, 99))
    val daily = (a ++ b ++ c).toDF("event_type", "day", "x")
    val got = graft.operators.Estimation.bhFdr(daily)
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      ("a", 9L, 8L, 39062500L, 1L, true),
      ("b", 17L, 13L, 49041748L, 2L, true),
      ("c", 9L, 4L, 1000000000L, 3L, false)),
      s"planted BH battery diverged: ${got.toSeq}")
  }

  test("t23 ksPairs: separation, ties, and the asymptotic smallness boundary (planted)") {
    // Three types pin the three KS mechanics on hand panels:
    //  - (a,b): a={1,2,3,4} vs b={5,6,7,8}, complete separation at
    //    n=(4,4) — D = 1 (d_num = 16 = n1·n2) and the 5% reject is a
    //    BOUNDARY exercise: d²·10⁶ = 2.56e8 vs 1844164·8·16 =
    //    2.36052992e8, rejected by ~8% margin;
    //  - (a,c): c={1,1,2} overlaps a — pooled TIES across sides, CDFs
    //    evaluated after counting all points at x: gaps over distinct
    //    x ∈ {1,2,3,4} are |3·1−4·2|=5, |6−12|=6, |9−12|=3, 0 →
    //    d_num = 6, d_e6 = ⌊6e6/12⌋ = 500000;
    //  - (b,c): complete separation again BUT n=(4,3) — D = 1 yet
    //    144e6 < 1844164·7·12 ≈ 1.549e8: the asymptotic threshold is
    //    UNREACHABLE at these sizes, so reject stays false. The test
    //    that "cannot fire" firing would mean the cleared-denominator
    //    inequality drifted.
    val s = spark
    import s.implicits._
    def series(name: String, vals: Seq[Long]) =
      vals.zipWithIndex.map { case (v, i) =>
        (name, java.sql.Date.valueOf(f"2024-03-${i + 1}%02d"), v)
      }
    val daily = (series("a", Seq(1L, 2, 3, 4)) ++
      series("b", Seq(5L, 6, 7, 8)) ++
      series("c", Seq(1L, 1, 2))).toDF("event_type", "day", "x")
    val got = graft.operators.Estimation.ksPairs(daily).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got == Seq(
      ("a", "b", 4L, 4L, 16L, 1000000L, true),
      ("a", "c", 4L, 3L, 6L, 500000L, false),
      ("b", "c", 4L, 3L, 12L, 1000000L, false)),
      s"planted KS battery diverged: $got")
  }

  test("t24 spearmanPairs: monotone/anti/tied/constant quadrants on a hand panel (planted)") {
    // Five 5-day series pin the four Spearman mechanics:
    //  - a=(1..5) vs b=(2,4,..10): rho = 1 exactly, z = sqrt(4) = 2 →
    //    z_e4 = 20000, a BOUNDARY reject (> 19600 by 2%);
    //  - a vs c=(10,8,..2): rho = −1, the sign mirror;
    //  - a vs e=(1,1,2,2,3): TIES — avg2 ranks (3,3,7,7,10) give
    //    num = 180, dena = 200, denb = 180, rho = 180/√36000 =
    //    0.9486833 → rho_e6 = 948683, z_e4 = 18974 → NOT rejected
    //    (the tie correction pulls a perfect-looking monotone under
    //    the threshold — the behavior an uncorrected rho misses);
    //  - any pair with d=(5,5,5,5,5): denb = 0 exactly (integer
    //    guard) → NULL rho, reject false.
    val s = spark
    import s.implicits._
    def series(name: String, vals: Seq[Long]) =
      vals.zipWithIndex.map { case (v, i) =>
        (name, java.sql.Date.valueOf(f"2024-03-${i + 1}%02d"), v)
      }
    val daily = (series("a", Seq(1L, 2, 3, 4, 5)) ++
      series("b", Seq(2L, 4, 6, 8, 10)) ++
      series("c", Seq(10L, 8, 6, 4, 2)) ++
      series("d", Seq(5L, 5, 5, 5, 5)) ++
      series("e", Seq(1L, 1, 2, 2, 3))).toDF("event_type", "day", "x")
    val got = graft.operators.Estimation.spearmanPairs(daily).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(got == Seq(
      ("a", "b", 5L, 1000000L, 20000L, true),
      ("a", "c", 5L, -1000000L, -20000L, true),
      ("a", "d", 5L, null, null, false),
      ("a", "e", 5L, 948683L, 18974L, false),
      ("b", "c", 5L, -1000000L, -20000L, true),
      ("b", "d", 5L, null, null, false),
      ("b", "e", 5L, 948683L, 18974L, false),
      ("c", "d", 5L, null, null, false),
      ("c", "e", 5L, -948683L, -18974L, false),
      ("d", "e", 5L, null, null, false)),
      s"planted Spearman battery diverged: $got")
  }

  test("t25 archLm: volatility clustering rejects, mild clustering and constant variance do not (planted)") {
    // Three hand series pin the LM mechanics end to end (z = squared
    // first diffs, LM = n·R² of z on lag z, χ²(1) 5% at 3.8415):
    //  - v: diffs (3,3,3,3,1,1,1,1) → z regime-blocks (9×4, 1×4) →
    //    num = 576, dena = denb = 768, LM = 7·(0.75)² · ... = 3.9375 →
    //    lm_e4 = 39375, a BOUNDARY reject (2.5% above the critical
    //    value — the shortest planted series that clears it);
    //  - w: one regime shorter, diffs (3,3,3,1,1,1) → LM = 2.2222 →
    //    22222, NOT rejected (same clustering shape, below the χ²
    //    bar at n = 5 — the size-sensitivity the statistic owes);
    //  - u: constant diffs → z constant → dena = 0 EXACTLY (integer
    //    guard) → NULL statistic, explicit non-reject.
    val s = spark
    import s.implicits._
    def series(name: String, ys: Seq[Long]) =
      ys.zipWithIndex.map { case (v, i) =>
        (name, java.sql.Date.valueOf(f"2024-03-${i + 1}%02d"), v)
      }
    val daily = (series("u", Seq(100L, 102, 104, 106, 108, 110, 112)) ++
      series("v", Seq(100L, 103, 106, 109, 112, 113, 114, 115, 116)) ++
      series("w", Seq(100L, 103, 106, 109, 110, 111, 112)))
      .toDF("event_type", "day", "y")
    val got = graft.operators.Estimation.archLm(daily).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      ("u", 5L, null, false),
      ("v", 7L, 39375L, true),
      ("w", 5L, 22222L, false)),
      s"planted ARCH battery diverged: $got")
  }

  test("t27 brownForsythe: tenfold spread rejects, all-constant groups degenerate (planted)") {
    // Battery 1 — the statistic's signature: two groups with the SAME
    // shape (1..9 vs 10·(1..9)) so medians differ but each group's
    // median-absolute deviations scale by exactly 10; the pooled
    // between-group deviation spread dominates within-group spread and
    // W = 16·7200/6284.4̄ ≈ 18.33 ≫ F(1,16) ≈ χ²(1) crit → reject at
    // df1 = 1 (f_e4·1 > 38415). Battery 2 — both groups CONSTANT: every
    // z2 = 0, the exact integer test ssw_int = Σ(n·Q − S²) = 0 fires →
    // documented NULL statistic, explicit non-reject (the t8/w18 class).
    val s = spark
    import s.implicits._
    val b1 = ((1 to 9).map(v => ("a", v.toLong)) ++
      (1 to 9).map(v => ("b", v * 10L))).toDF("event_type", "x")
    val r1 = graft.operators.Estimation.brownForsythe(b1).collect()(0)
    assert(r1.getInt(0) == 2 && r1.getLong(1) == 18L && r1.getInt(2) == 1)
    val f1 = r1.getLong(3)
    assert(f1 > 183000L && f1 < 184000L, s"planted F drifted: $f1")
    assert(r1.getBoolean(4), "tenfold spread must reject")
    val b2 = ((1 to 5).map(_ => ("a", 5L)) ++
      (1 to 5).map(_ => ("b", 7L))).toDF("event_type", "x")
    val r2 = graft.operators.Estimation.brownForsythe(b2).collect()(0)
    assert(r2.isNullAt(3), "all-constant groups must yield NULL F")
    assert(!r2.getBoolean(4), "degenerate must not reject")
  }

  test("t28 bartlett: tenfold spread rejects, a constant group degenerates (planted)") {
    // Battery 1 — t27's own planted pair (1..9 vs 10·(1..9)): variances
    // 7.5 vs 750, pooled 378.75, T = [16·ln(378.75) − 8·(ln 7.5 +
    // ln 750)]/1.0625 ≈ 24.386 ≫ χ²(1) → reject at df1 = 1; the e4
    // value is pinned to the quantized-chain closed form (243861, the
    // python replay of the shared arithmetic). Battery 2 — one group
    // constant: its vi = n·Σx² − (Σx)² = 0 fires the exact integer
    // guard (ln never evaluates) → NULL statistic, explicit non-reject,
    // even though the OTHER group has healthy spread. Battery 3 — a
    // singleton group is excluded up front (n_i < 2), leaving k = 1 <
    // 2 → NULL (between-group comparison needs two groups).
    val s = spark
    import s.implicits._
    val b1 = ((1 to 9).map(v => ("a", v.toLong)) ++
      (1 to 9).map(v => ("b", v * 10L))).toDF("event_type", "x")
    val r1 = graft.operators.Estimation.bartlett(b1).collect()(0)
    assert(r1.getInt(0) == 2 && r1.getLong(1) == 18L && r1.getInt(2) == 1)
    assert(r1.getLong(3) == 243861L, s"planted T drifted: ${r1.getLong(3)}")
    assert(r1.getBoolean(4), "tenfold spread must reject")
    val b2 = ((1 to 5).map(_ => ("a", 5L)) ++
      (1 to 9).map(v => ("b", v.toLong))).toDF("event_type", "x")
    val r2 = graft.operators.Estimation.bartlett(b2).collect()(0)
    assert(r2.isNullAt(3), "constant group must yield NULL T")
    assert(!r2.getBoolean(4), "degenerate must not reject")
    val b3 = (Seq(("a", 3L)) ++
      (1 to 9).map(v => ("b", v.toLong))).toDF("event_type", "x")
    val r3 = graft.operators.Estimation.bartlett(b3).collect()(0)
    assert(r3.getInt(0) == 1 && r3.isNullAt(3) && !r3.getBoolean(4),
      "singleton group must be excluded and k=1 must degenerate")
  }

  test("w31 changepoint: a planted level shift localizes exactly; constant and short series degenerate") {
    // Battery 1 — 30 days at level 100 then a jump to 200 from day 16:
    // the max-gain split is exactly τ = 15 (last left-segment day),
    // means 100.00/200.00 at e2 — an AMOC detector that misses a
    // clean step by even one day is wrong, not approximate. Battery 2
    // — constant series: vi = n·Σx² − (Σx)² = 0 → NULL split, no
    // change. Battery 3 — an 8-day series has no τ with 5 on both
    // sides → NULL split, kept in the output (full coverage).
    val s = spark
    import s.implicits._
    import java.sql.Date
    def day(i: Int): Date = Date.valueOf(f"2024-02-${i}%02d")
    val b1 = (1 to 30).map(i =>
      ("a", day(i), if (i <= 15) 100L else 200L)) ++
      (1 to 20).map(i => ("b", day(i), 77L)) ++
      (1 to 8).map(i => ("c", day(i), i.toLong))
    val got = graft.operators.Estimation.changepoint(
        b1.toDF("event_type", "day", "x"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(3)), Option(r.get(5)), Option(r.get(6)),
          r.getBoolean(7))).toMap
    assert(got("a") == ((Some(15), Some(10000L), Some(20000L), true)),
      s"planted step mislocalized: ${got("a")}")
    assert(got("b") == ((None, None, None, false)),
      s"constant series must degenerate: ${got("b")}")
    assert(got("c") == ((None, None, None, false)),
      s"short series must degenerate: ${got("c")}")
  }

  test("m30 grCombo: LS combo never loses to the better component; degenerates rout (planted)") {
    // The Granger–Ramanathan law, pinned: whenever the weights are
    // defined, in-sample SSE of the regression combo is ≤ min(SSE₁,
    // SSE₂) BY CONSTRUCTION (the single models are in the span of
    // {f₁, f₂}), so imp_e6 ≤ 1e6 — a violation means the normal
    // equations or an accumulator broke. Battery 1: a series with real
    // signal (ramp + alternation) has defined weights and imp ≤ 1e6.
    // Battery 2: a CONSTANT series makes the two forecasts agree
    // everywhere — the exact Σ(f₁−f₂)² = 0 route — NULL weights,
    // fc_combo = the EWMA forecast (m26's fallback). Battery 3: a
    // 3-day series (2 forecast pairs < 3) degenerates on n_pairs.
    val s = spark
    import s.implicits._
    import java.sql.Date
    def day(i: Int): Date = Date.valueOf(f"2024-03-${i}%02d")
    val rows = (1 to 20).map(i =>
      ("a", day(i), 1000L + 50L * i + (if (i % 2 == 0) 200L else -200L))) ++
      (1 to 10).map(i => ("b", day(i), 500L)) ++
      (1 to 3).map(i => ("c", day(i), 100L * i))
    val got = graft.operators.Estimation.grCombo(
        rows.toDF("event_type", "day", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(4)),
          Option(r.get(5)))).toMap
    val (nA, wA, fcA, impA) = got("a")
    assert(nA == 19L && wA.nonEmpty, s"battery 1 should define weights: $wA")
    assert(impA.exists(_.asInstanceOf[Long] <= 1000000L),
      s"LS combo lost to the better component: imp=$impA")
    val (nB, wB, fcB, _) = got("b")
    assert(nB == 9L && wB.isEmpty, "constant series must yield NULL weights")
    assert(fcB.contains(500L), s"fallback must be the EWMA forecast: $fcB")
    assert(got("c")._2.isEmpty, "2 forecast pairs must degenerate on n_pairs")
  }

  test("w32 varChangepoint: a planted volatility shift localizes and rejects; degenerates rout") {
    // Battery 1 — 21 days of ±1 wiggle then 20 of ±100: the variance
    // regime change sits at diff-index 20, the IT statistic explodes
    // past 1.358 (z² mass is ~10⁴× concentrated after the break), and
    // the exact-integer argmax must land on the boundary (k* ∈ {20,
    // 21} — the last small diff or the first big one; IT's |D_k| is
    // extremal where the mass regime turns, and which side wins is a
    // convention, not an error). Battery 2 — constant series: C_m = 0
    // fires the exact guard → NULL + non-reject. Battery 3 — two days
    // (m = 1 < 2) degenerates on length.
    val s = spark
    import s.implicits._
    import java.sql.Date
    def day(i: Int): Date = Date.valueOf(
      java.time.LocalDate.of(2024, 4, 1).plusDays(i - 1))
    val wig = (1 to 21).map(i =>
      ("a", day(i), 1000L + (if (i % 2 == 0) 1L else 0L)))
    val vol = (22 to 41).map(i =>
      ("a", day(i), 1000L + (if (i % 2 == 0) 100L else -100L)))
    val rows = wig ++ vol ++
      (1 to 12).map(i => ("b", day(i), 777L)) ++
      (1 to 2).map(i => ("c", day(i), 10L * i))
    val got = graft.operators.Estimation.varChangepoint(
        rows.toDF("event_type", "day", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(3)), Option(r.get(4)),
          r.getBoolean(5))).toMap
    val (mA, kA, statA, rejA) = got("a")
    assert(mA == 40L, s"diff count: $mA")
    assert(kA.exists(k => k == 20 || k == 21),
      s"variance break mislocalized: $kA")
    assert(rejA && statA.exists(_.asInstanceOf[Long] > 1358000L),
      s"planted volatility shift must reject: $statA")
    assert(got("b") == ((11L, None, None, false)),
      s"constant series must degenerate: ${got("b")}")
    assert(got("c") == ((1L, None, None, false)),
      s"m = 1 must degenerate: ${got("c")}")
  }

  test("t30 pettitt: a planted step rejects at the exact break; constant series is powerless not NULL") {
    // Battery 1 — w31's own planted step (15 days at 100, 15 at 200):
    // Pettitt must localize k* = 15 with K = 15·15 = 225 (every
    // cross-pair a sign) and p = 2·exp(−6·225²/(30³+30²)) ≈ 3.7e−5 →
    // reject. Battery 2 — constant: every V = 0, K = 0, p capped at
    // 1e6, NOT rejected but fully REPORTED (the test is defined there,
    // just powerless — a NULL would misreport definedness). Battery 3
    // — heavy-tail robustness, the reason this test exists beside w31:
    // the same step with one absurd outlier (10⁹) in the left half
    // still localizes k* = 15 and rejects, where least-squares gain
    // would chase the outlier.
    val s = spark
    import s.implicits._
    import java.sql.Date
    def day(i: Int): Date = Date.valueOf(
      java.time.LocalDate.of(2024, 5, 1).plusDays(i - 1))
    val step = (1 to 30).map(i =>
      ("a", day(i), if (i <= 15) 100L else 200L))
    val const = (1 to 10).map(i => ("b", day(i), 42L))
    val outlier = (1 to 30).map(i =>
      ("c", day(i), if (i == 7) 1000000000L
        else if (i <= 15) 100L else 200L))
    val got = graft.operators.Estimation.pettitt(
        (step ++ const ++ outlier).toDF("event_type", "day", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(3)), Option(r.get(4)),
          Option(r.get(5)), r.getBoolean(6))).toMap
    assert(got("a") == ((30L, Some(15), Some(225L), Some(37L), true)),
      s"planted step diverged: ${got("a")}")
    val (nB, kB, ksB, pB, rejB) = got("b")
    assert(ksB.contains(0L) && pB.contains(1000000L) && !rejB,
      s"constant series must be powerless, not NULL: ${got("b")}")
    val (_, kC, _, _, rejC) = got("c")
    assert(kC.contains(15) && rejC,
      s"outlier robustness failed: ${got("c")}")
  }

  test("t31 mannKendall: a monotone ramp rejects at the exact closed form; ties and constants rout") {
    // Battery 1 — a strict 10-day ramp: S = C(10,2) = 45 (every pair
    // concordant), no ties so var18 = 10·9·25 = 2250, z = 44/√125 =
    // 3.93547 → z_e4 = 39355, reject. Battery 2 — constant series:
    // var18 = n(n−1)(2n+5) − t(t−1)(2t+5) = 0 exactly (one tie group
    // of size n) → NULL z, non-reject. Battery 3 — the TIE CORRECTION
    // pinned: 1,1,2,2,3 has S = 8, n = 5, tie18 = 2·[2·1·9] = 36,
    // var18 = 5·4·15 − 36 = 264, z = 7/√(264/18) = 1.82775 → z_e4 =
    // 18278, NOT rejected — the uncorrected variance (300) would give
    // z = 1.714, so the planted value pins the correction's sign too.
    val s = spark
    import s.implicits._
    import java.sql.Date
    def day(i: Int): Date = Date.valueOf(
      java.time.LocalDate.of(2024, 6, 1).plusDays(i - 1))
    val rows = (1 to 10).map(i => ("a", day(i), 100L + i)) ++
      (1 to 8).map(i => ("b", day(i), 7L)) ++
      Seq(1L, 1, 2, 2, 3).zipWithIndex.map { case (v, i) =>
        ("c", day(i + 1), v) }
    val got = graft.operators.Estimation.mannKendall(
        rows.toDF("event_type", "day", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)),
          r.getBoolean(5))).toMap
    assert(got("a") == ((10L, 45L, 2250L, Some(39355L), true)),
      s"ramp diverged: ${got("a")}")
    assert(got("b") == ((8L, 0L, 0L, None, false)),
      s"constant must degenerate: ${got("b")}")
    assert(got("c") == ((5L, 8L, 264L, Some(18278L), false)),
      s"tie correction diverged: ${got("c")}")
  }

  test("m28 splitConformal: a tiny-calibration key must not crash the query (planted)") {
    // The r14 ADVICE crash class: the cal stage evaluates element_at for
    // EVERY key, including ones the test-side join later drops — a key
    // with n_cal ≤ 8 errors has k = ⌈0.9·(n_cal+1)⌉ > n_cal, and ANSI
    // element_at throws out-of-bounds where DuckDB's arr[k] is NULL.
    // Plant one long key (25 days → 24 errors: 20 cal + 4 test, radius
    // frozen) beside one 6-day key (5 errors < k = 6 — the guard's
    // branch): the query must SUCCEED, emit the long key with a frozen
    // radius, and omit the tiny key (it has no rn > 20 rows).
    val s = spark
    import s.implicits._
    val longKey = (1 to 25).map(i =>
      ("long", f"2024-01-$i%02d", (i.toLong * i) % 97))
    val tinyKey = (1 to 6).map(i =>
      ("tiny", f"2024-01-$i%02d", i * 11L))
    val daily = (longKey ++ tinyKey).toDF("event_type", "day", "x")
    val got = graft.operators.Estimation.splitConformal(daily).collect()
    assert(got.length == 1, s"expected only the long key: ${got.toSeq}")
    val r = got(0)
    assert(r.getString(0) == "long" && r.getLong(1) == 20L &&
      r.getLong(2) == 4L && !r.isNullAt(3),
      s"long key must carry a frozen radius: $r")
  }

  test("t26 friedman: consistent blocks reject, incomplete days drop, all-tied degenerates (planted)") {
    // Battery 1 — Friedman's signature: a < b < c WITHIN every day
    // while the daily LEVELS shift by decades (1,2,3 / 11,12,13 / ...),
    // so a global pool (t20's view) sees heavy mixing but the blocked
    // ranks are perfectly consistent: R2 = (8, 16, 24) over n = 4
    // complete days, chi2 = 12/(4*3*4)*224 - 48 = 8 exactly →
    // chi2_e4 = 80000 > 59915 (df = 2) → reject. A 5th day carrying
    // only type 'a' must be EXCLUDED by the complete-block guard
    // (n stays 4 — an unbalanced day would skew every rank sum).
    // Battery 2 — both types tied within every day: tsum = 3·(2³−2) =
    // 18 = n·(k³−k) EXACTLY (the integer degenerate test) → NULL
    // statistic, explicit non-reject, mean rank 1.5 for both.
    val s = spark
    import s.implicits._
    def rows(tp: String, vals: Seq[(Int, Long)]) =
      vals.map { case (di, v) =>
        (tp, java.sql.Date.valueOf(f"2024-03-${di}%02d"), v)
      }
    val b1 = (rows("a", Seq(1 -> 1L, 2 -> 11L, 3 -> 21L, 4 -> 31L, 5 -> 99L)) ++
      rows("b", Seq(1 -> 2L, 2 -> 12L, 3 -> 22L, 4 -> 32L)) ++
      rows("c", Seq(1 -> 3L, 2 -> 13L, 3 -> 23L, 4 -> 33L)))
      .toDF("event_type", "day", "x")
    val got1 = graft.operators.Estimation.friedman(b1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), if (r.isNullAt(5)) null else r.getLong(5),
        r.getBoolean(6))).toSeq
    assert(got1 == Seq(
      ("a", 4L, 8L, 1000000L, 2, 80000L, true),
      ("b", 4L, 16L, 2000000L, 2, 80000L, true),
      ("c", 4L, 24L, 3000000L, 2, 80000L, true)),
      s"planted Friedman battery 1 diverged: $got1")
    val b2 = (rows("p", Seq(1 -> 5L, 2 -> 7L, 3 -> 9L)) ++
      rows("q", Seq(1 -> 5L, 2 -> 7L, 3 -> 9L)))
      .toDF("event_type", "day", "x")
    val got2 = graft.operators.Estimation.friedman(b2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), if (r.isNullAt(5)) null else r.getLong(5),
        r.getBoolean(6))).toSeq
    assert(got2 == Seq(
      ("p", 3L, 9L, 1500000L, 1, null, false),
      ("q", 3L, 9L, 1500000L, 1, null, false)),
      s"planted Friedman battery 2 diverged: $got2")
  }

  test("m26 forecastCombo: the combination is a true weighted average; constant series hit the NULL-weight branch") {
    // Two pins without hand-replaying the joint recursion (the
    // component recursions are already planted in the w22/w23 specs):
    //  - PROPERTY, on a trending and an alternating hand series: the
    //    combined forecast must lie in [min(F_E, F_H), max(F_E, F_H)]
    //    (it is a convex combination by construction — cleared-
    //    denominator integer division can floor but never exit the
    //    hull), and the weight must favor the model with the SMALLER
    //    error sum (w_ewma > 5e5 ⟺ sae_ewma < sae_holt);
    //  - DEGENERATE: a constant series makes both models exact
    //    (den = 0, the integer test) → NULL weight and
    //    fc_combo = fc_ewma = the constant, with both saes zero.
    val s = spark
    import s.implicits._
    def series(name: String, vals: Seq[Long]) =
      vals.zipWithIndex.map { case (v, i) =>
        (name, java.sql.Date.valueOf(f"2024-03-${i + 1}%02d"), v)
      }
    val daily = (series("trend", (1 to 12).map(i => 100L + 10 * i)) ++
      series("flat", Seq.fill(8)(500L)) ++
      series("saw", (1 to 12).map(i => if (i % 2 == 0) 900L else 100L)))
      .toDF("event_type", "day", "x")
    val rows = graft.operators.Estimation.forecastCombo(daily).collect()
      .map(r => r.getString(0) -> r).toMap
    for (k <- Seq("trend", "saw")) {
      val r = rows(k)
      val (fe, fh, se, sh) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val (w, combo) = (r.getLong(6), r.getLong(7))
      assert(combo >= math.min(fe, fh) && combo <= math.max(fe, fh),
        s"$k: combo $combo outside [$fe, $fh]")
      assert((w > 500000) == (se < sh),
        s"$k: weight $w disagrees with error ordering ($se vs $sh)")
    }
    val f = rows("flat")
    assert(f.getLong(4) == 0L && f.getLong(5) == 0L && f.isNullAt(6) &&
      f.getLong(7) == 500L && f.getLong(2) == 500L,
      s"flat series should hit the den=0 branch: $f")
  }

  test("permutationSignFlip: planted systematic shift rejects, symmetric null does not") {
    // t32's planted branches. Shift pair: 'big' sits exactly 1000 cents
    // above 'base' every day, so |T_b| >= |T_obs| = 30000 only under an
    // all-equal flip pattern — none of the 64 deterministic patterns is
    // (asserted via n_ge = 0), p = 1/65 -> reject. Null pair: diffs
    // alternate +-1000 over 30 days, T_obs = 0, so EVERY replicate ties
    // or beats it — n_ge = 64, p = 1, no reject.
    val s = spark
    import s.implicits._
    val days = (1 to 30).map(i => java.sql.Date.valueOf(f"2024-01-$i%02d"))
    val daily = (
      days.map(d => ("base", d, 0L)) ++ days.map(d => ("big", d, 1000L)) ++
        days.zipWithIndex.flatMap { case (d, i) =>
          Seq(("n1", d, if (i % 2 == 0) 1000L else 0L),
            ("n2", d, if (i % 2 == 0) 0L else 1000L))
        }).toDF("event_type", "day", "x")
    val r = graft.operators.Estimation.permutationSignFlip(daily).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(3), x.getLong(4), x.getBoolean(6)))).toMap
    val (tObs, nGe, rej) = r(("base", "big"))
    assert(tObs == -30000L && nGe == 0L && rej,
      s"planted shift must reject with n_ge=0: ${r(("base", "big"))}")
    val (tObsN, nGeN, rejN) = r(("n1", "n2"))
    assert(tObsN == 0L && nGeN == 64L && !rejN,
      s"symmetric null must not reject: ${r(("n1", "n2"))}")
  }
}
