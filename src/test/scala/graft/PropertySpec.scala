package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks for the custom operators whose example-based
  * tests pin specific edges: randomized inputs search the space BETWEEN
  * the edges (duplicate keys, ties, empty groups, all-tied scores) for
  * divergence from an executable brute-force reference. Seeded — every
  * run draws the same cases, so a failure here reproduces.
  */
class PropertySpec extends AnyFunSuite with SparkSuite {

  private def check(name: String, cases: Int, prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withInitialSeed(Seed(0xC0FFEE_11L)),
      prop)
    assert(res.passed, s"$name: $res")
  }

  // Small domains on purpose: collisions, ties, and empty groups must be
  // COMMON, not lucky draws.
  private val keyGen = Gen.choose(0L, 2L)
  private val tsGen = Gen.choose(0L, 12L)
  private val valGen = Gen.choose(-5L, 5L)

  // Spark's Round on DoubleType: BigDecimal.valueOf (the SHORTEST
  // decimal repr, not the exact binary value) then HALF_UP — every
  // local reference must replicate it verbatim; floor(x+0.5) diverges
  // on the 0.49999999999999994 class and math.round rounds negative
  // halves toward zero.
  private def rnd(x: Double): Long = java.math.BigDecimal.valueOf(x)
    .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private val panelD0 = java.time.LocalDate.of(2024, 1, 1)
  private def day(i: Int) = java.sql.Date.valueOf(panelD0.plusDays(i))

  // Shared daily-panel series generator: short series with irregular
  // day gaps, occasional constants (degenerate branches), and
  // sub-kilocent values (everything quantizes to zero).
  private val dailySeriesGen: Gen[List[(Int, Long)]] = Gen.zip(
    Gen.choose(1, 26),
    Gen.oneOf(Gen.const(0L), Gen.choose(-2000000L, 2000000L), valGen))
    .flatMap { case (len, base) =>
      Gen.zip(
        Gen.listOfN(len, Gen.choose(0, 60)).map(_.distinct.sorted),
        Gen.oneOf(true, false)).flatMap { case (days, const) =>
        if (const) Gen.const(days.map(i => (i, base)))
        else Gen.listOfN(days.length, Gen.choose(-2000000L, 2000000L))
          .map(vs => days.zip(vs))
      }
    }

  test("asOfJoin equals the per-probe brute force on random quote/probe sets") {
    val s = spark
    import s.implicits._
    val rowGen = Gen.zip(keyGen, tsGen, valGen)
    val setsGen = Gen.zip(
      Gen.listOfN(14, rowGen), Gen.listOfN(10, rowGen))
    val prop = Prop.forAll(setsGen) { case (quotes, probes) =>
      val probe = probes.toDF("k", "ts", "pv")
      val quote = quotes.toDF("k", "ts", "qv")
      val got = graft.operators.Relational
        .asOfJoin(probe, quote, Seq("k"), "ts")
        .collect()
        .map { r =>
          val m = Option(r.getStruct(3))
            .map(q => (q.getLong(0), q.getLong(1), q.getLong(2)))
          ((r.getLong(0), r.getLong(1), r.getLong(2)), m)
        }
        .sortBy(x => (x._1, x._2))
      // Brute force: latest quote at-or-before, ties by the FULL quote
      // row ascending (the documented struct tie-break) — the max such
      // row wins. Quote column order is (k, ts, qv).
      val want = probes.map { case p @ (k, ts, _) =>
        val cands = quotes.filter(q => q._1 == k && q._2 <= ts)
        (p, if (cands.isEmpty) None else Some(cands.max))
      }.sortBy(x => (x._1, x._2))
      got.toSeq == want
    }
    check("asOfJoin", cases = 12, prop)
  }

  test("topKCut equals the sorted-take reference for every group, any k") {
    val s = spark
    import s.implicits._
    val rowGen = Gen.zip(keyGen, valGen, Gen.choose(0L, 30L))
    val caseGen = Gen.zip(Gen.listOfN(20, rowGen), Gen.choose(1, 5),
      Gen.oneOf(true, false))
    val prop = Prop.forAll(caseGen) { case (rows, k, asc) =>
      val df = rows.toDF("g", "score", "id")
      val got = graft.operators.AnnIndex
        .topKCut(df, "g", "score", "id", k, asc, "s", "i")
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getInt(3)))
        .sortBy(x => (x._1, x._4))
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val ordered =
          if (asc) rs.map(r => (r._2, r._3)).sorted
          else rs.map(r => (r._2, r._3)).sortBy { case (sc, id) => (-sc, id) }
        ordered.take(k).zipWithIndex.map { case ((sc, id), i) =>
          (g, sc, id, i + 1)
        }
      }.sortBy(x => (x._1, x._4))
      got.toSeq == want
    }
    check("topKCut", cases = 12, prop)
  }

  test("topKCut dedup=true equals distinct-then-cut on duplicate-bearing input (r20)") {
    // The walk kernels dropped their per-round pool.distinct() and rely
    // on the TopKPairs dedup flag instead — this pins the equivalence
    // the restructure rests on: for ANY multiset of (g, score, id) rows
    // (small domains force exact duplicates, including dups of pairs
    // that straddle the cut boundary), the dedup cut returns exactly
    // the plain cut of the distinct input, both orders of the flag.
    val s = spark
    import s.implicits._
    val rowGen = Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 5L),
      Gen.choose(0L, 7L))
    val caseGen = Gen.zip(Gen.listOfN(40, rowGen), Gen.choose(1, 4),
      Gen.oneOf(true, false))
    val prop = Prop.forAll(caseGen) { case (rows, k, asc) =>
      val df = rows.toDF("g", "score", "id")
      def shape(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(2), r.getLong(1), r.getInt(3))
      val got = graft.operators.AnnIndex
        .topKCut(df, "g", "score", "id", k, asc, "s", "i", dedup = true)
        .collect().map(shape).sortBy(x => (x._1, x._4)).toSeq
      val want = graft.operators.AnnIndex
        .topKCut(df.distinct(), "g", "score", "id", k, asc, "s", "i")
        .collect().map(shape).sortBy(x => (x._1, x._4)).toSeq
      got == want
    }
    check("topKCutDedup", cases = 12, prop)
  }

  test("kmvDistinct: under-k groups are exact; n_sample = min(k, distinct)") {
    val s = spark
    import s.implicits._
    val rowGen = Gen.zip(keyGen, Gen.choose(0L, 40L))
    val prop = Prop.forAll(Gen.listOfN(30, rowGen)) { rows =>
      val df = rows.toDF("g", "v")
      val k = 16
      val got = graft.operators.Relational.kmvDistinct(df, "g", "v", k)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      rows.groupBy(_._1).forall { case (g, rs) =>
        val nd = rs.map(_._2).distinct.size.toLong
        val (ns, est, exact) = got(g)
        exact == nd && ns == math.min(k.toLong, nd) &&
          (nd >= k || est == nd * 1000000L)
      }
    }
    check("kmvDistinct", cases = 12, prop)
  }

  test("MisraGries: every key above n/k survives, any input distribution") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.GraftExpressionBridge
    // Zipf-ish draws so heavy hitters actually occur: key 0 is drawn
    // ~half the time.
    val skewGen = Gen.frequency(
      (8, Gen.const("h0")), (3, Gen.const("h1")),
      (2, Gen.const("m0")), (1, Gen.choose(0, 20).map("t" + _)))
    val prop = Prop.forAll(Gen.listOfN(60, skewGen)) { rows =>
      val k = 8
      val mg = GraftExpressionBridge.column(
        graft.functions.MisraGries(
          GraftExpressionBridge.expression(col("t")), k)
          .toAggregateExpression())
      val cands = rows.toDF("t").repartition(4)
        .agg(mg.as("c")).collect()(0)
        .getSeq[String](0).toSet
      val n = rows.size
      val heavy = rows.groupBy(identity)
        .collect { case (t, occ) if occ.size * k > n => t }
      cands.size <= k - 1 && heavy.forall(cands.contains)
    }
    check("MisraGries", cases = 12, prop)
  }

  test("KmvBottomK buffer equals the sorted-distinct-take reference, any offer order or split") {
    // The set-semantics contract the streaming KMV fold rests on:
    // however pairs arrive — duplicated, shuffled, or split across two
    // buffers then merged (the micro-batch shape) — the state must be
    // exactly the k smallest DISTINCT (score, id) pairs in order.
    // Small domains so duplicates and full-buffer evictions are common.
    val pairGen = Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 4L))
    val prop = Prop.forAll(
      Gen.listOfN(40, pairGen), Gen.choose(1, 8), Gen.choose(0, 40)) {
      (pairs, k, cut) =>
        val want = pairs.distinct.sorted.take(k)
        val direct = new graft.functions.KmvBottomK.Buffer(k)
        pairs.foreach { case (s, i) => direct.offer(s, i) }
        val a = new graft.functions.KmvBottomK.Buffer(k)
        val b = new graft.functions.KmvBottomK.Buffer(k)
        pairs.take(cut).foreach { case (s, i) => a.offer(s, i) }
        pairs.drop(cut).foreach { case (s, i) => b.offer(s, i) }
        (0 until b.size).foreach(j => a.offer(b.scores(j), b.ids(j)))
        def dump(buf: graft.functions.KmvBottomK.Buffer) =
          (0 until buf.size).map(j => (buf.scores(j), buf.ids(j))).toList
        dump(direct) == want && dump(a) == want
    }
    check("KmvBottomK", cases = 40, prop)
  }

  test("intervalSweep and intervalOverlapPairs equal their brute-force references on random intervals") {
    // Small day-domain so intervals collide, nest, touch, and straddle
    // the 4-day grid cells constantly. The sweep's (peak, earliest day)
    // is checked against literal per-day counting; the overlap-pair
    // count against the O(n²) pairwise predicate — cell width 4 with
    // intervals up to 4 days long keeps the ≤2-cells invariant under
    // pressure (length-4 exactly fills a cell or straddles two).
    val s = spark
    import s.implicits._
    import java.time.LocalDate
    val epoch = LocalDate.of(2024, 6, 1)
    def day(i: Long) = java.sql.Date.valueOf(epoch.plusDays(i))
    val ivGen = for {
      key <- Gen.choose(0L, 1L)
      sd <- Gen.choose(0L, 11L)
      len <- Gen.choose(0L, 3L)
    } yield (key, sd, sd + len)
    val prop = Prop.forAll(Gen.listOfN(9, ivGen)) { raw =>
      val iv = raw.zipWithIndex.map { case ((k, sd, ed), i) =>
        (k, i.toLong, sd, ed)
      }
      // Brute force per key: per-day counts and pairwise overlaps.
      val wantSweep = iv.groupBy(_._1).map { case (k, xs) =>
        val byDay = (0L to 16L).map(t =>
          t -> xs.count(x => x._3 <= t && t <= x._4))
        val peak = byDay.map(_._2).max
        k -> (peak.toLong, byDay.find(_._2 == peak).get._1)
      }
      val wantPairs = iv.groupBy(_._1).map { case (k, xs) =>
        k -> (xs.size.toLong,
          xs.combinations(2).count { case Seq(a, b) =>
            a._3 <= b._4 && b._3 <= a._4 }.toLong)
      }
      val dates = iv.map { case (k, u, sd, ed) => (k, u, day(sd), day(ed)) }
        .toDF("key", "uid", "s", "e")
      val gotSweep = graft.operators.Relational
        .intervalSweep(dates, "key", "s", "e")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), epoch.until(r.getDate(2).toLocalDate,
            java.time.temporal.ChronoUnit.DAYS))).toMap
      val gotPairs = graft.operators.Relational
        .intervalOverlapPairs(
          iv.toDF("key", "uid", "sd", "ed"), cellDays = 4)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      gotSweep == wantSweep && gotPairs == wantPairs
    }
    check("intervalKernels", cases = 10, prop)
  }

  test("bpeTrain equals a local greedy-BPE reference on random corpora") {
    // The x28/x29 kernel against an executable local re-implementation:
    // same pair counting, same (count desc, pair lex) argmax, same
    // greedy non-overlapping left-to-right fold, same permanent early
    // stop. A two-letter alphabet makes overlapping runs (the aaa
    // case) and argmax ties COMMON; both the learned merge sequence
    // and the final encoded vocab must match case-for-case — which
    // also implies the reconstruction law (concat(syms) == word) the
    // reference preserves by construction.
    val s = spark
    import s.implicits._
    def foldMerge(syms: List[String], a: String, b: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
        else acc :+ x
      }
    def localBpe(words: List[(String, Long)], k: Int)
        : (List[(String, String)], Map[String, List[String]]) = {
      var vocab = words.map { case (w, c) =>
        w -> (c, w.map(_.toString).toList)
      }.toMap
      val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
      var alive = true
      for (_ <- 1 to k if alive) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        for ((_, (c, syms)) <- vocab; i <- 0 until syms.length - 1)
          pc((syms(i), syms(i + 1))) += c
        if (pc.isEmpty) alive = false
        else {
          val ((a, b), _) = pc.toList.minBy { case ((a, b), c) => (-c, a, b) }
          merges += ((a, b))
          vocab = vocab.view.mapValues { case (c, syms) =>
            (c, foldMerge(syms, a, b))
          }.toMap
        }
      }
      (merges.toList, vocab.view.mapValues(_._2).toMap)
    }
    val wordGen = Gen.zip(
      Gen.choose(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString)),
      Gen.choose(1L, 4L))
    val prop = Prop.forAll(Gen.listOfN(6, wordGen)) { raw =>
      val words = raw.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toList.sortBy(_._1)
      val (wantMerges, wantVocab) = localBpe(words, 3)
      val (gotMerges, vocabDf) =
        graft.operators.TextPipeline.bpeTrain(words.toDF("word", "cnt"), 3)
      val gotVocab = vocabDf.collect()
        .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
      vocabDf.unpersist()
      gotMerges.map(t => (t._2, t._3)) == wantMerges && gotVocab == wantVocab
    }
    check("bpeTrain", cases = 10, prop)
  }

  test("theilSen/ljungBox/jarqueBera equal their local integer references on random panels") {
    // The three r12 diagnostic kernels against executable local
    // re-implementations of the EXACT quantization chain (same IEEE
    // expression shapes, same half-away-from-zero rounding — NOT
    // math.round, which rounds −.5 toward zero and would diverge on
    // negative-half ties the integer-day slope ratios genuinely
    // produce). Panels draw short series with irregular day gaps,
    // occasional constants (degenerate branches), and sub-kilocent
    // values (everything quantizes to zero) — parity must hold on all.
    val s = spark
    import s.implicits._
    def localTheilSen(series: List[(Int, Long)]): Option[(Long, Long, Boolean)] = {
      val pts = series.sortBy(_._1)
      val slopes = for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield rnd((pts(j)._2 - pts(i)._2) * 1000.0 / (pts(j)._1 - pts(i)._1))
      if (slopes.isEmpty) None
      else {
        val m = slopes.length.toLong
        val med = slopes.sorted.apply(((m + 1) / 2 - 1).toInt)
        Some((m, med, med > 0))
      }
    }
    def localJb(series: List[(Int, Long)])
        : (Long, Option[Long], Option[Long], Option[Long], Boolean) = {
      val n = series.length.toLong
      val sx = series.map(_._2).sum
      val us = series.map { case (_, x) => rnd(((n * x - sx) * 1.0 / n) / 1000.0) }
      val s2 = us.map(u => u * u).sum
      val s3 = us.map(u => u * u * u).sum
      val s4 = us.map(u => u * u * u * u).sum
      if (s2 == 0) (n, None, None, None, false)
      else {
        val m2 = s2.toDouble / n
        val g1 = (s3.toDouble / n) / (m2 * math.sqrt(m2))
        val g2 = (s4.toDouble / n) / (m2 * m2)
        val jb = n / 6.0 * (g1 * g1 + (g2 - 3.0) * (g2 - 3.0) / 4.0)
        val jbE6 = rnd(jb * 1e6)
        (n, Some(rnd(g1 * 1e6)), Some(rnd(g2 * 1e6)), Some(jbE6),
          jbE6 > 5991465L)
      }
    }
    val crit = Map(1 -> 3841459L, 2 -> 5991465L, 3 -> 7814728L,
      4 -> 9487729L, 5 -> 11070498L, 6 -> 12591587L, 7 -> 14067140L,
      8 -> 15507313L, 9 -> 16918978L, 10 -> 18307038L)
    def localLb(series: List[(Int, Long)])
        : (Long, Long, Option[Long], Boolean) = {
      val pts = series.sortBy(_._1)
      val n = pts.length.toLong
      val sx = pts.map(_._2).sum
      val h = math.min(10L, n / 5)
      val e = pts.map { case (_, x) => n * x - sx }
      def sk(j: Int): Long =
        (0 until (e.length - j)).map { t =>
          rnd((e(t) * 1.0 / n / 1000.0) * (e(t + j) * 1.0 / n / 1000.0))
        }.sum
      val s0 = sk(0)
      val terms = (1 to h.toInt).filter(_ => s0 != 0).map { j =>
        rnd((sk(j).toDouble / s0) * (sk(j).toDouble / s0) / (n - j) * 1e12)
      }
      if (terms.isEmpty) (n, h, None, false)
      else {
        val q = (n * (n + 2) * terms.sum + 500000L) / 1000000L
        (n, h, Some(q), crit.get(h.toInt).exists(q > _))
      }
    }

    val panelGen = Gen.zip(dailySeriesGen, dailySeriesGen, dailySeriesGen)
    val prop = Prop.forAll(panelGen) { case (sa, sb, sc) =>
      val panel = Map("a" -> sa, "b" -> sb, "c" -> sc)
        .filter(_._2.nonEmpty)
      val df = panel.toList
        .flatMap { case (k, pts) => pts.map(p => (k, day(p._1), p._2)) }
        .toDF("event_type", "day", "x")
      val ts = graft.operators.Estimation.theilSen(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toMap
      val jb = graft.operators.Estimation.jarqueBera(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getBoolean(5)))
        .toMap
      val lb = graft.operators.Estimation.ljungBox(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getBoolean(4)))
        .toMap
      val errs = panel.toList.flatMap { case (k, pts) =>
        val e1 = localTheilSen(pts) match {
          case Some(w) if !ts.get(k).contains(w) =>
            List(s"theilSen $k: got ${ts.get(k)} want $w pts=$pts")
          case None if ts.contains(k) =>
            List(s"theilSen $k: got ${ts(k)} want absent pts=$pts")
          case _ => Nil
        }
        val e2 = if (jb(k) != localJb(pts))
          List(s"jb $k: got ${jb(k)} want ${localJb(pts)} pts=$pts") else Nil
        val e3 = if (lb(k) != localLb(pts))
          List(s"lb $k: got ${lb(k)} want ${localLb(pts)} pts=$pts") else Nil
        e1 ++ e2 ++ e3
      }
      Prop(errs.isEmpty) :| errs.mkString("; ")
    }
    check("diagnosticKernels", cases = 25, prop)
  }

  test("durbinWatson/trimmedMean/runsTest equal their local references on random panels") {
    // The three newest relational kernels against step-by-step local
    // replays mirroring the engine's expression shapes exactly (same
    // double op order, same BigDecimal HALF_UP rounding, same
    // truncating integer division). Panels include constants (every
    // degenerate branch), negatives, and single-point series.
    val s = spark
    import s.implicits._
    def localDw(series: List[(Int, Long)])
        : (Long, Long, Long, Option[Long], Boolean, Boolean) = {
      val pts = series.sortBy(_._1)
      val n = pts.length.toLong
      val sx = pts.map(_._2).sum
      val us = pts.map { case (_, x) => rnd(((n * x - sx) * 1.0 / n) / 1000.0) }
      val s2 = us.map(u => u * u).sum
      val ssd = us.zip(us.drop(1)).map { case (a, b) => (b - a) * (b - a) }.sum
      val dw = if (s2 != 0) Some(rnd(ssd * 1e6 / s2)) else None
      (n, ssd, s2, dw, dw.exists(_ < 1500000L), dw.exists(_ > 2500000L))
    }
    def localTm(series: List[(Int, Long)])
        : (Long, Long, Long, Long, Long) = {
      val n = series.length.toLong
      val g = n / 10
      val sorted = series.sortBy(p => (p._2, p._1)).map(_._2)
      val sx = sorted.sum
      val tsx = sorted.slice(g.toInt, (n - g).toInt).sum
      val lo = sorted(g.toInt)
      val hi = sorted((n - g - 1).toInt)
      (n, g, rnd(sx * 1e3 / n), rnd(tsx * 1e3 / (n - 2 * g)),
        rnd((tsx + g * (lo + hi)) * 1e3 / n))
    }
    def localRuns(series: List[(Int, Long)])
        : (Long, Long, Long, Long, Option[Long], Boolean) = {
      val byDay = series.sortBy(_._1)
      val n = byDay.length.toLong
      val med = series.sortBy(p => (p._2, p._1))
        .apply(((n + 1) / 2 - 1).toInt)._2
      val signs = byDay.map(p => if (p._2 > med) 1L else 0L)
      val n1 = signs.sum
      val n2 = n - n1
      val runs = 1L + signs.zip(signs.drop(1)).count { case (a, b) => a != b }
      val t2 = 2 * n1 * n2
      val z =
        if (n1 > 0 && n2 > 0 && t2 - n > 0)
          Some(rnd((runs - (t2.toDouble / n + 1)) /
            math.sqrt(t2.toDouble * (t2 - n) /
              (n.toDouble * n * (n - 1))) * 1e6))
        else None
      (n, n1, n2, runs, z, z.exists(v => math.abs(v) > 1959964L))
    }

    val prop = Prop.forAll(Gen.zip(dailySeriesGen, dailySeriesGen, dailySeriesGen)) {
      case (sa, sb, sc) =>
        val panel = Map("a" -> sa, "b" -> sb, "c" -> sc).filter(_._2.nonEmpty)
        val df = panel.toList
          .flatMap { case (k, pts) => pts.map(p => (k, day(p._1), p._2)) }
          .toDF("event_type", "day", "x")
        val dw = graft.operators.Estimation.durbinWatson(df).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getBoolean(5), r.getBoolean(6)))
          .toMap
        val tm = graft.operators.Estimation.trimmedMean(df).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5)))
          .toMap
        val rt = graft.operators.Estimation.runsTest(df).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getLong(5)),
            r.getBoolean(6)))
          .toMap
        val errs = panel.toList.flatMap { case (k, pts) =>
          val e1 = if (dw(k) != localDw(pts))
            List(s"dw $k: got ${dw(k)} want ${localDw(pts)} pts=$pts") else Nil
          val e2 = if (tm(k) != localTm(pts))
            List(s"tm $k: got ${tm(k)} want ${localTm(pts)} pts=$pts") else Nil
          val e3 = if (rt(k) != localRuns(pts))
            List(s"runs $k: got ${rt(k)} want ${localRuns(pts)} pts=$pts") else Nil
          e1 ++ e2 ++ e3
        }
        Prop(errs.isEmpty) :| errs.mkString("; ")
    }
    check("locationAndRuns", cases = 25, prop)
  }

  test("ewma/holt equal their local integer recursions on random panels") {
    // The two smoothing folds against step-by-step local replays. The
    // generator INCLUDES negative values and sawtooth series: Holt's
    // trend state (and hence the 3x+7F numerator) goes negative there,
    // pinning that the aggregate()'s `div` truncates toward zero like
    // Scala's Long division (the DuckDB `//` side is pinned by the
    // sf0.01 oracle gate, where declining series arise naturally).
    val s = spark
    import s.implicits._
    def localEwma(series: List[(Int, Long)]): (Long, Long, Long, Option[Long]) = {
      val xs = series.sortBy(_._1).map(_._2)
      var level = xs.head
      var sae = 0L
      xs.tail.foreach { x =>
        sae += math.abs(x - level)
        level = (3 * x + 7 * level) / 10
      }
      val n = xs.length.toLong
      (n, level, sae, if (n > 1) Some(rnd(sae * 1e3 / (n - 1))) else None)
    }
    def localHolt(series: List[(Int, Long)])
        : (Long, Long, Long, Long, Long, Option[Long]) = {
      val xs = series.sortBy(_._1).map(_._2)
      var level = xs.head
      var trend = 0L
      var sae = 0L
      xs.tail.foreach { x =>
        val f = level + trend
        sae += math.abs(x - f)
        val nl = (3 * x + 7 * f) / 10
        trend = ((nl - level) + 9 * trend) / 10
        level = nl
      }
      val n = xs.length.toLong
      (n, level, trend, level + trend, sae,
        if (n > 1) Some(rnd(sae * 1e3 / (n - 1))) else None)
    }

    val seriesGen = Gen.choose(1, 26).flatMap { len =>
      Gen.zip(
        Gen.listOfN(len, Gen.choose(0, 60)).map(_.distinct.sorted),
        Gen.oneOf("rand", "saw", "drop")).flatMap { case (days, shape) =>
        Gen.listOfN(days.length, Gen.choose(-2000000L, 2000000L)).map { vs =>
          val shaped = shape match {
            case "saw" => vs.zipWithIndex.map { case (v, i) =>
              if (i % 2 == 0) math.abs(v) else -math.abs(v) }
            case "drop" => vs.zipWithIndex.map { case (v, i) =>
              math.abs(v) - 100000L * i }
            case _ => vs
          }
          days.zip(shaped)
        }
      }
    }
    val prop = Prop.forAll(Gen.zip(seriesGen, seriesGen, seriesGen)) {
      case (sa, sb, sc) =>
        val panel = Map("a" -> sa, "b" -> sb, "c" -> sc).filter(_._2.nonEmpty)
        val df = panel.toList
          .flatMap { case (k, pts) => pts.map(p => (k, day(p._1), p._2)) }
          .toDF("event_type", "day", "x")
        val ew = graft.operators.Estimation.ewma(df).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4))))
          .toMap
        val ho = graft.operators.Estimation.holt(df).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getLong(6))))
          .toMap
        val errs = panel.toList.flatMap { case (k, pts) =>
          val e1 = if (ew(k) != localEwma(pts))
            List(s"ewma $k: got ${ew(k)} want ${localEwma(pts)} pts=$pts")
          else Nil
          val e2 = if (ho(k) != localHolt(pts))
            List(s"holt $k: got ${ho(k)} want ${localHolt(pts)} pts=$pts")
          else Nil
          e1 ++ e2
        }
        Prop(errs.isEmpty) :| errs.mkString("; ")
    }
    check("smoothingKernels", cases = 25, prop)
  }

  test("holtWinters equals its local integer recursion on random panels") {
    // The seasonal rung against a step-by-step local replay: the 7-slot
    // array state, the slot selection by day-of-week (Sunday = 0, the
    // Spark dayofweek − 1 mapping), truncating `div` on the negative
    // numerators sawtooth series force, and the h=1 forecast reading
    // the NEXT calendar day's slot — each would diverge here before
    // the oracle gate could localize it.
    val s = spark
    import s.implicits._
    def localHw(series: List[(Int, Long)])
        : (Long, Long, Long, Long, Option[Long], Long) = {
      val pts = series.sortBy(_._1)
      def dow(i: Int): Int =
        day(pts(i)._1).toLocalDate.getDayOfWeek.getValue % 7
      val xs = pts.map(_._2)
      var level = xs.head; var trend = 0L; var sae = 0L
      val seas = Array.fill(7)(0L)
      var ld = dow(0)
      for (k <- 1 until xs.length) {
        val x = xs(k); val dw = dow(k); val sdw = seas(dw)
        sae += math.abs(x - (level + trend + sdw))
        val nl = (2 * (x - sdw) + 8 * (level + trend)) / 10
        trend = ((nl - level) + 9 * trend) / 10
        seas(dw) = (3 * (x - nl) + 7 * sdw) / 10
        level = nl
        ld = dw
      }
      val n = xs.length.toLong
      (n, level, trend, sae,
        if (n > 1) Some(rnd(sae * 1e3 / (n - 1))) else None,
        level + trend + seas((ld + 1) % 7))
    }
    val seriesGen = Gen.choose(1, 30).flatMap { len =>
      Gen.zip(
        Gen.listOfN(len, Gen.choose(0, 70)).map(_.distinct.sorted),
        Gen.oneOf("rand", "saw")).flatMap { case (days, shape) =>
        Gen.listOfN(days.length, Gen.choose(-2000000L, 2000000L)).map { vs =>
          val shaped =
            if (shape == "saw") vs.zipWithIndex.map { case (v, i) =>
              if (i % 2 == 0) math.abs(v) else -math.abs(v) }
            else vs
          days.zip(shaped)
        }
      }
    }
    val prop = Prop.forAll(Gen.zip(seriesGen, seriesGen)) {
      case (sa, sb) =>
        val panel = Map("a" -> sa, "b" -> sb).filter(_._2.nonEmpty)
        val df = panel.toList
          .flatMap { case (k, pts) => pts.map(p => (k, day(p._1), p._2)) }
          .toDF("event_type", "day", "x")
        val hw = graft.operators.Estimation.holtWinters(df).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getLong(5)),
            r.getLong(6)))
          .toMap
        val errs = panel.toList.flatMap { case (k, pts) =>
          if (hw(k) != localHw(pts))
            List(s"hw $k: got ${hw(k)} want ${localHw(pts)} pts=$pts")
          else Nil
        }
        Prop(errs.isEmpty) :| errs.mkString("; ")
    }
    check("holtWintersKernel", cases = 25, prop)
  }

  test("johansenOn matches a Breeze eigensolver and the eigen equations on random I(1) panels") {
    // The t17/m23 chain (adjugate inverses → M → closed-form spectrum)
    // re-derived by an INDEPENDENT route: build the cross-product
    // matrices with Breeze linear algebra, take LAPACK's eigenvalues of
    // M, and require the closed form to agree — plus the defining
    // invariants: canonical correlations live in [0, 1] and the m23
    // eigenvector (m12, λ1 − m11) annihilates (M − λ1·I).
    import breeze.linalg.{DenseMatrix, eig, inv}
    val panelGen: Gen[(Array[Double], Array[Double])] =
      Gen.choose(10, 40).flatMap { n =>
        Gen.zip(
          Gen.listOfN(n, Gen.choose(-100, 100)),
          Gen.listOfN(n, Gen.choose(-100, 100)),
          Gen.choose(-3, 3)).map { case (s1, s2, cpl) =>
          // Random walks, the second optionally error-correcting toward
          // the first — so both the rank-0 and rank-1 regimes are drawn.
          val y1 = s1.scanLeft(100.0)((a, b) => a + b).tail.toArray
          val y2 = s2.zip(y1).scanLeft(50.0) { case (a, (b, y)) =>
            a + 0.1 * cpl * (y - a) + b }.tail.toArray
          (y1, y2)
        }
      }
    val prop = Prop.forAll(panelGen) { case (y1, y2) =>
      val n = y1.length
      val r0 = DenseMatrix.tabulate(n - 1, 2)((i, j) =>
        if (j == 0) y1(i + 1) - y1(i) else y2(i + 1) - y2(i))
      val r1 = DenseMatrix.tabulate(n - 1, 2)((i, j) =>
        if (j == 0) y1(i) else y2(i))
      val p00 = r0.t * r0
      val p11 = r1.t * r1
      val p01 = r0.t * r1
      val d00 = p00(0, 0) * p00(1, 1) - p00(0, 1) * p00(1, 0)
      val d11 = p11(0, 0) * p11(1, 1) - p11(0, 1) * p11(1, 0)
      if (math.abs(d00) < 1e-6 || math.abs(d11) < 1e-6) Prop(true)
      else {
        val m = inv(p11) * p01.t * inv(p00) * p01
        val ev = eig(m).eigenvalues.toArray.sorted.reverse
        val k = graft.operators.Estimation.johansenOn(y1, y2)
        val (m11, m12, l1, l2) = (k._9, k._10, k._11, k._12)
        val tol = 1e-7 * math.max(1.0, math.abs(ev(0)))
        val evOk = math.abs(l1 - ev(0)) < tol && math.abs(l2 - ev(1)) < tol
        val rangeOk = l1 <= 1 + 1e-8 && l2 >= -1e-8 && l2 <= l1
        // Eigen residual for m23's vector v = (m12, λ1 − m11):
        // (M − λ1 I) v = 0 up to conditioning.
        val (v1, v2) = (m12, l1 - m11)
        val res1 = (m(0, 0) - l1) * v1 + m(0, 1) * v2
        val res2 = m(1, 0) * v1 + (m(1, 1) - l1) * v2
        val vnorm = math.max(math.sqrt(v1 * v1 + v2 * v2), 1e-12)
        val eigOk = math.sqrt(res1 * res1 + res2 * res2) / vnorm < 1e-6
        Prop(evOk && rangeOk && eigOk) :|
          s"l=($l1,$l2) breeze=(${ev(0)},${ev(1)}) evOk=$evOk rangeOk=$rangeOk eigOk=$eigOk"
      }
    }
    check("johansenOn", cases = 40, prop)
  }
}
