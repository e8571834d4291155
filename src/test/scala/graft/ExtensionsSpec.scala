package graft

import graft.functions.TextFunctions
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of the native kernels: [[Session]] installs
  * `spark.sql.extensions=graft.plans.GraftExtensions` (the cluster-config
  * enablement path), so its session must expose each registered function to `spark.sql`,
  * producing the same results as the internal Column/local forms.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("sorted_intersect_count is callable from SQL") {
    val n = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 5L, 9L), array(3L, 4L, 9L)) AS n")
      .collect()(0).getLong(0)
    assert(n == 2L)
  }

  test("minhash8 aggregates md5 digests to the 8 hex-min signature") {
    // Against the spelling it replaces: 8 windowed string-min columns
    // over the same digest stream.
    val s = spark
    import s.implicits._
    Seq("alpha", "beta", "gamma", "delta", "epsilon")
      .toDF("tok").createOrReplaceTempView("toks")
    val got = spark.sql(
      "SELECT minhash8(md5(tok)) AS mhs FROM toks")
      .collect()(0).getSeq[String](0)
    val want = spark.sql(
      (0 to 7).map(i => s"min(substring(concat(md5(tok), md5(tok)), ${i * 4 + 1}, 16))")
        .mkString("SELECT array(", ", ", ") AS mhs FROM toks"))
      .collect()(0).getSeq[String](0)
    assert(got == want, s"got $got, want $want")
  }

  test("simhash32_agg matches the local simhash32 kernel") {
    val s = spark
    import s.implicits._
    val toks = Seq("the", "quick", "brown", "fox", "jumps")
    toks.toDF("tok").createOrReplaceTempView("sh_toks")
    val got = spark.sql("SELECT simhash32_agg(md5(tok)) AS sh FROM sh_toks")
      .collect()(0).getLong(0)
    assert(got == TextFunctions.simhash32(toks), s"simhash $got diverged")
  }

  test("token_repetition_stats is callable from SQL and counts a loop") {
    // 'a b a b a': 2 distinct, top token 'a' ×3, top bigram 'a b' ×2.
    val r = spark.sql(
      "SELECT token_repetition_stats(array('a', 'b', 'a', 'b', 'a')) AS st")
      .selectExpr("st.n_distinct", "st.top_token_c", "st.top_bigram_c")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 3L, 2L)))
  }

  test("misra_gries from SQL: a true heavy hitter survives forced decrements and merges") {
    // 200 'hot' + 120 distinct rare tokens with k=5: only 4 counters
    // exist, so decrements fire constantly and the 8 input partitions
    // force the mergeable-summaries merge path; the theorem says any
    // token above n/5 = 64 must still be in the summary.
    val s = spark
    import s.implicits._
    val rows = Seq.fill(200)("hot") ++ (0 until 120).map(i => s"rare_$i")
    new scala.util.Random(5L).shuffle(rows).toDF("tok").repartition(8)
      .createOrReplaceTempView("mg_toks")
    val cands = spark.sql("SELECT misra_gries(tok, 5) AS c FROM mg_toks")
      .collect()(0).getSeq[String](0)
    assert(cands.contains("hot"), s"heavy hitter lost from summary: $cands")
    assert(cands.length <= 4, s"summary exceeded k-1 counters: $cands")
  }

  test("misra_gries merge keeps a heavy hitter just above the n/k threshold") {
    // The adversarial merge case: partition 0 holds {a:4}, partition 1
    // reduces 'a b b b' to {b:2} (k=2 means one counter, so the lone 'a'
    // decrements away). n=8, n/2=4, and a's true frequency 5 > 4, so the
    // theorem requires 'a' to survive the MERGE. Subtracting the largest
    // counter instead of the k-th largest empties the summary here.
    val s = spark
    import s.implicits._
    val rows = Seq.fill(5)("a") ++ Seq.fill(3)("b")
    s.sparkContext.parallelize(rows, 2).toDF("tok")
      .createOrReplaceTempView("mg_merge_toks")
    val cands = spark.sql("SELECT misra_gries(tok, 2) AS c FROM mg_merge_toks")
      .collect()(0).getSeq[String](0)
    assert(cands == Seq("a"), s"near-threshold heavy hitter lost in merge: $cands")
  }

  test("top_k_pairs equals the rank-window cut, ties and both directions included") {
    val s = spark
    import s.implicits._
    // 1000 pairs across 2 groups with deliberate score collisions (score
    // = i % 7), so the id tie-break decides most of the cut; 2 partitions
    // force a real partial-state merge.
    val rows = (0L until 1000L).map(i => (i % 2, i % 7, i))
    s.sparkContext.parallelize(rows, 2).toDF("g", "score", "id")
      .createOrReplaceTempView("tkp_rows")
    for (asc <- Seq(true, false)) {
      val dir = if (asc) "ASC" else "DESC"
      val viaAgg = spark.sql(
        s"""SELECT g, pair.id AS id, pair.score AS score, pos + 1 AS rank
            FROM (SELECT g, posexplode(top_k_pairs(score, id, 5, $asc))
                    AS (pos, pair) FROM tkp_rows GROUP BY g)""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      val viaWindow = spark.sql(
        s"""SELECT g, id, score, cast(rank AS int) AS rank FROM (
              SELECT g, id, score, row_number() OVER (
                PARTITION BY g ORDER BY score $dir, id) AS rank
              FROM tkp_rows)
            WHERE rank <= 5""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      assert(viaAgg == viaWindow, s"ascending=$asc: aggregate cut != window cut")
    }
  }

  test("top_k_pairs property: random scores/ids/k/direction match the heap's contract") {
    // Driverless property check of the Buffer itself (the distributed
    // equivalence is the SQL test above): across random inputs, offers in
    // any order, the buffer must hold exactly the k best pairs in the
    // (score, id) total order, best-first — including duplicate scores
    // and ids, both directions, and k larger than the input.
    val rng = new scala.util.Random(20260813L)
    for (trial <- 1 to 200) {
      val n = rng.nextInt(60)
      val k = 1 + rng.nextInt(12)
      val asc = rng.nextBoolean()
      val pairs = Seq.fill(n)((rng.nextInt(10).toLong - 5, rng.nextInt(20).toLong))
      val buf = new graft.functions.TopKPairs.Buffer(k, asc)
      rng.shuffle(pairs).foreach { case (s2, i2) => buf.offer(s2, i2) }
      val expected = pairs.sortWith { case ((s1, i1), (s2, i2)) =>
        if (s1 != s2) { if (asc) s1 < s2 else s1 > s2 } else i1 < i2
      }.take(k)
      val got = buf.sortedBestFirst().toSeq
      assert(got == expected,
        s"trial $trial (n=$n k=$k asc=$asc): got $got expected $expected")
    }
  }

  test("a wrong arity fails analysis instead of crashing execution") {
    val e = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_count(array(1L)) AS n").collect()
    }
    assert(e.getMessage.contains("2 arguments"), e.getMessage)
  }
}
