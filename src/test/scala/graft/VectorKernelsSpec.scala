package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The native vector kernels (VecDot / LongSqDist / AdcLookupSum) against
  * the interpreted `aggregate(zip_with(...))` HOFs they replaced on the
  * ANN hot paths: bit-identical results on randomized data (same fold
  * order, same per-element casts), matching null semantics on length
  * mismatch, and analysis-time (not runtime) rejection of wrong types
  * through the SQL registration.
  */
class VectorKernelsSpec extends AnyFunSuite with SparkSuite {

  test("vec_dot is bit-identical to the aggregate(zip_with(...)) fold on random floats") {
    val s = spark
    import s.implicits._
    val rnd = new Random(42)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    df.createOrReplaceTempView("vk_dot")
    val got = spark.sql(
      """SELECT vec_dot(a, b) AS native,
                aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
                          0D, (acc, v) -> acc + v) AS hof
         FROM vk_dot""").collect()
    got.foreach { r =>
      // Bit-identical, not approximately equal: same fold order, same casts.
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("long_sq_dist matches the HOF and is exact on e6-scale integers") {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextInt(4000001).toLong - 2000000L),
      Array.fill(64)(rnd.nextInt(4000001).toLong - 2000000L)))
    rows.toDF("a", "b").createOrReplaceTempView("vk_sq")
    val got = spark.sql(
      """SELECT long_sq_dist(a, b) AS native,
                aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
                          0L, (acc, v) -> acc + v) AS hof
         FROM vk_sq""").collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("adc_lookup_sum matches element_at-based lookup (1-based SQL vs 0-based codes)") {
    val s = spark
    import s.implicits._
    val rnd = new Random(99)
    val rows = Seq.fill(100)((
      Array.fill(8)(rnd.nextInt(16)),
      Array.fill(8)(Array.fill(16)(rnd.nextInt(1000000).toLong))))
    rows.toDF("codes", "tabs").createOrReplaceTempView("vk_adc")
    val got = spark.sql(
      """SELECT adc_lookup_sum(codes, tabs) AS native,
                aggregate(zip_with(codes, tabs, (c, t) -> element_at(t, c + 1)),
                          0L, (acc, v) -> acc + v) AS hof
         FROM vk_adc""").collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("mod_proj_all is bit-identical to the per-plane HOF folds (LSH + JL params)") {
    val s = spark
    import s.implicits._
    val rnd = new Random(5)
    Seq.fill(100)(Array.fill(64)(rnd.nextFloat() * 2 - 1)).toDF("embedding")
      .createOrReplaceTempView("vk_proj")
    // LSH plane family: h = 0..31, w = (i*31 + h*17) % 7 - 3.
    val lsh = spark.sql(
      """SELECT mod_proj_all(embedding, 32, 31, 0, 17, 7, 3) AS native,
                transform(sequence(0, 31), h -> aggregate(
                  zip_with(embedding, sequence(1, size(embedding)),
                    (x, i) -> cast(x as double) * cast((i * 31 + h * 17) % 7 - 3 as double)),
                  0D, (acc, v) -> acc + v)) AS hof
         FROM vk_proj""").collect()
    // JL family: j = 0..7, w = (i*37 + (j+41)*23) % 11 - 5.
    val jl = spark.sql(
      """SELECT mod_proj_all(embedding, 8, 37, 41, 23, 11, 5) AS native,
                transform(sequence(0, 7), j -> aggregate(
                  zip_with(embedding, sequence(1, size(embedding)),
                    (x, i) -> cast(x as double) * cast((i * 37 + (j + 41) * 23) % 11 - 5 as double)),
                  0D, (acc, v) -> acc + v)) AS hof
         FROM vk_proj""").collect()
    for (r <- lsh ++ jl) {
      val native = r.getSeq[Double](0)
      val hof = r.getSeq[Double](1)
      assert(native.length == hof.length)
      native.zip(hof).foreach { case (n, h) =>
        assert(java.lang.Double.doubleToLongBits(n) ==
          java.lang.Double.doubleToLongBits(h))
      }
    }
  }

  test("a null ELEMENT gives SQL null, matching the HOF fold it replaces") {
    // The registered SQL surface accepts arrays that may carry nulls;
    // reading a null slot as 0 would be a silently wrong distance
    // (r10 review finding). The check is gated on containsNull, so the
    // engine's null-free arrays pay nothing.
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, cast(null AS double)), array(2.0D, 3.0D)) AS vd,
                long_sq_dist(array(1L, cast(null AS bigint)), array(2L, 3L)) AS sq,
                sq8_dist(array(1, cast(null AS int)), array(2L, 3L),
                         array(0L, 0L), array(100L, 100L)) AS s8,
                adc_lookup_sum(array(0, cast(null AS int)),
                               array(array(1L), array(2L))) AS adc,
                mod_proj_all(array(1.0D, cast(null AS double)), 2, 17, 0, 29, 7, 3) AS mp
      """).collect().head
    (0 until 5).foreach(i => assert(r.isNullAt(i), s"column $i not null"))
  }

  test("length mismatch and null inputs give SQL null, not an error") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(1.0D)) AS d,
                long_sq_dist(array(1L), array(1L, 2L)) AS q,
                vec_dot(cast(NULL AS array<double>), array(1.0D)) AS n,
                adc_lookup_sum(array(99), array(array(1L))) AS oob""")
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("wrong input types fail at analysis, not execution") {
    val bad = Seq(
      "SELECT vec_dot(array('x'), array(1.0D))",
      "SELECT long_sq_dist(array(1.5D), array(1L))",
      "SELECT adc_lookup_sum(array(1L), array(1L))")
    for (q <- bad) {
      intercept[AnalysisException](spark.sql(q).collect())
    }
  }

  test("top_k_pairs rejects non-long score/id at analysis (advice r9)") {
    val s = spark
    import s.implicits._
    Seq((1.5, 1L), (2.5, 2L)).toDF("score", "id").createOrReplaceTempView("vk_tkp")
    intercept[AnalysisException] {
      spark.sql("SELECT top_k_pairs(score, id, 2, true) FROM vk_tkp").collect()
    }
  }

  test("trainIvf refuses a corpus smaller than nlist (advice r9)") {
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AnnIndex.trainIvf(tiny, nlist = 4, iters = 1,
        persistLists = false)
    }
    assert(e.getMessage.contains("nlist"))
  }

  test("sq8_dist matches the explicit dequantize-and-sum fold and stays codegen'd") {
    val s = spark
    import s.implicits._
    val rnd = new Random(11)
    val dim = 16
    val rows = Seq.fill(100)((
      Array.fill(dim)(rnd.nextInt(256)),
      Array.fill(dim)(rnd.nextInt(2000001).toLong - 1000000L)))
    rows.toDF("codes", "q").createOrReplaceTempView("vk_sq8")
    val mn = Array.fill(dim)(rnd.nextInt(1000001).toLong - 1000000L).toSeq
    val span = (0 until dim).map(i =>
      if (i == 3) 0L else rnd.nextInt(2000000).toLong + 1L) // dim 3: degenerate
    def arr(xs: Seq[Long]) = xs.mkString("array(", "L,", "L)")
    val got = spark.sql(
      s"""SELECT sq8_dist(codes, q, ${arr(mn)}, ${arr(span)}) AS native,
                 aggregate(
                   zip_with(codes, q, (c, x) -> struct(c AS c, x AS x)),
                   struct(0L AS acc, 0 AS i),
                   (st, e) -> struct(
                     st.acc + (e.x - (element_at(${arr(mn)}, st.i + 1)
                       + CASE WHEN element_at(${arr(span)}, st.i + 1) = 0L THEN 0L
                         ELSE cast(floor((cast(e.c AS bigint)
                           * element_at(${arr(span)}, st.i + 1) * 2 + 255) / 510.0)
                           AS bigint) END))
                       * (e.x - (element_at(${arr(mn)}, st.i + 1)
                       + CASE WHEN element_at(${arr(span)}, st.i + 1) = 0L THEN 0L
                         ELSE cast(floor((cast(e.c AS bigint)
                           * element_at(${arr(span)}, st.i + 1) * 2 + 255) / 510.0)
                           AS bigint) END)),
                     st.i + 1),
                   st -> st.acc) AS ref
          FROM vk_sq8""").collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"sq8_dist ${r.getLong(0)} != fold ${r.getLong(1)}"))
    // Length mismatch with the trained bounds -> SQL null, not an error.
    val bad = spark.sql(
      s"SELECT sq8_dist(slice(codes, 1, 8), slice(q, 1, 8), ${arr(mn)}, ${arr(span)}) FROM vk_sq8 LIMIT 1")
      .collect()
    assert(bad.head.isNullAt(0))
    // And the real e12 scan evaluates the kernel inside WholeStageCodegen.
    // Execute first: before execution the AQE wrapper prints the INITIAL
    // plan, which carries no WholeStageCodegen stars yet.
    val e12 = graft.operators.TextPipeline.queries("e12_sq8_search")(
      spark, "/root/testdata/sf0.001")
    e12.collect() // a write would spawn its own QueryExecution; collect finalizes THIS one
    val pl = e12.queryExecution.executedPlan.toString
    val line = pl.linesIterator.find(_.contains("sq8_dist")).getOrElse("")
    // The node may sit under a join branch ("…:  +- *(3) Project …"), so
    // match the star-stage marker anywhere on the line, not as a prefix.
    assert(line.contains("+- *("),
      s"sq8_dist scan not inside WholeStageCodegen:\n$pl")
  }

  test("the kernels run inside whole-stage codegen on the scan path") {
    // A real parquet scan (a local Seq constant-folds to LocalTableScan):
    // the projection evaluating the kernel must land inside a
    // WholeStageCodegen subtree — the whole point of doGenCode over a HOF.
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df.createOrReplaceTempView("vk_wsc")
    val q = spark.sql("SELECT vec_dot(embedding, embedding) AS n2 FROM vk_wsc")
    val plan = q.queryExecution.executedPlan.toString
    val projLine = plan.linesIterator.find(_.contains("vec_dot")).getOrElse("")
    assert(projLine.trim.startsWith("*"),
      s"vec_dot projection not inside WholeStageCodegen (no * prefix):\n$plan")
    assert(q.collect().forall(!_.isNullAt(0)))
  }
}
