package graft.experiment

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Measured scale-up probe — the evidence behind the "survives 100×"
  * claims that otherwise rest on plan-shape tests alone (r11 verdict,
  * What's missing #4): inflate the sf0.1 inputs in MEMORY by key-shifted
  * unions (k copies, keys offset so cardinalities scale with volume —
  * the testdata itself is never touched) and time one representative of
  * each heavy plan shape at k ∈ {4, 16, 64}, reporting the fitted
  * scaling exponent α in t ∝ volume^α between ×4 and ×64. α ≤ 1
  * (linear or amortizing) is the pass condition for shapes that must
  * scale — hash agg, equi-join, partitioned window, banded dedup,
  * superstep aggregation; the fixed-query brute scan (e3's class,
  * linear in corpus BY DESIGN) rides along as the floor baseline.
  *
  * Each (shape, k) runs three times — one untimed warm pass per k
  * (every k's unionAll plan codegens separately) then min of two;
  * output is one JSON line per shape:
  *   {"shape":"agg","t4":…,"t16":…,"t64":…,"alpha":…}
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Parallelism follows the host (graft.Session) rather than a
    // hardcoded local[32]: on a smaller host a fixed 32 folds scheduling
    // contention into the fitted exponent α, making readings
    // incomparable across machines. The value used is recorded in every
    // emitted JSON line so α can be interpreted next to it.
    val spark = graft.Session.build()
    val cores = spark.sparkContext.defaultParallelism

    // k key-shifted copies: volume ×k AND key cardinality ×k — the
    // honest scale-up (pure duplication would only deepen groups).
    def inflate(df: DataFrame, k: Int, keys: Seq[String],
        offset: Long = 1L << 40): DataFrame =
      (0 until k).map { i =>
        keys.foldLeft(df)((f, c) =>
          f.withColumn(c, col(c) + lit(i * offset)))
      }.reduce(_ unionAll _)

    // Per-k warmup: each k's unionAll plan codegens separately, so a
    // small-k warm pass does NOT warm the large-k plan — the first cut
    // of this probe (k ∈ {1,4,16}, one global warm run) read NEGATIVE
    // exponents on the control because fixed overhead and cold codegen
    // swamped the sub-second runtimes.
    def timeMin(f: => Unit): Double = {
      def once: Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      once // warm this exact plan
      math.min(once, once)
    }

    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val or = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val ev = Tables.events(spark, d)
      .select(col("event_type"), col("user_id"), col("ts"), col("value"))
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))

    def noop(f: DataFrame): Unit =
      f.write.mode("overwrite").format("noop").save()

    val shapes: Seq[(String, Int => Unit)] = Seq(
      // Hash aggregation with map-side combine.
      ("agg", k => noop(
        inflate(li, k, Seq("l_partkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_quantity")), count(lit(1))))),
      // Shuffle equi-join (both sides inflated on the join key).
      ("join", k => noop(
        inflate(li, k, Seq("l_orderkey"))
          .join(inflate(or, k, Seq("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("l_quantity"))))),
      // Partitioned window (user axis scales; per-user series bounded).
      ("window", k => noop(
        inflate(ev, k, Seq("user_id"))
          .withColumn("rs", sum(col("value")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id")).orderBy(col("ts"))))
          .groupBy(col("event_type")).agg(sum(col("rs"))))),
      // Banded dedup candidate generation (d3's shape): 5-shingle md5
      // band keys grouped to bucket sizes — text volume scales.
      ("shingle_band", k => noop(
        (0 until k).map(i => docs.withColumn("doc_id",
            col("doc_id") + lit(i.toLong * (1L << 40))))
          .reduce(_ unionAll _)
          .select(col("doc_id"),
            explode(expr("transform(sequence(1, greatest(char_length(text) - 4, 1), 7), i -> substring(text, i, 5))")).as("s"))
          .groupBy(substring(md5(col("s")), 1, 4).as("band"))
          .agg(count(lit(1))))),
      // One superstep of the graph family: degree-join + inflow agg by
      // dst over the within-order co-purchase fanout.
      ("superstep", k => noop {
        val e = inflate(li.select(col("l_orderkey").as("ok"),
            col("l_partkey").as("pk")), k, Seq("ok", "pk"))
        val edges = e.as("a").join(e.as("b"), "ok")
          .filter(col("a.pk") =!= col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        edges.groupBy(col("dst")).agg(count(lit(1)))
      }),
      // CONTROL — exact all-pairs cosine (e3's brute baseline, 3 fixed
      // queries so cost scales with the corpus, not corpus²; the probe
      // proves it can measure a growth law at all).
      ("brute_topk", k => noop {
        val e2 = inflate(emb, k, Seq("vec_id"))
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        e2.crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"),
            expr("aggregate(zip_with(q_emb, embedding, (a, b) -> cast(a AS double) * b), 0D, (acc, v) -> acc + v)").as("dot"))
          .groupBy(col("q_id")).agg(max(col("dot")))
      })
    )

    val ks = Seq(4, 16, 64)
    shapes.foreach { case (name, run) =>
      val ts = ks.map(k => timeMin(run(k)))
      val alpha = math.log(ts(2) / ts(0)) / math.log(16.0)
      println(f"""{"shape":"$name","t4":${ts(0)}%.3f,"t16":${ts(1)}%.3f,"t64":${ts(2)}%.3f,"alpha":$alpha%.3f,"cores":$cores}""")
    }
    spark.stop()
  }
}
