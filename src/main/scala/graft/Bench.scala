package graft

/** Bench main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is fully executed through the `noop`
  * sink — unlike `count()`, which lets Catalyst prune unreferenced
  * projections and under-measures the real work (VERDICT r2). Failures are
  * recorded by name in an `errors` array instead of being timed as -1.
  *
  * Each query runs SPARK_GRAFT_BENCH_PASSES (default 3) timed passes and
  * reports the per-query MEDIAN: single-pass timings in a heavy shared JVM
  * swing 10× from GC/JIT noise alone (VERDICT r3 observed p3 0.31→3.29 s
  * with a byte-identical plan), so n=1 comparisons across rounds are
  * meaningless. `value` is the sum of medians.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = Session.build()
    // Untimed warmup pass: the first execution of each query pays
    // Janino/JIT codegen compilation and parquet-footer reads (observed:
    // a 0.5 s steady-state query reading 8-30 s cold). One full untimed
    // pass first, so the timed passes below measure steady-state execution;
    // the warmup cost is reported separately, not hidden.
    // SPARK_GRAFT_BENCH_ONLY=q1_agg,e9_pq_search — optional comma-separated
    // subset for local A/B iteration; unset runs everything (the driver's
    // per-round mode).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only match {
      case Some(names) =>
        // A typo'd name would otherwise silently shrink (or empty) the
        // subset and print a well-formed 0-second result.
        val unknown = names -- SparkEntry.queries.keySet
        if (unknown.nonEmpty)
          System.err.println(
            s"[bench] SPARK_GRAFT_BENCH_ONLY names match nothing: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    var errors = List.empty[String]
    val tw = System.nanoTime()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        errors ::= s"warmup:$name"
        System.err.println(s"[bench] $name failed in warmup: ${e.getMessage}")
      }
    }
    val warmup = (System.nanoTime() - tw) / 1e9

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Machine-load canary: a fixed-work, IO-free, plan-stable query timed
    // once per epoch. Its per-epoch times are reported raw — when the r10
    // artifact's 43% full-run spread recurs, the canary series says
    // whether the machine/JVM was loaded during THAT run (canary inflated
    // in lockstep) or a query genuinely regressed (canary flat). Range
    // source + hash + sum: no shuffle, no parquet, no cache — nothing but
    // CPU, so it tracks exactly the contention the corpus queries share.
    def canaryPass(): Double = {
      import org.apache.spark.sql.functions.{bit_xor, xxhash64, col}
      val t0 = System.nanoTime()
      // bit_xor, not sum: xxhash64 is full-range, so summing 32M of them
      // overflows long and ANSI mode turns that into a hard error.
      spark.range(0L, 32L * 1000 * 1000, 1L,
        spark.sparkContext.defaultParallelism)
        .select(bit_xor(xxhash64(col("id"))).as("h"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    canaryPass() // untimed: pays the canary's own codegen, like the warmup
    // Passes run as round-robin EPOCHS (pass 1 of every query, then pass
    // 2, ...), not back-to-back per query: in a shared JVM a GC pause or
    // JIT recompilation storm is a point-in-time event, and consecutive
    // passes hand all of a query's samples to the same storm — the median
    // defends nothing (r9's "regressions" were exactly this: 8 queries
    // ≥2× with byte-identical plans, a DIFFERENT 8 every run; the r10
    // isolated A/B reproduced r8's times). Across epochs the storm lands
    // on different queries, so the per-query median is taken over
    // independent JVM states. One System.gc() per epoch levels the
    // collection debt carried into each.
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val canary = scala.collection.mutable.ListBuffer.empty[Double]
    for (_ <- 1 to passes) {
      System.gc()
      canary += canaryPass()
      queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val dt = (System.nanoTime() - t0) / 1e9
          samples(name) = dt :: samples.getOrElse(name, Nil)
        } catch { case e: Throwable =>
          if (!errors.contains(name)) {
            errors ::= name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
        }
      }
    }
    val results = queries.map { case (name, _) =>
      name -> samples.get(name).map(median).getOrElse(0.0)
    }
    // Per-arm attribution for e27 (VERDICT r17): the query's headline is
    // a three-family sum — a single-arm regression hides in it. Time
    // each family arm separately (same pass count, same noop sink; the
    // shared session indexes are warm from the main loop, so these are
    // pure serving reads like e27's own steady state) and emit them as
    // named sub-timings beside the query's total.
    val e27Arms: Map[String, Double] =
      if (!queries.contains("e27_ann_family_curve")) Map.empty
      else graft.operators.TextPipeline.e27Arms(spark, sfDir).map {
        case (fam, mk) =>
          // A failing arm must NOT report its time-to-failure as a
          // plausible median (ADVICE r18): record the failure in the
          // artifact's errors array, drop the sample, and emit null for
          // an arm with no successful pass.
          val ts = (1 to passes).flatMap { _ =>
            val t0 = System.nanoTime()
            try {
              mk().write.mode("overwrite").format("noop").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              if (!errors.contains(s"e27_arm:$fam")) {
                errors ::= s"e27_arm:$fam"
                System.err.println(
                  s"[bench] e27 arm $fam failed: ${e.getMessage}")
              }
              None
            }
          }
          fam -> (if (ts.nonEmpty) median(ts.toList) else Double.NaN)
      }.toMap
    val e27ArmsJson = e27Arms.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" +
        (if (v.isNaN) "null" else (math.rint(v * 1000) / 1000).toString) }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Load-corrected headline (VERDICT r11 #2): the sum of per-query MINS
    // over epochs. The median-sum `value` absorbs machine churn (r11: the
    // canary doubled mid-run and the headline read 114.6 s while the
    // sum-of-mins was 90.0 s, matching quiet reruns); the min over
    // independent epochs is the best available estimate of the unloaded
    // steady state. Both numbers are emitted — `value` stays the honest
    // "what this run cost", `value_min_sec` the comparable baseline.
    val totalMin = queries.keys.toSeq
      .flatMap(n => samples.get(n).map(_.min)).sum
    // ANN index training/materialization ran during the untimed warmup
    // pass (the per-session caches), so the timed per-query numbers are
    // search-only; the build cost is reported explicitly instead of being
    // charged to whichever search query ran first.
    val buildJson = graft.operators.AnnIndex.buildLog.toSeq.sorted
      .map { case (k, v) => s"\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
      .mkString("{", ",", "}")
    // Dispersion: per-query [min, median, max] across epochs (full file
    // only — stdout's 2000-char budget can't carry 140 triples). A wide
    // per-query spread WITH a flat canary isolates JVM noise to that
    // query; everything spread wide WITH an inflated canary is machine
    // load — the r10 distinction the round driver couldn't make.
    val ms3 = (v: Double) => math.rint(v * 1000) / 1000
    val canaryJson = canary.map(ms3).mkString("[", ",", "]")
    val dispJson = queries.keys.toSeq.sorted.flatMap { name =>
      samples.get(name).map { xs =>
        s"\"" + name + "\":[" + ms3(xs.min) + "," + ms3(median(xs)) + "," +
          ms3(xs.max) + "]"
      }
    }.mkString("{", ",", "}")
    // Self-labeling load indicator (VERDICT r13 #8): median_sum / min_sum.
    // ≈1.0 on a quiet machine; a loaded run inflates medians but not mins,
    // so a ratio ≫ 1 (r13's driver run: 1.14) tells the reader to trust
    // value_min_sec and not read the median dict as regressions.
    val loadSkew = if (totalMin > 0) math.rint(total / totalMin * 1000) / 1000 else 1.0
    def jsonLine(qmap: Iterable[(String, Double)], extra: String): String = {
      val qs = qmap.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"value_min_sec":${ms3(totalMin)},"load_skew":$loadSkew,"unit":"sec","queries":$qs,$extra"e27_arms":$e27ArmsJson,"canary_sec":$canaryJson,"index_build_sec":$buildJson,"warmup_sec":$warmup,"passes":$passes,"errors":$errJson,"sf":"$sfDir"}"""
    }
    val full = jsonLine(results, s""""dispersion":$dispJson,""")
    // Persist the FULL per-query map to files: the driver captures only the
    // last ~2000 chars of stdout, which decapitates a 120-query JSON line
    // (BENCH_r8 `parsed: null`). The files make every round auditable
    // without a re-run; best-effort writes, a read-only cwd must not fail
    // a successful run.
    for (path <- Seq("target/bench.json", "BENCH_FULL.json")) {
      try {
        val out = java.nio.file.Paths.get(path)
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[bench] could not write $path: $e")
      }
    }
    // stdout contract: ONE JSON line, and it must survive the driver's
    // 2000-char tail (sbt's trailing "[success] Total time ..." line eats
    // ~105 of those). Print the slowest queries — the ones perf grading
    // cares about — at ms precision until the line would overflow, and
    // point at the full map.
    val slowestFirst = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => k -> (math.rint(v * 1000) / 1000) }
    val budget = 1800
    var keep = slowestFirst.length
    def compact(n: Int): String = jsonLine(slowestFirst.take(n),
      s""""n_queries":${results.size},"full":"target/bench.json",""")
    while (keep > 1 && compact(keep).length > budget) keep -= 1
    val line = compact(keep)
    // Stop Spark BEFORE printing: shutdown logs after the JSON line would
    // push it out of a tail-limited capture of the combined output.
    spark.stop()
    println(line)
  }
}
