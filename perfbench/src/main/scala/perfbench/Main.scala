package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Minimal JSON writer for the result and artifact files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}

final case class Opts(
    mode: String,
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    root: Path,
    data: String,
    out: Path,
    smoke: Boolean,
    flags: Map[String, String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize
    Opts(
      mode = m.getOrElse("mode", "run"),
      workload = m.getOrElse("workload", "tune"),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      root = root,
      data = m.getOrElse("data", root.resolve("perfbench/data/sf0.01").toString),
      out = Paths.get(m.getOrElse("out", "result.json")).toAbsolutePath,
      smoke = m.get("smoke").contains("1"),
      flags = m)
  }
}

/** The benchmark's own session: every core of the host, and as many
  * shuffle partitions; scratch space stays inside the checkout.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors

  def build(root: Path): SparkSession = {
    val scratch = root.resolve("perfbench/out/spark")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
}

/** One benchmark run: set-up, timed passes, and with `--trace 1` the same
  * passes again under the span listener plus the single-thread baseline.
  */
final class Runner(o: Opts, pins: Map[String, String]) {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0

  private def attempt(n: Int, what: String)(body: => Seq[String]): Unit = {
    attempted += n
    try failures ++= body
    catch { case e: Throwable => failures += s"$what: $e" }
  }

  private def workload(): Workload = o.workload match {
    case "tune" => new TuneWorkload(o.seed, o.smoke)
    case "oos_cv" => new OosWorkload(o.seed, o.smoke)
    case "corpus" => new CorpusWorkload(o.seed, o.data,
      o.root.resolve(s"perfbench/out/corpus-${o.seed}-${if (o.trace) 1 else 0}"))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Runs one cycle, every pass of it; returns its seconds. */
  private def cycle(w: Workload, ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    w.cycle.foreach(p => attempt(p.attempts, p.name)(p.run(ctx)))
    (System.nanoTime() - t0) / 1e9
  }

  /** Each timed cycle's mean query (or case) latency; every query of the
    * cycle feeds it, the cheapest and the costliest alike.
    */
  private def meanLatencies(ctx: Ctx): Seq[Double] = {
    val lat = ctx.latencies.values.toSeq
    val n = if (lat.isEmpty) 0 else lat.map(_.size).min
    (0 until n).map(i => lat.map(_(i)).sum / lat.size)
  }

  /** Repeats `body` until the next repetition would end past `seconds`;
    * runs it at least once.
    */
  private def repeat(seconds: Double)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    var last = 0.0
    do {
      val c0 = System.nanoTime()
      body
      last = (System.nanoTime() - c0) / 1e9
    } while ((System.nanoTime() - t0) / 1e9 + last <= seconds)
  }

  def run(): String = {
    val steal = new Machine.StealMeter
    val canary = Machine.canary()
    val w = workload()
    val reps = if (o.trace || o.smoke) 1 else 3
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var setupCtx: Ctx = null
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.build(o.root)
      setupCtx = new Ctx(spark, new Spans(spark, traced = false), pins, recording = false)
      attempt(1, s"set-up $rep")(w.warm(setupCtx))
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    val ctx = new Ctx(spark, new Spans(spark, traced = false), pins, recording = false)
    val wall = mutable.ArrayBuffer.empty[Double]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

    if (!o.trace) {
      repeat(o.seconds)(wall += cycle(w, ctx))
      metrics("wall_s") = (Stats.median(wall.toSeq), "s")
      metrics("setup_s") = (Stats.median(setupTimes.toSeq), "s")
      metrics("query_p50_s") = (Stats.median(meanLatencies(ctx)), "s")
    } else {
      // Untraced and traced cycles alternate, each going first in every
      // other pair, so both see the same warm-up; the listener is registered
      // only for the traced ones.
      val sc = spark.sparkContext
      val listener = new SpanListener
      val tctx = new Ctx(spark, new Spans(spark, traced = true), pins, recording = false)
      val traced = mutable.ArrayBuffer.empty[Double]
      def tracedCycle(): Unit = {
        sc.addSparkListener(listener)
        traced += cycle(w, tctx)
        ListenerDrain(sc)
        sc.removeSparkListener(listener)
      }
      var pair = 0
      repeat(o.seconds) {
        if (pair % 2 == 0) { wall += cycle(w, ctx); tracedCycle() }
        else { tracedCycle(); wall += cycle(w, ctx) }
        pair += 1
      }
      val counters = listener.snapshot(sc)
      var serial = Map.empty[String, (Double, Double)]
      attempt(1, "serial baseline") { serial = w.serial(tctx); Seq.empty }
      val failedTasks = counters.values.map(_.failedTasks).sum
      if (failedTasks > 0) failures += s"$failedTasks Spark task attempts failed"
      Layers.perLayer(metrics, tctx, setupCtx, counters, serial, traced.size.toDouble)
      metrics("trace_overhead_s") = (Stats.median(traced.toSeq) - Stats.median(wall.toSeq), "s")
      metrics("canary_s") = (canary, "s")
    }

    attempt(0, "after")(w.after(ctx))
    // Several full collections, so weakly held caches of the stopped
    // set-up sessions are cleared before the heap is read.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    if (!o.trace) metrics("live_heap_mb") = (heapMb, "MB")
    spark.stop()
    val stealPct = steal.pct()
    // fail_ratio is added by run.py, which also counts the DuckDB checks.
    if (o.trace) metrics("steal_pct") = (stealPct, "%")

    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "run" -> Json.obj(Seq(
        "workload" -> Json.str(o.workload),
        "seed" -> o.seed.toString,
        "seconds" -> Json.num(o.seconds),
        "trace" -> (if (o.trace) "1" else "0"),
        "cores" -> Session.cores.toString,
        "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
        "xmx_mb" -> Json.num(rt.maxMemory / 1048576.0),
        "steal_pct" -> Json.num(stealPct),
        "canary_s" -> Json.num(canary),
        "cases" -> Json.arr(w.cycle.map(p => Json.str(p.name))),
        "setup_s" -> Json.arr(setupTimes.toSeq.map(Json.num)),
        "cycle_s" -> Json.arr(wall.toSeq.map(Json.num)),
        "latency_s" -> Json.obj(ctx.latencies.toSeq.map { case (k, l) => k -> Json.arr(l.toSeq.map(Json.num)) })))))
  }
}

/** The per-layer metrics of a traced run, per traced cycle. */
object Layers {
  val Spark: Seq[String] =
    Seq("lagselect", "tune", "oos") ++ Corpus.Modules.map("corpus." + _._1)

  def sparkSet(layer: String, c: SparkCounters, wall: Double, per: Double): Seq[(String, (Double, String))] = {
    val run = c.execRunMs / 1000.0 / per
    val tasks = c.taskMs.map(_ / 1000.0).toSeq
    Seq(
      "jobs" -> (c.jobs / per, "count"),
      "tasks" -> (c.tasks / per, "count"),
      "exec_run_s" -> (run, "s"),
      "exec_cpu_s" -> (c.execCpuNs / 1e9 / per, "s"),
      "gc_s" -> (c.gcMs / 1000.0 / per, "s"),
      "task_max_s" -> (if (tasks.isEmpty) 0.0 else tasks.max, "s"),
      "task_p50_s" -> (if (tasks.isEmpty) 0.0 else Stats.median(tasks), "s"),
      "shuffle_write_bytes" -> (c.shuffleWriteBytes / per, "bytes"),
      "result_bytes" -> (c.resultBytes / per, "bytes"),
      "driver_gap_s" -> (wall - run / Session.cores, "s")
    ).map { case (k, v) => s"$layer.$k" -> v }
  }

  def perLayer(
      out: mutable.Map[String, (Double, String)], ctx: Ctx, setup: Ctx,
      spark: Map[String, SparkCounters], serial: Map[String, (Double, Double)], per: Double): Unit = {
    val none = new SparkCounters
    def wall(l: String) = ctx.spans.wall(l) / per
    def count(k: String) = (ctx.counts(k) / per, "count")
    def sparkOf(l: String) = spark.getOrElse(l, none)
    out("ingest.wall_s") = (wall("ingest"), "s")
    out("ingest.jobs") = (sparkOf("ingest").jobs / per, "count")
    out("ingest.transforms") = count("ingest.transforms")
    out("select.wall_s") = (wall("select"), "s")
    out("lagselect.wall_s") = (wall("lagselect"), "s")
    out("lagselect.lags") = count("lagselect.lags")
    out("tune.wall_s") = (wall("tune"), "s")
    out("tune.paths") = count("tune.paths")
    out("oos.wall_s") = (wall("oos"), "s")
    out("oos.origins") = count("oos.origins")
    out("oos.cv_paths") = count("oos.cv_paths")
    for (l <- Seq("tune", "oos")) {
      val (par, ser) = serial.getOrElse(l, (0.0, 0.0))
      out(s"$l.serial_s") = (ser, "s")
      out(s"$l.speedup") = (if (par > 0) ser / par else 0.0, "ratio")
    }
    out("stats.wall_s") = (wall("stats"), "s")
    for ((m, _) <- Corpus.Modules) {
      val l = s"corpus.$m"
      out(s"$l.wall_s") = (wall(l), "s")
      out(s"$l.queries") = count(s"$l.queries")
      out(s"$l.stages") = (sparkOf(l).stages / per, "count")
      out(s"$l.shuffle_read_bytes") = (sparkOf(l).shuffleReadBytes / per, "bytes")
    }
    for (l <- Spark) out ++= sparkSet(l, sparkOf(l), wall(l), per)
    out("annindex.build_s") = (setup.counts("annindex.build_s"), "s")
    out("annindex.builds") = (setup.counts("annindex.builds"), "count")
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val pinsPath = o.root.resolve("perfbench/pins.tsv")
    val code = o.mode match {
      case "run" =>
        Files.writeString(o.out, new Runner(o, Pins.load(pinsPath)).run())
        0
      case "pins" => PinCheck.run(o, pinsPath)
      case "smoke" => smoke(o, Pins.load(pinsPath))
      case m =>
        System.err.println(s"unknown mode $m")
        2
    }
    sys.exit(code)
  }

  /** One tiny cycle per workload and trace setting, the corpus at sf0.001,
    * then the perturbed-pin self-test. The result files are checked by
    * `run.py --smoke`.
    */
  def smoke(o: Opts, pins: Map[String, String]): Int = {
    val dir = Files.createDirectories(o.root.resolve("perfbench/out/smoke"))
    for (w <- Seq("tune", "oos_cv", "corpus"); t <- Seq(false, true)) {
      val oo = o.copy(workload = w, trace = t, seconds = 0, smoke = true,
        data = o.root.resolve("perfbench/data/sf0.001").toString,
        out = dir.resolve(s"smoke-$w-${if (t) 1 else 0}.json"))
      Files.writeString(oo.out, new Runner(oo, pins).run())
    }
    PinCheck.perturbed(o, pins)
  }
}
