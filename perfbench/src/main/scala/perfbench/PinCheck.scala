package perfbench

import java.nio.file.Path

/** `--mode pins`: runs every pooled case once and checks it against the
  * pins; `--record 1` also adds the outputs that have no pin yet, and
  * never rewrites an existing pin. `--full 1` adds the costly cases whose
  * raw error sums were recorded independently of this benchmark, and
  * cross-checks pins and fresh values against those records.
  */
object PinCheck {
  def run(o: Opts, path: Path): Int = {
    val pins = Pins.load(path)
    val record = o.flags.get("record").contains("1")
    val full = o.flags.get("full").contains("1")
    val spark = Session.build(o.root)
    val ctx = new Ctx(spark, new Spans(spark, traced = false), pins, recording = record)
    val cases = ((Pools.Tune ++ Pools.Oos) ++ (if (full) Pools.Independent.map(_._1) else Nil))
      .distinctBy(_.name)
    var bad = 0
    for (c <- cases) {
      val (failures, s) = Serial.time(c.run(ctx))
      println(f"[pins] ${c.name}%-36s $s%7.2f s  ${if (failures.isEmpty) "ok" else failures.mkString("; ")}")
      bad += failures.size
    }
    val pinned = if (record) ctx.recorded ++ pins else pins
    for ((c, expected) <- Pools.Independent) {
      val key = s"${c.name}|raw_err_sum"
      for ((what, v) <- Seq("pinned" -> pinned.get(key), "computed" -> ctx.recorded.get(key)); got <- v) {
        val ok = Pins.close(got.toDouble, expected)
        if (!ok) bad += 1
        println(f"[pins] ${if (ok) "agree   " else "DISAGREE"} $key $what $got recorded $expected")
      }
    }
    if (record && bad == 0) Pins.write(path, pinned)
    spark.stop()
    if (bad == 0) 0 else 1
  }

  /** A pin moved by 1e-5 relative must fail the check. */
  def perturbed(o: Opts, pins: Map[String, String]): Int = {
    val c = Pools.OosWarm
    val key = s"${c.name}|raw_err_sum"
    val moved = pins.updated(key, java.lang.Double.toString(pins(key).toDouble * (1 + 1e-5)))
    val spark = Session.build(o.root)
    val failures = c.run(new Ctx(spark, new Spans(spark, traced = false), moved, recording = false))
    spark.stop()
    val caught = failures.exists(_.contains(key))
    println(s"[smoke] perturbed pin $key ${if (caught) "fails the check" else "WAS NOT CAUGHT"}")
    if (caught) 0 else 1
  }
}
