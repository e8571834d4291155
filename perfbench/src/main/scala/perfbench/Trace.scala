package perfbench

import org.apache.spark.{ListenerDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark work of one span, summed over every job submitted inside it. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var resultBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** Attributes Spark jobs to the span that submitted them. A span sets the
  * local property [[Spans.Key]] on the driver thread; the job carries it in
  * its properties, and every stage and task of the job is charged to it.
  * Registered only for traced runs.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val counters = mutable.Map.empty[String, SparkCounters]

  private def of(span: String): SparkCounters =
    counters.getOrElseUpdate(span, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(Spans.Key)).orNull
    if (span != null) {
      of(span).jobs += 1
      e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = of(span)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (e.taskInfo != null) c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.execRunMs += m.executorRunTime
        c.execCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.resultBytes += m.resultSize
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  /** Counters per span after every posted event has been delivered. */
  def snapshot(sc: org.apache.spark.SparkContext): Map[String, SparkCounters] = {
    ListenerDrain(sc)
    synchronized(counters.toMap)
  }
}

/** Wall time per layer, measured around calls into the program's public
  * functions. Spans do not nest: each layer call is timed on its own.
  */
final class Spans(spark: SparkSession, traced: Boolean) {
  val wall: mutable.Map[String, Double] = mutable.LinkedHashMap.empty.withDefaultValue(0.0)

  def apply[A](layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Spans.Key, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      wall(layer) += (System.nanoTime() - t0) / 1e9
      if (traced) sc.setLocalProperty(Spans.Key, null)
    }
  }
}

object Spans {
  val Key = "perfbench.span"
}

/** CPU steal from /proc/stat deltas, and a fixed single-thread CPU canary. */
object Machine {
  private def cpuLine(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: java.io.IOException => None }

  final class StealMeter {
    private val start = cpuLine()
    /** Percent of CPU time stolen by the hypervisor since construction. */
    def pct(): Double = (start, cpuLine()) match {
      case (Some(a), Some(b)) if a.length > 7 =>
        val d = b.zip(a).map { case (x, y) => x - y }
        val total = d.take(8).sum.toDouble
        if (total > 0) 100.0 * d(7) / total else 0.0
      case _ => 0.0
    }
  }

  /** Seconds for a fixed amount of floating-point work on one thread. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0.5
    var i = 0
    while (i < 50000000) { x = 3.9 * x * (1.0 - x); i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x.isNaN) sys.error("canary diverged")
    s
  }
}
