package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Pinned outputs, one `key<TAB>value` line each. Numbers are compared in
  * a 1e-6 relative band, the band of the program's golden MSFE anchors;
  * everything else must match exactly.
  */
object Pins {
  val RelTol = 1e-6

  def load(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }
      .toMap

  def write(path: Path, entries: Iterable[(String, String)]): Unit =
    Files.write(path, entries.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.asJava)

  def close(got: Double, pinned: Double): Boolean =
    if (pinned.isNaN) got.isNaN
    else if (pinned == 0.0) got == 0.0
    else math.abs(got - pinned) <= RelTol * math.abs(pinned)
}

/** Checks one case's outputs against the pins. Every value is also kept in
  * `recorded`; with `recording` set a value that has no pin yet is not a
  * mismatch, but a value that disagrees with its pin still is.
  */
final class Checker(pins: Map[String, String], recording: Boolean) {
  val recorded: mutable.Map[String, String] = mutable.LinkedHashMap.empty
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def num(key: String, got: Double): Unit = {
    recorded(key) = java.lang.Double.toString(got)
    pins.get(key) match {
      case None => if (!recording) mismatches += s"$key: no pin"
      case Some(p) if !Pins.close(got, p.toDouble) =>
        mismatches += s"$key: got ${java.lang.Double.toString(got)}, pinned $p"
      case _ =>
    }
  }

  def str(key: String, got: String): Unit = {
    recorded(key) = got
    pins.get(key) match {
      case None => if (!recording) mismatches += s"$key: no pin"
      case Some(p) if p != got => mismatches += s"$key: got $got, pinned $p"
      case _ =>
    }
  }

  def fail(msg: String): Unit = mismatches += msg
}
