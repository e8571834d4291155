package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process.Process

/** The solver's hot methods must stay small enough for the JIT. HotSpot
  * does not compile a method whose bytecode is longer than 8000 bytes
  * (`-XX:HugeMethodLimit`, on by default through `DontCompileHugeMethods`):
  * such a method stays in the interpreter, and its loops never reach C2.
  * Round 5 of this solver flattened the λ step into `fitPathCov`, crossed
  * the limit and ran every tuner fit ~1.8× slower with bit-identical
  * results, so nothing but wall-clock time noticed. This spec reads the
  * compiled classes with `javap -c -p` and fails when a guarded method, or
  * a closure compiled out of one, ends at bytecode offset 8000 or more.
  */
class JitGuardSpec extends AnyFunSuite {

  private val Limit = 8000

  /** Guarded methods per class: the λ-step solvers and their kernels. */
  private val guarded: Seq[(Class[_], Seq[String])] = Seq(
    graft.linalg.ElasticNet.getClass -> Seq("fitPathCov", "solveAt", "residual"),
    graft.linalg.GroupElasticNet.getClass -> Seq("fitPathCov"),
    classOf[graft.linalg.CovDesign] -> Seq("colDots"))

  private def javapBinary: String = {
    val inJdk = new File(new File(sys.props("java.home"), "bin"), "javap")
    if (inJdk.canExecute) inJdk.getPath else "javap"
  }

  /** The last instruction's bytecode offset of every method in `cls`, by
    * method name (the largest over overloads).
    */
  private def methodEnds(cls: Class[_]): Map[String, Int] = {
    val cp = new File(cls.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
    val out = Process(Seq(javapBinary, "-c", "-p", "-cp", cp, cls.getName)).!!
    val instruction = """^\s+(\d+): [a-z].*""".r
    var current: Option[String] = None
    val ends = scala.collection.mutable.Map.empty[String, Int]
    out.linesIterator.foreach {
      case line if line.startsWith("  ") && !line.startsWith("   ") && line.contains("(") =>
        current = Some(line.substring(0, line.indexOf('(')).split(' ').last)
      case instruction(offset) =>
        current.foreach(m => ends(m) = math.max(ends.getOrElse(m, 0), offset.toInt))
      case _ => ()
    }
    ends.toMap
  }

  test(s"solver methods and their kernels end below bytecode offset $Limit") {
    val report = guarded.flatMap { case (cls, names) =>
      val ends = methodEnds(cls)
      names.flatMap { name =>
        // Scala mangles a private method reached from a closure to
        // `pkg$Cls$$name`; a closure body compiles to `$anonfun$name$k`.
        val own = ends.filter { case (m, _) => m == name || m.endsWith("$$" + name) }
        assert(own.nonEmpty, s"${cls.getName}.$name not found by javap")
        own.toSeq ++ ends.filter(_._1.startsWith("$anonfun$" + name + "$")).toSeq
      }.sorted.map { case (m, end) => (s"${cls.getName}.$m", end) }
    }
    report.foreach { case (m, end) => println(f"[jit-guard] $m%-50s ends at $end") }
    val huge = report.filter(_._2 >= Limit)
    assert(huge.isEmpty,
      s"methods at or past the JIT's $Limit-byte huge-method limit: " +
        huge.map { case (m, end) => s"$m ends at $end" }.mkString(", "))
  }
}
