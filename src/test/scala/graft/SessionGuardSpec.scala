package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps main sources on one session factory and one session-cache type:
  * a main builds its session through [[Session]], and a per-session cache
  * is a [[SessionCache]], so neither decision is restated elsewhere.
  */
class SessionGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (file, line number) of every line under src/main/scala containing
    * `pattern`, outside the file that owns it.
    */
  private def hits(pattern: String, owner: Path): Seq[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != root.resolve(owner))
      .toSeq
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) => s"$p:${i + 1}"
        }
      }
    finally walk.close()
  }

  test("src/main exists where the guard looks") {
    assert(Files.isRegularFile(root.resolve("graft/Session.scala")))
    assert(Files.isRegularFile(root.resolve("graft/SessionCache.scala")))
  }

  test("SparkSession.builder appears only in graft/Session.scala") {
    val found = hits("SparkSession.builder", Paths.get("graft/Session.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("WeakHashMap[SparkSession appears only in graft/SessionCache.scala") {
    val found = hits("WeakHashMap[SparkSession", Paths.get("graft/SessionCache.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
