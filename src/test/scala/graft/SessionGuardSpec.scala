package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Keeps main sources on one session factory, one session-cache type, one
  * fan-out and one scratch root: a main builds its session through
  * [[Session]] (a spec too, through [[SparkSuite]]), a write-once cache is a [[SessionCache]], independent items
  * go to Spark tasks through [[FanOut]], and an on-disk artifact's path —
  * a test's temporary directory included — comes from [[Scratch]], so none
  * of these decisions is restated elsewhere.
  */
class SessionGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")
  /** This spec names the guarded calls in its own patterns. */
  private val self = testRoot.resolve("graft/SessionGuardSpec.scala")

  /** (file, line number) of every match of `pattern` under `roots`
    * (src/main/scala by default), outside the main file that owns it and
    * this spec. A match may span lines (a call chain broken before
    * `.method`); it is reported at the line it starts on.
    */
  private def hits(pattern: Regex, owner: Path, roots: Seq[Path] = Seq(root)): Seq[String] =
    roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != root.resolve(owner) && p != self)
        .toSeq
        .flatMap { p =>
          val text = Files.readString(p)
          pattern.findAllMatchIn(text)
            .map(m => s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}")
        }
      finally walk.close()
    }

  private def literal(s: String): Regex = Regex.quote(s).r

  test("src/main exists where the guard looks") {
    assert(Files.isRegularFile(root.resolve("graft/Session.scala")))
    assert(Files.isRegularFile(root.resolve("graft/SessionCache.scala")))
    assert(Files.isRegularFile(root.resolve("graft/FanOut.scala")))
    assert(Files.isRegularFile(root.resolve("graft/Scratch.scala")))
    assert(Files.isRegularFile(self))
  }

  test("SparkSession.builder appears only in graft/Session.scala") {
    // Test sources too: tier-1 runs on the session the mains run on, at
    // the core count SPARK_GRAFT_CPUS names.
    val found = hits(literal("SparkSession.builder"), Paths.get("graft/Session.scala"),
      Seq(root, testRoot))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("WeakHashMap[SparkSession appears only in graft/SessionCache.scala") {
    val found = hits(literal("WeakHashMap[SparkSession"), Paths.get("graft/SessionCache.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("sparkContext.parallelize appears only in graft/FanOut.scala") {
    val found = hits("""sparkContext\s*\.parallelize""".r, Paths.get("graft/FanOut.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("getOrElseUpdate( appears only in graft/SessionCache.scala") {
    val found = hits(literal("getOrElseUpdate("), Paths.get("graft/SessionCache.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("createTempDirectory, addShutdownHook and UUID.randomUUID appear only in graft/Scratch.scala") {
    // Test sources too: a spec's temporary directory is a Scratch path, so
    // tier-1 leaves nothing behind in the system temp dir.
    val found = Seq("createTempDirectory", "addShutdownHook", "UUID.randomUUID")
      .flatMap(s => hits(literal(s), Paths.get("graft/Scratch.scala"), Seq(root, testRoot)))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
