package graft

import graft.operators.AnnIndex
import org.scalatest.funsuite.AnyFunSuite

/** [[SessionCache]]: one build per (session, key), a hit never evaluates
  * the by-name build, a new session builds afresh, and only a logged
  * cache writes to [[AnnIndex.buildLog]].
  */
class SessionCacheSpec extends AnyFunSuite with SparkSuite {

  /** A build that counts its evaluations and returns a fresh instance. */
  private final class Counted {
    var builds = 0
    def apply(): AnyRef = { builds += 1; new Object }
  }

  test("a key builds once per session and a hit returns the same instance") {
    val cache = SessionCache[String, AnyRef]()
    val build = new Counted
    val first = cache(spark, "k")(build())
    val second = cache(spark, "k")(build())
    assert(build.builds == 1)
    assert(first eq second)
  }

  test("distinct keys build separately") {
    val cache = SessionCache[(String, Int), AnyRef]()
    val build = new Counted
    val a = cache(spark, ("p", 1))(build())
    val b = cache(spark, ("p", 2))(build())
    assert(build.builds == 2)
    assert(!(a eq b))
    assert(cache(spark, ("p", 1))(build()) eq a)
    assert(build.builds == 2)
  }

  test("after stop(), a new session rebuilds") {
    val cache = SessionCache[String, AnyRef]()
    val build = new Counted
    val before = cache(spark, "k")(build())
    spark.stop()
    spark = Session.build()
    val after = cache(spark, "k")(build())
    assert(build.builds == 2)
    assert(!(before eq after))
  }

  test("a logged cache records its derived name; an unlogged one records nothing") {
    val logged = SessionCache.logged[(String, Int), AnyRef] {
      case (_, n) => s"sessioncache-spec:$n"
    }
    val unlogged = SessionCache[(String, Int), AnyRef]()
    val log0 = AnnIndex.buildLog.keySet
    unlogged(spark, ("u", 7))(new Object)
    assert(AnnIndex.buildLog.keySet == log0)
    logged(spark, ("l", 7))(new Object)
    assert(AnnIndex.buildLog.keySet == log0 + "sessioncache-spec:7")
  }
}
