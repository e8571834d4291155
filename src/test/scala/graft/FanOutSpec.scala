package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[FanOut]]'s contract: results in item order for any item count, with
  * and without a session, and a throwing part fails the call without
  * spoiling the session for the next fan-out.
  */
class FanOutSpec extends AnyFunSuite with SparkSuite {

  test("results come back in item order, one per item, for 0, 1, < parts and parts x 4 + 1 items") {
    val cores = spark.sparkContext.defaultParallelism
    val cases = for {
      perCore <- Seq(1, 4)
      slots = cores * perCore
      n <- Seq(0, 1, slots - 1, slots * 4 + 1)
    } yield (n, perCore, slots)
    // Fewer items than task slots, and more, at any core count.
    assert(cases.exists { case (n, _, slots) => 1 < n && n < slots }, s"cores=$cores")
    assert(cases.exists { case (n, _, slots) => n > slots }, s"cores=$cores")
    for ((n, perCore, slots) <- cases; session <- Seq(None, Some(spark))) {
      // Each result records the step of its part's share: the part count.
      val out = FanOut(session, n, perCore, "x") { (sh, share) =>
        share.map(i => (s"$sh$i", share.step))
      }
      val parts = if (session.isEmpty) 1 else math.max(1, math.min(n, slots))
      assert(out == (0 until n).map(i => (s"x$i", parts)),
        s"n=$n perCore=$perCore cores=$cores session=${session.isDefined}")
    }
  }

  test("a throwing part makes the call throw, and the session runs the next fan-out") {
    for (session <- Seq(None, Some(spark))) {
      val e = intercept[Exception] {
        FanOut(session, 9, perCore = 1, ()) { (_, share) =>
          share.map(i => if (i == 6) sys.error("item 6 failed") else i)
        }
      }
      assert(e.getMessage.contains("item 6 failed"), e.getMessage)
      val short = intercept[IllegalArgumentException] {
        FanOut(session, 9, perCore = 1, ()) { (_, share) => share.drop(1) }
      }
      assert(short.getMessage.contains("results for"), short.getMessage)
      assert(FanOut(session, 9, perCore = 1, 10) { (k, share) => share.map(_ * k) } ==
        (0 until 9).map(_ * 10))
    }
  }
}
