package graft

import org.apache.spark.sql.SparkSession
import scala.reflect.ClassTag

/** The one fan-out of independent items over Spark tasks (the MLlib*
  * pattern: one task-local fit per item on a broadcast design, no
  * driver-side aggregation). Maps the items `0 until n` and returns their
  * results in item order.
  *
  * The items are split into `parts = min(n, defaultParallelism × perCore)`
  * parts with a session, 1 without; part t gets the round-robin share
  * `t until n by parts`, so item i sits at position i / parts of part
  * i % parts. More than one part runs as ONE Spark job, one task per part,
  * with `shared` broadcast once (and destroyed when the job ends, thrown or
  * not). One part is a plain call of `part` on the calling thread: no job,
  * and without a session no SparkContext is touched, so a task may fan out
  * again with `spark = None`. Each result must be a function of its item
  * alone; then the two paths agree bit for bit.
  *
  * @param perCore parts per core: above 1 when items cost unevenly, so the
  *                scheduler can balance the shares across the cores
  * @param part    one result per item of the given share, in share order
  */
object FanOut {
  def apply[S: ClassTag, R](spark: Option[SparkSession], n: Int, perCore: Int, shared: S)(
      part: (S, Range) => Seq[R]): IndexedSeq[R] = {
    val parts = spark.fold(1)(s =>
      math.max(1, math.min(n, s.sparkContext.defaultParallelism * perCore)))
    val byPart: IndexedSeq[IndexedSeq[R]] =
      if (parts == 1) IndexedSeq(part(shared, 0 until n).toIndexedSeq)
      else {
        val s = spark.get
        val bc = s.sparkContext.broadcast(shared)
        try s.sparkContext.parallelize(0 until parts, parts)
          .map(t => part(bc.value, t until n by parts).toIndexedSeq)
          .collect().toIndexedSeq
        finally bc.destroy()
      }
    byPart.indices.foreach { t =>
      val want = (t until n by parts).length
      require(byPart(t).length == want,
        s"fan-out part $t of $parts returned ${byPart(t).length} results for $want items")
    }
    IndexedSeq.tabulate(n)(i => byPart(i % parts)(i / parts))
  }
}
