package graft.experiment

import org.apache.spark.scheduler._

/** Per-query job/stage/task accounting — the measure-first tool for the
  * r19 optimization round (guide §1). Runs named SparkEntry queries
  * through the noop sink exactly like Bench (same [[graft.Session]]),
  * after one untimed warmup pass, and prints for each query: wall
  * seconds, Spark job count, stage count, task count, summed executor
  * run time, and the gap between wall time and scheduled work
  * (= driver/planning/broadcast overhead). At sf0.1
  * the corpus is small enough that job COUNT × fixed cost dominates the
  * heavy queries — this tool exists to attribute that before and after
  * a restructure.
  * Run: runMain graft.experiment.JobProfile <q1,q2,...> [sfDir] [passes]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.Session.build()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val byStage =
      new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        val key = s.stageInfo.name.takeWhile(_ != '\n').take(80)
        val ms = Option(s.stageInfo.taskMetrics)
          .map(_.executorRunTime).getOrElse(0L)
        byStage.merge(key, (s.stageInfo.numTasks, ms),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)
    val verbose = sys.env.get("GRAFT_PROF_STAGES").contains("1")

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      // warmup (codegen + index caches), untimed
      fn(spark, d).write.mode("overwrite").format("noop").save()
      val rows = for (p <- 1 to passes) yield {
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L; byStage.clear()
        val t0 = System.nanoTime()
        fn(spark, d).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        (wall, jobs, stages, tasks, taskMs)
      }
      val best = rows.minBy(_._1)
      println(f"[prof] $name%-28s wall=${best._1}%7.3f s  jobs=${best._2}%4d  stages=${best._3}%4d  tasks=${best._4}%5d  taskSum=${best._5 / 1000.0}%7.3f s")
      if (verbose) {
        import scala.jdk.CollectionConverters._
        byStage.asScala.toSeq.sortBy(-_._2._2).take(14).foreach {
          case (k, (n, ms)) =>
            println(f"[stage] $name ${ms / 1000.0}%8.3f s  n=$n%5d  $k")
        }
      }
    }
    spark.stop()
  }
}
