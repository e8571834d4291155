package graft.experiment

/** Dump the FULL `.explain("formatted")` physical plan of named
  * SparkEntry queries to files — the r19 optimization round's
  * before/after plan evidence (plans/r19/<query>_<tag>.txt). The query
  * is executed once through the noop sink first so AQE-final shapes and
  * index caches are warm, then the formatted plan of a fresh
  * instantiation is written.
  * Run: runMain graft.experiment.PlanText <q1,q2,...> <outDir> <tag> [sfDir]
  */
object PlanText {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val d = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.build()
    java.nio.file.Files.createDirectories(outDir)
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, d).write.mode("overwrite").format("noop").save()
      val df = fn(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val counts = Seq("Exchange", "BroadcastExchange", "SortMergeJoin",
        "BroadcastHashJoin", "ShuffledHashJoin", "HashAggregate",
        "Scan parquet", "WholeStageCodegen")
        .map(k => s"$k=${txt.sliding(k.length).count(_ == k)}")
        .mkString(" ")
      val body = s"== $name ($tag) ==\n[opcounts] $counts\n\n$txt"
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        body.getBytes("UTF-8"))
      println(s"[plantext] wrote ${name}_$tag.txt  $counts")
    }
    spark.stop()
  }
}
