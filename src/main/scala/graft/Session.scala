package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every main and every spec builds: `local[n]` with
  * n shuffle partitions, UTC session time zone, UI off, WARN logging, and
  * the SQL functions of [[graft.plans.GraftExtensions]] (it injects
  * functions only, so no DataFrame plan changes). n is `SPARK_GRAFT_CPUS`
  * when set (the deployment override), else the host's available
  * processors. Callers that report the core count read it back as
  * `spark.sparkContext.defaultParallelism`.
  */
object Session {
  def build(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
