package perfbench

import graft.operators.{AnnIndex, Estimation, GraphOps, Relational, TextPipeline}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `corpus`: a pinned sample of `SparkEntry.queries`, one per module, run
  * through the `noop` sink.
  */
object Corpus {
  type Q = (SparkSession, String) => DataFrame

  val Modules: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> Relational.queries,
    "estimation" -> Estimation.queries,
    "textpipeline" -> TextPipeline.queries,
    "graphops" -> GraphOps.queries)

  val Oracle: Map[String, String] = graft.SparkEntry.oracleSql

  /** One query per module, each with an oracle SQL so every query gets the
    * DuckDB check; e7 builds an IVF index in set-up. The sample is pinned
    * and the seed sets its order: seed-drawn samples of this size spread
    * 15-20% in cost between seeds.
    */
  val Sample: Seq[String] =
    Seq("j3_date_align", "t1_adf_batch", "e7_ivf_recall", "g18_rich_club")

  def module(q: String): String = Modules.find(_._2.contains(q)).map(_._1).get
}

/** One pass over the sampled queries; each query is one attempt. */
final case class CorpusPass(queries: IndexedSeq[String], dataDir: String) extends Pass {
  val name: String = queries.mkString(",")
  override def attempts: Int = queries.size

  def run(ctx: Ctx): Seq[String] = queries.flatMap { q =>
    val fn = graft.SparkEntry.queries(q)
    try {
      ctx.timed(q)(ctx.spans(s"corpus.${Corpus.module(q)}")(
        fn(ctx.spark, dataDir).write.mode("overwrite").format("noop").save()))
      ctx.counts(s"corpus.${Corpus.module(q)}.queries") += 1
      None
    } catch { case e: Exception => Some(s"$q: $e") }
  }
}

final class CorpusWorkload(seed: Long, dataDir: String, outDir: Path) extends Workload {
  val name = "corpus"
  val queries: IndexedSeq[String] = new scala.util.Random(seed).shuffle(Corpus.Sample).toIndexedSeq
  val cycle: IndexedSeq[Pass] = IndexedSeq(CorpusPass(queries, dataDir))

  /** Runs every sampled query once; the ANN indexes they use are built here. */
  def warm(ctx: Ctx): Seq[String] = {
    val before = AnnIndex.buildLog
    val failures = cycle.head.run(ctx)
    val after = AnnIndex.buildLog
    ctx.counts("annindex.builds") += after.keySet.count(k => !before.contains(k) || after(k) != before(k))
    ctx.counts("annindex.build_s") += after.values.sum - before.values.sum
    failures
  }

  def serial(ctx: Ctx): Map[String, (Double, Double)] = Map.empty

  /** Writes each sampled query's result and its oracle SQL for the DuckDB
    * check that runs after the JVM exits.
    */
  override def after(ctx: Ctx): Seq[String] = {
    Files.createDirectories(outDir)
    val failures = queries.flatMap { q =>
      try {
        graft.SparkEntry.queries(q)(ctx.spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(q).toString)
        None
      } catch { case e: Exception => Some(s"$q: result dump failed: $e") }
    }
    val sql = queries.filter(Corpus.Oracle.contains).map(q => q -> Corpus.Oracle(q))
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.obj(sql.map { case (k, v) => k -> Json.str(v) }))
    failures
  }
}
