package graft

import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint RECOVERY — the operational contract stateful streaming is
  * FOR (r14 verdict #1): every StreamingSpec scenario replays
  * MemoryStream in-process, which pins the state ALGEBRA but never that
  * the state SURVIVES a failover. These scenarios run each op over a
  * parquet FILE source (one file per micro-batch, written-then-drained,
  * so batch boundaries pin identically across runs) through a real
  * `checkpointLocation`, STOP the query between micro-batches, restart a
  * fresh query object from the same checkpoint, and assert the recovered
  * run's final state ≡ the uninterrupted run's ≡ the batch twin. Each op
  * carries a post-restart probe that is only answerable from recovered
  * state (a late lower-seq CDC row that must LOSE against the
  * pre-restart winner; a union edge that must MERGE two pre-restart
  * components; a kll fold whose n and err_bound must carry the
  * pre-restart slots) — a query that silently restarted EMPTY fails the
  * probe, not just a count. The sink is foreachBatch (the memory sink
  * refuses checkpoint recovery in update mode), which is also the
  * production shape these doors deploy behind. This doubles as the
  * RocksDB state-encoder versioning smoke test transformWithState
  * depends on: the restarted query re-reads every ValueState/MapState
  * row written by its predecessor.
  */
class RecoverySpec extends AnyFunSuite with SparkSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    // A runtime SQL conf, read when each streaming query starts.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  /** Drive `op` over a file-source stream: write each batch as ONE
    * parquet file, drain it, and — when `stopAfter` is set — stop the
    * query after that many batches and START A FRESH QUERY from the same
    * checkpointLocation before continuing. Returns every update-mode
    * emission across all query incarnations (captured via foreachBatch
    * into a local buffer; single-JVM tests make that sound).
    */
  private def driveFiles(
      tag: String,
      batches: Seq[DataFrame],
      op: DataFrame => DataFrame,
      stopAfter: Option[Int],
      mode: String = "update"): Seq[Row] = {
    val in = TestData.scratchDir(s"rec_in_$tag").getAbsolutePath
    val chk = TestData.scratchDir(s"rec_chk_$tag").getAbsolutePath
    val schema = batches.head.schema
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    def start() =
      op(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(in))
        .writeStream
        .outputMode(mode)
        .option("checkpointLocation", chk)
        .foreachBatch { (d: Dataset[Row], _: Long) =>
          buf.synchronized { buf ++= d.collect() }; ()
        }
        .start()
    var q = start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        b.coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
        if (stopAfter.contains(i + 1)) {
          q.stop() // the failover
          q = start() // recovery: fresh query, same checkpointLocation
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    buf.toSeq
  }

  /** Final per-key snapshot from update-mode emissions: the row carrying
    * the op's monotone per-key counter maximum (the n_ops_seen /
    * n_edges_seen / n convention every door tags its snapshots with).
    */
  private def latestBy(rows: Seq[Row], keyIdx: Int, ctrName: String)
      : Map[Any, Seq[Any]] =
    rows.groupBy(_.get(keyIdx))
      .map { case (k, rs) =>
        k -> rs.maxBy(_.getLong(rs.head.fieldIndex(ctrName))).toSeq
      }

  test("mergeStream recovers its keep-latest state from the checkpoint") {
    val s = spark
    import s.implicits._
    def cdc(rows: Seq[(Long, Long, String, Option[Long], Option[String])]) =
      rows.toDF("k", "seq", "op", "price_e4", "prio")
    // b3 (post-restart) carries the probe: keys 1–3 re-arrive with a
    // LOWER seq — they must lose against the recovered seq=2 winners.
    // A query that restarted with empty state crowns them instead.
    val batches = Seq(
      cdc((1L to 12L).map(k => (k, 1L, "I", Some(k * 100), Some("a")))),
      cdc((1L to 6L).map(k => (k, 2L, "U", Some(k * 100 + 5), Some("b"))) ++
        (7L to 9L).map(k => (k, 2L, "D", None, None))),
      cdc((1L to 3L).map(k => (k, 1L, "Z", Some(999L), Some("z"))) ++
        (13L to 15L).map(k => (k, 1L, "I", Some(k * 100), Some("a")))))
    val op = (df: DataFrame) => EventStream.mergeStream(df).toDF
    val recovered = latestBy(
      driveFiles("merge_rec", batches, op, stopAfter = Some(2)),
      0, "n_ops_seen")
    val straight = latestBy(
      driveFiles("merge_unb", batches, op, stopAfter = None),
      0, "n_ops_seen")
    assert(recovered == straight,
      s"recovered != uninterrupted:\n$recovered\n$straight")
    // Batch twin: cdcLatest's rule (higher seq wins, equal seq breaks
    // toward the smaller op) over the concatenated arrivals, n = count.
    val all = batches.zipWithIndex.flatMap { case (b, i) =>
      b.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getString(4))))
    }
    val expect = all.groupBy(_._1).map { case (k, rs) =>
      val w = rs.minBy(r => (-r._2, r._3))
      k -> Seq[Any](k, w._2, w._3, w._4.orNull, w._5.orNull, rs.size.toLong)
    }
    assert(recovered == expect, s"recovered != batch rule:\n$recovered\n$expect")
    // The probe explicitly: key 1's winner is still the seq=2 upsert.
    assert(recovered(1L)(1) == 2L && recovered(1L)(2) == "U",
      s"late lower-seq row won — state did not survive: ${recovered(1L)}")
  }

  test("componentsStream recovers its union-find state from the checkpoint") {
    val s = spark
    import s.implicits._
    def edges(e: Seq[(Long, Long)]) = e.toDF("src", "dst")
    // b3 (post-restart) carries the probe: edge (4,10) must MERGE the
    // two components built before the failover — only answerable if the
    // recovered parent map still holds both trees.
    val batches = Seq(
      edges(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))),
      edges(Seq((3L, 4L), (11L, 12L), (21L, 22L))),
      edges(Seq((4L, 10L), (30L, 31L))))
    val op = (df: DataFrame) => EventStream.componentsStream(df).toDF
    val recovered = latestBy(
      driveFiles("cc_rec", batches, op, stopAfter = Some(2)),
      0, "n_edges_seen")
    val straight = latestBy(
      driveFiles("cc_unb", batches, op, stopAfter = None),
      0, "n_edges_seen")
    assert(recovered == straight,
      s"recovered != uninterrupted:\n$recovered\n$straight")
    val expectLbl = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L, 11L -> 1L,
      12L -> 1L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L)
    val expect = expectLbl.map { case (n, l) => (n: Any) -> Seq[Any](n, l, 9L) }
    assert(recovered == expect, s"recovered != min-label flood:\n$recovered")
  }

  test("kllStream recovers its binary-counter slots from the checkpoint") {
    val s = spark
    import s.implicits._
    import graft.functions.KllSketch
    def evs(rows: Seq[(String, Int, Int)]) =
      rows.map { case (g, i, v) =>
        (g, new java.sql.Timestamp(1700000000000L + i * 1000L), v / 100.0)
      }.toDF("event_type", "ts", "value")
    // Key a outgrows k (compactions + slot carries live in state); key b
    // stays under k so its recovered sketch must still be EXACT.
    val batches = Seq(
      evs((0 until 200).map(i => ("a", i, (i * 37) % 9973)) ++
        (0 until 20).map(i => ("b", i, (i * 101 + 3) % 997))),
      evs((200 until 350).map(i => ("a", i, (i * 37) % 9973)) ++
        (20 until 35).map(i => ("b", i, (i * 101 + 3) % 997))),
      evs((350 until 530).map(i => ("a", i, (i * 37) % 9973)) ++
        (35 until 45).map(i => ("b", i, (i * 101 + 3) % 997))))
    val op = (df: DataFrame) => EventStream.kllStream(df).toDF
    val recovered = latestBy(
      driveFiles("kll_rec", batches, op, stopAfter = Some(2)), 0, "n")
    val straight = latestBy(
      driveFiles("kll_unb", batches, op, stopAfter = None), 0, "n")
    assert(recovered == straight,
      s"recovered != uninterrupted:\n$recovered\n$straight")
    // Batch twin: the same-split Scala foldStep+union (file boundaries
    // are the micro-batches by construction). n carrying 530 for key a
    // is only possible if the pre-restart slots were reloaded.
    def pairs(b: DataFrame, g: String) =
      b.collect().filter(_.getString(0) == g).map { r =>
        val us = r.getTimestamp(1).getTime * 1000L
        val cents = math.round(r.getDouble(2) * 100)
        (cents, ((us * 31 + cents) % 4294967296L + 4294967296L) % 4294967296L)
      }.toSeq
    Seq("a", "b").foreach { g =>
      val slots = batches.foldLeft(
          Vector.empty[Option[KllSketch.Sketch]]) { (acc, b) =>
        val p = pairs(b, g)
        if (p.isEmpty) acc
        else KllSketch.foldStep(acc, KllSketch.build(p, 64), 64)
      }
      val fold = KllSketch.union(slots, 64)
      val r = recovered(g)
      assert(r(1) == fold.n && r(2) == fold.level.toLong &&
        r(3) == fold.items.size.toLong && r(4) == fold.errBound,
        s"$g: recovered $r != fold " +
          s"(${fold.n},${fold.level},${fold.items.size},${fold.errBound})")
      assert(r(6) == fold.valueAtRank(((50 * fold.n + 99) / 100).max(1L)),
        s"$g q50 diverged from the fold")
    }
    assert(recovered("b")(4) == 0L && recovered("b")(3) == 45L,
      s"key b must recover EXACT: ${recovered("b")}")
  }

  test("asofStream recovers its latest-quote state from the checkpoint") {
    // The enrichment door's failover contract: quotes arrive BEFORE the
    // stop, probes after the restart — every post-restart match is
    // answerable only from recovered ValueState (a query that restarted
    // empty emits NULL matches and fails the probe). Append mode: the
    // op's flatMapGroupsWithState declares Append, and emitted matches
    // must also NOT be re-emitted by the restarted incarnation (the
    // committed-offset contract — duplicate P1 rows would mean the
    // restart re-read batch 1).
    val s = spark
    import s.implicits._
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    def ev(rows: Seq[(Long, Option[Long], java.sql.Timestamp, String,
        Option[Double])]) =
      rows.toDF("event_id", "user_id", "ts", "event_type", "value")
    val batches = Seq(
      ev(Seq((100L, Some(1L), t(10), "purchase", Some(1.5)),
        (110L, Some(2L), t(11), "purchase", Some(2.5)),
        (201L, Some(1L), t(20), "click", None))),
      ev(Seq((202L, Some(1L), t(30), "click", None),
        (203L, Some(2L), t(31), "view", None),
        (204L, Some(3L), t(32), "click", None))))
    val op = (df: DataFrame) => EventStream.asofStream(df).toDF
    def matches(rows: Seq[Row]): Map[Long, Option[Any]] =
      rows.map(r => r.getLong(0) -> Option(r.get(3))).toMap
    val recRows = driveFiles("asof_rec", batches, op,
      stopAfter = Some(1), mode = "append")
    val rec = matches(recRows)
    val unb = matches(driveFiles("asof_unb", batches, op,
      stopAfter = None, mode = "append"))
    assert(rec == unb, s"recovered != uninterrupted:\n$rec\n$unb")
    assert(rec(201L) == Some(100L) && rec(202L) == Some(100L) &&
      rec(203L) == Some(110L) && rec(204L).isEmpty,
      s"post-restart probes diverged: $rec")
    assert(recRows.count(_.getLong(0) == 201L) == 1,
      "P1 re-emitted — the restart re-read a committed batch")
  }

  test("idempotent batchId-keyed sink: a replayed micro-batch cannot double-write") {
    // The OUTPUT half of the recovery contract (r15 verdict #6): the
    // scenarios above prove STATE survives a restart; this proves the
    // SINK does. A planted crash fires AFTER idempotentBatchWrite has
    // written batch 1 but BEFORE the offset log commits it — the
    // at-least-once window every foreachBatch deployment lives in — so
    // the restarted query genuinely REPLAYS batch 1 with the same
    // batchId. The sink's batch-partition overwrite must absorb the
    // replay: final sink contents ≡ the uninterrupted run's, with zero
    // duplicate rows. A naive append sink fails this with batch 1
    // doubled (asserted as the negative control).
    val s = spark
    import s.implicits._
    val batches = Seq(
      (1L to 5L).map(k => (k, k * 10)).toDF("k", "v"),
      (6L to 9L).map(k => (k, k * 10)).toDF("k", "v"),
      (10L to 12L).map(k => (k, k * 10)).toDF("k", "v"))
    def tmp(tag: String) = TestData.scratchDir(s"rec_$tag").getAbsolutePath
    def drive(plantCrash: Boolean, naiveAppend: Boolean): Seq[(Long, Long)] = {
      val (in, chk, sink) = (tmp("eo_in"), tmp("eo_chk"), tmp("eo_sink"))
      val crash = new java.util.concurrent.atomic.AtomicBoolean(plantCrash)
      def start() = s.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream.outputMode("append")
        .option("checkpointLocation", chk)
        .foreachBatch { (d: Dataset[Row], id: Long) =>
          if (naiveAppend)
            d.write.mode("append").parquet(s"$sink/data")
          else
            EventStream.idempotentBatchWrite(d.toDF, id, sink)
          if (id == 1 && crash.getAndSet(false))
            throw new RuntimeException("planted post-write crash")
          ()
        }.start()
      var q = start()
      batches.foreach { b =>
        b.coalesce(1).write.mode("append").parquet(in)
        try q.processAllAvailable()
        catch { case _: Throwable => // the planted failover
          q = start() // recovery: fresh query, same checkpoint
          q.processAllAvailable()
        }
      }
      q.stop()
      val read = if (naiveAppend) s.read.parquet(s"$sink/data")
        else EventStream.readSink(s, sink).select(col("k"), col("v"))
      read.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    val recovered = drive(plantCrash = true, naiveAppend = false)
    val straight = drive(plantCrash = false, naiveAppend = false)
    assert(recovered == straight,
      s"replayed sink != uninterrupted sink:\n$recovered\n$straight")
    assert(recovered.distinct.size == recovered.size,
      s"duplicate rows in the idempotent sink: $recovered")
    assert(recovered.map(_._1).sorted == (1L to 12L),
      s"sink lost rows: $recovered")
    // Negative control: the same crash against a naive append sink
    // REALLY double-writes — proving the planted crash exercises the
    // at-least-once window rather than a clean stop.
    val naive = drive(plantCrash = true, naiveAppend = true)
    assert(naive.size > recovered.size && naive.distinct.size < naive.size,
      s"negative control did not double-write (crash not in the window): $naive")
  }
}
