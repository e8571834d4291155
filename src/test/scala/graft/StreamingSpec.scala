package graft

import graft.streaming.EventStream
import graft.sources.{Tables, TuningIO}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extension + tuning IO: the streaming windowed aggregate and
  * stateful dedup must agree with their batch equivalents on the same
  * (replayed) data; the tuning table round-trips into estimator vectors.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming windowed aggregate replays to the same result as the batch aggregate") {
    val q = EventStream.windowedAgg(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("win_agg").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_agg")
      .orderBy("window_start", "event_type").collect()

    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))
      .orderBy("window_start", "event_type").collect()

    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s0, b) =>
      assert(s0.getTimestamp(0) == b.getTimestamp(0))
      assert(s0.getString(1) == b.getString(1))
      assert(s0.getLong(2) == b.getLong(2))
      assert(math.abs(s0.getDouble(3) - b.getDouble(3)) < 1e-6)
    }
  }

  test("hllRegisterStream folds registers by MAX across micro-batches") {
    // The merge-law edge the single-batch replay can't exercise: users
    // split across two micro-batches must land in the SAME register table
    // as one batch over their union — the streaming state's MAX fold is
    // the sketch's merge. A register lost or reset between batches
    // diverges here while staying green on the one-batch replay.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP, Encoders.STRING),
      s.sqlContext)
    val base = 1700000000000L
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    def rows(us: Range) = us.map(u => (u.toLong, t(u % 50), "view"))
    val q = EventStream.hllRegisterStream(
        ms.toDF.toDF("user_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("hll_batches")
      .outputMode("complete").start()
    try {
      ms.addData(rows(1 to 40): _*)
      q.processAllAvailable()
      ms.addData(rows(41 to 80): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hll_batches")
      .orderBy("window_start", "event_type", "bucket").collect()
    val batch = batchRegisters(
        rows(1 to 80).toDF("user_id", "ts", "event_type"))
      .orderBy("window_start", "event_type", "bucket").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
  }

  /** The batch spelling of hllRegisterStream's register table — shared by
    * the replay tests (identical expressions, no watermark).
    */
  private def batchRegisters(events: org.apache.spark.sql.DataFrame) = {
    val h = operators.Relational.fmix32(col("user_id"))
    val w = shiftright(h, 8)
    val rho = when(w === 0, lit(25L))
      .otherwise(lit(25L) - length(conv(w.cast("string"), 10, 2)).cast("long"))
    events
      .select(col("ts"), col("event_type"), (h % 256).as("bucket"), rho.as("rho"))
      .groupBy(window(col("ts"), "1 hour").as("win"),
        col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("bucket"), col("r"))
  }

  test("streaming HLL registers replay to the batch sketch; estimate lands near exact") {
    // a17's relational HyperLogLog on the streaming surface: the register
    // table folded across micro-batches by MAX must equal the batch
    // spelling register-for-register (max is the sketch's merge law), and
    // the closed-form estimate over the streamed registers must land near
    // the exact per-(window, type) distinct-user count.
    val q = EventStream.hllRegisterStream(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hll_regs")
      .orderBy("window_start", "event_type", "bucket").collect()

    val batch = batchRegisters(Tables.events(spark, sfDir))
      .orderBy("window_start", "event_type", "bucket").collect()

    assert(streamed.length == batch.length && streamed.nonEmpty,
      s"register rows: streamed ${streamed.length} vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }

    // Estimate sanity on the most-registered (window, type) group.
    val top = spark.table("hll_regs")
      .groupBy("window_start", "event_type").count()
      .orderBy(col("count").desc, col("window_start"), col("event_type"))
      .first()
    val rs = spark.table("hll_regs")
      .filter(col("window_start") === top.get(0) &&
        col("event_type") === top.getString(1))
      .select("r").collect().map(_.getLong(0))
    val zeros = 256 - rs.length
    val dsum = rs.map(r => math.pow(2.0, -r.toDouble)).sum + zeros
    val raw = 0.7213 / (1 + 1.079 / 256) * 65536.0 / dsum
    val est = if (raw <= 640 && zeros > 0) 256.0 * math.log(256.0 / zeros) else raw
    val exact = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd"))
      .filter(col("win.start") === top.get(0) &&
        col("event_type") === top.getString(1))
      .first().getLong(2)
    assert(exact > 0 && math.abs(est / exact - 1.0) < 0.3,
      s"HLL estimate $est vs exact $exact")
  }

  test("bottomKStream folds the KMV sample across micro-batches (min-k merge law)") {
    // The a18 analog of the hll merge test: events split across two
    // micro-batches must land in the SAME bottom-k sample as one batch
    // over their union — the streaming state's union-then-recut through
    // the bounded top_k_pairs aggregate IS the KMV merge. A pair lost or
    // re-ranked between batches diverges here while staying green on the
    // one-batch replay.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaDouble),
      s.sqlContext)
    val base = 1700000000000L
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    def rows(es: Range) = es.map(e =>
      (e.toLong, t(e % 50), (e * 7 % 23).toLong, "view", (e % 97) + 0.25))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.bottomKStream(
        ms.toDF.toDF(cols: _*), k = 8)
      .writeStream.format("memory").queryName("kmv_batches")
      .outputMode("complete").start()
    try {
      ms.addData(rows(1 to 60): _*)
      q.processAllAvailable()
      ms.addData(rows(61 to 120): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("kmv_batches")
      .orderBy("window_start", "event_type", "rank").collect()
    // Batch spelling: the SAME function over the union frame (withWatermark
    // is a no-op on a batch Dataset), so expressions are identical by
    // construction and the comparison isolates the streaming fold.
    val batch = EventStream.bottomKStream(
        rows(1 to 120).toDF(cols: _*), k = 8)
      .orderBy("window_start", "event_type", "rank").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
  }

  test("streaming KMV bottom-k replays to the batch sample on the events table") {
    val q = EventStream.bottomKStream(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("kmv_replay")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("kmv_replay")
      .orderBy("window_start", "event_type", "rank").collect()
    val batch = EventStream.bottomKStream(Tables.events(spark, sfDir))
      .orderBy("window_start", "event_type", "rank").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty,
      s"sample rows: streamed ${streamed.length} vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
    // The sample is bounded: no (window, type) group exceeds k rows, and
    // ranks are dense from 1.
    val over = spark.table("kmv_replay")
      .groupBy("window_start", "event_type").count()
      .filter(col("count") > 64).count()
    assert(over == 0, "a group exceeded the k=64 sample bound")
  }

  test("ivfIngest: streamed assignments match the batch-built lists pair-for-pair") {
    // Two independent spellings of the same argmin must agree on every
    // vector INCLUDING ties: the batch build's crossJoin + groupBy
    // min(struct(dist, cid)) versus the stream's per-row array_min over
    // a centroid literal. Then the streamed run must equal the batch
    // run of the same function — a pure map, so the replay is exact.
    val idx = graft.operators.AnnIndex.ivfFor(spark, sfDir,
      Tables.embeddings(spark, sfDir), nlist = 16, iters = 2)
    val batchAssign = graft.operators.AnnIndex
      .ivfAssign(idx, Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("cid"))
      .orderBy("vec_id").collect().toSeq
    val fromLists = idx.lists.select(col("vec_id"), col("cid"))
      .orderBy("vec_id").collect().toSeq
    assert(batchAssign == fromLists,
      "per-row argmin diverges from the build-time assignment")
    val q = EventStream.ivfIngest(idx, EventStream.readEmbeddings(spark, sfDir))
      .writeStream.format("memory").queryName("ivf_ingest")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ivf_ingest")
      .orderBy("vec_id").collect().toSeq
    assert(streamed == batchAssign && streamed.nonEmpty,
      s"streamed ${streamed.length} rows diverge from batch assignment")
  }

  test("pqIngest: streamed codes match the batch-trained corpus codes code-for-code") {
    // Two spellings of the per-subspace argmin must agree on every
    // vector including distance ties: the batch train's join + keyed
    // min(struct(dist, code)) versus the stream's array_min over
    // codebook literals. With that pinned, the streamed run of the
    // frozen-codebook encode must reproduce the trained index's own
    // code table exactly — every index family's streaming arrivals can
    // then append without a batch re-encode.
    val idx = graft.operators.AnnIndex.pqFor(spark, sfDir,
      Tables.embeddings(spark, sfDir), m = 8, ksub = 16, iters = 2)
    val batch = idx.codes.select(col("vec_id"), col("codes"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSeq
    val q = EventStream.pqIngest(idx, EventStream.readEmbeddings(spark, sfDir))
      .writeStream.format("memory").queryName("pq_ingest")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("pq_ingest")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSeq
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed PQ codes diverge from the trained code table")
  }

  test("lshIngest: streamed buckets match the batch-built index bit-for-bit") {
    // The rowwise fold must reproduce buildLsh's explode + groupBy
    // buckets exactly — same ModProjAll planes, same sign rule, same
    // bit weights — so streaming arrivals drop straight into the
    // bucket table the e4/e5 searches join against.
    val batch = graft.operators.AnnIndex.lshFor(spark, sfDir,
        Tables.embeddings(spark, sfDir), tables = 4)
      .select(col("vec_id"), col("t"), col("bucket"))
      .orderBy("vec_id", "t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val q = EventStream.lshIngest(
        EventStream.readEmbeddings(spark, sfDir), tables = 4)
      .select(col("vec_id"),
        posexplode(col("buckets")).as(Seq("t", "bucket")))
      .writeStream.format("memory").queryName("lsh_ingest")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("lsh_ingest")
      .orderBy("vec_id", "t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed LSH buckets diverge from the batch index")
  }

  test("nswIngest: micro-batched inserts equal the one-shot batch insert") {
    // The batch-split-independence law the frozen graph buys: arrivals
    // split across 3 micro-batches must produce EXACTLY the edge lists
    // of one bulk insert over the concatenation — each arrival's beam
    // walk depends only on the frozen base graph, never on its batch
    // companions. An ingester that mutated the graph between batches
    // (or seeded from batch-local state) diverges here.
    val s = spark
    import s.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") % 5 =!= 4)
    val arr = e.filter(col("vec_id") % 5 === 4)
    val idx = graft.operators.AnnIndex.trainNsw(base,
      graft.operators.AnnIndex.buildLsh(base, 4, persist = false), m = 16)
    val oneShot = EventStream.nswIngest(idx, base, arr)
      .collect().map(_.toSeq).toSet
    val dir = graft.Scratch.path("nsw_ingest")
    (0 until 3).foreach(i => arr.filter(col("vec_id") % 3 === i)
      .coalesce(1).write.mode("append").parquet(dir))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = spark.readStream.schema(EventStream.embeddingsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val edges = EventStream.nswIngest(idx, base, b.toDF)
          .collect().map(_.toSeq)
        buf.synchronized { buf ++= edges }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(buf.size == oneShot.size && buf.toSet == oneShot && oneShot.nonEmpty,
      s"micro-batched edges diverge: ${buf.size} vs ${oneShot.size}")
  }

  test("cmIngest folds register counts across micro-batches, count-for-count with the batch build") {
    // The Count-Min merge law is ADDITION (unlike HLL's max): users
    // split across two micro-batches — with overlap, so the same
    // (row, bucket) keys are hit in both — must land on the SAME
    // register table as one batch over the concatenation. A register
    // reset between batches, or a multiset/dedup confusion (CM counts
    // occurrences, not distinct users), diverges here.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(Encoders.scalaLong, s.sqlContext)
    def rows(us: Range) = us.map(_.toLong * 7919L)
    val q = EventStream.cmIngest(ms.toDF.toDF("user_id"))
      .writeStream.format("memory").queryName("cm_ingest")
      .outputMode("complete").start()
    try {
      ms.addData(rows(1 to 60): _*)
      q.processAllAvailable()
      ms.addData(rows(31 to 90): _*) // 31..60 recur: same keys, counts add
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cm_ingest")
      .orderBy("r", "bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = operators.Relational.cmRegisters(
        (rows(1 to 60) ++ rows(31 to 90)).toDF("user_id"))
      .orderBy("r", "bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty,
      "streamed Count-Min registers diverge from the batch build over the union")
    assert(streamed.map(_._3).sum == 120L * 4,
      "register mass must equal 4 increments per event")
  }

  test("amsIngest folds sign sums across micro-batches, sign-for-sign with the batch kernel") {
    // The AMS merge law is ADDITION like Count-Min's (signs sum — a
    // recurring user contributes its ±1 once per OCCURRENCE): users
    // split across two micro-batches with overlap must land on the
    // SAME 64-row Z table as one batch over the concatenation, and
    // total estimator mass must stay bounded by ±(events × 64).
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(Encoders.scalaLong, s.sqlContext)
    def rows(us: Range) = us.map(_.toLong * 6151L)
    val q = EventStream.amsIngest(ms.toDF.toDF("user_id"))
      .writeStream.format("memory").queryName("ams_ingest")
      .outputMode("complete").start()
    try {
      ms.addData(rows(1 to 60): _*)
      q.processAllAvailable()
      ms.addData(rows(31 to 90): _*) // 31..60 recur: occurrences, not distinct
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ams_ingest")
      .orderBy("r").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val batch = operators.Relational.amsZ(
        (rows(1 to 60) ++ rows(31 to 90)).toDF("user_id"))
      .orderBy("r").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(streamed == batch && streamed.nonEmpty,
      "streamed AMS sign sums diverge from the batch kernel over the union")
    assert(streamed.size == 64 && streamed.forall(z => math.abs(z._2) <= 120),
      "estimator table must be 64 rows with |Z| bounded by the event count")
  }

  test("kmvDistinctStream absorbs cross-batch duplicates; estimate exact under k, in-bounds over it") {
    // The property a multiset fold would get wrong: the SAME users
    // recurring in a later micro-batch must be absorbed by the KMV
    // set state, not double-counted — so the streamed estimate equals
    // the batch spelling over the union, is EXACT (n·10⁶) for a window
    // with fewer than k distinct users, and lands inside the
    // ~3/√(k−2) KMV band for a window with many more.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaDouble),
      s.sqlContext)
    val base = 1699999200000L // hour-aligned: windows don't split the minutes
    // Window A (hour 0): 40 distinct users (< k=64), each seen twice.
    // Window B (hour 2): 500 distinct users (>> k).
    def rowsA(eOff: Int) = (0 until 40).map(i =>
      ((eOff + i).toLong, new java.sql.Timestamp(base + i * 60000L),
        (i % 40).toLong, "view", 1.0))
    def rowsB(eOff: Int, us: Range) = us.map(i =>
      ((eOff + i).toLong, new java.sql.Timestamp(base + 7200000L + (i % 50) * 60000L),
        i.toLong, "view", 1.0))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.kmvDistinctStream(ms.toDF.toDF(cols: _*))
      .writeStream.format("memory").queryName("kmv_est_batches")
      .outputMode("complete").start()
    try {
      // Batch 1: window A once + first half of B's users.
      ms.addData((rowsA(0) ++ rowsB(1000, 0 until 250)): _*)
      q.processAllAvailable()
      // Batch 2: window A AGAIN (pure duplicates) + second half of B
      //          + the first 100 B users repeated.
      ms.addData((rowsA(2000) ++ rowsB(3000, 250 until 500)
        ++ rowsB(5000, 0 until 100)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("kmv_est_batches")
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(streamed.length == 2, s"want 2 windows, got ${streamed.toSeq}")
    val (nA, estA) = streamed(0)
    val (nB, estB) = streamed(1)
    assert(nA == 40 && estA == 40L * 1000000L,
      s"under-k window not exact despite duplicate batches: n=$nA est=$estA")
    assert(nB == 64, s"over-k window sample not full: $nB")
    val relErr = math.abs(estB / 1e6 - 500.0) / 500.0
    assert(relErr <= 3.0 / math.sqrt(62.0),
      s"over-k estimate ${estB / 1e6} vs exact 500: rel err $relErr")
    // Batch replay: the same function over the union frame agrees
    // row-for-row with the folded stream.
    val union = (rowsA(0) ++ rowsB(1000, 0 until 250) ++ rowsA(2000)
      ++ rowsB(3000, 250 until 500) ++ rowsB(5000, 0 until 100))
      .toDF(cols: _*)
    val batch = EventStream.kmvDistinctStream(union)
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(batch.toSeq == streamed.toSeq,
      s"streamed ${streamed.toSeq} != batch ${batch.toSeq}")
  }

  test("weightedSampleStream folds the A-ES reservoir across micro-batches (top-k merge law)") {
    // The x24 analog of the bottomK merge test: documents split across
    // two micro-batches must land in the SAME per-source weighted
    // sample as one batch over their union — A-ES keys are per-row and
    // state-free, so the streaming union-then-recut through top_k_pairs
    // IS the weighted-reservoir merge. A weight misread or a key
    // recomputed differently between batches diverges here.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong),
      s.sqlContext)
    def rows(es: Range) = es.map(i =>
      (i.toLong, s"src_${i % 3}", (i * 37 % 900 + 10).toLong))
    val cols = Seq("doc_id", "source", "n_chars")
    val q = EventStream.weightedSampleStream(ms.toDF.toDF(cols: _*), k = 6)
      .writeStream.format("memory").queryName("es_batches")
      .outputMode("complete").start()
    try {
      ms.addData(rows(1 to 80): _*)
      q.processAllAvailable()
      ms.addData(rows(81 to 160): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("es_batches")
      .orderBy("source", "rank").collect()
    val batch = EventStream.weightedSampleStream(
        rows(1 to 160).toDF(cols: _*), k = 6)
      .orderBy("source", "rank").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
  }

  test("streaming weighted sample replays to the batch x24 cut on the documents table") {
    val q = EventStream.weightedSampleStream(
        EventStream.readDocuments(spark, sfDir))
      .writeStream.format("memory").queryName("es_replay")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("es_replay")
      .orderBy("source", "rank").collect()
    val batch = graft.operators.TextPipeline
      .queries("x24_weighted_sample")(spark, sfDir)
      .orderBy("source", "rank").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty,
      s"sample rows: streamed ${streamed.length} vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
    // Bounded state: no source exceeds the k=10 cut, ranks dense from 1.
    val over = spark.table("es_replay")
      .groupBy("source").count().filter(col("count") > 10).count()
    assert(over == 0, "a source exceeded the k=10 sample bound")
  }

  test("heavyHittersStream: true heavy hitters survive the micro-batch MG fold; state is bounded") {
    // MG candidate sets are fold-order-dependent, so there is no
    // set-for-set batch replay to pin (the method doc says so) — the
    // invariant MG actually guarantees, and the one downstream verify
    // passes rely on, is the superset property: every key with true
    // frequency > n/k survives ANY fold order. Plant two heavy keys,
    // feed the background rows FIRST (the adversarial order: the
    // counters are full of light keys before any heavy row arrives),
    // split across micro-batches, and require both planted keys in the
    // candidates with the k-1 bound holding.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaLong, Encoders.STRING),
      s.sqlContext)
    // HOUR-ALIGNED base: tumbling windows cut on wall-clock hours, so an
    // unaligned base splits the minutes 0-49 across TWO windows and the
    // total candidate count legitimately exceeds one window's k-1 (the
    // first version of this test flaked exactly there).
    val base = 1699999200000L
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    // One 1-hour window: 60 background singletons, then 40+25 heavy rows.
    val background = (0 until 60).map(i => (t(i % 50), 100L + i, "view"))
    val heavy = Seq.fill(40)((t(7), 1L, "view")) ++ Seq.fill(25)((t(9), 2L, "view"))
    val q = EventStream.heavyHittersStream(
        ms.toDF.toDF("ts", "user_id", "event_type"), k = 10)
      .writeStream.format("memory").queryName("mg_cands")
      .outputMode("complete").start()
    try {
      ms.addData(background: _*)
      q.processAllAvailable()
      ms.addData(heavy: _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("mg_cands")
      .select("window_start", "candidate").collect()
      .map(r => r.getTimestamp(0) -> r.getString(1))
    assert(rows.map(_._1).distinct.length == 1,
      s"fixture leaked across windows: ${rows.map(_._1).distinct.toSeq}")
    val cands = rows.map(_._2).toSet
    // n = 125, k = 10 -> threshold 12.5: user 1 (40) and user 2 (25) are
    // true heavy hitters and MUST survive; the light keys may or may not.
    assert(cands.contains("view:1") && cands.contains("view:2"),
      s"planted heavy hitters missing from MG candidates: $cands")
    assert(cands.size <= 9, s"MG state exceeded k-1 counters: ${cands.size}")
  }

  test("driftBinStream replays to the batch binning under the frozen reference cuts") {
    // The monitor's deployment contract: octile cuts computed ONCE from
    // a batch reference window, the stream binned against them frozen.
    // The streamed per-(window, type, bin) counts must equal the batch
    // spelling over the same events — the stateless map-side fold plus
    // windowed count is exactly a17's replay argument, with the added
    // frozen-artifact input.
    val ev = Tables.events(spark, sfDir)
    val cuts = ev
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy(col("event_type"))
      .agg(expr("""percentile(vc, array(0.125D, 0.25D, 0.375D, 0.5D,
                                        0.625D, 0.75D, 0.875D))""").as("cuts"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    val q = EventStream.driftBinStream(
        EventStream.readEvents(spark, sfDir), cuts)
      .writeStream.format("memory").queryName("drift_bins")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("drift_bins")
      .orderBy("window_start", "event_type", "bin").collect()
    val batch = EventStream.driftBinStream(ev, cuts)
      .orderBy("window_start", "event_type", "bin").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
    // State-bound sanity: no (window, type) group exceeds 8 bins.
    val over = spark.table("drift_bins")
      .groupBy("window_start", "event_type").count()
      .filter(col("count") > 8).count()
    assert(over == 0, "a drift group exceeded the 8-bin bound")
  }

  test("psiStream: the cumulative fold replays the batch x25 PSI; an unseen category alerts") {
    // The monitor's deployment contract made stateful: octile cuts AND
    // per-bin reference counts frozen from the batch reference window
    // (x25's event_id half-split), the current window streamed in two
    // micro-batches — the final per-type emission must equal
    // driftPsi(ref, cur) EXACTLY (n_cur, psi_e6, drifted), i.e. the
    // stream's cumulative 8-counter state + JVM double chain is the
    // batch plan's arithmetic, not an approximation of it. A planted
    // row with a type the reference never saw must emit NULL psi +
    // drifted = true (the honest new-category branch).
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("vc"))
    val half = ev.agg(expr("percentile(event_id, 0.5)")).first().getDouble(0)
    val ref = ev.filter(col("event_id") <= half)
    val cuts = ref.groupBy(col("event_type"))
      .agg(expr("""percentile(vc, array(0.125D, 0.25D, 0.375D, 0.5D,
                                        0.625D, 0.75D, 0.875D))""").as("cuts"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    val refCounts = ref.collect().groupBy(_.getString(0)).map { case (et, rows) =>
      val bins = Array.fill(8)(0L)
      rows.foreach { r =>
        val b = if (r.isNullAt(2)) 0
          else cuts(et).count(c => r.getLong(2) > c)
        bins(b) += 1
      }
      et -> bins.toSeq
    }
    val refArtifact = cuts.map { case (et, cs) => et -> (cs, refCounts(et)) }
    val curRows = Tables.events(spark, sfDir)
      .filter(col("event_id") > half)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    val (b1, b2) = curRows.splitAt(curRows.length / 2)
    val ms = MemoryStream[(String, Option[Double])](
      implicitly[org.apache.spark.sql.Encoder[(String, Option[Double])]],
      s.sqlContext)
    val q = EventStream.psiStream(
        ms.toDF.toDF("event_type", "value"), refArtifact)
      .writeStream.format("memory").queryName("psi_mon")
      .outputMode("update").start()
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2 :+ (("zzz_new", Some(42.0))): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("psi_mon")
      .groupBy("event_type")
      .agg(max(struct(col("n_cur"), col("psi_e6"), col("drifted"))).as("f"))
      .select(col("event_type"), col("f.n_cur"), col("f.psi_e6"),
        col("f.drifted"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), r.getBoolean(3))).toMap
    val batch = graft.operators.TextPipeline.driftPsi(ref,
        ev.filter(col("event_id") > half))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), Option(r.get(3)), r.getBoolean(4))).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (et, want) =>
      assert(streamed(et) == want,
        s"psiStream diverged from batch PSI for $et: ${streamed(et)} vs $want")
    }
    assert(streamed("zzz_new")._2.isEmpty && streamed("zzz_new")._3,
      s"unseen category must alert with NULL psi: ${streamed("zzz_new")}")
  }

  test("grStream: the folded GR weights replay the m30 batch kernel across a batch split") {
    // The combination monitor's contract: stream the sfDir daily cent
    // panel in two micro-batches split mid-calendar, and the final
    // per-type emission (n_pairs, weights, fc_combo, imp) must equal
    // grCombo's row EXACTLY — the 14-long state (two recursions + ten
    // normal-equation sums) survives the boundary or the closed-form
    // solve diverges.
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
    val rows = daily.collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
      .sortBy(_._2.getTime)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val ms = MemoryStream[(String, java.sql.Date, Long)](
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Date, Long)]],
      s.sqlContext)
    val q = EventStream.grStream(
        ms.toDF.toDF("event_type", "day", "x"))
      .writeStream.format("memory").queryName("gr_mon")
      .outputMode("update").start()
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("gr_mon")
      .groupBy("event_type")
      .agg(max(struct(col("n_pairs"), col("w_ewma_e6"), col("w_holt_e6"),
        col("fc_combo"), col("imp_e6"))).as("f"))
      .select(col("event_type"), col("f.n_pairs"), col("f.w_ewma_e6"),
        col("f.w_holt_e6"), col("f.fc_combo"), col("f.imp_e6"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getLong(4),
          Option(r.get(5)))).toMap
    val batch = graft.operators.Estimation.grCombo(daily)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getLong(4),
          Option(r.get(5)))).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (et, want) =>
      assert(streamed(et) == want,
        s"grStream diverged from the batch kernel for $et: " +
          s"${streamed(et)} vs $want")
    }
  }

  test("asofStream: in-order replay equals batch asOfJoin; late quotes obey the as-of inequality") {
    // Scenario 1 — the sfDir events streamed in two TS-ORDERED batches:
    // the emitted matches must equal the batch j8 query row-for-row
    // (same tie rules: quotes before probes at equal ts, largest
    // quote_id wins). Scenario 2 — planted lateness: quote A(t=10) and
    // probe P1(t=20) in batch 1, then batch 2 brings a LATE quote
    // B(t=15), a probe P2(t=30), and a LATE probe P3(t=12): P1 keeps A
    // (emitted rows immutable), P2 takes B (state advanced), and P3
    // gets NO match — B (t=15) is in state but t > 12, and the as-of
    // inequality must hold on every emission (under-match, never a
    // future quote).
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val evRows = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getTimestamp(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._3.getTime)
    val (b1, b2) = evRows.splitAt(evRows.length / 2)
    val enc = implicitly[org.apache.spark.sql.Encoder[
      (Long, Option[Long], java.sql.Timestamp, String, Option[Double])]]
    val ms = MemoryStream(enc, s.sqlContext)
    val q = EventStream.asofStream(ms.toDF.toDF(
        "event_id", "user_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("asof_mon")
      .outputMode("append").start()
    try {
      ms.addData(b1.toSeq: _*); q.processAllAvailable()
      ms.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("asof_mon")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)), Option(r.get(4)))).toMap
    val batch = graft.operators.Relational
      .queries("j8_asof_align")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(batch.nonEmpty && streamed.size == batch.size,
      s"row counts differ: ${streamed.size} vs ${batch.size}")
    batch.foreach { case (pid, want) =>
      assert(streamed(pid) == want,
        s"asofStream diverged from batch j8 for probe $pid: " +
          s"${streamed(pid)} vs $want")
    }
    // Scenario 2: planted lateness.
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ms2 = MemoryStream(enc, s.sqlContext)
    val q2 = EventStream.asofStream(ms2.toDF.toDF(
        "event_id", "user_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("asof_late")
      .outputMode("append").start()
    try {
      ms2.addData(
        (100L, Some(1L), t(10), "purchase", Some(1.0)),
        (102L, Some(1L), t(18), "purchase", Some(3.0)),
        (201L, Some(1L), t(20), "click", None))
      q2.processAllAvailable()
      ms2.addData(
        (101L, Some(1L), t(15), "purchase", Some(2.0)),
        (202L, Some(1L), t(30), "click", None),
        (203L, Some(1L), t(12), "click", None))
      q2.processAllAvailable()
    } finally q2.stop()
    val late = spark.table("asof_late")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(late(201L) == Some(102L), s"P1 must match C: ${late(201L)}")
    assert(late(202L) == Some(102L),
      s"stale late B must not regress C: ${late(202L)}")
    assert(late(203L).isEmpty,
      s"late P3 must under-match, never take a future quote: ${late(203L)}")
  }

  test("transformWithState top-k: the final per-user state equals the batch top_k_pairs cut") {
    // The Spark 4 arbitrary-state API (StatefulProcessor) driven across
    // micro-batches, closed against the batch kernel it mirrors: the
    // bounded per-user top-3 purchase state must converge to EXACTLY
    // what AnnIndex.topKCut computes over the same purchases — same
    // (value desc, id asc) tie-break, same k-bound. Purchases split
    // adversarially (later batch carries higher values, forcing state
    // replacement). transformWithState requires the RocksDB state store
    // provider; set for this query, restored after.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream(
        Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
          Encoders.scalaLong, Encoders.STRING, Encoders.scalaDouble),
        s.sqlContext)
      val base = 1699999200000L
      def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
      // user 1: 5 purchases split 3/2; user 2: 2; a click that must be
      // ignored; ties on value (ids 104 vs 101) resolve to the lower id.
      val batch1 = Seq((100L, t(1), 1L, "purchase", 5.0),
        (101L, t(2), 1L, "purchase", 9.0), (102L, t(3), 1L, "purchase", 7.0),
        (200L, t(4), 2L, "purchase", 4.0), (900L, t(5), 1L, "click", 99.0))
      val batch2 = Seq((103L, t(6), 1L, "purchase", 8.0),
        (104L, t(7), 1L, "purchase", 9.0), (201L, t(8), 2L, "purchase", 6.0))
      val q = EventStream.topKPurchasesStream(ms.toDF.toDF(cols: _*))
        .writeStream.format("memory").queryName("twstate_topk")
        .outputMode("update").start()
      try {
        ms.addData(batch1: _*); q.processAllAvailable()
        ms.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      // Final state per user = the row with max n_seen.
      val fin = spark.table("twstate_topk")
        .orderBy(col("user_id"), col("n_seen").desc)
        .collect().groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.head }
      // Batch kernel over the same purchases through topKCut.
      val purchases = (batch1 ++ batch2).filter(_._4 == "purchase")
        .map(r => (r._3, r._1, math.round(r._5 * 100)))
        .toDF("user_id", "event_id", "vc")
      val want = graft.operators.AnnIndex.topKCut(purchases,
          "user_id", "vc", "event_id", k = 3, ascending = false,
          scoreName = "vc", idName = "event_id")
        .collect().groupBy(_.getLong(0))
        .map { case (u, rs) =>
          u -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(2), r.getLong(1)))
        }
      want.foreach { case (u, pairs) =>
        val f = fin(u)
        val got = Seq((f.getLong(2), f.getLong(5)), (f.getLong(3), f.getLong(6)),
          (f.getLong(4), f.getLong(7))).filter(_._1 >= 0)
        assert(got == pairs.toSeq,
          s"user $u: streaming state $got != batch cut ${pairs.toSeq}")
      }
      // The tie (9.0 at ids 101 and 104) resolves to the lower id first.
      assert(fin(1L).getLong(5) == 101L && fin(1L).getLong(6) == 104L)
    } finally {
      prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
  }

  test("streaming dedup keeps each event_id once") {
    val q = EventStream.dedupStream(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("dedup").count()
    val distinctIds = Tables.events(spark, sfDir)
      .select(countDistinct(col("event_id"))).collect()(0).getLong(0)
    assert(n == distinctIds)
  }

  test("streaming content dedup (d1 semantics) keeps one event per content fingerprint") {
    // The d1 exact-dedup operator composed with the streaming surface:
    // dedup key = md5 of the normalized payload (d1's canonicalization),
    // state bounded by the watermark. The replay arrives in one
    // micro-batch, so the within-watermark dedup must equal the batch
    // distinct-fingerprint count.
    val q = EventStream.contentDedupStream(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("content_dedup").count()
    val distinctContent = Tables.events(spark, sfDir)
      .select(countDistinct(md5(regexp_replace(trim(col("props")), "\\s+", " "))))
      .collect()(0).getLong(0)
    assert(n == distinctContent, s"streamed $n != batch-distinct $distinctContent")
  }

  test("streaming sessionization replays to the batch session_window result") {
    // sessionStream is the SAME session_window call as the batch w11 query
    // (whose merge semantics the DuckDB islands oracle pins); replayed over
    // the full file in complete mode it must reproduce the batch sessions
    // exactly.
    val q = EventStream.sessionStream(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sessions")
      .orderBy("user_id", "session_start").collect()

    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "4 hours"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_sum"))
      .orderBy("user_id", "session_start").collect()

    assert(streamed.length == batch.length && streamed.nonEmpty,
      s"session count: streamed ${streamed.length} vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getTimestamp(1) == b.getTimestamp(1))
      assert(a.getTimestamp(2) == b.getTimestamp(2))
      assert(a.getLong(3) == b.getLong(3))
      assert(math.abs(a.getDouble(4) - b.getDouble(4)) < 1e-6)
    }
  }

  test("append-mode sessions close only when the watermark passes them") {
    // The closing semantics the complete-mode parity test cannot see: in
    // append mode a session may only emit once the watermark (30 min
    // allowance) passes its end — early emission would duplicate sessions
    // that later events extend. MemoryStream gives batch-by-batch control
    // of event time.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDF.toDF("user_id", "ts", "value")
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val q = EventStream.sessionStream(events, gap = "10 minutes")
      .writeStream.format("memory").queryName("append_sessions")
      .outputMode("append").start()
    try {
      // Batch 1: user 1's two-event session [00:00, 00:05] (window end
      // 00:15). The watermark is far behind — nothing may emit.
      mem.addData((1L, t("00:00"), 1.0), (1L, t("00:05"), 2.0))
      q.processAllAvailable()
      assert(spark.table("append_sessions").count() == 0,
        "session emitted before the watermark closed it")
      // Batch 2 advances max event time to 01:00 (watermark after the
      // batch: 00:30 > the session's 00:15 end); batch 3 runs WITH that
      // watermark and must emit user 1's closed session — and only it.
      mem.addData((2L, t("01:00"), 9.0))
      q.processAllAvailable()
      mem.addData((2L, t("01:01"), 9.0))
      q.processAllAvailable()
      val rows = spark.table("append_sessions").collect()
      assert(rows.length == 1, s"expected exactly user 1's closed session, got ${rows.length}")
      val r = rows(0)
      assert(r.getLong(0) == 1L)
      assert(r.getTimestamp(1) == t("00:00") && r.getTimestamp(2) == t("00:05"))
      assert(r.getLong(3) == 2L && math.abs(r.getDouble(4) - 3.0) < 1e-12)
    } finally q.stop()
  }

  test("stream-static enrichment join carries the dim attributes to every event") {
    // The static dim (per-type counts from the batch table) must reach
    // every streamed event exactly once — same row count as the raw
    // stream, and the attribute agrees with the batch-computed value.
    val dim = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    val q = EventStream.enrichedStream(EventStream.readEvents(spark, sfDir), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val enriched = spark.table("enriched")
    val total = Tables.events(spark, sfDir).count()
    assert(enriched.count() == total, "enrichment changed the row count")
    val mismatches = enriched.groupBy(col("event_type"), col("n_type"))
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_type") =!= col("n_rows"))
      .count()
    assert(mismatches == 0, "dim attribute disagrees with the batch value")

    // Left-outer semantics: a dim snapshot missing a type must NOT drop
    // that type's events — they pass through with a NULL attribute (the
    // new-type-appearing-mid-stream case a real enrichment faces).
    val someType = dim.select("event_type").orderBy("event_type")
      .first().getString(0)
    val partialDim = dim.filter(col("event_type") =!= someType)
    val q2 = EventStream.enrichedStream(EventStream.readEvents(spark, sfDir), partialDim)
      .writeStream.format("memory").queryName("enriched_partial")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val partial = spark.table("enriched_partial")
    assert(partial.count() == total, "unmatched events were dropped")
    assert(partial.filter(col("event_type") === someType &&
      col("n_type").isNull).count() ==
      Tables.events(spark, sfDir).filter(col("event_type") === someType).count(),
      "unmatched events did not pass through with NULL attributes")
  }

  test("stream-stream interval join replays to the batch attribution pairs") {
    // The attribution join's correctness claim: on a fully replayed
    // stream, the watermarked stream-stream interval join emits EXACTLY
    // the pairs the batch interval join produces — no pair lost to state
    // eviction (the replay arrives within the watermark) and none
    // duplicated.
    val q = EventStream.attributedStream(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("attributed")
      .select(col("purchase_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val e = Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = purchases.join(clicks,
        col("c_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("interval 1 hour") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(batch.nonEmpty, "fixture lost its attribution pairs")
    assert(streamed == batch,
      s"stream-stream join diverged: streamed=${streamed.size} batch=${batch.size}")
    // And no duplicates in the append stream.
    assert(spark.table("attributed").count() == streamed.size.toLong)
  }

  test("left-outer interval join: unattributed purchases emit with null click after the watermark") {
    // What separates attributedLeftStream from the inner variant: a
    // purchase with no click in its preceding hour must still emit —
    // with null click columns — once the watermark passes the point
    // where a matching click could arrive; and a click OUTSIDE the hour
    // (3 earlier) must NOT attribute. MemoryStream controls the
    // watermark: batch 1 holds the scenario, batches 2-3 push the
    // watermark far past it so the evicted state emits its null rows.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val s = spark
    import s.implicits._
    val ms = MemoryStream(
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaDouble),
      s.sqlContext)
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.attributedLeftStream(ms.toDF.toDF(cols: _*))
      .writeStream.format("memory").queryName("attr_left")
      .outputMode("append").start()
    try {
      ms.addData(
        (100L, t("10:00"), 1L, "click", 0.0),
        (200L, t("10:30"), 1L, "purchase", 5.0),
        (201L, t("10:30"), 2L, "purchase", 7.0), // no click at all
        (101L, t("08:00"), 3L, "click", 0.0), // outside the hour
        (202L, t("10:30"), 3L, "purchase", 9.0))
      q.processAllAvailable()
      // The join's watermark is the MIN over both inputs, so the pusher
      // must advance clicks AND purchases or eviction never fires.
      ms.addData((900L, t("20:00"), 9L, "click", 0.0),
        (902L, t("20:00"), 9L, "purchase", 1.0))
      q.processAllAvailable()
      ms.addData((901L, t("21:30"), 9L, "click", 0.0),
        (903L, t("21:30"), 9L, "purchase", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_left")
      .filter(col("user_id") < 9L)
      .collect()
      .map(r => (r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toSet
    assert(got == Set((200L, 100L), (201L, -1L), (202L, -1L)),
      s"left-outer attribution diverged: $got")
    // No duplicates: exactly one row per purchase here.
    assert(spark.table("attr_left").filter(col("user_id") < 9L).count() == 3L)
  }

  test("flatMapGroupsWithState error bursts replay to the batch trailing-window rule") {
    // The CEP-lite alert operator must emit exactly the rows the batch
    // rule defines: one alert per error event that is >= the 2nd error
    // of its user within the trailing 6 hours. The expected set is an
    // independent driver-side computation over the collected errors —
    // same (ts, event_id) order, same inclusive micros window.
    val q = EventStream.errorBursts(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("bursts")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("bursts")
      .select(col("user_id"), col("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val winUs = 21600L * 1000000L
    val errors = Tables.events(spark, sfDir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // .toSeq before the flatMap: flatMapping a Map into (user, ts) pairs
    // would rebuild a Map keyed by user and silently keep ONE alert each.
    val expected = errors.groupBy(_._1).toSeq.flatMap { case (user, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      sorted.indices.flatMap { i =>
        val t = sorted(i)._2
        val nRecent = sorted.take(i + 1).count(_._2 >= t - winUs)
        if (nRecent >= 2) Some((user, t)) else None
      }
    }.toSet

    assert(expected.nonEmpty, "fixture lost its error bursts")
    assert(streamed == expected,
      s"burst alerts diverged: streamed=${streamed.size} expected=${expected.size}")
  }

  test("errorBursts: a late event in a second micro-batch counts only its own trailing window") {
    // The multi-batch case the single-file replay can't exercise: an
    // event arriving in a LATER micro-batch but admissibly late (within
    // the watermark) must count only predecessors inside ITS OWN
    // trailing window — not the newer events already sitting in state.
    // A prune-by-newest-event implementation reports n_recent=3 here.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
        Encoders.scalaLong, Encoders.STRING),
      s.sqlContext)
    val base = 1700000000000L
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    val q = EventStream.errorBursts(
        ms.toDF.toDF("event_id", "ts", "user_id", "event_type"))
      .writeStream.format("memory").queryName("bursts_late")
      .outputMode("append").start()
    try {
      ms.addData((1L, t(0), 1L, "error"), (2L, t(5), 1L, "error"))
      q.processAllAvailable()
      ms.addData((3L, t(2), 1L, "error")) // late: watermark = t(5) − 30 min
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bursts_late")
      .select(col("ts_us"), col("n_recent"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def us(min: Int) = (base + min * 60000L) * 1000L
    assert(got == Set((us(5), 2), (us(2), 2)),
      s"late-event burst accounting diverged: $got")
  }

  test("dedupStream: a within-watermark duplicate in a later batch dedups; post-expiry re-emits") {
    // The two bounded-state edges the single-batch replay can't exercise:
    // (1) a duplicate id arriving in a LATER micro-batch while its state
    // entry is live must be suppressed; (2) once the watermark passes the
    // first sighting's ts + delay the state is evicted, so a fresh
    // duplicate RE-EMITS — the honest trade dropDuplicatesWithinWatermark
    // makes to keep state bounded on an unbounded stream (full-history
    // exactness is the batch d1 aggregate's job). A regression to plain
    // dropDuplicates would fail edge (2); losing state across batches
    // would fail edge (1).
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP), s.sqlContext)
    val base = 1700000000000L
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    val q = EventStream.dedupStream(ms.toDF.toDF("event_id", "ts"))
      .writeStream.format("memory").queryName("dedup_batches")
      .outputMode("append").start()
    try {
      ms.addData((1L, t(0)), (2L, t(10)))
      q.processAllAvailable()
      // State for id 1 is live (expiry t(0)+30m, watermark t(10)-30m):
      // the re-sent id must be suppressed. id 3 drags the watermark to
      // t(70), past id 1's expiry, so its state is evicted at batch end.
      ms.addData((1L, t(5)), (3L, t(100)))
      q.processAllAvailable()
      // Fresh duplicate of id 1 above the t(70) watermark: state is gone,
      // so it re-emits.
      ms.addData((1L, t(80)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_batches")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    val want = Set(1L -> t(0).getTime, 2L -> t(10).getTime,
      3L -> t(100).getTime, 1L -> t(80).getTime)
    assert(got == want, s"bounded-state dedup diverged: $got")
  }

  test("cusumStream: a planted level shift latches the first crossing; in-control data never alarms") {
    // Frozen reference μ = 100 cents, slack k = 10, threshold h = 200.
    // Key "shift": batch 1 holds 10 in-control points (1.00 ± 0.05 →
    // every increment ≤ |5| − 10 < 0, both sides clamp at 0); batch 2
    // jumps to 1.60, so S⁺ grows by exactly 60 − 10 = 50 per point and
    // crosses 200 on the 5th shifted point (250 > 200) — the alarm must
    // latch THAT event time and the exact S⁺ path must survive the
    // batch boundary. Key "calm" stays in-control throughout: S⁺ = S⁻ =
    // 0 and no alarm. Integer cents end to end — equality is exact.
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    val ms = MemoryStream(
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.scalaDouble),
      s.sqlContext)
    val base = 1700000000000L
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    def us(min: Int) = (base + min * 60000L) * 1000L
    val ref = Map(
      "shift" -> EventStream.CusumRef(100L, 10L, 200L),
      "calm" -> EventStream.CusumRef(100L, 10L, 200L))
    val q = EventStream.cusumStream(
        ms.toDF.toDF("event_type", "ts", "value"), ref)
      .writeStream.format("memory").queryName("cusum_mon")
      .outputMode("update").start()
    try {
      val inControl = (0 until 10).flatMap(i => Seq(
        ("shift", t(i), 1.00 + 0.05 * ((i % 3) - 1)),
        ("calm", t(i), 1.00 + 0.05 * ((i % 3) - 1))))
      ms.addData(inControl: _*)
      q.processAllAvailable()
      ms.addData((10 until 20).flatMap(i => Seq(
        ("shift", t(i), 1.60),
        ("calm", t(i), 1.00))): _*)
      q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("cusum_mon")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("s_pos_cents"), col("s_neg_cents"),
        col("alarmed"), col("first_alarm_us"))).as("f"))
      .select(col("event_type"), col("f.n"), col("f.s_pos_cents"),
        col("f.s_neg_cents"), col("f.alarmed"), col("f.first_alarm_us"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5)))
      .toMap
    // 10 shifted points × 50 = 500 cents of S⁺; alarm latched at the
    // 5th shifted point (minute 14), NOT re-stamped by later crossings.
    assert(fin("shift") == ((20L, 500L, 0L, true, us(14))),
      s"shift path diverged: ${fin("shift")}")
    assert(fin("calm") == ((20L, 0L, 0L, false, -1L)),
      s"in-control key alarmed: ${fin("calm")}")
  }

  test("holtStream: the folded recursion bit-matches the w23 batch kernel across a batch boundary") {
    // One event per (key, day): the streaming event-grain fold and the
    // batch daily-panel fold see the SAME ordered cents sequence, so the
    // final streamed state must equal Estimation.holt's row exactly —
    // level, trend, forecast, and sae, integer end to end. The sequence
    // includes a decline (negative trend state, exercising the
    // truncation-toward-zero division) and splits mid-series across two
    // micro-batches, so the (level, trend, sae) state must survive the
    // boundary to stay on the batch path.
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    import s.implicits._
    val ms = MemoryStream(
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.scalaDouble),
      s.sqlContext)
    val base = 1700000000000L
    def t(dayIdx: Int) = new java.sql.Timestamp(base + dayIdx * 86400000L)
    val vals = Seq(10.00, 12.50, 15.00, 14.00, 9.00, 3.50, 2.00, 8.25)
    val q = EventStream.holtStream(ms.toDF.toDF("event_type", "ts", "value"))
      .writeStream.format("memory").queryName("holt_mon")
      .outputMode("update").start()
    try {
      ms.addData(vals.take(4).zipWithIndex.map { case (v, i) => ("a", t(i), v) }: _*)
      q.processAllAvailable()
      ms.addData(vals.drop(4).zipWithIndex.map { case (v, i) => ("a", t(i + 4), v) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("holt_mon")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("level_cents"), col("trend_cents"),
        col("forecast_cents"), col("sae_cents"))).as("f"))
      .select(col("f.n"), col("f.level_cents"), col("f.trend_cents"),
        col("f.forecast_cents"), col("f.sae_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    val daily = vals.zipWithIndex
      .map { case (v, i) => ("a", new java.sql.Date(t(i).getTime),
        math.round(v * 100)) }
      .toDF("event_type", "day", "x")
    val batch = graft.operators.Estimation.holt(daily)
      .select(col("n"), col("level_cents"), col("trend_cents"),
        col("forecast_cents"), col("sae_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    assert(streamed == batch,
      s"streamed Holt state $streamed diverged from batch kernel $batch")
  }

  test("hwStream: the folded seasonal recursion bit-matches the w27 batch kernel across a batch boundary") {
    // One event per (key, day) over 12 consecutive days — long enough
    // that several day-of-week slots are struck TWICE, so a slot
    // update lost at the micro-batch boundary (or a dow mapping off
    // by one) diverges. Batch days are built from the SAME UTC
    // epoch-day the stream derives from unix_micros, so the
    // comparison pins the dow contract itself, not the JVM timezone.
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    import s.implicits._
    val ms = MemoryStream(
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.scalaDouble),
      s.sqlContext)
    val base = 1700000000000L
    def t(dayIdx: Int) = new java.sql.Timestamp(base + dayIdx * 86400000L)
    def d(dayIdx: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(
        Math.floorDiv(base + dayIdx * 86400000L, 86400000L)))
    val vals = Seq(10.00, 12.50, 15.00, 14.00, 9.00, 3.50, 2.00, 8.25,
      11.75, 6.00, 13.25, 4.50)
    val q = EventStream.hwStream(ms.toDF.toDF("event_type", "ts", "value"))
      .writeStream.format("memory").queryName("hw_mon")
      .outputMode("update").start()
    try {
      ms.addData(vals.take(5).zipWithIndex.map { case (v, i) => ("a", t(i), v) }: _*)
      q.processAllAvailable()
      ms.addData(vals.drop(5).zipWithIndex.map { case (v, i) => ("a", t(i + 5), v) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hw_mon")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("level_cents"), col("trend_cents"),
        col("sae_cents"), col("forecast_cents"))).as("f"))
      .select(col("f.n"), col("f.level_cents"), col("f.trend_cents"),
        col("f.sae_cents"), col("f.forecast_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    val daily = vals.zipWithIndex
      .map { case (v, i) => ("a", d(i), math.round(v * 100)) }
      .toDF("event_type", "day", "x")
    val batch = graft.operators.Estimation.holtWinters(daily)
      .select(col("n"), col("level_cents"), col("trend_cents"),
        col("sae_cents"), col("forecast_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    assert(streamed == batch,
      s"streamed Holt-Winters state $streamed diverged from batch kernel $batch")
  }

  test("runsStream: the folded runs count bit-matches the t13 batch kernel across a batch boundary") {
    // One event per day, frozen reference = the series' lower median
    // (100 cents for the 1.00/90.00 alternator), so the stream's
    // dichotomy matches the batch kernel's own median — every output
    // column (n, n1, n2, runs, z_e6, reject) must then equal
    // Estimation.runsTest's row exactly, including across the
    // mid-series micro-batch boundary where the last-sign state must
    // survive for the run count to stay unbroken.
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    import s.implicits._
    val ms = MemoryStream(
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.scalaDouble),
      s.sqlContext)
    val base = 1700000000000L
    def t(dayIdx: Int) = new java.sql.Timestamp(base + dayIdx * 86400000L)
    val vals = (0 until 30).map(i => if (i % 2 == 0) 1.00 else 90.00)
    val q = EventStream.runsStream(
        ms.toDF.toDF("event_type", "ts", "value"), Map("a" -> 100L))
      .writeStream.format("memory").queryName("runs_mon")
      .outputMode("update").start()
    try {
      ms.addData(vals.take(13).zipWithIndex.map { case (v, i) => ("a", t(i), v) }: _*)
      q.processAllAvailable()
      ms.addData(vals.drop(13).zipWithIndex.map { case (v, i) => ("a", t(i + 13), v) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("runs_mon")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("n1"), col("n2"), col("runs"),
        col("z_e6"), col("reject_5pct"))).as("f"))
      .select(col("f.n"), col("f.n1"), col("f.n2"), col("f.runs"),
        col("f.z_e6"), col("f.reject_5pct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).head
    val daily = vals.zipWithIndex
      .map { case (v, i) => ("a", new java.sql.Date(t(i).getTime),
        math.round(v * 100)) }
      .toDF("event_type", "day", "x")
    val batch = graft.operators.Estimation.runsTest(daily)
      .select(col("n"), col("n1"), col("n2"), col("runs"), col("z_e6"),
        col("reject_5pct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).head
    assert(streamed == batch,
      s"streamed runs state $streamed diverged from batch kernel $batch")
  }

  test("archLmStream: the folded ARCH LM bit-matches the t25 batch kernel across a batch boundary") {
    // One event per day carrying t25's planted reject series (diffs
    // 3,3,3,3,1,1,1,1 → lm_e4 = 39375, the boundary reject): the
    // stream's final (n, lm_e4, reject_5pct) must equal
    // Estimation.archLm's row exactly, with the micro-batch split
    // placed mid-series so BOTH carried levels (last y for the diff,
    // last z for the lag pair) must survive the boundary for the sums
    // to stay unbroken.
    val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    import s.implicits._
    val ms = MemoryStream(
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.scalaDouble),
      s.sqlContext)
    val base = 1700000000000L
    def t(dayIdx: Int) = new java.sql.Timestamp(base + dayIdx * 86400000L)
    val ys = Seq(100.0, 103, 106, 109, 112, 113, 114, 115, 116)
    val q = EventStream.archLmStream(ms.toDF.toDF("event_type", "ts", "value"))
      .writeStream.format("memory").queryName("arch_mon")
      .outputMode("update").start()
    try {
      ms.addData(ys.take(5).zipWithIndex.map { case (v, i) => ("a", t(i), v) }: _*)
      q.processAllAvailable()
      ms.addData(ys.drop(5).zipWithIndex.map { case (v, i) => ("a", t(i + 5), v) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("arch_mon")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("lm_e4"), col("reject_5pct"))).as("f"))
      .select(col("f.n"), col("f.lm_e4"), col("f.reject_5pct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).head
    val daily = ys.zipWithIndex
      .map { case (v, i) => ("a", new java.sql.Date(t(i).getTime),
        math.round(v)) }
      .toDF("event_type", "day", "y")
    val batch = graft.operators.Estimation.archLm(daily)
      .select(col("n"), col("lm_e4"), col("reject_5pct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).head
    assert(streamed == batch,
      s"archLmStream diverged from the batch kernel: stream=$streamed batch=$batch")
    assert(streamed == ((7L, 39375L, true)),
      s"planted ARCH stream values wrong: $streamed")
  }

  test("mergeStream: keep-latest replays to batch cdcLatest and the s14 apply across micro-batch splits") {
    // The planted CDC batch from the real sf0.001 orders, split into
    // micro-batches BY SEQ (all seq-1 rows, then seq 2, then seq 3) so
    // every multi-event key — double-update (k%21) and update-then-
    // delete (k%7 ∧ k%11) — MUST resolve across a batch boundary, and
    // the delete arrives LAST like a real CDC tail.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    import graft.operators.Relational
    import graft.streaming.EventStream.CdcArrival
    val base = Relational.ordersKeyed(spark, sfDir)
    val cdcDf = Relational.cdcBatch(base)
    val arrivals = cdcDf.collect().map { r =>
      CdcArrival(r.getLong(1), r.getLong(2), r.getString(0),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getString(4)))
    }.toSeq
    // transformWithState requires the RocksDB state store provider; set
    // for this query, restored after (the topKPurchases convention).
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream(Encoders.product[CdcArrival], s.sqlContext)
      val q = EventStream.mergeStream(
          ms.toDF.select(col("k"), col("seq"), col("op"),
            col("price_e4"), col("prio")))
        .writeStream.format("memory").queryName("merge_door")
        .outputMode("update").start()
      try {
        for (sq <- Seq(1L, 2L, 3L)) {
          ms.addData(arrivals.filter(_.seq == sq): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
    // Final snapshot per key = the row with the highest n_ops_seen.
    val streamLatest = spark.table("merge_door")
      .groupBy(col("k"))
      .agg(max(struct(col("n_ops_seen"), col("seq"), col("op"),
        col("price_e4"), col("prio"))).as("f"))
      .select(col("f.op").as("op"), col("k"), col("f.seq").as("seq"),
        col("f.price_e4").as("price_e4"), col("f.prio").as("prio"))
    val batchLatest = Relational.cdcLatest(cdcDf)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("op"), col("k"), col("seq"), col("price_e4"),
        col("prio")).collect().map(_.toSeq).sortBy(_.toString)
    assert(canon(streamLatest).sameElements(canon(batchLatest)),
      "stream keep-latest state diverged from batch cdcLatest")
    // And the full MERGE: applying the stream's final state must give
    // the batch s14 apply row-for-row.
    val sApplied = canon(Relational.mergeApply(base, streamLatest)
      .select(col("last_op").as("op"), col("k"),
        lit(0L).as("seq"), col("price_e4"),
        col("prio")))
    val bApplied = canon(Relational.mergeApply(base, batchLatest)
      .select(col("last_op").as("op"), col("k"),
        lit(0L).as("seq"), col("price_e4"), col("prio")))
    assert(sApplied.sameElements(bApplied),
      "streaming MERGE apply diverged from the batch s14 apply")
    assert(bApplied.nonEmpty, "MERGE replay pin would be vacuous")
  }

  test("kllStream: micro-batch fold replays the kernel fold and bounds true union ranks") {
    // Planted two-key stream in three DISALIGNED micro-batches (617/53/
    // 409 rows for key a — different cascade depths force the promote
    // path inside merge; key b stays under k so its sketch must remain
    // EXACT with bound 0). Pins: (1) the stream's final snapshot equals
    // the same-split Scala fold of KllSketch.build+foldStep+union — the
    // state algebra is a25's kernel under the binary-counter slot fold,
    // nothing more; (2) every emitted quantile
    // and a rank sweep sit within the sketch's own reported err_bound of
    // the TRUE union ranks — the cross-split contract, since batch
    // boundaries legitimately shape the survivor set.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.KllSketch
    import graft.streaming.EventStream.KllUpdate
    def rowsA(i: Int): (String, java.sql.Timestamp, Double) =
      ("a", new java.sql.Timestamp(1700000000000L + i * 1000L),
        ((i * 37) % 9973) / 100.0)
    def rowsB(i: Int): (String, java.sql.Timestamp, Double) =
      ("b", new java.sql.Timestamp(1700000000000L + i * 1000L),
        ((i * 101 + 3) % 997) / 100.0)
    val batches: Seq[Seq[(String, java.sql.Timestamp, Double)]] = Seq(
      (0 until 617).map(rowsA) ++ (0 until 20).map(rowsB),
      (617 until 670).map(rowsA) ++ (20 until 35).map(rowsB),
      (670 until 1079).map(rowsA))
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream(
        implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp, Double)]],
        s.sqlContext)
      val q = EventStream.kllStream(
          ms.toDF.toDF("event_type", "ts", "value"))
        .writeStream.format("memory").queryName("kll_fold")
        .outputMode("update").start()
      try {
        batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
    val fin = spark.table("kll_fold").as[KllUpdate].collect()
      .groupBy(_.event_type).map { case (g, us) => g -> us.maxBy(_.n) }
    // (1) Same-split Scala fold: identical pairs (cents, fp) per batch.
    def pairs(b: Seq[(String, java.sql.Timestamp, Double)], g: String) =
      b.filter(_._1 == g).map { case (_, ts, v) =>
        val us = ts.getTime * 1000L
        val cents = math.round(v * 100)
        (cents, ((us * 31 + cents) % 4294967296L + 4294967296L) % 4294967296L)
      }
    Seq("a", "b").foreach { g =>
      // Same-split binary-counter fold: the stream's state algebra is
      // KllSketch.foldStep + union, nothing more.
      val slots = batches.foldLeft(
          Vector.empty[Option[KllSketch.Sketch]]) { (acc, b) =>
        val p = pairs(b, g)
        if (p.isEmpty) acc
        else KllSketch.foldStep(acc, KllSketch.build(p, 64), 64)
      }
      val fold = KllSketch.union(slots, 64)
      val u = fin(g)
      assert(u.n == fold.n && u.level == fold.level &&
        u.n_kept == fold.items.size && u.err_bound == fold.errBound,
        s"$g: stream snapshot $u != fold " +
          s"(${fold.n},${fold.level},${fold.items.size},${fold.errBound})")
      assert(u.q50_c == fold.valueAtRank(((50 * fold.n + 99) / 100).max(1L)),
        s"$g q50 diverged from the fold")
      // (2) True-union bound check: the emitted quantiles' rank intervals
      // and a sweep of estRank queries honor the reported bound.
      val union = batches.flatMap(pairs(_, g)).map(_._1).sorted
      Seq(25, 50, 75, 90).foreach { p =>
        val t = ((p * fold.n + 99) / 100).max(1L)
        val v = Seq(u.q25_c, u.q50_c, u.q75_c, u.q90_c)(Seq(25, 50, 75, 90).indexOf(p))
        val lo = union.count(_ < v).toLong
        val hi = union.count(_ <= v).toLong
        assert(t >= lo - u.err_bound && t <= hi + u.err_bound,
          s"$g q$p=$v: target $t outside [$lo-${u.err_bound}, $hi+${u.err_bound}]")
      }
      (0L to 10000L by 500L).foreach { qv =>
        val err = math.abs(fold.estRank(qv) - union.count(_ < qv).toLong)
        assert(err <= fold.errBound, s"$g estRank($qv) err $err > ${fold.errBound}")
      }
    }
    // Key b never outgrew k: the sketch must still be EXACT.
    assert(fin("b").err_bound == 0L && fin("b").level == 0 &&
      fin("b").n_kept == 35, s"b must stay exact: ${fin("b")}")
  }

  test("dgimStream: cascade lands on the canonical digits and replays the a26 closed form") {
    // Two pins. (1) Planted cross-batch stream: after n = 1300 events
    // split 900/400 across a micro-batch boundary, the fold's bucket
    // sizes must equal the canonical {1,2}-digit expansion of n — the
    // closed-form theorem a26 relies on, executed by the real
    // timestamped cascade — and the 7-day estimate must obey the
    // half-oldest-bucket bound against the exact in-window count.
    // (2) Corpus replay: over the real events table the final per-key
    // snapshot must agree with the batch a26 query on every shared
    // column — the stream IS the arrival door of the batch closed form.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.DgimSketch
    import graft.streaming.EventStream.DgimUpdate
    val t0 = 1700000000000000L // µs
    val stepUs = 30L * 60 * 1000000 // 30 min apart → 7d window = 336 events
    def ev(i: Int): (String, java.sql.Timestamp) =
      ("k", new java.sql.Timestamp((t0 + i * stepUs) / 1000L))
    val ms = MemoryStream(
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp)]],
      s.sqlContext)
    val q = EventStream.dgimStream(ms.toDF.toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("dgim_fold")
      .outputMode("update").start()
    try {
      ms.addData((0 until 900).map(ev): _*); q.processAllAvailable()
      ms.addData((900 until 1300).map(ev): _*); q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("dgim_fold").as[DgimUpdate].collect().maxBy(_.n)
    assert(fin.n == 1300L)
    val digits = DgimSketch.canonicalDigits(1300L)
    assert(fin.n_buckets == digits.sum.toInt,
      s"bucket count ${fin.n_buckets} != canonical ${digits.sum}")
    // Replicate the fold in-process to compare the full size vector.
    val fold = (0 until 1300).foldLeft(DgimSketch.empty)((d, i) =>
      DgimSketch.add(d, t0 + i * stepUs))
    val expanded = digits.zipWithIndex
      .flatMap { case (d, i) => Vector.fill(d.toInt)(1L << i) }
    assert(fold.sizes == expanded,
      s"cascade sizes ${fold.sizes} != canonical expansion $expanded")
    // Bound check: exact in-window count vs the emitted estimate.
    val cutoff = (t0 + 1299 * stepUs) - 7L * 86400L * 1000000L
    val cTrue = (0 until 1300).count(i => t0 + i * stepUs >= cutoff).toLong
    assert(math.abs(fin.est_7d - cTrue) <= fin.err_bound,
      s"est ${fin.est_7d} vs true $cTrue exceeds bound ${fin.err_bound}")
    // (2) Corpus replay against the batch a26 entry.
    val q2 = EventStream.dgimStream(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("dgim_corpus")
      .outputMode("update").start()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = spark.table("dgim_corpus").as[DgimUpdate].collect()
      .groupBy(_.event_type).map { case (g, us) => g -> us.maxBy(_.n) }
    val batch = operators.Relational.queries("a26_dgim_window_count")(
        spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (g, u) =>
      val b = batch(g)
      assert(u.n == b.getLong(b.fieldIndex("n_events")), s"$g n")
      assert(u.n_buckets.toLong == b.getLong(b.fieldIndex("n_buckets")),
        s"$g n_buckets")
      assert(u.oldest_size == b.getLong(b.fieldIndex("oldest_size")),
        s"$g oldest_size")
      assert(u.est_7d == b.getLong(b.fieldIndex("est")), s"$g est")
      assert(u.err_bound == b.getLong(b.fieldIndex("err_bound")), s"$g bound")
    }
  }

  test("conformalStream: frozen radius and live coverage replay the batch m28 across a split") {
    // The daily panel the batch entry folds, streamed in two
    // micro-batches split mid-calendar (so for every key the
    // calibration window FILLS in batch 1 and the radius must stay
    // frozen across the boundary while coverage accumulates in batch
    // 2). Final snapshot must equal m28's (q_radius, n_test,
    // n_covered) column-for-column per key.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream.ConfUpdate
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
      .toSeq
    val cut = java.sql.Date.valueOf("2024-01-23")
    val ms = MemoryStream(
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Date, Long)]],
      s.sqlContext)
    val q = EventStream.conformalStream(
        ms.toDF.toDF("event_type", "day", "x"))
      .writeStream.format("memory").queryName("conf_fold")
      .outputMode("update").start()
    try {
      ms.addData(daily.filter(!_._2.after(cut)): _*); q.processAllAvailable()
      ms.addData(daily.filter(_._2.after(cut)): _*); q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("conf_fold").as[ConfUpdate].collect()
      .groupBy(_.event_type)
      .map { case (g, us) => g -> us.maxBy(u => u.n_test) }
    val batch = graft.operators.Estimation.queries("m28_conformal_interval")(
        spark, sfDir).collect().map(r => r.getString(0) -> r).toMap
    assert(fin.keySet == batch.keySet)
    fin.foreach { case (g, u) =>
      val b = batch(g)
      assert(u.q_radius.contains(b.getLong(b.fieldIndex("q_radius"))),
        s"$g radius: ${u.q_radius}")
      assert(u.n_test == b.getLong(b.fieldIndex("n_test")), s"$g n_test")
      assert(u.n_covered == b.getLong(b.fieldIndex("n_covered")),
        s"$g n_covered")
      assert(u.n_cal == 20, s"$g calibration must be full")
    }
  }

  test("mapGroupsWithState running stats converge to the batch moments per key") {
    val q = EventStream.runningStats(EventStream.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("run_stats").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // The LAST update per key is the final state snapshot.
    val streamed = spark.table("run_stats")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("mean"), col("variance"))).as("fin"))
      .select(col("event_type"), col("fin.n"), col("fin.mean"), col("fin.variance"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap

    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean"),
        var_pop(col("value")).as("variance"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap

    assert(streamed.keySet == batch.keySet && batch.nonEmpty)
    for ((k, (n, mean, v)) <- batch) {
      val (sn, sMean, sVar) = streamed(k)
      assert(sn == n, s"$k count")
      assert(math.abs(sMean - mean) < 1e-9 * math.max(1.0, math.abs(mean)), s"$k mean")
      assert(math.abs(sVar - v) < 1e-6 * math.max(1.0, v), s"$k variance")
    }
  }

  test("streaming corpus curation replays to the batch quality-gate + split result") {
    val q = EventStream.curatedDocs(EventStream.readDocuments(spark, sfDir))
      .writeStream.format("memory").queryName("curated").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("curated").orderBy("doc_id").collect()

    val batch = graft.operators.TextPipeline.piiScrub(
        graft.operators.TextPipeline.withQualityFlags(
          graft.operators.TextPipeline.withHashSplit(Tables.documents(spark, sfDir))),
        "text")
      .select(col("doc_id"), col("split"), col("kept"),
        col("n_tokens"), col("avg_token_len"), col("stopword_ratio"),
        col("n_digit_runs"), org.apache.spark.sql.functions.md5(col("redacted"))
          .as("redacted_hash"))
      .orderBy("doc_id").collect()

    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq,
      "streaming curation diverged from the batch operators")
    // Sanity on content: both splits and both gate outcomes occur.
    val splits = streamed.map(_.getString(1)).toSet
    assert(splits.contains("train") && splits.size >= 2, s"splits degenerate: $splits")
    assert(streamed.map(_.getBoolean(2)).toSet == Set(true, false))
  }

  test("streaming decontamination replays to the batch screen and dominates the exact rate") {
    // The d14 check at the arrival door: (1) the stream replays the
    // batch spelling of the Bloom screen row-for-row (stateless, like
    // curatedDocs); (2) the Bloom rate DOMINATES d14's exact semi-join
    // rate per document — false positives only ever inflate it, the
    // overestimate-only law the a22 family pins.
    val docs = Tables.documents(spark, sfDir)
    val split = graft.operators.TextPipeline.withHashSplit(docs)
      .select(col("doc_id"), col("split"))
    val shingleExpr = "array_distinct(transform(sequence(1, " +
      "greatest(char_length(text) - 4, 1)), i -> substring(text, i, 5)))"
    val trainSh = docs.join(split.filter(col("split") === "train"), "doc_id")
      .select(explode(expr(shingleExpr)).as("s")).distinct()
    val testDocs = docs.join(split.filter(col("split") === "test"), "doc_id")
      .select(col("doc_id"), col("text"))
    val q = EventStream.decontaminateStream(
        graft.operators.TextPipeline.withHashSplit(
            EventStream.readDocuments(spark, sfDir))
          .filter(col("split") === "test")
          .select(col("doc_id"), col("text")),
        trainSh)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("decon").orderBy("doc_id").collect()
    val batch = graft.operators.TextPipeline
      .contaminationScreen(testDocs, trainSh).orderBy("doc_id").collect()
    assert(streamed.nonEmpty &&
      streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq,
      "streamed contamination screen diverged from the batch spelling")
    val exact = docs.join(split.filter(col("split") === "test"), "doc_id")
      .select(col("doc_id"), explode(expr(shingleExpr)).as("s"))
      .join(trainSh, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = streamed.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact.forall { case (id, nh) => bloom(id) >= nh },
      "Bloom screen under-counted an exact train hit")
  }

  test("componentsStream: cross-batch merges land on g7's converged flood (planted edge stream)") {
    // The graph family's first streaming twin: edges arrive in three
    // micro-batches arranged so components MERGE ACROSS batches — the
    // one law a single-batch replay can't exercise. Batch 1 forms {1,2}
    // and {3,4}; batch 2 forms {5,6} (three islands); batch 3 bridges
    // 2–3 and 4–5, collapsing everything into one component rooted at
    // the minimum id 1. The final snapshot must equal the batch
    // minLabelComponents flood (converged: iters ≥ diameter) over the
    // SAME edges made symmetric, and the intermediate snapshot after
    // batch 1 must show the pre-merge islands — state that survives
    // between batches, not a per-batch recompute.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    // transformWithState requires the RocksDB state store provider; set
    // for this query, restored after (the topKPurchasesStream pattern).
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), s.sqlContext)
      val q = EventStream.componentsStream(ms.toDF.toDF("src", "dst"))
        .writeStream.format("memory").queryName("cc_stream")
        .outputMode("update").start()
      try {
        ms.addData((1L, 2L), (3L, 4L))
        q.processAllAvailable()
        ms.addData((5L, 6L))
        q.processAllAvailable()
        ms.addData((2L, 3L), (4L, 5L))
        q.processAllAvailable()
      } finally q.stop()
    val all = spark.table("cc_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val afterB1 = all.filter(_._3 == 2L).map(t => t._1 -> t._2).toMap
    assert(afterB1 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      s"batch-1 snapshot must show the pre-merge islands: $afterB1")
    val finalSnap = all.filter(_._3 == 5L).map(t => t._1 -> t._2).toMap
    assert(finalSnap.size == 6, s"final snapshot incomplete: $finalSnap")
    val allEdges = Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 3L), (4L, 5L))
    val sym = (allEdges ++ allEdges.map(_.swap)).toDF("src", "dst")
    val nodes = (1L to 6L).toDF("node")
    val flood = graft.operators.GraphOps
      .minLabelComponents(sym, nodes, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalSnap == flood,
      s"streamed union-find diverged from the batch flood: $finalSnap vs $flood")
    } finally {
      prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
  }

  test("streaming SQ8 ingest replays to the batch frozen-bounds encode") {
    // The e14 maintenance contract, stream side: train the quantizer on
    // the base corpus (batch), then encode the arriving vectors under the
    // FROZEN bounds as a stream. Replay must equal the batch encode of
    // the same arrivals — same unit rounding, same clamp.
    val base = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 4 =!= 0)
    val idx = graft.operators.AnnIndex.trainSq8(base, persistCodes = false)
    val q = EventStream.sq8Ingest(idx,
        EventStream.readEmbeddings(spark, sfDir).filter(col("vec_id") % 4 === 0))
      .writeStream.format("memory").queryName("sq8ingest").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sq8ingest").orderBy("vec_id").collect()

    val batch = graft.operators.AnnIndex.sq8Encode(idx,
        Tables.embeddings(spark, sfDir).filter(col("vec_id") % 4 === 0))
      .select(col("vec_id"), col("sq8"))
      .orderBy("vec_id").collect()

    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq,
      "streaming SQ8 encode diverged from the batch operator")
    // Codes really are bytes: every component in [0, 255].
    val allCodes = streamed.flatMap(_.getSeq[Int](1))
    assert(allCodes.forall(c => c >= 0 && c <= 255))
  }

    test("S4 tuning table round-trips into per-equation vectors in order") {
    val path = graft.Scratch.path("graft_tuning_") + "/t"
    TuningIO.write(spark, path, Seq(("rev", 0.25, 0.01), ("n_orders", 0.9, 0.3)))
    val (alphas, lambdas) = TuningIO.asVectors(spark, path, Seq("n_orders", "rev"))
    assert(alphas == Seq(0.9, 0.25))
    assert(lambdas == Seq(0.3, 0.01))
    val bad = intercept[IllegalArgumentException] {
      TuningIO.asVectors(spark, path, Seq("rev", "missing_eq"))
    }
    assert(bad.getMessage.contains("missing_eq"))
  }

  test("stream sniff: an empty landing dir falls back to the us/NTZ schema; a corrupt footer rethrows") {
    // The advice-item contract (r10): only "file not yet arrived" may
    // fall back silently — any other read failure on an existing
    // events.parquet must surface at stream DEFINITION time, not as a
    // wrong-schema runtime failure later.
    val empty = TestData.scratchDir("graft_sniff_empty")
    try {
      // No events.parquet yet: definition must succeed (fallback schema).
      val df = EventStream.readEvents(spark, empty.getAbsolutePath)
      assert(df.isStreaming)
    } finally {
      empty.delete()
    }
    val corrupt = TestData.scratchDir("graft_sniff_bad")
    val f = new java.io.File(corrupt, "events.parquet")
    java.nio.file.Files.write(f.toPath, "this is not parquet".getBytes("UTF-8"))
    try {
      intercept[Exception] {
        EventStream.readEvents(spark, corrupt.getAbsolutePath)
      }
    } finally {
      f.delete(); corrupt.delete()
    }
  }

  test("watermarkLedger: a planted late arrival is counted dropped in exactly the batch that discards it") {
    // Controlled watermark advance via MemoryStream (the append-mode
    // session test's technique), asserted through the LEDGER instead of
    // the output: batch 1 seeds window [00:00, 01:00) (watermark still
    // at epoch); batch 2's 03:00 event advances the post-batch watermark
    // to 02:30; batch 3's 00:20 straggler is older than that watermark,
    // so ITS batch must report dropped_by_watermark = 1 — and no other
    // batch may report a drop. State rows stay live for the open window.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF.toDF("ts", "event_type", "value")
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val q = EventStream.windowedAgg(events)
      .writeStream.format("memory").queryName("wm_ledger")
      .outputMode("append").start()
    try {
      mem.addData((t("00:00"), "a", 1.0), (t("00:10"), "a", 2.0))
      q.processAllAvailable()
      mem.addData((t("03:00"), "a", 3.0))
      q.processAllAvailable()
      mem.addData((t("00:20"), "a", 9.0)) // late: watermark is 02:30
      q.processAllAvailable()
      val ledger = EventStream.watermarkLedger(s, q).collect()
      assert(ledger.nonEmpty, "no progress rows")
      val drops = ledger.map(r => r.getLong(0) -> r.getLong(7)).toMap
      assert(drops.values.sum == 1L,
        s"expected exactly one dropped row, ledger: ${ledger.toSeq}")
      val dropBatch = ledger.find(_.getLong(7) == 1L).get
      // the dropping batch is the one that INGESTED the straggler: its
      // input count is 1 and it ran under the 02:30 watermark
      assert(dropBatch.getLong(1) == 1L, s"drop batch row: $dropBatch")
      assert(dropBatch.getString(2).contains("02:30:00"),
        s"watermark at drop time: ${dropBatch.getString(2)}")
      // live state: the open [03:00, 04:00) window (and possibly the
      // already-emitted ones evicted) — some batch must show state rows
      assert(ledger.exists(_.getLong(5) > 0L), "no state rows ever reported")
    } finally q.stop()
  }

  test("watermarkLedgerFromLog: the persisted progress log re-derives the in-memory ledger row-for-row") {
    // VERDICT r17 #7 — the durable half of the watermark ledger: a
    // listener sinks every progress event to a JSONL log, and the SAME
    // relation derives from the log as from the bounded in-memory
    // buffer, over the same planted-straggler run.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = graft.Scratch.path("wm_log")
    val listener = EventStream.progressLogListener(dir)
    s.streams.addListener(listener)
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF.toDF("ts", "event_type", "value")
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val q = EventStream.windowedAgg(events)
      .writeStream.format("memory").queryName("wm_ledger_log")
      .outputMode("append").start()
    try {
      mem.addData((t("00:00"), "a", 1.0), (t("00:10"), "a", 2.0))
      q.processAllAvailable()
      mem.addData((t("03:00"), "a", 3.0))
      q.processAllAvailable()
      mem.addData((t("00:20"), "a", 9.0)) // late: watermark is 02:30
      q.processAllAvailable()
      val memLedger = EventStream.watermarkLedger(s, q).collect()
        .map(_.toSeq).toSet
      assert(memLedger.nonEmpty, "no in-memory progress rows")
      // listener delivery is async (the engine's listener bus) — poll
      // the log until it catches up to the buffer, bounded
      val deadline = System.currentTimeMillis() + 20000
      def logRows() = EventStream.watermarkLedgerFromLog(s, dir)
        .collect().map(_.toSeq).toSet
      var got = logRows()
      while (got != memLedger && System.currentTimeMillis() < deadline) {
        Thread.sleep(500); got = logRows()
      }
      assert(got == memLedger,
        s"log-derived ledger diverges:\nlog=$got\nmem=$memLedger")
      assert(got.count(r => r(7) == 1L) == 1,
        "the planted drop did not survive re-derivation")
    } finally { q.stop(); s.streams.removeListener(listener) }
  }

  test("hnswIngest: micro-batched inserts equal the one-shot insert; levels follow the fmix32 bit-count law") {
    // The nswIngest batch-split-independence law lifted to the
    // hierarchy: each arrival's descent + beam depends only on the
    // frozen per-level graphs, never on batch companions — 3
    // micro-batches must reproduce the bulk insert edge-for-edge. The
    // new_lvl column must equal the shared fmix32 bit-count law
    // (recomputed here from Relational.fmix32 directly).
    val s = spark
    import s.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") % 5 =!= 4)
    val arr = e.filter(col("vec_id") % 5 === 4)
    val idx = graft.operators.AnnIndex.trainHnsw(base,
      graft.operators.AnnIndex.buildLsh(base, 4, persist = false))
    val oneShot = EventStream.hnswIngest(idx, base, arr)
      .collect().map(_.toSeq).toSet
    assert(oneShot.nonEmpty)
    // level law pin
    val h = graft.operators.Relational.fmix32(col("new_vec_id"))
    val expectedLvl = (1 to 3).map(l =>
      org.apache.spark.sql.functions.when(
        h % org.apache.spark.sql.functions.lit(1L << (2 * l)) === 0, 1)
        .otherwise(0)).reduce(_ + _)
    val lvlRows = oneShot.map(r => (r(0).asInstanceOf[Long],
      r(1).asInstanceOf[Int])).toSeq.toDF("new_vec_id", "got")
      .withColumn("want", expectedLvl)
      .filter(col("got") =!= col("want")).collect()
    assert(lvlRows.isEmpty, s"level law violated: ${lvlRows.toSeq}")
    val dir = graft.Scratch.path("hnsw_ingest")
    (0 until 3).foreach(i => arr.filter(col("vec_id") % 3 === i)
      .coalesce(1).write.mode("append").parquet(dir))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = spark.readStream.schema(EventStream.embeddingsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val edges = EventStream.hnswIngest(idx, base, b.toDF)
          .collect().map(_.toSeq)
        buf.synchronized { buf ++= edges }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(buf.size == oneShot.size && buf.toSet == oneShot,
      s"micro-batched hnsw edges diverge: ${buf.size} vs ${oneShot.size}")
  }
}
