package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.FileContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{SpawnFreeLocalFs, Streams}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourlyRollup matches the batch twin on the same input") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val q = Streams.hourlyRollup(events)
      .writeStream.format("memory").queryName("rollup_test")
      .outputMode("complete").start()

    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "click", 1.0, ""),
      (2L, Timestamp.valueOf("2024-01-01 10:45:00"), 2L, "click", 2.0, ""),
      (3L, Timestamp.valueOf("2024-01-01 11:05:00"), 1L, "view", 5.0, ""))
    input.addData(rows: _*)
    q.processAllAvailable()

    val got = spark.table("rollup_test")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(got == Set(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
  }

  test("sessionizeBatch splits sessions at the inactivity gap") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0), // same session (10 min gap)
      (1L, "2024-01-01 11:00:00", 3.0), // new session (50 min gap > 30)
      (2L, "2024-01-01 09:00:00", 4.0))
      .toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = Streams.sessionizeBatch(df, gapMinutes = 30)
      .orderBy("user_id", "session_start").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Int]("n_events") == 2 &&
      out(0).getAs[Double]("sum_value") == 3.0)
    assert(out(1).getAs[Int]("n_events") == 1)
    assert(out(2).getAs[Long]("user_id") == 2L)
  }

  test("streaming sessionize emits closed sessions (plumbing runs)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val q = Streams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    input.addData(
      Streams.Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0),
      Streams.Event(2L, Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "click", 2.0))
    q.processAllAvailable()
    // The 10:00 session closed when the 11:00 event arrived in the same
    // batch (gap > 30 min); the 11:00 session is still open in state.
    val closed = spark.table("session_test").collect()
    q.stop()
    assert(closed.length == 1)
    assert(closed.head.getAs[Int]("n_events") == 1)
  }

  test("sessionize closes idle sessions via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val q = Streams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("session_timeout_test")
      .outputMode("append").start()
    // batch 1: one event for user 1 → open session, watermark still low
    input.addData(
      Streams.Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("session_timeout_test").isEmpty)
    // batch 2: a DIFFERENT user far in the future → advances the
    // watermark past user 1's inactivity horizon (10:30)
    input.addData(
      Streams.Event(2L, Timestamp.valueOf("2024-01-01 20:00:00"), 2L, "click", 2.0))
    q.processAllAvailable()
    // batch 3: empty trigger so the registered timeout fires
    input.addData(
      Streams.Event(3L, Timestamp.valueOf("2024-01-01 20:01:00"), 2L, "click", 3.0))
    q.processAllAvailable()
    val closed = spark.table("session_timeout_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events")))
    q.stop()
    assert(closed.contains((1L, 1)),
      s"user 1's idle session should close via timeout, got ${closed.toSeq}")
  }

  test("streaming QA monitor counts nulls per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Option[Double], String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = Streams.qaMissingnessStream(events, Seq("value", "props"))
      .writeStream.format("memory").queryName("qa_stream")
      .outputMode("complete").start()
    val t = Timestamp.valueOf("2024-01-01 10:10:00")
    input.addData(
      (1L, t, 1L, "click", Some(1.0), "p"),
      (2L, t, 1L, "click", None, "p"),
      (3L, t, 2L, "view", None, "p"))
    q.processAllAvailable()
    val r = spark.table("qa_stream").collect().head
    q.stop()
    assert(r.getAs[Long]("missing_value") == 2L)
    assert(r.getAs[Long]("missing_props") == 0L)
    assert(r.getAs[Long]("n_rows") == 3L)
  }

  test("null-event-time contract: windowed aggs drop, key dedup keeps, " +
    "splitNullEventTime quarantines") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = Timestamp.valueOf("2024-01-01 10:05:00")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val (clean, quarantine) = Streams.splitNullEventTime(events)
    val rollup = Streams.hourlyRollup(events)
      .writeStream.format("memory").queryName("nullts_rollup")
      .outputMode("complete").start()
    val dedup = Streams.dedupEvents(events)
      .writeStream.format("memory").queryName("nullts_dedup")
      .outputMode("append").start()
    val qq = quarantine
      .writeStream.format("memory").queryName("nullts_quarantine")
      .outputMode("append").start()
    val cq = Streams.hourlyRollup(clean)
      .writeStream.format("memory").queryName("nullts_clean_rollup")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, t, 1L, "click", 1.0, ""),
        (2L, null.asInstanceOf[Timestamp], 2L, "click", 2.0, ""),
        (3L, t, 3L, null.asInstanceOf[String], 5.0,
          null.asInstanceOf[String]))
      Seq(rollup, dedup, qq, cq).foreach(_.processAllAvailable())
      // the null-ts click is INVISIBLE to the windowed agg (Spark drops
      // null event time at watermark assignment): click count is 1, and
      // no null-window row appears
      val counts = spark.table("nullts_rollup")
        .collect().map(r => Option(r.getString(1)) -> r.getLong(2)).toMap
      assert(counts == Map(Some("click") -> 1L, None -> 1L))
      // the split's clean side computes the identical aggregate — nothing
      // but the invisible row differs
      assert(spark.table("nullts_clean_rollup").collect().map(_.toSeq).toSet
        == spark.table("nullts_rollup").collect().map(_.toSeq).toSet)
      // key-based dedup passes the null-ts row through
      assert(spark.table("nullts_dedup").select("event_id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      // the quarantine stream carries exactly the invisible row — the
      // audit surface the windowed monitor structurally cannot provide
      assert(spark.table("nullts_quarantine").select("event_id").collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
      // and it holds NO state (stateless filter — append-safe forever)
      assert(qq.lastProgress.stateOperators.isEmpty)
    } finally Seq(rollup, dedup, qq, cq).foreach(_.stop())
  }

  test("streaming dedup drops repeated event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = Streams.dedupEvents(events)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    input.addData(
      (1L, t, 1L, "click", 1.0, ""),
      (1L, t, 1L, "click", 1.0, ""), // exact dup in-batch
      (2L, t, 2L, "view", 2.0, ""))
    q.processAllAvailable()
    input.addData((1L, t, 1L, "click", 1.0, "")) // dup across batches
    q.processAllAvailable()
    val got = spark.table("dedup_test").collect()
    q.stop()
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming normalized dedup keeps first doc per fuzzy-content class") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.dedupDocsNormalized(docs)
      .writeStream.format("memory").queryName("docdedup_test")
      .outputMode("append").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    input.addData(
      (1L, t, "The quick brown Fox!"),
      (2L, t, "the  quick brown fox"), // fuzzy dup in-batch
      (3L, t, "something else"),
      (5L, t, null.asInstanceOf[String])) // missing payload
    q.processAllAvailable()
    input.addData(
      (4L, t, "THE QUICK BROWN FOX"), // fuzzy dup across batches
      (6L, t, null.asInstanceOf[String])) // second null: NOT a dup of 5
    q.processAllAvailable()
    val got = spark.table("docdedup_test").collect()
    q.stop()
    // Dedup.exact's NULL-text contract holds on the stream: both
    // null-text docs survive as singletons
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L, 6L))
    // helper column does not leak into the output
    assert(!spark.table("docdedup_test").columns.contains("__text_hash"))
  }

  test("stateless contamination stream equals the batch screen, keeps no state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.Text
    // tiny corpus: doc 2 shares a full 3-gram with the benchmark doc,
    // docs 1/3 share nothing
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "nothing in common here at all"),
      (2L, "prefix alpha beta gamma suffix words"),
      (3L, "entirely unrelated content"))
    val batchExpected = Text.contamination(
      corpus.toDF("doc_id", "text"), bench, n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

    val benchFps = Streams.benchmarkFingerprints(bench, n = 3)
      .localCheckpoint()
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.contaminationStream(docs, benchFps, n = 3)
      .writeStream.format("memory").queryName("contam_test")
      .outputMode("append").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    // split across two micro-batches: per-row screen is batch-independent
    input.addData((1L, t, corpus(0)._2), (2L, t, corpus(1)._2))
    q.processAllAvailable()
    input.addData((3L, t, corpus(2)._2))
    q.processAllAvailable()
    val got = spark.table("contam_test")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // the streaming plan holds NO stateful operator
    val progress = q.lastProgress
    q.stop()
    assert(got == batchExpected)
    assert(got.exists(_._3 == 1) && got.exists(_._3 == 0))
    assert(progress.stateOperators.isEmpty)
  }

  test("streaming k-means scoring equals the batch assignment end to end, keeps no state") {
    import graft.similarity.Similarity
    val e = Tables(spark, sfDir, "embeddings")
    val cents = Similarity.ivfCentroids(e, k = 8, iters = 3)
    val batch = Similarity.kmeansAssign(e, centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val run = Streams.kmeansAssignAvailableNow(spark, sfDir, cents)
    val streamed = run.frame
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    val stats = run.stats
    assert(stats.statefulOps == 0,
      s"per-row scoring must hold no streaming state: $stats")
    assert(stats.dataBatches >= 2,
      s"the replay must actually span micro-batches: $stats")
  }

  test("streaming as-of enrichment carries last-click state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val q = Streams.asofEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_test")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    input.addData(
      Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0),
      Streams.Event(2L, ts("2024-01-01 10:05:00"), 7L, "purchase", 1.0),
      Streams.Event(3L, ts("2024-01-01 10:01:00"), 8L, "purchase", 1.0)) // no click yet
    q.processAllAvailable()
    input.addData( // state carries user 7's click into the next batch
      Streams.Event(4L, ts("2024-01-01 10:30:00"), 7L, "purchase", 1.0),
      // LATE purchase older than the stored click: must NOT match the
      // future click (would be a negative gap) — emits nothing
      Streams.Event(5L, ts("2024-01-01 09:00:00"), 7L, "purchase", 1.0))
    q.processAllAvailable()
    val got = spark.table("asof_test").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    q.stop()
    assert(got == Map(2L -> 300000L, 4L -> 1800000L)) // 5 min; 30 min
    // purchase with no prior click (user 8) emitted nothing
    assert(!got.contains(3L))
    assert(!got.contains(5L)) // late purchase under-matches, never future-matches
  }

  test("idempotent batch writer: replaying a batch leaves no duplicates") {
    import spark.implicits._
    val dir = tempDir("graft_sink") + "/out"
    val writer = Streams.idempotentBatchWriter(dir)
    writer(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    writer(Seq((3L, "c")).toDF("id", "v"), 1L)
    // simulate a post-failure replay of batch 1 with different task output
    writer(Seq((3L, "c")).toDF("id", "v"), 1L)
    // dynamic overwrite is a per-write option: the session keeps its own
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("static"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-stream join pairs trigger/follow events within the bound") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = Streams.followWithin(events, "click", "purchase", withinMinutes = 60)
      .writeStream.format("memory").queryName("follow_test")
      .outputMode("append").start()
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 0.0, ""),
      (2L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L, "purchase", 9.99, ""),
      (3L, Timestamp.valueOf("2024-01-01 12:30:00"), 1L, "purchase", 5.0, ""), // outside 1h
      (4L, Timestamp.valueOf("2024-01-01 10:15:00"), 2L, "purchase", 3.0, "")) // other user
    q.processAllAvailable()
    val got = spark.table("follow_test").collect()
      .map(r => (r.getAs[Long]("t_id"), r.getAs[Long]("f_id")))
    q.stop()
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("streaming LSH candidates match the batch candidatePairs on the same docs") {
    import graft.dedup.MinHashSpec
    implicit val sqlCtx = spark.sqlContext
    // real corpus slice (it contains planted near-dups); split into two
    // micro-batches so pairs must also form ACROSS batches via state
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 120).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batchPairs = MinHashSpec.candidatePairs(
      Tables(spark, sfDir, "documents").filter(col("doc_id") < 120))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.lshCandidatesStream(stream)
      .writeStream.format("memory").queryName("lsh_cand_test")
      .outputMode("append").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val (first, second) = docs.splitAt(docs.length / 2)
    // shingle-less hostiles in BOTH batches: null text, empty text, and
    // sub-shingle-width text. The batch side never sees them (zero
    // shingle rows); the stream must not pair them either — before the
    // mh_0 guard they ALL shared the concat_ws("") bucket and paired
    // with each other across the horizon.
    val hostiles1 = Seq((9001L, t, null.asInstanceOf[String]),
      (9002L, t, ""))
    val hostiles2 = Seq((9003L, t, "two words"),
      (9004L, t, null.asInstanceOf[String]))
    input.addData(first.map { case (id, tx) => (id, t, tx) }.toSeq
      ++ hostiles1)
    q.processAllAvailable()
    input.addData(second.map { case (id, tx) => (id, t, tx) }.toSeq
      ++ hostiles2)
    q.processAllAvailable()
    val streamed = spark.table("lsh_cand_test").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    q.stop()
    assert(streamed == batchPairs)
    assert(!streamed.exists(p => p._1 >= 9000L || p._2 >= 9000L))
  }

  test("file-source stream over the events table produces the batch answer") {
    // The events parquet has NANOS timestamps which the file stream source
    // reads via nanosAsLong; normalize through Tables for batch, and
    // compare a one-batch streaming pass over a rewritten (µs) copy.
    val batch = graft.analytics.Queries.eventsWindow(spark, sfDir)
    val tmp = tempDir("graft_stream")
    Tables(spark, sfDir, "events").write.mode("overwrite").parquet(tmp)
    val stream = Streams.readEvents(spark, tmp)
    val q = Streams.hourlyRollup(stream)
      .writeStream.format("memory").queryName("file_rollup")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("file_rollup").count()
    q.stop()
    assert(got == batch.count())
  }

  test("scd2Stream closes intervals on change, flushes the open one via timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val q = Streams.scd2Stream(input.toDS(), horizonDays = 40)
      .writeStream.format("memory").queryName("scd2_test")
      .outputMode("append").start()
    // batch 1: click → view closes the click interval in-batch
    input.addData(
      Streams.Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0),
      Streams.Event(2L, Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "view", 1.0))
    q.processAllAvailable()
    // batch 2: same type continues (no emission), then a change closes it
    input.addData(
      Streams.Event(3L, Timestamp.valueOf("2024-01-01 10:10:00"), 1L, "view", 1.0),
      Streams.Event(4L, Timestamp.valueOf("2024-01-01 10:20:00"), 1L, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("scd2_test").count() == 2) // open interval still held
    // far-future event pushes the watermark past last+40d, next batch
    // fires the timeout → the open interval flushes with NULL valid_to
    input.addData(
      Streams.Event(5L, Timestamp.valueOf("2024-03-01 00:00:00"), 2L, "x", 1.0))
    q.processAllAvailable()
    input.addData(
      Streams.Event(6L, Timestamp.valueOf("2024-03-01 00:01:00"), 2L, "x", 1.0))
    q.processAllAvailable()
    val rows = spark.table("scd2_test").collect()
      .filter(_.getAs[Long]("user_id") == 1L)
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("valid_from_us"),
        Option(r.getAs[Any]("valid_to_us"))))
      .sortBy(_._2)
    q.stop()
    def us(s: String): Long = Streams.epochUs(Timestamp.valueOf(s))
    assert(rows.length == 3)
    assert(rows(0) == (("click", us("2024-01-01 10:00:00"),
      Some(us("2024-01-01 10:05:00")))))
    assert(rows(1) == (("view", us("2024-01-01 10:05:00"),
      Some(us("2024-01-01 10:20:00")))))
    assert(rows(2) == (("click", us("2024-01-01 10:20:00"), None)))
  }

  test("live Benford audit: folded digit-count state equals the " +
    "one-pass batch audit, with zero streaming state operators") {
    import graft.qa.Qa
    val run = Streams.benfordAvailableNow(spark, sfDir)
    val streamed = run.frame.collect().map(_.toSeq).toSet
    val stats = run.stats
    val batch = Qa.benford(Tables(spark, sfDir, "documents"), "n_chars")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream≠batch: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(stats.dataBatches == 4 && stats.statefulOps == 0, stats.toString)
  }

  test("a Benford replay over a staged dir runs a pinned number of Spark jobs") {
    // the first call stages the replay; only the second is counted
    Streams.benfordAvailableNow(spark, sfDir)
    val l = new ShuffleAudit.MetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      ShuffleAudit.settle(l)
      val before = l.jobs.get
      Streams.benfordAvailableNow(spark, sfDir)
      ShuffleAudit.settle(l)
      // four data micro-batches of three jobs each: the digit-count
      // collect (a map-stage job and a result job) and the snapshot
      // write; no schema inference, emptiness probe or read-back
      // aggregate
      val jobs = l.jobs.get - before
      assert(jobs == 12L, s"$jobs jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("live KMV sketch: streamed kept-set state equals the one-pass " +
    "batch sketch, with zero streaming state operators") {
    import graft.analytics.Sketch
    val run = Streams.kmvSketchAvailableNow(spark, sfDir, k = 16)
    val streamed = run.frame.collect().map(_.toSeq).toSet
    val stats = run.stats
    // merge==rebuild: the folded state publishes the batch sketch
    val batch = Sketch.kmvSketch(Tables(spark, sfDir, "documents"),
      "source", "text", k = 16)
      .select(col("source"), col("n_kept"), col("kth_min"),
        col("est_distinct"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream≠batch: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    // the loop is foreachBatch-stateful, not runtime-stateful: state is
    // the cut kept-set frame, the streaming plan itself carries none
    assert(stats.dataBatches == 4 && stats.statefulOps == 0, stats.toString)
  }

  test("AvailableNow harness: streamed sessionize equals the batch twin") {
    // The end-to-end replay harness (event-time-ordered staged files,
    // flush sentinel, foreachBatch sink) backs five oracle-gated
    // queries; bind it into the suite by asserting the hardest one —
    // the stateful sessionizer — lands exactly on sessionizeBatch.
    val streamed = Streams.sessionizeAvailableNow(spark, sfDir, 30).frame
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    val batch = Streams.sessionizeBatch(Tables(spark, sfDir, "events"), 30)
      .select(col("user_id"), expr("unix_micros(session_start)"),
        expr("unix_micros(session_end)"), col("n_events"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream≠batch: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("a stateful stream restarted from its checkpoint gives the batch answer") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    val events = Tables(spark, sfDir, "events")
    // (window, type) -> (n_events, sum_value): sums compared to 1e-6,
    // since partial sums may merge in a different order
    def rollup(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.get(0), r.get(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    def same(a: Map[(Any, Any), (Long, Double)],
             b: Map[(Any, Any), (Long, Double)]): Boolean =
      a.keySet == b.keySet && a.forall { case (k, (n, s)) =>
        b(k)._1 == n && math.abs(b(k)._2 - s) < 1e-6 }
    val batch = rollup(Streams.hourlyRollup(events).collect())
    // three event-time-ordered chunks, one parquet file each
    val chunked = events.withColumn("__c",
      ntile(3).over(Window.orderBy(col("ts"), col("event_id"))))
    val chunkFiles = (1 to 3).map { c =>
      val d = tempDir("graft_restart_chunk")
      chunked.filter(col("__c") === c).drop("__c")
        .coalesce(1).write.mode("overwrite").parquet(d)
      new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
    }
    val base = System.currentTimeMillis() - 3600L * 1000
    def copyIn(in: String, c: Int): Unit = {
      val dest = new java.io.File(in, s"chunk-$c.parquet")
      java.nio.file.Files.copy(chunkFiles(c).toPath, dest.toPath)
      dest.setLastModified(base + c * 60000L): Unit
    }
    // the runner's checkpoint file system, switched per run: its files
    // must be the ones stock Hadoop reads and writes
    val fsKey = "fs.AbstractFileSystem.file.impl"
    def run(in: String, ckpt: String, name: String, spawnFree: Boolean) = {
      if (spawnFree) spark.conf.set(fsKey, classOf[SpawnFreeLocalFs].getName)
      try {
        assert(FileContext.getFileContext(spark.sessionState.newHadoopConf())
          .getDefaultFileSystem.isInstanceOf[SpawnFreeLocalFs] == spawnFree)
        val q = Streams.hourlyRollup(spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", 1).parquet(in))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        rollup(spark.table(name).collect())
      } finally spark.conf.unset(fsKey)
    }
    // written with the spawn-free file system and resumed with stock
    // Hadoop, then the reverse
    for ((writer, resumer) <- Seq(true -> false, false -> true)) {
      val in = tempDir("graft_restart_in")
      val ckpt = tempDir("graft_restart_ckpt")
      copyIn(in, 0); copyIn(in, 1)
      assert(!same(run(in, ckpt, s"restart_first_$writer", writer), batch))
      // the processed chunks leave the input, as an archiving source
      // moves them: after the restart only the checkpoint's state store
      // remembers them
      new java.io.File(in).listFiles().foreach(_.delete())
      copyIn(in, 2)
      assert(same(run(in, ckpt, s"restart_resumed_$resumer", resumer), batch),
        s"written spawn-free=$writer, resumed spawn-free=$resumer")
      // the spec bites: the same second run from a fresh checkpoint sees
      // only the last chunk
      assert(!same(run(in, tempDir("graft_restart_fresh"),
        s"restart_fresh_$resumer", resumer), batch))
    }
  }

  test("a gate that throws mid-replay restores the session confs, " +
    "drops its checkpoint and leaves no RunStats") {
    import org.apache.spark.sql.streaming.{StreamingQueryException,
      StreamingQueryListener}
    // documents whose highest doc_id (the last staged chunk) carries a
    // corrupt length: under ANSI arithmetic the Benford fold's digit
    // extraction overflows in the final micro-batch, after the earlier
    // snapshots went through the idempotent sink. A fold gate builds its
    // snapshot frames on the caller's session, so any session conf the
    // run sets or its sink flipped would leak to the caller
    val docs = Tables(spark, sfDir, "documents")
    val lastDoc = docs.agg(max(col("doc_id"))).first().getLong(0)
    val badSf = tempDir("graft_bad_sf")
    docs.withColumn("n_chars", when(col("doc_id") === lastDoc,
      lit(Long.MaxValue)).otherwise(col("n_chars")))
      .write.parquet(s"$badSf/documents.parquet")
    // the run's own checkpoint is the one whose metadata file records
    // its query id (other processes may hold checkpoints of their own)
    var queryId = ""
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
          : Unit = queryId = e.id.toString
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
          : Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent)
          : Unit = ()
    }
    def ownCkpts = Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
      .flatMap(d => Option(new java.io.File(d).listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith("graft_stream_ckpt")).filter { d =>
        val m = new java.io.File(d, "metadata")
        m.isFile && java.nio.file.Files.readString(m.toPath).contains(queryId)
      }
    val liveBefore = Scratch.liveDirs.toSet
    // the checkpoint file system's key is unset by default, so every
    // conf is read as an Option
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.sources.partitionOverwriteMode",
      "fs.AbstractFileSystem.file.impl")
    val prev = (confs :+ "spark.sql.ansi.enabled").map(k => k -> spark.conf.getOption(k))
    // differs from the gate's chunk count, so a missed restore shows
    spark.conf.set(confs.head, "7")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val before = confs.map(spark.conf.getOption)
      assert(before.last.isEmpty)
      spark.streams.addListener(listener)
      intercept[StreamingQueryException] {
        Streams.benfordAvailableNow(spark, badSf)
      }
      assert(confs.map(spark.conf.getOption) == before)
      assert(queryId.nonEmpty && ownCkpts.isEmpty,
        s"query $queryId left ${ownCkpts.toSeq}")
      // what the run leaves behind is Scratch's to remove at JVM exit:
      // the staged replay and nothing else (a run that throws deletes
      // its checkpoint and its sink)
      val left = (Scratch.liveDirs.toSet -- liveBefore).toSeq
      assert(left.map(d => new java.io.File(d).getName.takeWhile(!_.isDigit))
        == Seq("graft_replay_documents"), s"left $left")
    } finally {
      spark.streams.removeListener(listener)
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
