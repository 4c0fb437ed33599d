package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.config.Checkpoints.CutSyntax
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch operators: the same windowed
  * aggregation as `Queries.eventsWindow`, plus stateful sessionization.
  * Streams are late-data-safe via watermarks; state is bounded by the
  * watermark + session timeout, so a 1000-executor deployment holds only
  * in-flight sessions, never history.
  */
object Streams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an events directory (parquet). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Streaming twin of the batch hourly rollup: watermark + tumbling
    * window. With the same input, produces the same rows as
    * `Queries.eventsWindow` (asserted in the spec).
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** The ONE replay stager behind every streaming gate: writes each
    * `(name, frame)` chunk as a single parquet file in a dir that
    * [[graft.Scratch]] stages once per JVM for `(kind, sfDir, shape)`,
    * with a strictly ascending pinned modification time, then marks the
    * dir `_STAGED`. The file stream source replays files in modtime
    * order, and a plain write leaves modtimes in task-FINISH order —
    * which can replay a later time range first, making whole earlier
    * ranges arrive behind the watermark and be dropped as late
    * (observed: 12 of 33 join matches lost). Explicit modtimes pin the
    * replay to chunk order. `chunks` (which may run Spark jobs) is only
    * evaluated by the first call for a key. The marker's content is the
    * staged files' schema, inferred once here so that no replay of the
    * dir runs a schema-inference job.
    */
  private def stageReplay(spark: SparkSession, sfDir: String, kind: String,
                          shape: String)
                         (chunks: => Seq[(String, DataFrame)]): String =
    graft.Scratch.staged(s"replay_$kind", sfDir, shape) { in =>
      val base = System.currentTimeMillis() - 3600L * 1000
      chunks.zipWithIndex.foreach { case ((name, df), i) =>
        val dest = new java.io.File(in, name)
        graft.sources.Sources.writeParquetFile(df, dest)
        dest.setLastModified(base + i * 60000L): Unit
      }
      Files.writeString(Paths.get(s"$in/_STAGED"),
        spark.read.parquet(in).schema.json): Unit
    }

  /** The schema a staged dir's `_STAGED` marker records, if any. */
  private def stagedSchema(in: String): Option[StructType] = {
    val marker = Paths.get(s"$in/_STAGED")
    if (!Files.isRegularFile(marker)) None
    else scala.util.Try(DataType.fromJson(Files.readString(marker)))
      .toOption.collect { case s: StructType => s }
  }

  /** Scratch dir for the streaming CHECKPOINT, preferring fast local
    * storage (tmpfs) when present: the checkpoint of a bounded
    * catch-up replay is pure scratch — written once per micro-batch
    * (offset log, commit log, one state delta per store per partition),
    * deleted when the run ends — so its fsync latency is a fixed cost
    * per micro-batch that buys no durability anyone reads. A deployment
    * makes the same call by pointing the checkpoint at node-local NVMe
    * (an always-on pipeline that must survive restarts keeps it on
    * durable shared storage instead — this harness's runs are bounded
    * and self-contained). Measured here: ~10% off the 8-gate total
    * (largest on the state-heaviest gates: follow_within 4.6 → 3.8 s,
    * hourly_rollup 2.4 → 2.0 s). Most of what tmpfs could not remove
    * was process forks, not IO: without libhadoop, Hadoop's local file
    * system forked `chmod` per created file and `readlink` four times
    * per rename, 570 child processes per warm `stream_asof_enrich`
    * call and 175 per `stream_benford` call (JFR `jdk.ProcessStart`,
    * graftbench inputs). The runner writes the checkpoint through
    * [[SpawnFreeLocalFs]], which leaves 88 and 40, all `chmod` from
    * the sink's parquet writes. The SINK stays on the regular temp FS
    * — it backs the returned frame and is the run's real output.
    */
  private def ckptDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    graft.Scratch.dir(prefix,
      Option.when(shm.isDirectory && shm.canWrite)(shm.toPath))
  }

  /** Structural stats of one [[runStagedAvailableNow]] run, captured
    * from the query's progress events: how many micro-batches actually
    * carried data, and how many stateful operators the streaming plan
    * held. `StreamAudit` pins these per gate — the oracle hash alone
    * cannot tell an incremental replay from a degenerate one-batch run
    * (both produce the same rows), so a harness regression that
    * collapses the replay would silently stop exercising streaming
    * state without this gate.
    */
  case class RunStats(batches: Int, dataBatches: Int, statefulOps: Int,
                      stateRowsTotal: Long)

  /** What an AvailableNow run returns: the sink read back, and the stats
    * of the run that wrote it. A run that throws returns nothing, so no
    * stats outlive it.
    */
  case class StreamRun(frame: DataFrame, stats: RunStats) {
    def map(f: DataFrame => DataFrame): StreamRun = copy(frame = f(frame))
  }

  /** The ONE AvailableNow runner behind every streaming gate: file
    * source over the staged replay dir `in` (`maxFilesPerTrigger=1`, so
    * each staged chunk is one real incremental micro-batch) →
    * `transform`'s streaming state → `foreachBatch` → parquet sink under
    * `Trigger.AvailableNow`, returning the sink read back with the run's
    * [[RunStats]]. This is the production deployment shape (a bounded
    * catch-up run of the always-on pipeline) driven to completion in one
    * call, which makes the STREAMING path itself checkable against a
    * batch SQL oracle.
    *
    * `complete` mode overwrites the sink each batch (the last batch is
    * the full aggregate — itself idempotent); `append` mode writes each
    * batch through [[idempotentBatchWriter]], the production
    * exactly-once sink, so a retried micro-batch replaces its own
    * partition instead of double-appending. `body` runs once per
    * micro-batch with that sink; a fold gate passes its own body so it
    * can order its writes against the state it releases. `body` must
    * write inside its call: a foreachBatch frame is only readable
    * during it. `lastBatchOnly` reads back only the partition of the
    * last batch the sink wrote: a fold gate publishes its running
    * snapshot every batch, so that one is the answer.
    *
    * `refireBatchId` simulates a sink retry: that batch id's sink fires
    * a second time — the shape a post-failure restart produces (the
    * checkpoint commits AFTER the sink, so a crash between them re-runs
    * the micro-batch with an identical batch id). A gate using it must
    * still hash-match its unchanged oracle: a plain append sink would
    * double the batch's rows and fail the hash.
    *
    * No schema is inferred: the input's comes from the `_STAGED` marker
    * and the sink's from the first frame it wrote. The checkpoint is
    * written through [[SpawnFreeLocalFs]], so its files land without a
    * forked process each.
    */
  private def runStagedAvailableNow(
      spark: SparkSession, in: String, mode: String, partitions: Int,
      refireBatchId: Option[Long] = None, lastBatchOnly: Boolean = false)(
      transform: DataFrame => DataFrame = identity,
      body: (DataFrame, Long, (DataFrame, Long) => Unit) => Unit =
        (batch, id, sink) => sink(batch, id)): StreamRun = {
    // the sink backs the returned frame, so it lives until JVM exit
    val out = graft.Scratch.dir("graft_stream_out")
    val ckpt = ckptDir("graft_stream_ckpt")
    // Session confs for the run, restored afterwards. Stateful streaming
    // operators allocate one state store per shuffle partition PER SIDE
    // per micro-batch — at a bounded catch-up scale that fixed cost
    // dwarfs the data, so the streaming shuffle is sized to the staged
    // chunk count (a deployment sizes it to its state volume; the
    // partition count is pinned into the checkpoint either way). The
    // stream's cloned session carries the FileContext binding of
    // `file:` into the Hadoop conf its checkpoint file manager and
    // state stores open their files with.
    val runConfs = Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "fs.AbstractFileSystem.file.impl" -> classOf[SpawnFreeLocalFs].getName)
    val saved = runConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    runConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    var outSchema: StructType = null
    var sinkSchema: StructType = null
    var lastWritten = -1L
    val stats = try {
      val built = transform(spark.readStream
        .schema(stagedSchema(in).getOrElse(spark.read.parquet(in).schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(in))
      outSchema = built.schema
      val write: (DataFrame, Long) => Unit =
        if (mode == "complete")
          (batch, _) => batch.write.mode("overwrite").parquet(out)
        else idempotentBatchWriter(out)
      val sink: (DataFrame, Long) => Unit = (batch, id) => {
        if (sinkSchema == null) sinkSchema =
          if (mode == "complete") batch.schema
          else batch.schema.add("batch_id", LongType)
        write(batch, id)
        if (refireBatchId.contains(id)) write(batch, id)
        lastWritten = id
      }
      val q = built
        .writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id, sink) }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val prog = q.recentProgress
      RunStats(
        batches = prog.length,
        dataBatches = prog.count(_.numInputRows > 0),
        statefulOps = prog.map(_.stateOperators.length)
          .foldLeft(0)(math.max),
        stateRowsTotal = prog.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
    } catch { case e: Throwable =>
      // a run that throws returns no frame, so nothing reads its sink
      graft.Scratch.delete(out)
      throw e
    } finally {
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      // the checkpoint is garbage whether the stream succeeded or threw;
      // the staged input is kept for reuse, and only `out` backs the
      // returned frame
      graft.Scratch.delete(ckpt)
    }
    // A partitioned sink with zero emitted rows writes no data files at
    // all — return a typed empty frame rather than failing the read.
    val hasData = {
      def walk(f: java.io.File): Boolean =
        if (f.isDirectory)
          Option(f.listFiles()).exists(_.exists(walk))
        else f.getName.endsWith(".parquet")
      walk(new java.io.File(out))
    }
    val all =
      if (hasData) spark.read.schema(sinkSchema).parquet(out)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Option(sinkSchema).getOrElse(outSchema))
    StreamRun((if (lastBatchOnly && hasData)
      all.filter(col("batch_id") === lastWritten) else all).drop("batch_id"),
      stats)
  }

  /** Drive a streaming transform of the events table end to end through
    * [[runStagedAvailableNow]]. The input is staged as one µs-timestamp
    * file per event-time quantile (the raw events parquet is NANOS,
    * which the file stream source can't read directly), so the files
    * replay in event-time order — the arrival order a live pipeline
    * sees, and the order under which watermark-driven state eviction
    * provably drops no joinable/aggregable row.
    */
  private def runEventsAvailableNow(spark: SparkSession, sfDir: String,
                                    mode: String, chunks: Int = 4,
                                    flushHorizonMs: Option[Long] = None)
                                   (build: DataFrame => DataFrame): StreamRun = {
    val flushTag = flushHorizonMs.map(h => s"_flush$h").getOrElse("")
    val in = stageReplay(spark, sfDir, "events", s"$chunks$flushTag") {
      val e = graft.Tables(spark, sfDir, "events")
      val probs = (1 until chunks).map(_.toDouble / chunks).toArray
      // Boundaries are ms-ALIGNED ((us div 1000)*1000 - 1, i.e. between
      // two whole milliseconds): several operators' tie rules act on
      // truncated-ms time (asofEnrich's click-first ordering, the
      // session gap rule), and a chunk boundary falling INSIDE a
      // millisecond would split a same-ms group across micro-batches,
      // replaying them in µs order instead of under the tie rule.
      val bounds = e.select(expr("unix_micros(ts)").as("us"))
        .stat.approxQuantile("us", probs, 0.001)
        .map(b => (b.toLong / 1000L) * 1000L - 1L)
      val quantiles = (0 until chunks).map { i =>
        val lo = if (i == 0) Long.MinValue else bounds(i - 1)
        val hi = if (i == chunks - 1) Long.MaxValue else bounds(i)
        f"chunk-$i%02d.parquet" -> e.filter(expr("unix_micros(ts)") > lo &&
          expr("unix_micros(ts)") <= hi)
      }
      // Watermark-flush sentinel: stateful append-mode operators
      // (sessionize) hold their LAST window per key in state forever if
      // the watermark never passes its inactivity horizon — end-of-input
      // is not a streaming concept. A live pipeline flushes because new
      // events keep arriving; a bounded replay gets the same effect from
      // one synthetic far-future event (the classic punctuation record),
      // staged as the final file so the closing no-data micro-batch
      // fires every pending event-time timeout. The sentinel's own
      // user_id is -1 — the consumer filters it out.
      quantiles ++ flushHorizonMs.map { h =>
        val maxUs = e.agg(max(expr("unix_micros(ts)"))).first().getLong(0)
        "chunk-99-flush.parquet" -> spark.range(1).select(
          lit(-1L).as("event_id"),
          expr(s"timestamp_micros(${maxUs + h * 1000L}L)").as("ts"),
          lit(-1L).as("user_id"),
          lit("flush").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props"))
      }
    }
    runStagedAvailableNow(spark, in, mode, chunks)(build)
  }

  /** Stage the documents table for replay with a synthesized
    * deterministic arrival order (ts = doc_id ms, chunked by doc_id
    * range) — documents have no event time of their own. Returns the
    * staged dir. Shared by every streaming gate over documents.
    */
  def stageDocsReplay(spark: SparkSession, sfDir: String,
                      chunks: Int = 4): String =
    // ts is offset a day past the epoch: the initial watermark is 0,
    // and a doc_id-0 row AT exactly epoch 0 would be "older than the
    // watermark" and silently dropped as late by stateful operators
    // (observed: 499/500 docs through the dedup gate).
    stageTableReplay(spark, sfDir, "documents", "doc_id", chunks)(
      _.withColumn("ts",
        expr("timestamp_micros(86400000000 + doc_id * 1000)")))

  /** The id-range chunking behind [[stageDocsReplay]] and
    * [[stageEmbReplay]]: chunks of the id range, each sorted by id, so
    * the file source replays them in id order. `prep` adds any per-table
    * columns (the documents replay's synthetic event time). The sort
    * matters: sorting before the stager's coalesce(1) preserves the
    * total order (coalesce concatenates parent partitions in order) —
    * without it, within-chunk arrival order would be the source
    * parquet's PHYSICAL row order, and first-seen semantics would match
    * the min-id oracles only by accident of how the test data happens
    * to be written.
    */
  private def stageTableReplay(spark: SparkSession, sfDir: String,
                               table: String, idCol: String, chunks: Int)
                              (prep: DataFrame => DataFrame): String =
    stageReplay(spark, sfDir, table, chunks.toString) {
      val d = prep(graft.Tables(spark, sfDir, table))
      val maxIdRow = d.agg(max(col(idCol))).first()
      // legible failure, not an NPE from getLong(null): an empty table
      // cannot be chunked into a replay
      require(!maxIdRow.isNullAt(0),
        s"stageTableReplay: $sfDir/$table is empty — nothing to replay")
      val maxId = maxIdRow.getLong(0)
      (0 until chunks).map { i =>
        val lo = maxId * i / chunks
        val hi = if (i == chunks - 1) maxId else maxId * (i + 1) / chunks
        f"chunk-$i%02d.parquet" ->
          d.filter((if (i == 0) lit(true) else col(idCol) > lo) &&
            col(idCol) <= hi).orderBy(col(idCol))
      }
    }

  /** [[dedupDocsNormalized]] (streaming content dedup) through the
    * AvailableNow harness — oracle-gated as `stream_dedup_docs` against
    * the batch keep-min-doc_id rule: the replay arrives in doc_id
    * order, so "first document seen per normalized hash" IS the batch
    * twin's min(doc_id), and the replay span is far inside the
    * watermark horizon, so no hash state is evicted mid-replay (the
    * batch-equivalence regime the operator documents).
    */
  def dedupDocsAvailableNow(spark: SparkSession, sfDir: String,
                            chunks: Int = 3): StreamRun = {
    // chunks=3 default: the replay is in strict doc_id order at ANY
    // chunking, so "first seen per hash" = min(doc_id) holds unchanged;
    // dedup state still spans batch boundaries with 3 batches.
    val in = stageDocsReplay(spark, sfDir, chunks)
    runStagedAvailableNow(spark, in, "append", chunks)(df =>
      dedupDocsNormalized(df, "1 hour").select(col("doc_id")))
  }

  /** [[dedupDocsAvailableNow]] with a simulated sink RETRY: the middle
    * micro-batch's foreachBatch sink is invoked twice with the same
    * batch id (see the refire note in [[runStagedAvailableNow]]) and
    * the gate hash-matches the same DuckDB oracle as `stream_dedup_docs`
    * — [[idempotentBatchWriter]]'s exactly-once contract (a replayed
    * batch OVERWRITES its own `batch_id=N` partition instead of
    * double-appending) driven through the harness, not just
    * spec-asserted. Oracle-gated as `stream_sink_replay`.
    */
  def dedupDocsSinkReplayAvailableNow(spark: SparkSession, sfDir: String,
                                      chunks: Int = 3): StreamRun = {
    // chunks=3 default (see dedupDocsAvailableNow); the refired batch
    // id chunks/2 = 1 is still an interior batch of the replay.
    val in = stageDocsReplay(spark, sfDir, chunks)
    runStagedAvailableNow(spark, in, "append", chunks,
      refireBatchId = Some(chunks / 2L))(df =>
      dedupDocsNormalized(df, "1 hour").select(col("doc_id")))
  }

  /** Stage EXPLICIT crawl batches for replay: chunk i is `batches(i)`
    * (tag column riding along, rows sorted by `idCol`) — unlike
    * [[stageTableReplay]]'s id-range chunking, the batch COMPOSITION
    * here is the caller's (a hash split), which is what lets a
    * streaming gate share a batch pipeline's rebuild-from-scratch
    * oracle verbatim.
    */
  def stageBatchesReplay(spark: SparkSession, sfDir: String, kind: String,
                         batches: Seq[(String, DataFrame)],
                         idCol: String = "doc_id",
                         textCol: String = "text"): String =
    stageReplay(spark, sfDir, kind, batches.size.toString) {
      batches.zipWithIndex.map { case ((tag, df), i) =>
        f"chunk-$i%02d.parquet" -> df.select(col(idCol), col(textCol))
          .withColumn("batch", lit(tag)).orderBy(col(idCol))
      }
    }

  /** The D45 index-maintenance cycle AS A STREAM (VERDICT-r13 item 6):
    * a crawl-ingest pipeline where each arriving micro-batch is
    * screened against the CURRENT dedup index — the initial version
    * loaded from the persisted BUCKETED layout (D66: the screen joins
    * read the index scans in place, no index-side Exchange) — and the
    * kept docs' hash/band rows are merged in before the next batch
    * fires. The per-batch step is [[graft.dedup.Dedup.incrementalStep]],
    * byte-identical to the batch loop's, so the gate shares
    * `dedup_incremental_loop`'s rebuild-from-scratch oracle verbatim:
    * a green row proves merge == rebuild THROUGH the streaming runtime
    * (checkpointed file source, foreachBatch, exactly-once sink).
    *
    * State lives in the driver's version chain (materialized index
    * frames, released as superseded — bounded by index size, never
    * corpus text), NOT the state store: statefulOps = 0 in the
    * StreamAudit row, the [[kmeansAssignAvailableNow]] class. The sink
    * is [[idempotentBatchWriter]], so a retried micro-batch overwrites
    * its own partition. At 100 TB this is the crawl-ingest shape:
    * shuffle ∝ batch (the bucketed index never re-shuffles), index
    * maintenance cost ∝ kept docs.
    */
  def incrementalDedupAvailableNow(spark: SparkSession, in: String,
                                   corpus: DataFrame,
                                   index: graft.dedup.DedupIndex,
                                   chunks: Int,
                                   idCol: String = "doc_id",
                                   textCol: String = "text"): StreamRun = {
    import graft.dedup.Dedup
    var corp = corpus.select(col(idCol), col(textCol))
    var idx = index
    var dataSeen = 0
    val flagged = runStagedAvailableNow(spark, in, "append", chunks)(
      body = { (batch, id, sink) =>
        // ONE aggregate job doubles as the emptiness probe and the tag
        // read: min over an empty micro-batch is null. The tag column
        // is constant per chunk; the flags carry it so the output
        // matches the batch loop's per-batch tagging.
        val tag = batch.select(min(col("batch"))).first().getString(0)
        if (tag != null) {
          dataSeen += 1
          if (dataSeen == chunks) {
            // FINAL data batch of the bounded replay — the batch
            // loop's final-batch discipline (r16): nothing after this
            // call consumes the merged index, the kept docs, or the
            // grown corpus, so the step's merge (an index-sized
            // union+distinct), its kept/bands cuts, and the flags
            // checkpoint are all dead work. Screen only, straight
            // into the sink (the write runs DURING the call, so the
            // lazy flags never outlive the readable batch frame or the
            // index they read). A live pipeline has no last batch and
            // keeps stepping — this is the bounded-gate shape, exactly
            // as in Dedup.incrementalLoopFrom.
            sink(Dedup.incrementalFromIndex(corp, idx,
              batch.drop("batch"), idCol, textCol)
              .withColumn("batch", lit(tag)), id)
            Dedup.releaseIndex(idx)
          } else {
            val (flags, kept, merged) = Dedup.incrementalStep(
              corp, idx, batch.drop("batch"), idCol, textCol)
            // a foreachBatch frame is only readable DURING its call —
            // the growing corpus must hold a materialized copy of the
            // kept docs, not a lazy view over this micro-batch
            val keptM = kept.cutLineage()
            // drop the step's hidden merge-hash column before the sink
            // (the gate's output schema is the screen flags + batch tag)
            sink(flags.drop("__content_hash").withColumn("batch", lit(tag)), id)
            Dedup.releaseIndex(idx)
            idx = merged
            corp = corp.union(keptM)
          }
        }
      })
    Dedup.releaseIndex(idx)
    flagged
  }

  /** LIVE KMV distinct sketch over the staged documents replay — the
    * streaming form of `sketch_distinct_kmv` (the estimator's WHOLE
    * selling point is this loop: O(k)-longs-per-group state folded
    * batch by batch, mergeStep == kmvMerge's algebra, so the state
    * after the last micro-batch equals the one-pass batch sketch —
    * merge==rebuild, and the gate's oracle IS the batch SQL minus the
    * unbounded-state n_hashes column). Every micro-batch writes the
    * running snapshot through the idempotent sink (replayed batches
    * overwrite their own partition); the gate reads back the LAST
    * snapshot. State lives in the driver across foreachBatch calls,
    * exactly like the incremental-dedup loop's corpus/index pair.
    */
  def kmvSketchAvailableNow(spark: SparkSession, sfDir: String,
                            k: Int = 64, chunks: Int = 4): StreamRun = {
    import graft.analytics.Sketch
    import spark.implicits._
    // Kept-set state is ≤ k longs PER GROUP (the sketch's whole
    // selling point) — the class-(a) bounded regime, so the fold
    // lives in the DRIVER: each micro-batch's per-group k-smallest
    // distinct fingerprints are computed distributed
    // (Sketch.batchKept — the 100 TB-shaped aggregate), collected
    // (≤ k·|groups| rows), and merged locally with the identical
    // union+distinct+take-k algebra over exact longs. A data
    // micro-batch runs the kept collect and the snapshot write; only an
    // empty collect pays the emptiness probe, since a non-empty one
    // implies a non-empty batch.
    // Published columns are publishSketch's arithmetic: n_kept as int,
    // kth_min = max kept, est = (k−1)·M / kth_min in one double division.
    var state = Map.empty[String, Vector[Long]]
    val in = stageDocsReplay(spark, sfDir, chunks)
    runStagedAvailableNow(spark, in, "append", chunks,
      lastBatchOnly = true)(body = { (batch, id, sink) =>
      val kept = Sketch.batchKept(batch.select("source", "text"),
        "source", "text", k).collect()
      if (kept.nonEmpty || !batch.isEmpty) {
        kept.groupBy(_.getString(0)).foreach { case (g, rows) =>
          val merged = (state.getOrElse(g, Vector.empty) ++
            rows.map(_.getLong(1))).distinct.sorted.take(k)
          state = state.updated(g, merged)
        }
        val snap = state.toSeq.map { case (g, hs) =>
          val est =
            if (hs.size < k) hs.size.toDouble
            else Sketch.estNumerator(k) / hs.last.toDouble
          (g, hs.size, hs.last, est)
        }
        sink(snap.toDF("source", "n_kept", "kth_min", "est_distinct")
          .coalesce(1), id)
      }
    })
  }

  /** LIVE Benford digit audit over the staged documents replay — the
    * streaming form of `qa_benford` on the n_chars column (a length
    * distribution is exactly the kind of feed a QA monitor watches
    * live). Per-micro-batch digit counts ([[graft.qa.Qa.benfordCounts]])
    * fold into ≤ 9 rows of carried state via the count monoid
    * ([[graft.qa.Qa.benfordMerge]]) — associative + commutative, so the
    * state after the last micro-batch equals the one-pass batch counts
    * and the gate's oracle IS the batch SQL (merge==rebuild, the
    * [[kmvSketchAvailableNow]] class). Snapshot published through the
    * idempotent sink each batch; the gate reads the LAST snapshot.
    * State is a driver-side map, not runtime state: statefulOps = 0.
    */
  def benfordAvailableNow(spark: SparkSession, sfDir: String,
                          chunks: Int = 4): StreamRun = {
    import graft.qa.Qa
    import spark.implicits._
    // Digit-count state is ≤ 10 (digit, n) longs — the class-(a)
    // bounded-frame regime, so the fold lives in the DRIVER: the
    // per-batch digit aggregate stays distributed (the 100 TB-shaped
    // work), its ≤10-row result merges into a map. A data micro-batch
    // runs the counts collect and the snapshot write; only an empty
    // collect pays the emptiness probe.
    // The published rows are benfordPublish's integer arithmetic
    // (`n·10⁶ div total` = Long division for non-negative operands,
    // driver-side exp literals, zero-filled digits 1-9).
    var state = Map.empty[Int, Long]
    val in = stageDocsReplay(spark, sfDir, chunks)
    runStagedAvailableNow(spark, in, "append", chunks,
      lastBatchOnly = true)(body = { (batch, id, sink) =>
      val counts = Qa.benfordCounts(batch, "n_chars").collect()
      if (counts.nonEmpty || !batch.isEmpty) {
        counts.foreach { r =>
          val d = r.getInt(0)
          state = state.updated(d, state.getOrElse(d, 0L) + r.getLong(1))
        }
        // total over ALL state rows (digit-0 rows count toward the
        // denominator exactly as benfordPublish's sum does)
        val total = state.valuesIterator.sum
        val snap = (1 to 9).map { d =>
          val n = state.getOrElse(d, 0L)
          val obs = if (total > 0) n * 1000000L / total else 0L
          val e = Qa.benfordExpMicro(d)
          (d, n, obs, e, obs - e)
        }
        sink(snap.toDF("digit", "n", "obs_micro", "exp_micro",
          "dev_micro").coalesce(1), id)
      }
    })
  }

  /** [[lshCandidatesStream]] (streaming MinHash-LSH candidate
    * generation) through the AvailableNow harness over the DOCUMENTS
    * table — oracle-gated as `stream_lsh_candidates` against the batch
    * MinHash candidate SQL. Documents have no event time, so arrival
    * order is synthesized deterministically (ts = doc_id ms, ms-aligned
    * by construction) and the horizon covers the whole replay — the
    * batch-equivalence regime the operator documents (within the
    * horizon, the streaming bucket state proposes exactly the batch
    * pairs). A pair colliding in several bands is emitted once per
    * band; the gate collapses them with distinct(), exactly as the
    * batch composition does.
    */
  def lshCandidatesAvailableNow(spark: SparkSession, sfDir: String,
                                chunks: Int = 4): StreamRun = {
    val in = stageDocsReplay(spark, sfDir, chunks)
    // One staged file per micro-batch = ONE read task, and the MinHash
    // signature expressions are the heavy part — repartition ahead of
    // them so the per-row compute uses the executor cores; the stateful
    // shuffle after still uses the small state-store partition count.
    val cores = spark.sparkContext.defaultParallelism
    runStagedAvailableNow(spark, in, "append", chunks)(df =>
      lshCandidatesStream(df.repartition(cores), horizonMinutes = 60).toDF())
      .map(_.distinct())
  }

  /** [[hourlyRollup]] through [[runEventsAvailableNow]] — oracle-gated
    * as `stream_hourly_rollup` (same DuckDB SQL as the batch twin).
    */
  def hourlyRollupAvailableNow(spark: SparkSession, sfDir: String): StreamRun =
    // chunks=3 (not the default 4): a complete-mode window agg proves
    // incrementality with ANY multi-batch replay — its answer is
    // recomputed-from-state each batch and no tie/boundary rule spans
    // batches. One fewer micro-batch = one fewer fixed state-commit
    // round; StreamAudit re-pins the 3-batch structure. The
    // cross-batch-SENSITIVE gates (sessionize's timeout, follow_within's
    // cross-batch matches, asof's carried state, scd2's transitions,
    // lsh's bucket collisions) keep 4 — there, more batch boundaries IS
    // the evidence.
    runEventsAvailableNow(spark, sfDir, "complete", chunks = 3)(hourlyRollup)

  /** [[asofEnrich]] (O(1)-state as-of enrichment) through
    * [[runEventsAvailableNow]] — oracle-gated as `stream_asof_enrich`
    * against the same DuckDB ASOF JOIN as the batch twin. Append mode;
    * matches are emitted inline as purchases are processed, so no flush
    * sentinel is needed. Exactness relies on the harness's event-time-
    * ordered, ms-ALIGNED replay: clicks are applied to every later-ms
    * purchase, and same-ms groups stay in one micro-batch where the
    * click-first tie rule orders them.
    */
  def asofEnrichAvailableNow(spark: SparkSession, sfDir: String): StreamRun = {
    import spark.implicits._
    runEventsAvailableNow(spark, sfDir, "append")(df =>
      asofEnrich(df.as[Event]).toDF())
  }

  /** [[qaMissingnessStream]] (the streaming QA monitor) through
    * [[runEventsAvailableNow]] — oracle-gated as `stream_qa_missingness`
    * against the equivalent batch per-hour missingness SQL. Complete
    * mode, same shape as the rollup gate.
    */
  def qaMissingnessAvailableNow(spark: SparkSession, sfDir: String,
                                cols: Seq[String] = Seq("value", "props"))
      : StreamRun =
    // chunks=3: complete-mode, no cross-batch rule (see hourlyRollup)
    runEventsAvailableNow(spark, sfDir, "complete", chunks = 3)(
      qaMissingnessStream(_, cols))

  /** [[sessionize]] — the flagship STATEFUL operator
    * (flatMapGroupsWithState, event-time timeout) — through
    * [[runEventsAvailableNow]], oracle-gated as `stream_sessionize`
    * against the same DuckDB gaps-and-islands SQL as the batch twin.
    * Append mode emits sessions as they close; the trailing open
    * session per user is closed by the watermark-flush sentinel (see
    * the harness): sentinel ts = max(ts) + 2·gap + 1 min, so the final
    * watermark (sentinel − gap delay) clears every real session's
    * inactivity horizon (≤ max(ts) + gap) and the closing no-data
    * micro-batch fires all pending timeouts. The sentinel's own
    * still-open session is filtered by user_id.
    */
  def sessionizeAvailableNow(spark: SparkSession, sfDir: String,
                             gapMinutes: Int = 30): StreamRun = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    runEventsAvailableNow(spark, sfDir, "append",
      flushHorizonMs = Some(2 * gapMs + 60000L)) { df =>
      sessionize(df.as[Event], gapMinutes).toDF()
        .filter(col("user_id") =!= -1L)
    }
  }

  /** [[followWithin]] (the watermarked stream-stream join) through
    * [[runEventsAvailableNow]] — oracle-gated as `stream_follow_within`
    * against the equivalent batch self-join. Append mode: inner-join
    * matches are final the moment they are found, so every micro-batch
    * appends its new matches and the union is the batch answer. Losing
    * no match to state eviction is guaranteed by the time-ordered
    * replay: a click evicted at watermark w has t_ts + horizon < w,
    * and every future purchase has f_ts ≥ w, so the evicted click
    * could never have matched it.
    */
  def followWithinAvailableNow(spark: SparkSession, sfDir: String,
                               triggerType: String = "click",
                               followType: String = "purchase",
                               withinMinutes: Int = 60): StreamRun =
    runEventsAvailableNow(spark, sfDir, "append")(
      followWithin(_, triggerType, followType, withinMinutes))

  /** Streaming QA monitor: per-window missingness counts for the given
    * columns — the streaming twin of `Qa.missingness`, for catching a
    * upstream schema/quality regression while the load is running rather
    * than after. One watermarked window agg; all columns in one pass.
    *
    * BLIND SPOT (spec-pinned): a null `ts` row never reaches this
    * aggregate — Spark drops null event-time at watermark assignment —
    * so missing EVENT TIME, the one field this monitor most needs to
    * see, is structurally invisible to it. Audit that class via
    * [[splitNullEventTime]]'s quarantine stream instead.
    */
  def qaMissingnessStream(events: DataFrame, cols: Seq[String],
                          window_ : String = "1 hour"): DataFrame = {
    val aggs = cols.map(c =>
      sum(when(col(c).isNull, 1).otherwise(0)).as(s"missing_$c")) :+
      count(lit(1)).as("n_rows")
    events.withWatermark("ts", window_)
      .groupBy(window(col("ts"), window_))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start") +: cols.map(c =>
        col(s"missing_$c")) :+ col("n_rows"): _*)
  }

  /** Time-bounded stream-stream join: for each user, pair a trigger
    * event with any follow event of another type within `withinMinutes`.
    * Both sides are watermarked and the join condition carries the time
    * bound, so Spark can evict state for rows past the horizon — the
    * state store stays bounded on an unbounded stream.
    */
  def followWithin(events: DataFrame, triggerType: String, followType: String,
                   withinMinutes: Int = 60): DataFrame = {
    val wm = s"$withinMinutes minutes"
    val trig = events.filter(col("event_type") === triggerType)
      .withWatermark("ts", wm)
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_id").as("t_id"))
    val follow = events.filter(col("event_type") === followType)
      .withWatermark("ts", wm)
      .select(col("user_id").as("f_user"), col("ts").as("f_ts"),
        col("event_id").as("f_id"), col("value").as("f_value"))
    trig.join(follow,
      col("t_user") === col("f_user") &&
        col("f_ts") > col("t_ts") &&
        col("f_ts") <= col("t_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(col("t_user").as("user_id"), col("t_id"), col("f_id"),
        col("t_ts"), col("f_ts"), col("f_value"))
  }

  /** Streaming exact dedup: drop repeated event_ids within the watermark
    * horizon. State holds only ids newer than the watermark — bounded on
    * an unbounded stream, the streaming twin of `Dedup.exact`.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** NULL-EVENT-TIME contract and its quarantine split.
    *
    * A row with a null event-time is INVISIBLE to every event-time
    * windowed operator: Spark's watermark assignment silently drops it
    * before the aggregation, so neither [[hourlyRollup]] nor — more
    * dangerously — [[qaMissingnessStream]] (the monitor that is supposed
    * to COUNT missing fields) will ever reflect it. Key-based
    * [[dedupEvents]] does still pass such rows through. Patching the
    * window key (sentinel epoch, or arrival-time coalesce) is wrong at
    * scale: a sentinel is permanently late once the watermark advances, and
    * `current_timestamp()` poisons the watermark during a catch-up
    * replay (one null row fast-forwards it past every pending
    * event-time row).
    *
    * The production pattern is therefore split-at-ingest: route null-ts
    * rows to a stateless quarantine stream (append-safe without
    * watermark — no aggregation) whose sink is the audit, and run the
    * event-time pipeline on the clean side. Returns (clean, quarantine).
    */
  def splitNullEventTime(events: DataFrame, tsCol: String = "ts")
      : (DataFrame, DataFrame) =
    (events.filter(col(tsCol).isNotNull), events.filter(col(tsCol).isNull))

  /** Streaming fuzzy-exact document dedup — the streaming twin of
    * `Dedup.exactNormalized`: normalize the text, keep the first document
    * per normalized-content hash within the watermark horizon.
    * `dropDuplicatesWithinWatermark` bounds the dedup state to the
    * watermark window (an unbounded-corpus stream can't keep every hash
    * forever; at 100 TB/day the horizon IS the contract). Input needs an
    * event-time column `ts` and a `text` column.
    *
    * NULL-text contract matches `Dedup.exact`: a missing payload is
    * never a duplicate, so null-text docs are keyed by an 'N'||id
    * surrogate (dropDuplicates would otherwise treat all null hashes as
    * ONE class and keep only the first null doc per horizon). As in
    * `Dedup.exact`, a null-id+null-text row has no identity (the
    * surrogate null-propagates and all such rows would collapse into
    * one dedup class) — the explicit raise_error arm makes that a loud
    * contract violation instead of silent row collapse.
    */
  def dedupDocsNormalized(docs: DataFrame,
                          watermark: String = "1 hour",
                          idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("__text_hash",
        graft.dedup.Dedup.surrogateKey(
          md5(graft.text.Text.normalize(col("text"))),
          col(idCol), "dedupDocsNormalized"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__text_hash")
      .drop("__text_hash")

  /** Stateless streaming decontamination — the benchmark n-gram screen
    * ([[graft.text.Text.contamination]]) as a continuous map-only
    * stream: every arriving document is flagged against the eval-set
    * shingle fingerprints with ZERO streaming state. The benchmark side
    * is a 1-row static frame holding the sorted distinct 62-bit gram
    * fingerprints ([[benchmarkFingerprints]]); it rides a broadcast
    * stream-static equi-join (no shuffle, no watermark, no state store),
    * and the per-document hit count is a per-ROW `array_intersect`
    * against the broadcast array — each doc's result is final the moment
    * it arrives, the shape a crawl-ingest decontamination filter wants.
    *
    * Per-row cost: a naive `array_intersect(doc_fps, bench)` rebuilds
    * the benchmark hash set for EVERY row — O(|bench|) per document
    * (measured: +1.4 s over the gate's harness floor at sf0.1). So the
    * screen composes the suite's Bloom kernels instead, the same
    * pre-filter-then-verify pattern as `dedup_bloom_screen` made
    * per-row: each gram probes a ~1.2 byte/gram (9.6-bit, 1% fpp) Bloom filter of the
    * benchmark (O(1) per gram), and only the surviving "maybe" grams —
    * true hits plus ~fpp noise — pay the exact `array_intersect`
    * verify, which restores exactness BY CONSTRUCTION. A clean
    * document (the vast majority of any real corpus) costs O(|doc
    * grams|) probes and never touches the benchmark array. In an
    * extension-free session the Bloom stage degrades to the plain
    * intersect, value-identical.
    *
    * Counting note: the count is DISTINCT contaminated fingerprints per
    * doc (array_intersect semantics); the gate's oracle counts the same
    * thing (`count(DISTINCT gram_fp)`), so the match is exact even in
    * the ~2^-62 event of a within-doc fingerprint collision.
    */
  def contaminationStream(docs: DataFrame, benchFps: DataFrame, n: Int = 8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    import graft.text.Text
    val spark = docs.sparkSession
    val fp = graft.dedup.MinHashSpec.fingerprint62Expr(spark, "g")
    // §5 cluster-loss contract (executor-local cut; a 1-row aggregate —
    // broadcast-class (a) on preemptible clusters)
    val fpsRows = benchFps.cutLineage()
    val benchRow = fpsRows
      .agg(sort_array(collect_set(col("gram_fp"))).as("__bench"))
    val withFps = docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      // null text → null tokens → null fps: coalesce to empty HERE so a
      // null-text doc flows through the Bloom filter, the ==0
      // short-circuit and the intersect as "no grams" (= 0 contaminated,
      // the batch oracle's coalesce semantics) instead of poisoning the
      // count with size(null) = -1 / NULL downstream
      .withColumn("__fps",
        coalesce(
          expr(s"transform(${Text.shingleExpr("__toks", n)}, g -> $fp)"),
          expr("cast(array() as array<bigint>)")))
    val screened = benchBloom(fpsRows) match {
      case Some(bytes) => withFps.withColumn("__maybes",
        filter(col("__fps"),
          f => call_function("bloom_contains", lit(bytes), f)))
      case None => withFps.withColumn("__maybes", col("__fps"))
    }
    screened
      .withColumn("__k", lit(1))
      .join(broadcast(benchRow.withColumn("__k", lit(1))), Seq("__k"))
      .select(col(idCol),
        when(size(col("__maybes")) === 0, 0)
          .otherwise(size(array_intersect(col("__maybes"), col("__bench"))))
          .as("n_contaminated"))
      .withColumn("contaminated",
        when(col("n_contaminated") > 0, 1).otherwise(0))
  }

  /** The static benchmark side of [[contaminationStream]]: the eval
    * set's distinct 62-bit shingle fingerprints, one row each (~8 B per
    * distinct gram — a real eval suite fits in a broadcast with orders
    * of magnitude to spare).
    */
  def benchmarkFingerprints(benchmark: DataFrame, n: Int = 8,
                            textCol: String = "text"): DataFrame = {
    import graft.text.Text
    val spark = benchmark.sparkSession
    val fp = graft.dedup.MinHashSpec.fingerprint62Expr(spark, "g")
    benchmark
      .withColumn("__toks", Text.tokens(col(textCol)))
      .select(explode(expr(Text.shingleExpr("__toks", n))).as("g"))
      .select(expr(fp).as("gram_fp"))
      .distinct()
  }

  /** Bloom filter over the benchmark fingerprints — one shared sizing
    * rule (`Dedup.buildBloomOver`); None in an extension-free session.
    */
  private def benchBloom(fpsRows: DataFrame): Option[Array[Byte]] =
    graft.dedup.Dedup.buildBloomOver(fpsRows, col("gram_fp"))

  /** [[contaminationStream]] through the AvailableNow harness —
    * oracle-gated as `stream_contamination` (the per-doc screen result
    * is replay-order-independent, so chunks=3 proves the multi-batch
    * path; the gate pins statefulOps=0, the suite's one STATELESS
    * streaming shape). The benchmark (every 50th doc, the batch gate's
    * planted eval set) is materialized once before the stream starts —
    * a deployment loads its eval-set fingerprints the same way.
    */
  def contaminationAvailableNow(spark: SparkSession, sfDir: String,
                                chunks: Int = 3): StreamRun = {
    val in = stageDocsReplay(spark, sfDir, chunks)
    val bench = graft.Tables(spark, sfDir, "documents")
      .filter(expr("doc_id % 50 = 0"))
    // one staged file per micro-batch = ONE read task; the per-gram md5
    // fingerprints are the heavy part — repartition ahead of them so the
    // map-only screen uses the executor cores (same note as the LSH gate)
    val cores = spark.sparkContext.defaultParallelism
    runStagedAvailableNow(spark, in, "append", chunks)(df =>
      contaminationStream(df.repartition(cores), benchmarkFingerprints(bench)))
  }

  /** Stage the embeddings table as a vec_id-ordered chunked replay —
    * [[stageDocsReplay]]'s contract for the vector table. No synthetic
    * event time: the consumer ([[kmeansAssignAvailableNow]]) is
    * STATELESS, so there is no watermark to feed and no late-row
    * eviction to guard against; chunk order just makes the replay
    * deterministic.
    */
  def stageEmbReplay(spark: SparkSession, sfDir: String,
                     chunks: Int = 3): String =
    stageTableReplay(spark, sfDir, "embeddings", "vec_id", chunks)(identity)

  /** STREAMING K-MEANS SCORING — the trained-offline / score-in-stream
    * inference pattern (the embedding-pipeline shape of
    * [[contaminationAvailableNow]]'s broadcast screen): the quantizer is
    * trained out-of-band on the batch corpus (the caller passes the
    * centroid matrix — production loads it from the persisted model),
    * and every ARRIVING vector is labeled per-row through the same
    * fused `centroid_dists` projection as the batch operator. Zero
    * streaming state (no watermark, no state store — each vector's
    * cluster is final on arrival), so the result is replay-order
    * independent and the batch oracle gates the streaming path
    * end to end.
    */
  def kmeansAssignAvailableNow(spark: SparkSession, sfDir: String,
                               centroids: Array[Array[Double]],
                               chunks: Int = 3): StreamRun = {
    val in = stageEmbReplay(spark, sfDir, chunks)
    // one staged file per micro-batch = ONE read task; the k×dim
    // distance projection is the heavy part — repartition ahead of it
    // so the map-only scoring uses the executor cores (the LSH /
    // contamination gates' note)
    val cores = spark.sparkContext.defaultParallelism
    runStagedAvailableNow(spark, in, "append", chunks)(df =>
      graft.similarity.Similarity.kmeansAssign(
        df.repartition(cores), centroids = Some(centroids)))
  }

  case class BandedDoc(band: Int, bsig: String, doc_id: Long, ts: Timestamp)
  case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming MinHash-LSH candidate generation — the streaming twin of
    * `MinHashSpec.candidatePairs`. Signatures use the exact batch
    * constants and hashes, computed as ONE fused per-row expression
    * (`minhash_bandsigs`, graft.functions.MinhashBandSigs) instead of
    * the batch explode+groupBy — same values, no stateful aggregation
    * before the stateful operator, and no interpreted-HOF chain for the
    * optimizer to duplicate.
    * Each (band, band-signature) bucket keeps the doc ids seen within the
    * `horizonMinutes` event-time window; every arriving doc emits a
    * candidate pair against each doc retained in its bucket, so a
    * near-dup is proposed as soon as its partner arrives. State per
    * bucket is the docs seen within the horizon — the same bound the
    * batch path's bucket join has per band, made explicit in time.
    * A pair colliding in several bands is emitted once per band
    * (different state partitions can't see each other); downstream
    * verify/dedup collapses them, exactly as the batch composition does.
    */
  def lshCandidatesStream(docs: DataFrame,
                          horizonMinutes: Int = 60): Dataset[CandPair] = {
    import graft.text.Text
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = horizonMinutes * 60L * 1000L
    // The signature kernel (tokens → shingles → md5 mod P → K affine
    // minima → band sigs) is the fused native `minhash_bandsigs` — ONE
    // expression node, so the optimizer cannot re-evaluate the chain
    // per minhash column or per pushed predicate. The r10 composed
    // spelling (a __toks/__shingles/__hashes withColumn chain + 16
    // interpreted `array_min(transform(...))` projections + an
    // `mh_0 IS NOT NULL` guard) regressed 1.8×: predicate pushdown
    // alias-substituted the full interpreted-HOF chain into the pushed
    // filter, doubling the per-row md5 work (VERDICT r10 item 1).
    //
    // Degenerate docs (null/empty/whitespace-only text — no shingles
    // under the NULL-text contract) get an EMPTY band-sig array, so
    // posexplode emits no rows for them: the batch twin never sees
    // these docs (its shingle explode emits zero rows), and a shared
    // "" bucket would be both a false near-dup class of missing
    // payloads and a quadratic C(m,2) state bomb. No filter needed —
    // the equality contract is in the generator itself.
    val banded = if (spark.catalog.functionExists("minhash_bandsigs")) {
      docs
        .withColumn("__toks", Text.tokens(col("text")))
        .select(col("doc_id"), col("ts"),
          posexplode(expr("minhash_bandsigs(__toks)")).as(Seq("band", "bsig")))
    } else {
      // no-extension fallback (the same contract as
      // MinHashSpec.signatures' composed branch): value-identical, but
      // it IS the r10 regression's interpreted-HOF shape — sessions
      // that care about the stream's throughput register GraftFunctions
      graft.functions.FallbackWarnings.warnOnce("minhash_bandsigs-fallback",
        "Streams.lshCandidatesStream: session has no `minhash_bandsigs` " +
          "— falling back to the interpreted higher-order-function " +
          "signature chain (the r10 regression's shape, ~1.8× the fused " +
          "kernel's per-row cost). Values are identical; to get the " +
          "fused kernel register the extension: SparkSession.builder" +
          ".withExtensions(graft.functions.GraftFunctions.register)."): Unit
      import graft.dedup.MinHashSpec
      val mh = (0 until MinHashSpec.K).map { i =>
        expr(s"""array_min(transform(__hashes,
             h -> (h * ${MinHashSpec.a(i)}L
                   + ${MinHashSpec.b(i)}L) % ${MinHashSpec.P}))""").as(s"mh_$i")
      }
      val bandSigs = (0 until MinHashSpec.BANDS).map { j =>
        val cs = (j * MinHashSpec.ROWS until (j + 1) * MinHashSpec.ROWS)
          .map(i => col(s"mh_$i"))
        concat_ws("_", cs: _*)
      }
      docs
        .withColumn("__toks", Text.tokens(col("text")))
        .withColumn("__shingles",
          expr(Text.shingleExpr("__toks", MinHashSpec.SHINGLE_K)))
        .withColumn("__hashes",
          expr(s"transform(__shingles, w -> ${MinHashSpec.hpExpr(spark, "w")})"))
        .select(col("doc_id") +: col("ts") +: mh: _*)
        // no-shingle docs have null minhashes; concat_ws would collapse
        // them into one "" bucket (false dup class + C(m,2) state bomb)
        .filter(col("mh_0").isNotNull)
        .select(col("doc_id"), col("ts"),
          posexplode(array(bandSigs: _*)).as(Seq("band", "bsig")))
    }
    banded
      .withWatermark("ts", s"$horizonMinutes minutes")
      .as[BandedDoc]
      .groupByKey(b => (b.band, b.bsig))
      .flatMapGroupsWithState[List[(Long, Long)], CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            // evict bucket members older than the horizon behind the
            // watermark — the state bound on an unbounded corpus
            val prev = state.getOption.getOrElse(Nil)
              .filter(_._2 >= wm - horizonMs)
            val arrived = rows.map(b => (b.doc_id, b.ts.getTime)).toList
              .sortBy(identity)
            val out = List.newBuilder[CandPair]
            var seen = prev
            arrived.foreach { case (id, t) =>
              seen.foreach { case (pid, _) =>
                if (pid != id)
                  out += CandPair(math.min(pid, id), math.max(pid, id))
              }
              seen ::= (id, t)
            }
            state.update(seen)
            state.setTimeoutTimestamp(
              seen.map(_._2).max + horizonMs)
            out.result().distinct.iterator
          }
      }
  }

  /** Exactly-once parquet sink for foreachBatch: each micro-batch lands
    * in its own `batch_id=N` partition directory with dynamic overwrite,
    * so a replayed batch (post-failure restart) overwrites its own
    * partition instead of appending duplicates. Pair with the streaming
    * checkpoint for end-to-end exactly-once on an at-least-once source.
    * The overwrite mode is a per-write option, so the session's own
    * `partitionOverwriteMode` is never touched.
    */
  def idempotentBatchWriter(basePath: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(basePath)
    }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class AsofOut(event_id: Long, user_id: Long, ms_since_click: Long)

  /** Streaming as-of enrichment — the streaming twin of
    * `Queries.asofJoin`: each purchase is annotated with the gap to the
    * same user's most recent click seen so far. Per-user state is ONE
    * long (the latest click ms) — O(1) per key regardless of history,
    * where a stream-stream join would buffer the click side within the
    * watermark horizon. Within a micro-batch events are processed in
    * (event-time, click-first) order, matching the batch twin's tie
    * rule. Late data degrades to UNDER-matching, never to wrong output:
    * a click arriving after a purchase was emitted is not retroactively
    * applied, and a late purchase older than the stored click emits
    * nothing (the state holds only the newest click, so an as-of match
    * for it is unknowable) — it never matches a FUTURE click. Backfill
    * with the batch twin when exactness over late data matters.
    */
  def asofEnrich(events: Dataset[Event]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "purchase" || e.event_type == "click")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.event_type == "click") 0 else 1))
          var lastClick = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[AsofOut]
          sorted.foreach { e =>
            val ms = e.ts.getTime
            if (e.event_type == "click") lastClick = math.max(lastClick, ms)
            else if (lastClick != Long.MinValue && lastClick <= ms)
              out += AsofOut(e.event_id, userId, ms - lastClick)
          }
          if (lastClick != Long.MinValue) state.update(lastClick)
          out.result().iterator
      }
  }
  case class SessionState(start: Long, end: Long, n: Int, sum: Double)
  case class SessionOut(user_id: Long, session_start: Long,
                        session_end: Long, n_events: Int, sum_value: Double)

  /** Exact epoch-µs of a Timestamp: `getTime` alone is ms-truncated;
    * the sub-second µs live in `getNanos`. Integer math throughout (the
    * SURVEY §8a integer-time rule).
    */
  def epochUs(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Per-user session windows via flatMapGroupsWithState: a session closes
    * after `gapMinutes` of event-time inactivity. Event-time timeout (vs
    * processing-time) makes the operator deterministic and replayable —
    * sessions close when the WATERMARK passes session_end + gap, so a
    * backfill produces byte-identical output to the live run. State per
    * user is O(1) — start/end/counters only.
    *
    * µs-EXACT, matching [[sessionizeBatch]] bit for bit: session bounds
    * are emitted as epoch-µs longs, events sort on full µs, and the gap
    * rule compares TRUNCATED ms (`us div 1000`) exactly like the batch
    * twin's `unix_micros(ts) div 1000` lag — a ms-rounded rule on µs
    * data would split sessions differently right at the gap boundary.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def ms(us: Long): Long = Math.floorDiv(us, 1000L)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start, s.end, s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(e => epochUs(e.ts))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = epochUs(e.ts)
              cur match {
                case Some(s) if ms(t) - ms(s.end) <= gapMs =>
                  cur = Some(s.copy(end = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.start, s.end, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes the inactivity horizon
              // (timeout timestamps are ms)
              state.setTimeoutTimestamp(ms(s.end) + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  case class Scd2State(curType: String, from: Long)
  case class Scd2Out(user_id: Long, event_type: String,
                     valid_from_us: Long, valid_to_us: Option[Long])

  /** Streaming SCD2 history build — the CDC → versioned-dimension
    * pattern: per key, consecutive identical attribute values merge
    * into one validity interval; a change CLOSES the open interval
    * (emitted immediately, append mode) and opens the next. State per
    * key is O(1): the open interval's attribute + start. The streaming
    * twin of `Etl.scd2`, and the warehouse shape where the history
    * table is maintained WHILE the change stream flows rather than
    * rebuilt per load.
    *
    * Exactness vs the batch twin: events sort on (µs, event_id) within
    * a batch — the batch tie rule — and the event-time-ordered,
    * ms-aligned replay preserves that order across batches. Open
    * intervals (is_current in batch terms) can only be emitted at
    * end-of-input: the event-time timeout sits a `horizonDays` horizon
    * past each key's last event, beyond the data's whole span, so only
    * the harness's flush sentinel (not an intra-replay watermark) can
    * fire it. NULL attribute values compare null-safely (Scala `==`),
    * matching the batch struct `<=>`.
    */
  def scd2Stream(events: Dataset[Event],
                 horizonDays: Int = 40): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonDays * 86400000L
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Scd2State]) =>
          def ms(us: Long): Long = Math.floorDiv(us, 1000L)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Scd2Out(userId, s.curType, s.from, None))
          } else {
            val sorted = rows.toSeq.sortBy(e => (epochUs(e.ts), e.event_id))
            var out = List.empty[Scd2Out]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = epochUs(e.ts)
              cur match {
                case Some(s) if s.curType == e.event_type => ()
                case Some(s) =>
                  out ::= Scd2Out(userId, s.curType, s.from, Some(t))
                  cur = Some(Scd2State(e.event_type, t))
                case None =>
                  cur = Some(Scd2State(e.event_type, t))
              }
            }
            (cur, sorted.lastOption) match {
              case (Some(s), Some(last)) =>
                state.update(s)
                state.setTimeoutTimestamp(ms(epochUs(last.ts)) + horizonMs)
              case _ => ()
            }
            out.reverseIterator
          }
      }
  }

  /** [[scd2Stream]] through [[runEventsAvailableNow]] — oracle-gated as
    * `stream_scd2` against the same DuckDB change-detection SQL as the
    * batch `etl_scd2_history` gate (minus is_current, which the open
    * interval's NULL valid_to already encodes). Flush horizon =
    * state horizon + slack, so every key's open interval flushes in the
    * closing no-data micro-batch and never before.
    */
  def scd2AvailableNow(spark: SparkSession, sfDir: String,
                       horizonDays: Int = 40): StreamRun = {
    import spark.implicits._
    // ONE horizon feeds both the state timeout and the flush sentinel:
    // maintained separately, a raised state horizon would strand every
    // open interval past a too-early sentinel
    val horizonMs = horizonDays * 86400000L
    runEventsAvailableNow(spark, sfDir, "append",
      flushHorizonMs = Some(horizonMs + 120000L)) { df =>
      scd2Stream(df.as[Event], horizonDays).toDF()
        .filter(col("user_id") =!= -1L)
    }
  }

  /** Batch-mode sessionization with identical semantics (gap-based
    * session windows) for verification: a session boundary is any gap
    * > `gapMinutes`; implemented with lag + running sum windows.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60L * 1000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // integer `div`, NOT double math: cast-to-double loses µs precision
    // for epochs beyond 2^51 (same bug class as Tables.scala's ns reader)
    events
      .withColumn("__prev_ms", lag(expr("unix_micros(ts) div 1000"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev_ms").isNull ||
          expr("unix_micros(ts) div 1000") - col("__prev_ms") > gapMs, 1)
          .otherwise(0))
      .withColumn("__session_id", sum(col("__new_session")).over(byUser))
      .groupBy(col("user_id"), col("__session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .drop("__session_id")
  }
}
