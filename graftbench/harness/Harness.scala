package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed-loop client of graft: a fixed list of `SparkEntry.queries`
  * ops, walked in order once per pass, each op's frame written to its
  * sink. Setup (session, staging on first use, levelled warm-up) comes
  * first; then timed passes. Every call is timed from here, outside the
  * program: construct = the query call, execute = the sink write.
  *
  * Usage: Harness --plan <tsv> --data <dir> --work <dir> --seconds <s>
  *        --trace <0|1> --cpus <n> --warmup-s <s> --level-tol <share>
  *        --out <json>
  *
  * The plan holds one `op<TAB>layer<TAB>sink` line per op; sink is
  * `parquet` or `noop`. Ops named `selftest.*` are synthetic ops the
  * harness tests use. Raw samples go to the `--out` JSON; run.py
  * derives every metric from them.
  */
object Harness {
  final case class Op(name: String, layer: String, sink: String)

  /** Spark and streaming counters of one span, filled by the listeners
    * under the [[Recorder]]'s lock.
    */
  final class Counters {
    var jobs, stages, stagesSkipped, tasks, tasksFailed = 0L
    var executorRunMs, schedDelayMs = 0L
    var inputBytes, shuffleWriteBytes, shuffleReadBytes = 0L
    var spillBytes, outputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var batches, dataBatches = 0L
    var planningMs, addBatchMs, walMs, stateCommitMs = 0L
    var stateRows, stateBytes = 0L
    val triggerMs = mutable.ArrayBuffer.empty[Long]
  }

  val SpanProp = "graftbench.span"
  private val JobGroupProp = "spark.jobGroup.id"

  /** Attributes each job, stage and task to the span named by its job
    * group. The streaming engine replaces the job group of the jobs it
    * runs with its own run id, so those fall back to the inherited
    * `graftbench.span` local property, set next to the job group.
    */
  final class Recorder extends SparkListener {
    private val bySpan = mutable.HashMap.empty[String, Counters]
    private val stageSpan = mutable.HashMap.empty[Int, String]
    // job id -> (span, start ms, stage ids, stage ids submitted so far)
    private val live = mutable.HashMap.empty[Int,
      (String, Long, Seq[Int], mutable.Set[Int])]
    private var unattributedJobs = 0L

    def counters(span: String): Counters = synchronized {
      bySpan.getOrElseUpdate(span, new Counters)
    }
    def unattributed: Long = synchronized(unattributedJobs)

    private def spanOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap { props =>
        Option(props.getProperty(JobGroupProp)).filter(_.startsWith("gb"))
          .orElse(Option(props.getProperty(SpanProp)))
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties) match {
        case Some(span) =>
          val c = counters(span)
          c.jobs += 1
          c.stages += e.stageIds.size
          e.stageIds.foreach(stageSpan(_) = span)
          live(e.jobId) = (span, e.time, e.stageIds, mutable.Set.empty[Int])
        case None => unattributedJobs += 1
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        live.values.foreach { case (_, _, ids, ran) =>
          if (ids.contains(e.stageInfo.stageId)) ran += e.stageInfo.stageId
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      live.remove(e.jobId).foreach { case (span, start, ids, ran) =>
        val c = counters(span)
        c.jobIntervals += ((start, e.time))
        c.stagesSkipped += ids.count(id => !ran.contains(id))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = counters(span)
        c.tasks += 1
        if (e.reason != Success) c.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          c.executorRunMs += m.executorRunTime
          c.schedDelayMs += math.max(0L, e.taskInfo.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime)
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Per-micro-batch progress of the streams an op runs. Progress
    * events carry no job properties, so they go to the span the harness
    * marks as current; the bus is drained before the mark moves.
    */
  final class StreamRecorder(rec: Recorder) extends StreamingQueryListener {
    @volatile var current: String = "gb-none"
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      rec.synchronized {
        val c = rec.counters(current)
        c.batches += 1
        if (p.numInputRows > 0) c.dataBatches += 1
        c.triggerMs += ms("triggerExecution")
        c.planningMs += ms("queryPlanning")
        c.addBatchMs += ms("addBatch")
        c.walMs += ms("walCommit") + ms("commitOffsets")
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        // state held after the op's last batch
        c.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        c.stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
  }

  /** Synthetic ops for the harness tests: a known job count, a known
    * failure.
    */
  private def selftestOp(s: SparkSession, name: String): DataFrame =
    name match {
      case "selftest.two_jobs" =>
        s.sparkContext.parallelize(1 to 1000, 2).count()
        s.sparkContext.parallelize(1 to 1000, 3).count()
        s.range(0, 10, 1, 1).toDF()
      case "selftest.no_jobs" => s.range(0, 10, 1, 1).toDF()
      case "selftest.fail" => throw new IllegalStateException("planted")
    }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def countersJson(c: Counters): String = {
    val iv = c.jobIntervals.map { case (a, b) => s"[$a,$b]" }
      .mkString("[", ",", "]")
    Seq("jobs" -> c.jobs, "stages" -> c.stages,
      "stages_skipped" -> c.stagesSkipped, "tasks" -> c.tasks,
      "tasks_failed" -> c.tasksFailed, "executor_run_ms" -> c.executorRunMs,
      "sched_delay_ms" -> c.schedDelayMs, "input_bytes" -> c.inputBytes,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "shuffle_read_bytes" -> c.shuffleReadBytes,
      "spill_bytes" -> c.spillBytes, "output_bytes" -> c.outputBytes,
      "batches" -> c.batches, "data_batches" -> c.dataBatches,
      "planning_ms" -> c.planningMs, "add_batch_ms" -> c.addBatchMs,
      "wal_ms" -> c.walMs, "state_commit_ms" -> c.stateCommitMs,
      "state_rows" -> c.stateRows, "state_bytes" -> c.stateBytes)
      .map { case (k, v) => s"${q(k)}:$v" }
      .mkString("{", ",", s""","job_intervals_ms":$iv,"trigger_ms":""" +
        c.triggerMs.mkString("[", ",", "]") + "}")
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val plan = Files.readAllLines(Paths.get(a("plan"))).asScala.toSeq
      .filter(_.trim.nonEmpty).map(_.split("\t")).map {
        case Array(n, l, s) => Op(n, l, s)
      }
    val data = new File(a("data")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val levelTol = a("level-tol").toDouble
    val warmupS = a("warmup-s").toDouble

    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftFunctions.register)
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    val rec = new Recorder
    val streamRec = new StreamRecorder(rec)
    var traced = false
    def startTracing(): Unit = if (!traced) {
      sc.addSparkListener(rec)
      spark.streams.addListener(streamRec)
      traced = true
    }

    // spans: (id, parent, name, layer, start ns, end ns)
    val spans = mutable.ArrayBuffer.empty[(String, String, String, String,
      Long, Long)]
    var nextSpan = 0
    def newSpan(): String = { nextSpan += 1; s"gb$nextSpan" }
    def attribute(span: String): Unit = {
      sc.setJobGroup(span, span)
      sc.setLocalProperty(SpanProp, span)
      streamRec.current = span
    }

    // between ops, outside the timed window: no cached or checkpointed
    // blocks carry over, and a GC lets the ContextCleaner run
    def dropResidentBlocks(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    val runSpan = newSpan()
    val runStart = System.nanoTime()
    val opRows = mutable.ArrayBuffer.empty[String]
    val passRows = mutable.ArrayBuffer.empty[String]
    val checkFailed = mutable.ArrayBuffer.empty[String]
    var passNo = 0

    /** One walk through the plan; returns the sum of op wall times. */
    def pass(phase: String, check: Boolean): Double = {
      val passSpan = newSpan()
      val p0 = System.nanoTime()
      var opWall = 0.0
      plan.foreach { op =>
        dropResidentBlocks()
        val opSpan = newSpan()
        val cSpan = newSpan()
        val eSpan = newSpan()
        val out = s"$work/${if (check) "check" else "sink"}/${op.name}"
        val gc0 = gcMs()
        attribute(cSpan)
        val t0 = System.nanoTime()
        var t1 = t0
        val err = try {
          val df =
            if (op.name.startsWith("selftest.")) selftestOp(spark, op.name)
            else graft.SparkEntry.queries(op.name)(spark, data)
          t1 = System.nanoTime()
          attribute(eSpan)
          if (check || op.sink == "parquet")
            df.write.mode("overwrite").parquet(out)
          else df.write.format("noop").mode("overwrite").save()
          ""
        } catch {
          case e: Throwable =>
            if (t1 == t0) t1 = System.nanoTime()
            s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        val t2 = System.nanoTime()
        sc.clearJobGroup()
        sc.setLocalProperty(SpanProp, null)
        val gc1 = gcMs()
        if (check && err.nonEmpty) checkFailed += op.name
        if (!check) rmTree(new File(out))
        if (traced) BusDrain.drain(sc)
        spans += ((opSpan, passSpan, op.name, op.layer, t0, t2))
        spans += ((cSpan, opSpan, "construct", op.layer, t0, t1))
        spans += ((eSpan, opSpan, "execute", op.layer, t1, t2))
        val wall = (t2 - t0) / 1e9
        opWall += wall
        val counters =
          if (traced) rec.synchronized(Seq(cSpan, eSpan)
            .map(s => s"${q(s)}:${countersJson(rec.counters(s))}")
            .mkString("{", ",", "}"))
          else "{}"
        opRows += s"""{"phase":${q(phase)},"pass":$passNo,""" +
          s""""op":${q(op.name)},"layer":${q(op.layer)},""" +
          s""""span":${q(opSpan)},"construct_span":${q(cSpan)},""" +
          s""""execute_span":${q(eSpan)},"traced":$traced,""" +
          s""""wall_s":$wall,"construct_s":${(t1 - t0) / 1e9},""" +
          s""""execute_s":${(t2 - t1) / 1e9},"gc_s":${(gc1 - gc0) / 1e3},""" +
          s""""error":${q(err)},"counters":$counters}"""
      }
      val p1 = System.nanoTime()
      spans += ((passSpan, runSpan, s"$phase-$passNo", "pass", p0, p1))
      passRows += s"""{"phase":${q(phase)},"pass":$passNo,""" +
        s""""span":${q(passSpan)},"traced":$traced,"op_wall_s":$opWall,""" +
        s""""wall_s":${(p1 - p0) / 1e9}}"""
      passNo += 1
      opWall
    }

    // Setup: the first pass writes every op's output for the oracle
    // check and pays first-use staging (stream replay chunks, index
    // dirs, all under the fresh work dir); then whole passes until two
    // in a row agree within levelTol or the warm passes have spent
    // warmupS seconds.
    val warm = mutable.ArrayBuffer(pass("warmup", check = true))
    var levelled = false
    while (!levelled && warm.drop(1).sum < warmupS) {
      warm += pass("warmup", check = false)
      val prev = warm(warm.size - 2)
      levelled =
        warm.size >= 3 && math.abs(warm.last - prev) <= levelTol * prev
    }
    val setupEndMs = System.currentTimeMillis()

    // Timed passes: whole passes until `seconds` of op wall time is
    // spent, at least two (none when `seconds` is 0). A traced run
    // spends half the time untraced (at least one pass) and half traced
    // (at least two), so it also gives the tracing overhead.
    def timed(budget: Double, minPasses: Int): Unit = {
      var spent = 0.0
      var n = 0
      while (n < minPasses || spent < budget) {
        spent += pass("timed", check = false); n += 1
      }
    }
    if (trace) {
      timed(seconds / 2, 1)
      startTracing()
      timed(seconds / 2, 2)
    } else if (seconds > 0) timed(seconds, 2)

    // resident state after the last pass, after the same hygiene as
    // between ops
    dropResidentBlocks()
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val storage = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val runEnd = System.nanoTime()
    spans += ((runSpan, "", "run", "run", runStart, runEnd))
    if (traced) BusDrain.drain(sc)

    val spanJson = spans.map { case (id, parent, name, layer, s0, s1) =>
      s"""{"id":${q(id)},"parent":${q(parent)},"name":${q(name)},""" +
        s""""layer":${q(layer)},"start_ns":${s0 - runStart},""" +
        s""""end_ns":${s1 - runStart}}"""
    }
    val json = Seq(
      s""""jvm_start_ms":${ManagementFactory.getRuntimeMXBean.getStartTime}""",
      s""""setup_end_ms":$setupEndMs""",
      s""""cpus":$cpus""",
      s""""warmup":{"rule":${q(s"after a first (cold) pass, whole passes" +
        s" until two consecutive ones differ by at most" +
        s" ${(levelTol * 100).round}% or the passes after the first have" +
        s" spent $warmupS s")},""" +
        s""""pass_s":${warm.mkString("[", ",", "]")},""" +
        s""""levelled":$levelled}""",
      s""""resident_bytes":{"heap":$heap,"storage":$storage}""",
      s""""unattributed_jobs":${rec.unattributed}""",
      s""""check_failed":${checkFailed.map(q).mkString("[", ",", "]")}""",
      s""""oracle":${plan.flatMap(op => graft.SparkEntry.oracleSql.get(op.name)
        .map(sql => s"${q(op.name)}:${q(sql)}")).mkString("{", ",", "}")}""",
      s""""passes":${passRows.mkString("[", ",", "]")}""",
      s""""ops":${opRows.mkString("[", ",", "]")}""",
      s""""spans":${spanJson.mkString("[", ",", "]")}""")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }
}
