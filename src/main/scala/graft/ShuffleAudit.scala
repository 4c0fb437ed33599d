package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Shuffle-VOLUME regression gate: the bytes-level companion to
  * [[PlanAudit]]. PlanAudit pins plan STRUCTURE (scan/exchange counts);
  * this audit pins the currency that actually bounds a 100 TB run —
  * shuffle bytes written and input bytes read per query — via a
  * `SparkListener` summing stage-level task metrics. A query whose
  * shuffle volume grows past its recorded baseline (+25% and +8 MB of
  * headroom for compression/AQE jitter) fails the audit: an exchange
  * COUNT can stay flat while a projection regression silently widens
  * every shuffled row, and only a bytes gate catches that class.
  *
  * Usage:
  *   runMain graft.ShuffleAudit [sfDir]            — audit vs baseline
  *   runMain graft.ShuffleAudit --record [sfDir]   — (re)write baseline
  *
  * Scope notes:
  *  - stream_* gates ARE included: their micro-batch stages run in this
  *    JVM and the listener sums them like any other — the recorded
  *    number is the state-exchange volume of the whole replay.
  *  - Staged inputs (streaming chunk dirs, zst shards, the prestaged
  *    dedup index, the partitioned events copy) live for one JVM under
  *    [[Scratch]]: the FIRST query that needs one builds it, and that
  *    build is attributed to that query in every run, because nothing
  *    staged by an earlier process is ever reused. A full sorted sweep
  *    stages deterministically, so record/check are comparable; a
  *    partial sweep (explicit query args would go here if added) is
  *    not, and the tool only runs full sweeps for exactly that reason.
  *  - Baselines are per-SF files (`shuffle_baseline_<sf>.tsv`); the
  *    committed artifact is sf0.1, the bench SF.
  *  - Input metrics count BOTH file scans and BlockManager reads of
  *    cached/localCheckpointed frames (Spark credits block reads to
  *    inputMetrics) — e.g. dedup_containment's ~1.3 M input rows over a
  *    5 k-doc table is the exploded shingle checkpoint consumed by its
  *    joins, not file re-scans. Input BYTES for vectorized parquet are
  *    additionally under-reported on local fs. Input columns are
  *    therefore informational; only shuffle bytes gate.
  */
object ShuffleAudit {

  /** Sums stage-completed task metrics and counts started jobs;
    * snapshot/delta per query. Jobs are printed per query, not gated:
    * at interactive scale a query's cost is mostly its job count.
    */
  final class MetricsListener extends SparkListener {
    val shuffleBytes = new AtomicLong
    val shuffleRows = new AtomicLong
    val inputBytes = new AtomicLong
    val inputRows = new AtomicLong
    val stages = new AtomicLong
    val jobs = new AtomicLong
    override def onJobStart(ev: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val m = ev.stageInfo.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRows.addAndGet(m.inputMetrics.recordsRead)
        stages.incrementAndGet()
      }: Unit
    }
    def snapshot: Vector[Long] = Vector(shuffleBytes.get, shuffleRows.get,
      inputBytes.get, inputRows.get, stages.get, jobs.get)
  }

  /** Listener delivery is async; poll until the stage and job counts
    * have been stable for two consecutive 100 ms windows (max 5 s). The
    * audit measures bytes, not time, so a fixed settle wait costs
    * accuracy nothing.
    */
  def settle(l: MetricsListener): Unit = {
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 50) {
      Thread.sleep(100)
      waited += 1
      val cur = l.stages.get + l.jobs.get
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
  }

  case class Row(name: String, shuffleMb: Double, shuffleRows: Long,
                 inputMb: Double, inputRows: Long, stages: Long, jobs: Long)

  /** A row fails when its shuffle bytes grow past the baseline by more
    * than 25% + 8 MB; the other columns are informational.
    */
  def audit(baselinePath: String): Baseline.Audit[Row] = Baseline.Audit[Row](
    tag = "shuffle-audit", path = baselinePath, noun = "queries",
    name = _.name,
    fields = r => Seq(f"${r.shuffleMb}%.3f", r.shuffleRows.toString,
      f"${r.inputMb}%.3f", r.inputRows.toString, r.stages.toString),
    show = r => f"shuffle ${r.shuffleMb}%.2f MB",
    judge = { (r, b) =>
      val mb = b(0).toDouble
      if (r.shuffleMb > mb * 1.25 + 8.0)
        Baseline.Regressed(f"${r.shuffleMb}%.2f MB shuffled (baseline $mb%.2f)")
      else if (mb > r.shuffleMb * 1.25 + 8.0)
        Baseline.Improved(f"${r.shuffleMb}%.2f MB (was $mb%.2f)")
      else Baseline.Same
    })

  def main(args: Array[String]): Unit = {
    val record = args.contains("--record")
    val sfDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.1")
    val sfTag = sfDir.split('/').last
    val baselinePath = s"shuffle_baseline_$sfTag.tsv"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.session("graft-shuffle-audit", cores = cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    val rows = SparkEntry.gates.values.toSeq.map { g =>
      val n = g.key
      settle(listener)
      val before = listener.snapshot
      g.build(spark, sfDir).frame.write
        .format("noop").mode("overwrite").save()
      settle(listener)
      val d = listener.snapshot.zip(before).map { case (a, b) => a - b }
      Tables.release(spark)
      val r = Row(n, d(0) / 1e6, d(1), d(2) / 1e6, d(3), d(4), d(5))
      println(f"[shuffle-audit] ${r.name}%-36s shuffle ${r.shuffleMb}%9.2f MB" +
        f" (${r.shuffleRows}%9d rows)  input ${r.inputMb}%9.2f MB  " +
        f"stages ${r.stages}%3d  jobs ${r.jobs}%3d")
      r
    }
    val status = Baseline.run(audit(baselinePath), record, rows)
    spark.stop()
    if (status != 0) sys.exit(status)
  }
}
