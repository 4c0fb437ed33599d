package graft

/** Streaming-gate structure regression gate: runs every `stream_*` query
  * and compares the replay's STRUCTURAL stats — micro-batches that
  * carried data, stateful operators in the streaming plan — against the
  * checked-in baseline `stream_baseline.tsv`. The value-level oracle
  * gate cannot catch a harness change that collapses the staged replay
  * into one degenerate micro-batch (the output rows are identical; only
  * the incremental state exercise is lost) — this audit fails loudly on
  * exactly that: fewer data batches than recorded, or a streaming plan
  * that lost a stateful operator, or a baselined gate that no longer
  * runs at all.
  *
  * Usage (mirrors [[PlanAudit]]):
  *   runMain graft.StreamAudit            — audit against the baseline
  *   runMain graft.StreamAudit --record   — (re)write the baseline
  */
object StreamAudit {
  val baselinePath = "stream_baseline.tsv"

  /** Data micro-batches and stateful operators are floors: fewer fails.
    * statefulOps=0 is an EXACT pin, not a floor: a stateless gate exists
    * to prove the map-only class, and gaining a stateful op loses that
    * invariant as surely as losing one elsewhere.
    */
  val audit = Baseline.Audit[(String, graft.streaming.Streams.RunStats)](
    tag = "stream-audit", path = baselinePath, noun = "gates",
    name = _._1,
    fields = { case (_, s) =>
      Seq(s.dataBatches.toString, s.statefulOps.toString) },
    show = { case (_, s) =>
      s"dataBatches=${s.dataBatches} statefulOps=${s.statefulOps}" },
    judge = { case ((_, s), b) =>
      val (db, so) = (b(0).toInt, b(1).toInt)
      if (s.dataBatches < db || s.statefulOps < so)
        Baseline.Regressed(s"dataBatches=${s.dataBatches} (was $db) " +
          s"statefulOps=${s.statefulOps} (was $so) — the replay no longer" +
          " exercises the recorded incremental structure")
      else if (so == 0 && s.statefulOps > 0)
        Baseline.Regressed(s"statefulOps=${s.statefulOps} (was 0) — the" +
          " gate is pinned STATELESS")
      else if (s.dataBatches > db || s.statefulOps > so)
        Baseline.Changed(s"dataBatches=${s.dataBatches} (was $db) " +
          s"statefulOps=${s.statefulOps} (was $so)")
      else Baseline.Same
    })

  def main(args: Array[String]): Unit = {
    val record = args.contains("--record")
    val sfDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session("graft-stream-audit", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val streams = SparkEntry.gates.values.toSeq
      .filter(_.key.startsWith("stream_"))
    val stats = streams.map { g =>
      // building the frame drives the full AvailableNow run; the noop
      // write then materializes the sink read (symmetry with Bench)
      val run = g.build(spark, sfDir)
      run.frame.write.format("noop").mode("overwrite").save()
      val s = run.stream.getOrElse(
        sys.error(s"${g.key} returned no RunStats — did it bypass the runner?"))
      Tables.release(spark)
      (g.key, s)
    }
    val status = Baseline.run(audit, record, stats)
    spark.stop()
    if (status != 0) sys.exit(status)
  }
}
