package graft

/** Plan-shape regression gate: runs every batch query and compares the
  * FINALIZED adaptive plan's structural node counts (parquet scans,
  * exchanges) against the checked-in baseline `plan_baseline.tsv`.
  * A query whose scan or shuffle count grows past its recorded shape
  * fails the audit — the plan-level analogue of the value-level oracle
  * gate, and the guard for every "this operator is one scan / one
  * shuffle" claim in SURVEY.
  *
  * Usage:
  *   runMain graft.PlanAudit            — audit against the baseline
  *   runMain graft.PlanAudit --record   — (re)write the baseline
  *
  * stream_* queries are excluded: their work happens inside the
  * streaming runtime, and the returned frame is just the sink read.
  * Exchange counts include broadcast exchanges (a broadcast is cheap
  * but still a structural plan feature worth pinning).
  */
object PlanAudit {
  val baselinePath = "plan_baseline.tsv"

  /** Scan and exchange counts plus pushed-filter presence; a row fails
    * when either count grows or pushed filters disappear.
    */
  val audit = Baseline.Audit[(String, Int, Int, Boolean)](
    tag = "plan-audit", path = baselinePath, noun = "queries",
    name = _._1,
    fields = { case (_, s, e, p) => Seq(s.toString, e.toString, p.toString) },
    show = { case (_, s, e, _) => s"scans=$s exchanges=$e" },
    judge = { case ((_, s, e, p), b) =>
      val (bs, be, bp) = (b(0).toInt, b(1).toInt, b(2).toBoolean)
      if (s > bs || e > be || (bp && !p))
        Baseline.Regressed(s"scans=$s (was $bs) exchanges=$e (was $be) " +
          s"pushedFilters=$p (was $bp)")
      else if (s < bs || e < be)
        Baseline.Improved(s"scans=$s (was $bs) exchanges=$e (was $be)")
      else Baseline.Same
    })

  def main(args: Array[String]): Unit = {
    val record = args.contains("--record")
    val sfDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session("graft-plan-audit", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val batch = SparkEntry.gates.values.toSeq
      .filterNot(_.key.startsWith("stream_"))
    val shapes = batch.map { g =>
      val n = g.key
      val df = g.build(spark, sfDir).frame
      // execute THIS QueryExecution so the counted plan is the
      // finalized adaptive plan; count in the Final Plan section only
      df.queryExecution.toRdd.count(): Unit
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).length
      val exchanges = "Exchange".r.findAllIn(plan).length -
        "ReusedExchange".r.findAllIn(plan).length
      // non-empty PushedFilters on any scan: a pushdown regression
      // (filter evaluated after a full read) is a classic scale killer
      val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
      Tables.release(spark)
      (n, scans, exchanges, pushed)
    }
    val status = Baseline.run(audit, record, shapes)
    spark.stop()
    if (status != 0) sys.exit(status)
  }
}
