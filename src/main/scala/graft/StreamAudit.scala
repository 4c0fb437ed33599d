package graft

import java.nio.file.{Files, Paths}

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

  def main(args: Array[String]): Unit = {
    val record = args.contains("--record")
    val sfDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session("graft-stream-audit", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.filter(_.startsWith("stream_"))
      .toSeq.sorted
    val stats = names.map { n =>
      graft.streaming.Streams.lastRunStats = None
      // building the frame drives the full AvailableNow run; the noop
      // write then materializes the sink read (symmetry with Bench)
      SparkEntry.queries(n)(spark, sfDir).write
        .format("noop").mode("overwrite").save()
      val s = graft.streaming.Streams.lastRunStats.getOrElse(
        sys.error(s"$n left no RunStats — did it bypass the harness?"))
      spark.catalog.clearCache()
      (n, s)
    }
    if (record) {
      val out = stats.map { case (n, s) =>
        s"$n\t${s.dataBatches}\t${s.statefulOps}" }
        .mkString("", "\n", "\n")
      Files.writeString(Paths.get(baselinePath), out)
      println(s"[stream-audit] recorded ${stats.size} gates to $baselinePath")
    } else {
      val baseline = Files.readAllLines(Paths.get(baselinePath))
        .toArray(Array.empty[String]).filter(_.nonEmpty)
        .map(_.split("\t"))
        .map(a => a(0) -> ((a(1).toInt, a(2).toInt)))
        .toMap
      var failed = 0
      stats.foreach { case (n, s) =>
        baseline.get(n) match {
          case None => println(s"[stream-audit] NEW $n dataBatches=" +
            s"${s.dataBatches} statefulOps=${s.statefulOps}" +
            " (not in baseline — rerun with --record)")
          case Some((db, so)) if s.dataBatches < db || s.statefulOps < so =>
            failed += 1
            println(s"[stream-audit] REGRESSED $n dataBatches=" +
              s"${s.dataBatches} (was $db) statefulOps=${s.statefulOps}" +
              s" (was $so) — the replay no longer exercises the" +
              " recorded incremental structure")
          // statefulOps=0 is an EXACT pin, not a floor: a stateless gate
          // exists to prove the map-only class, and gaining a stateful
          // op loses that invariant as surely as losing one elsewhere
          case Some((_, 0)) if s.statefulOps > 0 =>
            failed += 1
            println(s"[stream-audit] REGRESSED $n statefulOps=" +
              s"${s.statefulOps} (was 0) — the gate is pinned STATELESS")
          case Some((db, so)) if s.dataBatches > db || s.statefulOps > so =>
            println(s"[stream-audit] changed $n dataBatches=${s.dataBatches}" +
              s" (was $db) statefulOps=${s.statefulOps} (was $so)" +
              " — re-record to pin")
          case _ => ()
        }
      }
      // a baselined gate that dropped out of SparkEntry.queries would
      // otherwise pass silently: nothing above iterates it
      baseline.keys.filterNot(names.contains).toSeq.sorted.foreach { n =>
        failed += 1
        println(s"[stream-audit] MISSING $n — in $baselinePath but no" +
          " longer runs")
      }
      println(s"[stream-audit] ${stats.size} gates, $failed regressed")
      if (failed > 0) sys.exit(1)
    }
    spark.stop()
  }
}
