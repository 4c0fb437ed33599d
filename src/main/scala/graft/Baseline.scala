package graft

import java.nio.file.{Files, Paths}

/** The checked-in TSV baseline shared by the audit mains ([[PlanAudit]],
  * [[ShuffleAudit]], [[StreamAudit]]). A baseline holds one line per
  * measured row, `name<TAB>field<TAB>...`. With `--record` the audit
  * rewrites it from the rows it just measured; otherwise every row is
  * classified against it:
  *   - NEW: measured but not baselined — reported, re-record to pin;
  *   - REGRESSED: the audit's own rule says worse — fails;
  *   - improved / changed: moved the other way — re-record to pin;
  *   - MISSING: baselined but no longer measured — fails, since nothing
  *     else would notice a query that dropped out of the sweep.
  * The check's exit status is 1 when any row fails. An audit supplies
  * only its row measurement, its row format and its regression rule.
  */
object Baseline {
  sealed trait Verdict
  case object Same extends Verdict
  final case class Regressed(detail: String) extends Verdict
  final case class Improved(detail: String) extends Verdict
  final case class Changed(detail: String) extends Verdict

  /** @param tag    log prefix, e.g. `plan-audit`
    * @param noun   what a row is, for the summary line (`queries`, `gates`)
    * @param name   a row's key, the first TSV column
    * @param fields the row's other TSV columns, exactly as recorded
    * @param show   the row's numbers, for a NEW line
    * @param judge  the regression rule: a row against its baselined fields
    */
  final case class Audit[R](tag: String, path: String, noun: String,
      name: R => String, fields: R => Seq[String], show: R => String,
      judge: (R, IndexedSeq[String]) => Verdict)

  def render[R](a: Audit[R], rows: Seq[R]): String =
    rows.map(r => (a.name(r) +: a.fields(r)).mkString("\t"))
      .mkString("", "\n", "\n")

  def read(path: String): Map[String, IndexedSeq[String]] =
    Files.readAllLines(Paths.get(path)).toArray(Array.empty[String])
      .filter(_.nonEmpty).map(_.split("\t").toIndexedSeq)
      .map(c => c.head -> c.tail).toMap

  /** The report lines for `rows` against `baseline`, and how many fail. */
  def classify[R](a: Audit[R], rows: Seq[R],
      baseline: Map[String, IndexedSeq[String]]): (Seq[String], Int) = {
    val judged: Seq[(String, Boolean)] = rows.flatMap { r =>
      val n = a.name(r)
      baseline.get(n) match {
        case None => Some(s"NEW $n ${a.show(r)}" +
          " (not in baseline — rerun with --record)" -> false)
        case Some(b) => a.judge(r, b) match {
          case Same => None
          case Regressed(d) => Some(s"REGRESSED $n $d" -> true)
          case Improved(d) =>
            Some(s"improved $n $d — re-record to pin" -> false)
          case Changed(d) => Some(s"changed $n $d — re-record to pin" -> false)
        }
      }
    }
    val measured = rows.map(a.name).toSet
    val missing = baseline.keys.filterNot(measured).toSeq.sorted
      .map(n => s"MISSING $n — in ${a.path} but no longer runs" -> true)
    val all = judged ++ missing
    (all.map { case (l, _) => s"[${a.tag}] $l" }, all.count(_._2))
  }

  /** Records `rows` as the baseline, or checks them against it and
    * prints the report. Returns the exit status.
    */
  def run[R](a: Audit[R], record: Boolean, rows: Seq[R]): Int =
    if (record) {
      Files.writeString(Paths.get(a.path), render(a, rows))
      println(s"[${a.tag}] recorded ${rows.size} ${a.noun} to ${a.path}")
      0
    } else {
      val (lines, failed) = classify(a, rows, read(a.path))
      lines.foreach(println)
      println(s"[${a.tag}] ${rows.size} ${a.noun}, $failed regressed")
      if (failed > 0) 1 else 0
    }
}
