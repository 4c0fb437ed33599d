package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The audits' shared baseline check, without Spark: classification,
  * exit status, and byte-identical round trips of the checked-in files.
  */
class BaselineSpec extends AnyFunSuite {
  /** A toy audit: one count per row, growth regresses, shrinkage improves. */
  private def toy(path: String) = Baseline.Audit[(String, Int)](
    tag = "toy", path = path, noun = "rows", name = _._1,
    fields = r => Seq(r._2.toString), show = r => s"n=${r._2}",
    judge = { case ((_, n), b) =>
      if (n > b(0).toInt) Baseline.Regressed(s"n=$n (was ${b(0)})")
      else if (n < b(0).toInt) Baseline.Improved(s"n=$n (was ${b(0)})")
      else Baseline.Same })

  test("classify: NEW and improved pass, REGRESSED and MISSING fail") {
    val a = toy("toy.tsv")
    val base = Map("same" -> IndexedSeq("3"), "grew" -> IndexedSeq("3"),
      "shrank" -> IndexedSeq("3"), "gone" -> IndexedSeq("1"))
    val (lines, failed) = Baseline.classify(a,
      Seq("same" -> 3, "grew" -> 4, "shrank" -> 2, "fresh" -> 9), base)
    assert(lines == Seq(
      "[toy] REGRESSED grew n=4 (was 3)",
      "[toy] improved shrank n=2 (was 3) — re-record to pin",
      "[toy] NEW fresh n=9 (not in baseline — rerun with --record)",
      "[toy] MISSING gone — in toy.tsv but no longer runs"))
    assert(failed == 2)
    assert(Baseline.classify(a, Seq("same" -> 3, "fresh" -> 9), Map(
      "same" -> IndexedSeq("3")))._2 == 0)
  }

  test("run: --record writes what the check reads back; exit status") {
    Scratch.withDir("graft_baseline") { dir =>
      val a = toy(Paths.get(dir, "toy.tsv").toString)
      assert(Baseline.run(a, record = true, Seq("a" -> 1, "b" -> 2)) == 0)
      assert(Files.readString(Paths.get(a.path)) == "a\t1\nb\t2\n")
      assert(Baseline.run(a, record = false, Seq("a" -> 1, "b" -> 2)) == 0)
      assert(Baseline.run(a, record = false, Seq("a" -> 1, "b" -> 3)) == 1)
      assert(Baseline.run(a, record = false, Seq("a" -> 1)) == 1)
    }
  }

  test("the checked-in baselines parse and re-render byte-identically") {
    def roundTrip[R](a: Baseline.Audit[R],
        toRow: (String, IndexedSeq[String]) => R): Unit = {
      val text = Files.readString(Paths.get(a.path))
      val rows = text.split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t"))
        .map(c => toRow(c.head, c.toIndexedSeq.tail))
      assert(Baseline.render(a, rows) == text, a.path)
      assert(Baseline.classify(a, rows, Baseline.read(a.path)) == (Nil, 0))
    }
    roundTrip(PlanAudit.audit, (n, b) =>
      (n, b(0).toInt, b(1).toInt, b(2).toBoolean))
    roundTrip(ShuffleAudit.audit("shuffle_baseline_sf0.1.tsv"), (n, b) =>
      ShuffleAudit.Row(n, b(0).toDouble, b(1).toLong, b(2).toDouble,
        b(3).toLong, b(4).toLong, jobs = 0L))
    roundTrip(StreamAudit.audit, (n, b) =>
      n -> graft.streaming.Streams.RunStats(0, b(0).toInt, b(1).toInt, 0L))
  }
}
