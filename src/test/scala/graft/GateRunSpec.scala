package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.config.{Checkpoints, ColumnSpec, TableConfig}
import graft.sources.Sources

/** What a gate's run returns, and the one checkpoint policy its cuts
  * go through.
  */
class GateRunSpec extends SparkSpec {
  private def tmpGraftEntries: Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String]).filter(_.startsWith("graft_")).toSet

  test("a trained gate returns its oracle with the frame and leaves no temp files") {
    val before = tmpGraftEntries
    val run = SparkEntry.gates("emb_kmeans").build(spark, sfDir)
    assert(run.frame.count() > 0)
    assert(run.oracle.exists(_.contains("SELECT")), run.oracle)
    assert(run.stream.isEmpty)
    val left = tmpGraftEntries -- before
    assert(left.isEmpty, s"left in java.io.tmpdir: $left")
  }

  test("graft.checkpoint=reliable: qa_report and a quarantining read give " +
    "the local-mode rows and write to the checkpoint dir") {
    val dir = tempDir("graft_q")
    Files.writeString(Paths.get(s"$dir/in.csv"),
      "id,v\n1,10\nnot_a_number,20\n3,30\n")
    val cfg = TableConfig(
      toTable = "t",
      vars = Seq(ColumnSpec("id", "BIGINT"), ColumnSpec("v", "BIGINT")),
      filePath = Map("overall" -> s"$dir/in.csv"),
      fieldTerm = Map("overall" -> ","))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    def report = rows(SparkEntry.gates("qa_report").build(spark, sfDir).frame)
    def quarantined = rows(Sources.loadDelimited(spark, cfg, quarantine = true))
    val (localReport, localQuarantined) = (report, quarantined)
    assert(localQuarantined.exists(_.contains("not_a_number,20")))

    val ckptDir = tempDir("graft_ckpt")
    def files: Long = Files.walk(Paths.get(ckptDir))
      .filter(p => Files.isRegularFile(p)).count()
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(Checkpoints.KEY, "reliable")
    try {
      assert(report == localReport)
      val afterReport = files
      assert(afterReport > 0, "qa_report wrote no reliable checkpoint")
      assert(quarantined == localQuarantined)
      assert(files > afterReport, "the quarantining read wrote no reliable checkpoint")
    } finally spark.conf.set(Checkpoints.KEY, "local")
  }
}
