package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's frame → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. A gate's oracle is
  * the one its run returned (a trained gate's) or else its registered
  * one; a gate that yields neither fails the run.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session("graft-verify", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for iterating on single gates
    // locally (SPARK_GRAFT_ONLY=a,b). The driver sets nothing → full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var failures = List.empty[String]
    // a gate that does not run keeps its registered oracle, if any
    var oracles = SparkEntry.gates.flatMap { case (k, g) => g.oracle.map(k -> _) }
    SparkEntry.gates
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, gate) =>
      // Remove any previous output for the query BEFORE running it: a
      // query that fails this run must not leave a stale parquet dir
      // behind for the oracle check to compare as if it were fresh.
      Scratch.delete(new java.io.File(s"$outDir/$name"))
      try {
        val run = gate.build(spark, sfDir)
        val sql = (run.oracle orElse gate.oracle)
          .getOrElse(sys.error("the run returned no oracle"))
        run.frame.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        oracles += name -> sql
      } catch { case e: Throwable =>
        failures ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators cache intermediates (LSH signatures, candidate pairs)
      // for their own plan; drop them between queries so a 100+-query run
      // doesn't accumulate dead cached blocks
      Tables.release(spark)
    }
    // Failure marker: check.py (and any human) can see at a glance which
    // queries produced no output this run.
    Files.writeString(Paths.get(s"$outDir/FAILED.txt"),
      failures.reverse.mkString("\n"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
