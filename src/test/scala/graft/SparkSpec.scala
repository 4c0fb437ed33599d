package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs: [[Tables.session]] at a small core
  * count (deterministic UTC, nanos-tolerant parquet reads).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Tables.session("graft-test", cores = 4)

  val sfDir = "/root/testdata/sf0.001"

  // Spec scratch dirs, registered for afterAll cleanup: raw
  // Files.createTempDirectory call sites accumulated hundreds of
  // /tmp/graft_* dirs across local runs (the r8 tmp-litter rule,
  // applied to the test suite). Use this instead of the raw call.
  private val tempDirs =
    scala.collection.mutable.ArrayBuffer.empty[String]
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.synchronized { tempDirs += d }
    d
  }
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (Test/fork := true gives
    // one JVM per run); leave it up for the next suite.
    tempDirs.synchronized {
      tempDirs.foreach(d => rmTree(new java.io.File(d)))
      tempDirs.clear()
    }
    super.afterAll()
  }
}
