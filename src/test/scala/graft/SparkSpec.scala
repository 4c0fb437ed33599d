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

  // Spec scratch dirs come from Scratch, so they never outlive the test
  // JVM, and each suite drops its own when it ends.
  private val tempDirs =
    scala.collection.mutable.ArrayBuffer.empty[String]
  def tempDir(prefix: String): String = {
    val d = Scratch.dir(prefix)
    tempDirs.synchronized { tempDirs += d }
    d
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (Test/fork := true gives
    // one JVM per run); leave it up for the next suite.
    tempDirs.synchronized {
      tempDirs.foreach(Scratch.delete(_: String))
      tempDirs.clear()
    }
    super.afterAll()
  }
}
