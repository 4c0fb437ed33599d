package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.sources.Sources
import graft.streaming.Streams

/** [[Scratch]]'s one policy: a staged input is built once per key, every
  * dir it hands out is gone after the cleanup its shutdown hook runs,
  * and its delete survives an unreadable dir.
  */
class ScratchSpec extends SparkSpec {

  test("a staged build runs once per key; a failed build runs again") {
    val sf = tempDir("graft_scratch_sf")
    var builds = 0
    val a = Scratch.staged("spec", sf, "x")(_ => builds += 1)
    assert(Scratch.staged("spec", sf, "x")(_ => builds += 1) == a)
    assert(builds == 1 && new File(a).isDirectory)
    assert(Scratch.staged("spec", sf, "y")(_ => builds += 1) != a)
    assert(builds == 2)
    var failed: String = null
    intercept[RuntimeException] {
      Scratch.staged("spec", sf, "z") { d => failed = d; sys.error("boom") }
    }
    assert(!new File(failed).exists() && !Scratch.liveDirs.contains(failed))
    Scratch.staged("spec", sf, "z")(_ => builds += 1)
    assert(builds == 3)
  }

  test("after the hook's cleanup no dir Scratch handed out exists") {
    // a temp sf dir holding the two tables the staged copies read
    val sf = tempDir("graft_scratch_sf")
    Seq("events", "documents").foreach(t => Files.copy(
      Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$sf/$t.parquet")))
    val part = Sources.stagePartitioned(
      Tables(spark, sf, "events"), sf, "events", "event_type")
    val run = Streams.dedupDocsAvailableNow(spark, sf)
    assert(run.frame.count() > 0)
    val replay = Streams.stageDocsReplay(spark, sf, chunks = 3)
    // the append sink is partitioned: <sink>/batch_id=N/part-*.parquet
    val sink = Paths.get(new java.net.URI(run.frame.inputFiles.head))
      .toFile.getParentFile.getParentFile
    val handedOut = Scratch.liveDirs
    assert(Seq(part, replay, sink.getPath).forall(handedOut.contains),
      s"$part, $replay, $sink not in $handedOut")
    Scratch.cleanup()
    assert(handedOut.forall(d => !new File(d).exists()))
    assert(Scratch.liveDirs.isEmpty)
    // the cleanup forgot every key, so the next call stages afresh
    val again = Scratch.staged("spec", sf, "x")(_ => ())
    assert(new File(again).isDirectory && !handedOut.contains(again))
    Scratch.delete(again)
  }

  test("delete tolerates a dir whose listFiles returns null") {
    val d = tempDir("graft_scratch_null")
    Files.writeString(Paths.get(d, "f"), "x")
    // what an I/O or permission failure looks like to java.io.File
    val unreadable = new File(d) {
      override def listFiles(): Array[File] = null
    }
    Scratch.delete(unreadable)
    assert(new File(d, "f").exists())
    Scratch.delete(d)
    assert(!new File(d).exists())
  }
}
