package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The one lifetime policy for staged inputs and run scratch: every dir
  * graft hands out lives for ONE JVM under `java.io.tmpdir` (or under a
  * caller-chosen parent, e.g. tmpfs for a checkpoint) and is deleted by
  * a single shutdown hook. Nothing outlives the process, so no staged
  * artifact is ever read by a later run: a regenerated test dataset at
  * the same path cannot be served a stale copy, nothing needs a version
  * tag or a source fingerprint, and a run's job and stage counts do not
  * depend on what an earlier process left on disk.
  *
  * Staged inputs (the zst crawl-dump shards, the persisted dedup index,
  * the stream replay chunks, the partitioned copy) are built once per
  * `(kind, sfDir, shape)` key: within one JVM a testdata dir is
  * immutable, so the first caller pays the build and every later caller
  * reads the same dir. Scratch that must die sooner (a checkpoint, a
  * model round trip) is deleted by its owner; the hook only catches what
  * an owner could not delete, such as a sink that backs a returned frame.
  */
object Scratch {

  // Every dir handed out and not yet deleted by its owner.
  private val live = ConcurrentHashMap.newKeySet[String]()
  private val stagedDirs = new ConcurrentHashMap[(String, String, String), String]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup()))
  }

  /** A fresh dir named `prefix...` under `parent` (default
    * `java.io.tmpdir`), deleted at JVM exit unless its owner deletes it
    * first through [[delete]].
    */
  def dir(prefix: String, parent: Option[Path] = None): String = {
    val d = parent.fold(Files.createTempDirectory(prefix))(
      Files.createTempDirectory(_, prefix)).toString
    live.add(d): Unit
    d
  }

  /** `body` over a fresh dir that is removed when `body` returns or
    * throws: for scratch that nothing reads after the call.
    */
  def withDir[A](prefix: String)(body: String => A): A = {
    val d = dir(prefix)
    try body(d) finally delete(d)
  }

  /** The dir staged for `(kind, sfDir, shape)`, built by `build` on the
    * first call in this JVM and returned as is afterwards. A build that
    * throws leaves nothing behind, so the next call builds again.
    */
  def staged(kind: String, sfDir: String, shape: String = "")
            (build: String => Unit): String =
    stagedDirs.computeIfAbsent((kind, sfDir, shape), _ => {
      val d = dir(s"graft_$kind")
      try build(d)
      catch { case e: Throwable => delete(d); throw e }
      d
    })

  /** Recursive delete that tolerates a vanished or unreadable entry:
    * `listFiles` returns null (not empty) on an I/O or permission
    * failure, and best-effort cleanup must not throw. A symbolic link is
    * removed, never followed.
    */
  def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete(): Unit
  }

  def delete(path: String): Unit = {
    delete(new File(path))
    live.remove(path): Unit
  }

  /** The dirs handed out and not yet deleted. */
  private[graft] def liveDirs: Seq[String] = live.asScala.toSeq

  /** Deletes every dir handed out and forgets every staged key, so a
    * later call stages afresh. The shutdown hook runs this.
    */
  private[graft] def cleanup(): Unit = {
    stagedDirs.clear()
    live.forEach(d => delete(new File(d)))
    live.clear()
  }
}
