package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{SpawnFreeLocalFileSystem, SpawnFreeLocalFs}

/** The checkpoint file system of `graft.streaming`, without Spark: each
  * case runs stock Hadoop and [[SpawnFreeLocalFs]] side by side in one
  * temp dir and compares what they leave on disk and report.
  */
class SpawnFreeLocalFsSpec extends AnyFunSuite {
  private val implKey = "fs.AbstractFileSystem.file.impl"

  private def fileContext(spawnFree: Boolean): FileContext = {
    val conf = new Configuration()
    if (spawnFree) conf.set(implKey, classOf[SpawnFreeLocalFs].getName)
    FileContext.getFileContext(conf)
  }

  private def withTemp[T](f: JPath => T): T =
    Scratch.withDir("graft_fs_spec")(d => f(Paths.get(d)))

  private def write(fc: FileContext, p: Path, text: String,
                    perm: Option[FsPermission] = None): Unit = {
    val opts = perm.map(x => CreateOpts.perms(x)).toSeq
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE), opts: _*)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Every entry under `root`: relative path, POSIX mode, and content. */
  private def tree(root: JPath): Map[String, (String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> ((
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
        if (Files.isDirectory(p)) "<dir>"
        else java.util.Base64.getEncoder.encodeToString(Files.readAllBytes(p))))
    }.toMap

  /** What a `getFileLinkStatus` caller can observe (`FileStatus.equals`
    * compares only the path).
    */
  private def observed(s: FileStatus) = (s.getPath, s.isDirectory, s.isFile,
    s.isSymlink, s.getLen, s.getModificationTime, s.getPermission,
    if (s.isSymlink) Some(s.getSymlink) else None)

  test("FileContext writes: the same mode bits and .crc sidecars as Hadoop") {
    withTemp { tmp =>
      val trees = Seq(false, true).map { spawnFree =>
        val fc = fileContext(spawnFree)
        val root = tmp.resolve(if (spawnFree) "spawn_free" else "stock")
        val base = new Path(root.toUri)
        // default (umask) and explicit modes, for directories and files
        fc.mkdir(new Path(base, "a/b"), FsPermission.getDirDefault, true)
        fc.mkdir(new Path(base, "locked"), new FsPermission(0x1e8.toShort), true)
        write(fc, new Path(base, "a/b/plain"), "plain")
        write(fc, new Path(base, "locked/private"), "private",
          Some(new FsPermission(0x1a0.toShort)))
        // the checkpoint's write-then-rename, sidecar included
        write(fc, new Path(base, "a/.offset.tmp"), "offset")
        fc.rename(new Path(base, "a/.offset.tmp"), new Path(base, "a/0"),
          Rename.OVERWRITE)
        tree(root)
      }
      assert(trees(1) == trees(0))
      assert(trees(0).keySet.contains("a/b/.plain.crc"))
      assert(trees(0).keySet.contains("a/.0.crc"))
      assert(!trees(0).keySet.contains("a/.offset.tmp"))
      assert(trees(0)("locked")._1 == "rwxr-x---")
      assert(trees(0)("locked/private")._1 == "rw-r-----")
      assert(fileContext(spawnFree = true).getDefaultFileSystem
        .isInstanceOf[SpawnFreeLocalFs])
    }
  }

  test("setPermission: a sticky bit falls through to Hadoop") {
    withTemp { tmp =>
      val sticky = new FsPermission(0x3ed.toShort) // 01755
      val perms = Seq(new RawLocalFileSystem, new SpawnFreeLocalFileSystem)
        .zipWithIndex.map { case (fs, i) =>
          fs.initialize(URI.create("file:///"), new Configuration())
          val d = new Path(tmp.resolve(s"d$i").toString)
          fs.mkdirs(d)
          fs.setPermission(d, sticky)
          fs.getFileStatus(d).getPermission
        }
      assert(perms(1) == perms(0) && perms(0).getStickyBit)
    }
  }

  test("getFileLinkStatus: Hadoop's answer for a file, a directory, " +
    "a missing path and a real symlink") {
    withTemp { tmp =>
      Files.writeString(tmp.resolve("file"), "x")
      Files.createDirectory(tmp.resolve("dir"))
      Files.createSymbolicLink(tmp.resolve("link"), tmp.resolve("file"))
      val fss = Seq(new RawLocalFileSystem, new SpawnFreeLocalFileSystem)
      fss.foreach(_.initialize(URI.create("file:///"), new Configuration()))
      val fcs = Seq(fileContext(false), fileContext(true))
      for (name <- Seq("file", "dir", "link")) {
        // the FileSystem API sees plain paths (so the link probe finds
        // the link), FileContext qualified ones
        val plain = new Path(tmp.resolve(name).toString)
        val raw = fss.map(fs => observed(fs.getFileLinkStatus(plain)))
        assert(raw(1) == raw(0), name)
        val qualified = new Path(tmp.resolve(name).toUri)
        val viaFc = fcs.map(fc => observed(fc.getFileLinkStatus(qualified)))
        assert(viaFc(1) == viaFc(0), name)
      }
      assert(observed(fss(1).getFileLinkStatus(
        new Path(tmp.resolve("link").toString)))._4, "the link is a link")
      val missing = new Path(tmp.resolve("missing").toString)
      fss.foreach(fs => intercept[FileNotFoundException](fs.getFileLinkStatus(missing)))
      fcs.foreach(fc => intercept[FileNotFoundException](
        fc.getFileLinkStatus(new Path(tmp.resolve("missing").toUri))))
    }
  }

  test("FileContext rename with Rename.NONE onto an existing file fails") {
    withTemp { tmp =>
      for (spawnFree <- Seq(false, true)) {
        val fc = fileContext(spawnFree)
        val base = new Path(tmp.resolve(s"r_$spawnFree").toUri)
        fc.mkdir(base, FsPermission.getDirDefault, true)
        write(fc, new Path(base, "src"), "new")
        write(fc, new Path(base, "dst"), "old")
        intercept[FileAlreadyExistsException](
          fc.rename(new Path(base, "src"), new Path(base, "dst"), Rename.NONE))
        val dir = tmp.resolve(s"r_$spawnFree")
        assert(Files.readString(dir.resolve("dst")) == "old", spawnFree)
        assert(Files.exists(dir.resolve("src")), spawnFree)
      }
    }
  }
}
