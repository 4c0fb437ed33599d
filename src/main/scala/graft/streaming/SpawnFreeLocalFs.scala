package graft.streaming

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-file process forks done
  * in the JVM. Without libhadoop, `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates, and `readlink` every time it
  * asks whether a path is a symlink — four times per `FileContext`
  * rename, which is how every offset, commit, source-log, state-delta
  * and checksum file of a streaming checkpoint lands. Everything else,
  * the files written and the renames included, is Hadoop's own code.
  */
class SpawnFreeLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits through `java.nio`. A sticky bit, which
    * `PosixFilePermission` cannot express, falls through to Hadoop.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bits 8 .. 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(b): Unit
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
    }
  }

  /** Hadoop's link probe, `readlink` on `new File(f.toString)`, asked
    * with `Files.isSymbolicLink` instead. A path that is not a link gets
    * what Hadoop returns for it, its `getFileStatus` (a missing path
    * throws `FileNotFoundException`); a real link falls through.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[SpawnFreeLocalFileSystem]] bound for the `FileContext` API, as
  * Hadoop's `LocalFs` binds `RawLocalFileSystem`: a `ChecksumFs` (the
  * `.crc` sidecars) over a `DelegateToFileSystem` with `RawLocalFs`'s
  * overrides. Selected per Hadoop conf by
  * `fs.AbstractFileSystem.file.impl`, which Hadoop instantiates through
  * this (URI, Configuration) constructor.
  */
class SpawnFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new SpawnFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults(): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
