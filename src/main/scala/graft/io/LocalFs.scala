package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local `FileSystem` over [[LocalFs.Raw]], which
  * starts no process. Without libhadoop (Spark's bundled Hadoop has none)
  * the stock `RawLocalFileSystem` forks `chmod` for every file and
  * directory it creates and `readlink` for every `getFileLinkStatus`,
  * which `FileContext.rename` calls on both ends: sink writes, the commit
  * protocol, [[Sinks.swap]], stream offset/commit logs and RocksDB
  * changelog uploads. `GraftSession.builder` registers it and
  * [[LocalFs.Context]] for `file:` ([[LocalFs.confs]]); other schemes
  * never forked and keep their own classes.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `file:` FileSystem and FileContext classes, as Spark confs. */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  /** `RawLocalFileSystem` with the two forking calls done in-JVM. Hadoop
    * keeps what NIO cannot do the same way: the sticky bit, and the link
    * status of a real symlink.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        posix(permission.toShort))

    /** The stock call reads the link with a `readlink` process and, when
      * there is none, returns `getFileStatus`; `lstat` answers that here.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Checksummed `FileContext` binding over [[Raw]]: Hadoop's
    * `local.LocalFs` with `local.RawLocalFs`'s overrides. Hadoop builds it
    * by reflection from `(URI, Configuration)`; like `local.LocalFs` it
    * ignores the URI, since `file:` has one root.
    */
  class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new Delegate(conf))

  private class Delegate(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** POSIX permissions of a mode's low 9 bits (owner rwx … others rwx). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}
