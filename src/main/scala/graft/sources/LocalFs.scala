package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` in a child
  * process on every file create and mkdir (`setPermission`), and
  * `readlink` on every `getFileLinkStatus`, which FileContext calls twice
  * per rename. Every parquet write, store commit and Structured Streaming
  * checkpoint-log entry pays those forks, serially (about 1.5 ms per
  * `chmod` fork against a few microseconds through `java.nio`, on a
  * 4-vCPU box). This subclass does both calls through `java.nio`,
  * leaving every other behaviour Hadoop's own.
  * `src/main/resources/core-site.xml` registers it for the `file` scheme,
  * as a `FileSystem` ([[GraftLocalFileSystem]]) and as the FileContext
  * `AbstractFileSystem` ([[GraftLocalFs]]).
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** Plain rwx bits go through `java.nio`; any other bit (sticky) takes
    * Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      for (b <- PosixFilePermission.values
           if (mode & (0x100 >> b.ordinal)) != 0) bits.add(b)
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  /** A path that is not a symlink is its own status (a missing one throws
    * `FileNotFoundException` from `getFileStatus`); only a real symlink
    * takes Hadoop's path to resolve its target.
    */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `file` FileSystem (`fs.file.impl`) over the raw one. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** FileContext's raw `file` filesystem, as `org.apache.hadoop.fs.local.RawLocalFs`
  * (whose constructors are package-private) but over the fork-free class.
  */
class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** FileContext's checksummed `file` filesystem
  * (`fs.AbstractFileSystem.file.impl`), as `org.apache.hadoop.fs.local.LocalFs`.
  * FileContext instantiates it through this (URI, Configuration)
  * constructor; like Hadoop's, it always serves `file:///`.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))
