package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with a fork-free `setPermission`.
  *
  * Without libhadoop (any stock Spark tarball), `RawLocalFileSystem`
  * sets the permission of every file and directory it creates by
  * forking a `chmod` process. Through the checksummed `file:`
  * filesystem a `mkdirs` then costs 3.4 ms and a `create`+close 7.0 ms
  * (two forks: the file and its `.crc`), against 0.02 ms for a
  * `java.nio` `createDirectories` (200 ops each, 4-core host). Every
  * parquet write, store fold and compaction pays that per file and
  * per partition directory.
  *
  * This override sets the same POSIX bits with
  * `Files.setPosixFilePermissions` (one `chmod(2)` call). Everything
  * else — checksums and `.crc` files, umask, rename, the commit
  * protocol — is the stock code. A sticky mode (which `java.nio`
  * cannot set), a directory that carries a setuid/setgid bit (which
  * the `chmod` command keeps on directories) and a platform without a
  * POSIX attribute view take the stock path. On a host with libhadoop
  * the stock path is a native `chmod(2)` as well, so there the
  * override neither gains nor loses anything. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    try {
      val cur = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      // S_IFDIR with S_ISUID or S_ISGID set
      val setIdDir = (cur & 0xF000) == 0x4000 && (cur & 0xC00) != 0
      if (permission.getStickyBit || setIdDir) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f,
        PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        super.setPermission(p, permission)
    }
  }
}

/** The session's `file:` FileSystem (`fs.file.impl`, set in
  * [[GraftSession.builder]]): the stock checksummed `LocalFileSystem`
  * over [[GraftRawLocalFileSystem]].
  *
  * A Spark build with Hive support registers Hive's
  * `ProxyLocalFileSystem` for `file:`, whose only change to
  * `LocalFileSystem` is a rename that refuses to replace an existing
  * file, as HDFS does. That is the `file:` filesystem this class
  * replaces in such a build, so it keeps the same rename. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** The `FileContext` twin (`fs.AbstractFileSystem.file.impl`), used by
  * streaming checkpoint and state files: the stock `LocalFs` shape — a
  * checksummed delegate over the raw filesystem — with
  * [[GraftRawLocalFileSystem]] as the raw filesystem. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** Mirror of Hadoop's `RawLocalFs` (whose constructors are package
  * private) over [[GraftRawLocalFileSystem]]. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  // the OS validates local names, as in RawLocalFs
  override def isValidName(src: String): Boolean = true
}
