package graft

import java.io.{DataOutput, File}
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermissions
import java.security.Principal

import scala.annotation.nowarn

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every graft session uses
  * (`Tables.sessionConfigs`): Hadoop's checksummed `LocalFileSystem`
  * over a raw layer that serves permissions in-process. Without the
  * native Hadoop library the stock raw layer forks a `Shell` process in
  * two hot places — `chmod` on every `setPermission` (each non-append
  * create, its `.crc` side file, each new directory) and `ls -ld` on
  * the first permission/owner/group read of a status (every file of a
  * `listFiles`, which builds a `LocatedFileStatus` from each). Bytes,
  * `.crc` files, mode bits, owner and group are the stock ones.
  * `FileContext` (Spark's streaming checkpoints on `file:`) gets the
  * same raw layer through [[LocalFs.Context]].
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `FileContext`'s `file:` (`fs.AbstractFileSystem.file.impl`):
    * Hadoop's `local.LocalFs` — checksums over a delegate to the raw
    * filesystem — with [[Raw]] as the delegate. */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `local.RawLocalFs`, overrides and all, over [[Raw]]. */
  private final class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  final class Raw extends RawLocalFileSystem {
    /** chmod(2) in-process for the nine rwx bits — what the native
      * library would do; the sticky bit has no `java.nio` form, and a
      * store without POSIX attributes keeps the stock command. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }

    override def getFileStatus(f: Path): FileStatus = lazyStatus(super.getFileStatus(f))

    /** The stock method forks `readlink` on `f.toString` before it
      * stats; a path that is no symbolic link there (`FileContext`
      * passes qualified `file:` paths, which never are) gets the plain
      * status, as the stock method then returns, without the fork. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)

    // a directory's entries come through getFileStatus; a file's own
    // status does not
    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(lazyStatus)

    private def lazyStatus(s: FileStatus): FileStatus = s match {
      case done: Status => done
      case stock => new Status(stock, pathToFile(stock.getPath))
    }
  }

  /** The stock status's fields, with permission, owner and group read on
    * first use by one `lstat` (`ls -ld` reads the same, link unfollowed)
    * — as lazy as Hadoop's own status, so listings that never ask
    * (Spark's file index) pay nothing. `unix:mode` keeps the sticky bit
    * `ls` shows; a store without that view falls back to the stock
    * status's loader.
    */
  private final class Status(stock: FileStatus, file: File) extends FileStatus(
      stock.getLen, stock.isDirectory, stock.getReplication, stock.getBlockSize,
      stock.getModificationTime, stock.getAccessTime, null, null, null, stock.getPath) {
    private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        try {
          val a = Files.readAttributes(file.toPath, "unix:mode,owner,group",
            LinkOption.NOFOLLOW_LINKS)
          // rwx bits and the sticky bit (01777)
          setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
          setOwner(a.get("owner").asInstanceOf[Principal].getName)
          setGroup(a.get("group").asInstanceOf[Principal].getName)
        } catch {
          case _: UnsupportedOperationException =>
            setPermission(stock.getPermission)
            setOwner(stock.getOwner)
            setGroup(stock.getGroup)
        }
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
    @nowarn("cat=deprecation") // Writable form, loaded first as the stock status does
    override def write(out: DataOutput): Unit = { load(); super.write(out) }
  }
}
