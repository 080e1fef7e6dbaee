package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a child process per call.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` runs a shell command for
  * two calls on every streaming micro-batch's path: `chmod` in
  * `setPermission` (once per created file or directory: parquet parts,
  * `.crc` files, checkpoint temp files) and `readlink` in
  * `getFileLinkStatus` (the FileContext checkpoint manager's renames of
  * offsets, commits, source logs and state deltas). Here both go through
  * `java.nio`; the results are the stock ones (pinned in `LocalFsSpec`
  * against the stock class). Wired in by [[graft.GraftSession.configure]].
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!ForkFreeRawLocalFileSystem.unixView) super.setPermission(p, permission)
    else Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Int.box(permission.toShort & 0x0fff))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Stock's link status without a native library: the status of what `f`
    * resolves to, re-labelled as a symlink with an unqualified target when
    * `f` is one; a dangling link gets a zero status. Like stock, the link is
    * read at `new File(f.toString)`, so a scheme-qualified path never reads
    * as a link, and a link's mode and owners are its target's.
    */
  private def linkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else {
        val (perm, owner, group) =
          if (!ForkFreeRawLocalFileSystem.unixView)
            (fs.getPermission, fs.getOwner, fs.getGroup)
          else {
            val attrs = Files.readAttributes(link, classOf[PosixFileAttributes])
            val mode = Files.getAttribute(link, "unix:mode").asInstanceOf[Int]
            (new FsPermission((mode & 0x0fff).toShort),
              attrs.owner.getName, attrs.group.getName)
          }
        new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, perm, owner, group,
          new Path(target), f)
      }
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object ForkFreeRawLocalFileSystem {
  private val unixView: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** The checksummed `file:` FileSystem (`fs.file.impl`). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` AbstractFileSystem
  * (`fs.AbstractFileSystem.file.impl`), as `org.apache.hadoop.fs.local.LocalFs`:
  * `AbstractFileSystem.get` calls the (URI, Configuration) constructor, and
  * the URI is always `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
