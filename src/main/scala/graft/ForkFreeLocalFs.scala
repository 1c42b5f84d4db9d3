package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process spawns.
  *
  * Without libhadoop (the native library is not shipped with Spark's
  * jars) `RawLocalFileSystem` falls back to shell commands for two
  * calls on the write path:
  *  - `setPermission` runs `chmod` for every file and directory created
  *    with a permission;
  *  - `getFileLinkStatus` runs `readlink`, and `FileContext.rename`
  *    calls it for both source and target.
  * Streaming state-store deltas and checkpoint logs are written as a
  * temp file plus a rename, each with a `.crc` and a Spark checksum
  * sidecar, so one 1,000-row micro-batch of the reference pipeline
  * started hundreds of processes. This subclass does both calls with
  * `java.nio.file` and falls back to Hadoop's own call where NIO cannot
  * express the operation: a sticky bit (NIO has no sticky bit) or a
  * default filesystem without POSIX attributes.
  *
  * Only the mechanism changes: mode bits, `.crc` sidecars, checksum
  * verification and rename semantics come from the unchanged Hadoop
  * code around these two calls. One difference: the stock
  * `getFileLinkStatus` hands `readlink` the path string including its
  * `file:` scheme, so it never sees a link behind a qualified path;
  * this one resolves the path first and does. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || !ForkFreeRawLocalFileSystem.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeRawLocalFileSystem.posixSet(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The unqualified link target; throws for a path that is not a link. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** `RawLocalFileSystem.deprecatedGetFileLinkStatusInternal` with the
    * `readlink` process replaced by `Files.readSymbolicLink`. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
          target, f)
      } catch {
        // a dangling link: report the link itself, as Hadoop does
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object ForkFreeRawLocalFileSystem {
  private lazy val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode` as NIO permissions. */
  private def posixSet(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ (0400) … OTHERS_EXECUTE (0001)
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p)
    }
    s
  }
}

/** The checksummed `FileSystem` (`fs.file.impl`): Hadoop's
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]].
  *
  * Without this registration `file:` resolves through Hadoop's service
  * loader, where Spark's hive-exec jar wins with Hive's
  * `ProxyLocalFileSystem`: a `LocalFileSystem` whose `rename` refuses an
  * existing destination file (HDFS semantics) instead of replacing it.
  * That refusal is kept, so registering this class changes no
  * behaviour a caller can see. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]]: the `AbstractFileSystem` that
  * `FileContext` (Spark's checkpoint file manager) drives. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`),
  * mirroring `org.apache.hadoop.fs.local.LocalFs`: like it, the URI
  * argument is ignored and the raw filesystem is rooted at `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
