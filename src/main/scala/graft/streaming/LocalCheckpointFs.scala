package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

/** The `file:` scheme's `AbstractFileSystem` for streaming checkpoints:
  * Hadoop's `org.apache.hadoop.fs.local.LocalFs` (a `ChecksumFs` over
  * `RawLocalFs`), with the two raw calls that fork a process answered
  * in-process.
  *
  * Without `libhadoop.so`, `RawLocalFileSystem` runs `readlink` for every
  * `getFileLinkStatus` and `chmod` for every `setPermission`.
  * `AbstractFileSystem.renameInternal` asks for the link status of both ends
  * of every FileContext rename, once for each checkpoint file and once for
  * its `.crc`, and every create sets a permission. So each offset-log,
  * commit-log, source-log, sink-log and state-store-delta write forked
  * several processes of a few ms each, on the stream execution thread and on
  * the state store's commit threads.
  *
  * Everything else is `LocalFs`: the same `.crc` files, written and
  * checked as `LocalFs` does, FileContext's no-clobber rename check, and
  * symlinks resolved by Hadoop's own code. One difference: the
  * one-argument `open(Path)`, which Spark's checkpoint manager calls,
  * verifies the `.crc` too. Hadoop's `FilterFs.open(Path)` hands it to the
  * raw filesystem past `ChecksumFs`, so under `LocalFs` a corrupted
  * offset, commit or source log file is read as is. [[Streams]] installs it before
  * a query starts; Hadoop constructs it reflectively through the
  * `(URI, Configuration)` constructor, and like `LocalFs` it ignores the
  * URI.
  */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.Raw(conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object LocalCheckpointFs {

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[InProcess]]. */
  private[streaming] final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new InProcess, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus` done
    * through `java.nio` instead of a `chmod`/`readlink` process. */
  private[streaming] final class InProcess extends RawLocalFileSystem {

    /** Plain rwx bits through `Files.setPosixFilePermissions`; a mode with
      * the sticky, setuid or setgid bit, which that API cannot set, goes to
      * Hadoop's `chmod`. Like `chmod`, it follows a symlink. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission.values runs OWNER_READ .. OTHERS_EXECUTE: mode bits 8 .. 0
        val bits = PosixFilePermission.values.zipWithIndex
          .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
        ()
      }
    }

    /** For a path that is not a symlink, Hadoop's (deprecated, default)
      * link-status path returns exactly `getFileStatus` after its `readlink`
      * comes back empty, `FileNotFoundException` for a missing path
      * included. A symlink still goes to Hadoop's code. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
