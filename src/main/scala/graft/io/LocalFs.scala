package graft.io

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem of graft sessions: Hadoop's local filesystem
  * without a child process per call.
  *
  * Without the native Hadoop library, stock `RawLocalFileSystem` runs
  * `chmod` for every `setPermission` (each file create and mkdir) and
  * `readlink` for every `getFileLinkStatus` (each `FileContext` rename
  * and its checksum sidecar). A spawn costs ~9 ms from the JVM; a
  * streaming micro-batch's checkpoint and state-store commits make
  * hundreds of them. [[RawFileSystem]] does both in-process and leaves
  * everything else, and every case it cannot match bit for bit (native
  * IO present, sticky bit, setuid/setgid directories, symlinks, errors),
  * to the stock code. Files get the same bytes, `.crc` sidecars and mode
  * bits.
  *
  * [[FileSystem]] is the checksummed wrapper `FileSystem.get` returns
  * (`fs.file.impl`); [[Fs]] is the `FileContext` pair over [[RawFs]]
  * (`fs.AbstractFileSystem.file.impl`), which streaming's checkpoint
  * manager and the HDFS-backed state store write through. */
object LocalFs {
  private val S_IFMT = 0xF000
  private val S_IFDIR = 0x4000
  private val S_ISUID_ISGID = 0xC00

  class RawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit || !setModeBits(pathToFile(p).toPath, permission.toShort))
        super.setPermission(p, permission)

    /** Stock code returns `getFileStatus(f)` once `readlink` prints
      * nothing, i.e. for every path that is not a symlink. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (NativeIO.isAvailable || Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Sets the 9 permission bits of `bits` on `file` as `chmod` with a
    * four-digit octal mode does: that also clears setuid/setgid on files
    * but keeps them on directories. Returns false, changing nothing, for
    * such a directory and on any error, both left to the stock call. */
  private def setModeBits(file: java.nio.file.Path, bits: Int): Boolean =
    try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val keepsIdBits = (mode & S_IFMT) == S_IFDIR && (mode & S_ISUID_ISGID) != 0
      if (!keepsIdBits) Files.setPosixFilePermissions(file, posix(bits))
      !keepsIdBits
    } catch { case _: IOException => false }

  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared owner-read first, in the order of bits 8 down to 0
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) out.add(p)
    }
    out
  }

  class FileSystem extends LocalFileSystem(new RawFileSystem)

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[RawFileSystem]]. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `org.apache.hadoop.fs.local.LocalFs` over [[RawFs]]; like it, always
    * rooted at `file:///`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(FsConstants.LOCAL_FS_URI, conf))
}
