package graft.sources

import java.io.{DataOutput, File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its shell calls done through java.nio.
  *
  * Without libhadoop (`NativeIO.isAvailable` false), stock
  * `RawLocalFileSystem` launches a process for every permission it sets
  * (`chmod`, on each `create`, for the file and again for its `.crc`), for
  * every permission, owner or group it reads (`ls -ld`, once per entry of a
  * `listFiles`), and for every link status it takes (`readlink`, twice per
  * FileContext rename and again for the `.crc`). This subclass answers the
  * same calls with system calls:
  *   - `setPermission` is `Files.setPosixFilePermissions`. A mode with the
  *     sticky, setuid or setgid bit, requested or already on the path,
  *     keeps the stock `chmod` (NIO cannot set those bits, and `chmod`
  *     keeps a directory's setuid and setgid);
  *   - `getFileStatus`/`listStatus` return statuses as lazy as stock ones:
  *     size, type and times from one stat, permission, owner and group
  *     loaded on first use by one `unix:mode,owner,group` read (through
  *     links, as stock runs `ls -ld` on the canonical path), so a listing
  *     looks no user or group up until someone asks;
  *   - `getFileLinkStatus` answers a non-link from `getFileStatus`. A link,
  *     dangling or not, takes the stock route.
  * Errors keep the stock contract: a missing path, and a path under a
  * regular file, are `FileNotFoundException`.
  *
  * Registration: Engine.configure sets `fs.file.impl` to
  * [[NioLocalFileSystem]] and `fs.AbstractFileSystem.file.impl` to
  * [[NioLocalFs]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    // stock tests File.exists, which is false for any failed stat
    // (ENOENT, and ENOTDIR under a regular file): both are not found
    val a = try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
    catch {
      case _: IOException | _: InvalidPathException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
    new NioFileStatus(file, a.size, a.isDirectory, blockSize,
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  // a directory's entries already come through getFileStatus; stock builds
  // the status of a single file itself
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (file.isFile) Array(getFileStatus(f)) else super.listStatus(f)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    if (((mode | Files.getAttribute(path, "unix:mode").asInstanceOf[Int]) & SpecialBits) != 0)
      super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b)
      }
      Files.setPosixFilePermissions(path, perms)
    }
  }

  // stock asks readlink(1) about `new File(f.toString)`, and reads any
  // answer but a link as the plain status
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object NioRawLocalFileSystem {
  /** setuid, setgid and sticky (04000 | 02000 | 01000). */
  val SpecialBits = 0xE00
  /** The permission bits `ls -ld` shows: rwx for three classes and sticky. */
  val ModeBits = 0x3FF
}

/** A local status whose permission, owner and group load on first use,
  * like Hadoop's `DeprecatedRawLocalFileStatus` (empty owner = not loaded),
  * with one attribute read instead of `ls -ld`. A path gone since the stat
  * reads as stock reads one `ls` reports missing: default permission,
  * empty owner and group. */
private final class NioFileStatus(file: File, len: Long, dir: Boolean, blockSize: Long,
    mtime: Long, atime: Long, path: Path)
    extends FileStatus(len, dir, 1, blockSize, mtime, atime, null, null, null, path) {

  private def loaded: Boolean = !super.getOwner.isEmpty

  private def load(): Unit = synchronized {
    if (!loaded) try {
      val a = Files.readAttributes(file.toPath, "unix:mode,owner,group")
      setPermission(new FsPermission(
        (a.get("mode").asInstanceOf[Int] & NioRawLocalFileSystem.ModeBits).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
    } catch {
      case _: NoSuchFileException =>
        setPermission(null); setOwner(null); setGroup(null)
      case e: IOException =>
        throw new RuntimeException(s"Error while reading the permissions of $file", e)
    }
  }

  override def getPermission: FsPermission = { if (!loaded) load(); super.getPermission }
  override def getOwner: String = { if (!loaded) load(); super.getOwner }
  override def getGroup: String = { if (!loaded) load(); super.getGroup }
  override def write(out: DataOutput): Unit = { if (!loaded) load(); super.write(out) }
}

/** `LocalFileSystem` (checksummed, `.crc` files hidden) over
  * [[NioRawLocalFileSystem]]: the engine's `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's local filesystem (`ChecksumFs`, as Hadoop's `LocalFs`)
  * over [[NioRawLocalFileSystem]]: the engine's
  * `fs.AbstractFileSystem.file.impl`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]], with its overrides. */
private final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, uri.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
