package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem without a
  * forked process per file.
  *
  * Without native libhadoop, Hadoop's `RawLocalFileSystem` forks a `chmod`
  * for every file and directory it creates (`setPermission`), and a
  * `readlink` on every `getFileLinkStatus`, which each FileContext rename
  * calls, the rename under Spark's streaming checkpoints included. A commit
  * of 28 parquet files, or one stateful microbatch's offset, commit and
  * state-store files, forks hundreds of times. [[RawLocalFiles]] overrides
  * exactly those two methods and inherits everything else:
  *   - `setPermission` applies the same rwx bits with
  *     `Files.setPosixFilePermissions`; a sticky or other extra bit, or a
  *     default filesystem without POSIX permissions, takes Hadoop's path;
  *   - `getFileLinkStatus` returns `getFileStatus` unless the path is a
  *     symlink as Hadoop itself tests it (`readlink` of `new
  *     File(f.toString)`, so a qualified `file:/…` path never is one), and
  *     Hadoop's own result otherwise. Every status returned is Hadoop's.
  *
  * [[LocalFiles]] (checksummed, for `FileSystem`) and [[LocalFilesFs]]
  * (checksummed, for `FileContext`) wrap it the way stock `LocalFileSystem`
  * and `LocalFs` wrap the raw class. [[LocalFiles.register]] names both in
  * `graft-site.xml`, a Hadoop default resource, so every `Configuration`
  * reads them unless a key is set programmatically
  * (`spark.hadoop.fs.file.impl` still wins) or marked final in
  * `core-site.xml`. `GraftExtensions.apply` registers it; other schemes are
  * untouched. */
object LocalFiles {
  private val Resource = "graft-site.xml"

  /** Adds [[Resource]] to Hadoop's default resources; idempotent. It must
    * run before the `file:` filesystem is first cached (`FileSystem.get`)
    * to serve `FileSystem` callers; `FileContext` looks its class up on
    * every call. */
  def register(): Unit = Configuration.addDefaultResource(Resource)

  private[sources] val PosixStore =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // OWNER_READ … OTHERS_EXECUTE: bit 8 down to bit 0 of the mode
  private val Perms = PosixFilePermission.values

  /** The permission set of the rwx bits of `mode` (0 to 0777), from the
    * bits and not from `FsPermission.toString`: FileContext creates pass
    * an `FsCreateModes`, whose string is not the rwx form. */
  private[sources] def posixOf(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Perms.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Perms(i)))
    s
  }
}

/** `RawLocalFileSystem` that sets permissions and reads link status without
  * forking (see [[LocalFiles$ LocalFiles]]). */
class RawLocalFiles extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (mode > 0x1ff || !LocalFiles.PosixStore) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFiles.posixOf(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` over [[RawLocalFiles]]. */
class LocalFiles extends LocalFileSystem(new RawLocalFiles)

/** `fs.AbstractFileSystem.file.impl`: the checksummed local `FileContext`
  * filesystem over [[RawLocalFiles]], as stock `LocalFs` is over `RawLocalFs`
  * (Hadoop instantiates it reflectively with this constructor). */
class LocalFilesFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new RawLocalFilesFs(uri, conf))

/** Stock `RawLocalFs` over [[RawLocalFiles]], with its three overrides. */
private class RawLocalFilesFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFiles, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
