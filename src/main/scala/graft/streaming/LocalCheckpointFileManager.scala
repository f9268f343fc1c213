package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for streaming queries whose checkpoints live
  * on the local filesystem.
  *
  * Every offset-log entry, commit-log entry, state delta file and state
  * checksum file is written through Spark's `CheckpointFileManager`. For
  * `file:` paths Spark picks its `FileContext`-based manager, and without
  * Hadoop's native library that path forks a subprocess on every write:
  * `chmod` for each created file and its `.crc` sidecar, and `readlink`
  * several times per `FileContext.rename`. Those forks dominated the
  * per-batch commit cost of a micro-batch.
  *
  * For `file:` paths (and scheme-less paths whose default filesystem is
  * `file:`) this is Spark's own `FileSystemBasedCheckpointFileManager`
  * over a checksummed Hadoop `LocalFileSystem` whose raw layer sets
  * permissions through `java.nio` instead of a `chmod` process. The
  * write protocol (temp file, then rename), the `.crc` sidecars, the
  * file modes (0644 files, 0755 directories) and the on-disk layout are
  * those of the default manager, so existing checkpoints resume under it
  * and vice versa. Any other scheme gets exactly the manager
  * `CheckpointFileManager.create` picks without this class configured.
  *
  * Installed per session by [[LocalCheckpointFileManager.install]].
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val underlying: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new LocalFsManager(path, hadoopConf)
    else CheckpointFileManager.create(path, withoutManagerClass(hadoopConf))

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** Spark's conf naming the class behind every `CheckpointFileManager`. */
  val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint file manager, unless the session
    * already names one (a user's own setting always wins). Call before a
    * query starts: a running query keeps the conf it started with. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ManagerClassKey).isEmpty)
      spark.conf.set(ManagerClassKey, classOf[LocalCheckpointFileManager].getName)

  private def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def withoutManagerClass(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.unset(ManagerClassKey)
    c
  }

  private[streaming] final class LocalFsManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionRawLocalFileSystem)
      local.setConf(conf)
      local.initialize(URI.create("file:///"), conf)
      local
    }
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission.values` in bit order: OWNER_READ is 0400, ...,
    * OTHERS_EXECUTE is 0001. */
  private val permissionBits = PosixFilePermission.values.zipWithIndex.map { case (p, i) => (p, 0x100 >> i) }

  /** Hadoop's raw local filesystem, except that `setPermission` on plain
    * rwx bits is a `java.nio` call rather than a forked `chmod`. Sticky,
    * setuid/setgid bits and non-POSIX filesystems keep Hadoop's path. */
  private final class NioPermissionRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0xffff
      if (!posix || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        permissionBits.foreach { case (perm, bit) => if ((bits & bit) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
