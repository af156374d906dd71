package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus,
  FileSystem, FSDataOutputStream, Path, PathFilter,
  UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** Structured Streaming's checkpoint file manager for graft's streams
  * (installed by [[EventStreams]] through
  * `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Every offset-log entry, commit-log entry and state-store delta is
  * written as a temp file and renamed into place. On the local file
  * system Hadoop's `RawLocalFileSystem`, without its native library,
  * forks a `chmod` for each file it creates and for that file's `.crc`
  * sidecar, and `FileContext.rename` forks `readlink` to resolve links:
  * hundreds of processes per trigger. For `file:` paths this manager
  * writes the temp file with `java.nio` (no permission call, no `.crc`)
  * and renames it into place with `Files.move`, after dropping any
  * stale `.crc` of the destination, so readers through
  * `LocalFileSystem` see the new bytes unverified rather than checked
  * against an old checksum. Every other scheme (HDFS, object stores)
  * gets exactly the manager Spark would have built. */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The manager every call goes to: graft's for `file:` paths. */
  private[graft] val delegate: CheckpointFileManager =
    if (Option(path.toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        private def local(p: Path) = Paths.get(fs.makeQualified(p).toUri)

        override def createTempFile(p: Path): FSDataOutputStream = {
          val file = local(p)
          Files.createDirectories(file.getParent)
          new FSDataOutputStream(
            new BufferedOutputStream(Files.newOutputStream(file)), null)
        }

        // LocalFileSystem's rename refuses an existing destination, and
        // Spark's FileSystem-based manager then keeps the old file
        // without an error; rename(2) replaces it atomically. A stale
        // checksum goes first, so a reader between the two steps sees
        // the old bytes unverified, never new bytes against an old .crc.
        override def renameTempFile(src: Path, dst: Path,
            overwriteIfPossible: Boolean): Unit = {
          val to = local(dst)
          if (!overwriteIfPossible && Files.exists(to))
            throw new FileAlreadyExistsException(s"$dst already exists")
          Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
          Files.move(local(src), to, StandardCopyOption.ATOMIC_MOVE)
        }
      }
    else LocalCheckpointFiles.sparkDefault(path, hadoopConf)

  def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path) = delegate.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFiles {
  /** Spark's own choice when no manager class is set
    * (`CheckpointFileManager.create`): FileContext-based, falling back
    * to the FileSystem-based manager where FileContext is unsupported. */
  private def sparkDefault(path: Path, hadoopConf: Configuration)
      : CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch { case _: UnsupportedFileSystemException =>
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }
}
