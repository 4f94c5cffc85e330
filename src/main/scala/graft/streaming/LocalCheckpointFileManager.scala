package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path,
  PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint manager for streaming commits: on a `file:` checkpoint
  * each atomic write is one `java.nio` hard link or rename, with no
  * process fork.
  *
  * Every micro-batch commit writes four tiny atomic files (the file
  * source's log, the offset WAL, the file sink's `_spark_metadata`
  * entry and the commit log), and a stateful stream its state-store
  * deltas. Spark's default `FileContextBasedCheckpointFileManager`
  * forks helper processes for each of them when Hadoop's native IO is
  * not loaded ([[RealtimeIngest]] records what that cost per batch).
  *
  * `file:` writes go to `.<name>.<uuid>.tmp` beside the target. The
  * leading dot hides it from the metadata logs' batch filters and
  * from table listings. On close, a write without overwrite hard-links
  * the target, which is atomic and fails if the target exists (Hadoop's
  * `FileAlreadyExistsException`, which the metadata log reads as a
  * concurrent writer); a write with overwrite deletes the target's
  * stale `.<name>.crc` sidecar, then renames over it, so no reader
  * checks new bytes against the old checksum. Durability is as with
  * Hadoop's local file system, which does not fsync either. Every
  * other `file:` operation goes to Spark's `FileSystem`-based manager.
  *
  * Any other scheme delegates every call to what Spark picks when no
  * manager class is configured. The constructor is the one Spark calls
  * by reflection for `spark.sql.streaming.checkpointFileManagerClass`;
  * [[RealtimeIngest]] sets that key. */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val fs = path.getFileSystem(conf)
  private val local = fs.makeQualified(path).toUri.getScheme == "file"

  private[graft] val delegate: CheckpointFileManager =
    if (local) new FileSystemBasedCheckpointFileManager(path, conf)
    else try new FileContextBasedCheckpointFileManager(path, conf)
    catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf) }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val dst = Paths.get(fs.makeQualified(p).toUri)
      Files.createDirectories(dst.getParent)
      new LocalCheckpointFileManager.AtomicFile(
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"), dst, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** Bytes go to `tmp`; `close()` publishes them at `dst`, `cancel()`
    * drops them. Either runs once. */
  private final class AtomicFile(tmp: NioPath, dst: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(dst, tmp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$dst already exists") }
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}
