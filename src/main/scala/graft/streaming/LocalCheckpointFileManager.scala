package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files (offsets log, commit log, the file sink's
  * `_spark_metadata` log, state-store files) for `file:` paths, written
  * without launching a child process. Set for every session by
  * [[graft.Sessions.builder]] (`spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Spark's default writer goes through Hadoop's `FileContext`. Without the
  * Hadoop native library, that runs `chmod` for every file it creates and
  * `readlink` about 8 times per rename: some 30 child processes per
  * micro-batch, all on the stream execution thread, about 25 ms for each
  * of the three logs a syslog→parquet batch writes.
  *
  * Here the temp file is written with java.nio and published by
  *  - no overwrite: a hard link to the final name, which fails if that
  *    name exists — Hadoop's `FileAlreadyExistsException`, the signal
  *    `HDFSMetadataLog` takes for two queries writing one checkpoint;
  *  - overwrite: an atomic rename, after deleting a stale `.name.crc`
  *    sibling that would no longer match.
  * Reads, listings, existence checks and deletes go through Hadoop's
  * `LocalFileSystem`, which hides and verifies the `.crc` files of
  * checkpoints written by the default writer and runs no external command
  * for these calls. Nothing is fsynced, as with the default writer.
  * Paths of any other scheme go to Spark's `FileContextBasedCheckpointFileManager`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalFiles(path, FileSystem.getLocal(hadoopConf))
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

/** The `file:` half of [[LocalCheckpointFileManager]]. */
private final class LocalFiles(path: Path, fs: LocalFileSystem)
    extends CheckpointFileManager {

  private def file(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = {
    val target = file(p)
    // the default writer's temp name: hidden, so no log lists it as a batch
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
    Files.createDirectories(target.getParent) // as Spark's FileSystem-based writer does
    val out = new BufferedOutputStream(
      Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW))
    new CancellableFSDataOutputStream(out) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            underlyingStream.close()
            if (overwriteIfPossible) {
              Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
              Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
            } else
              try Files.createLink(target, temp)
              catch {
                case e: java.nio.file.FileAlreadyExistsException =>
                  val fae = new FileAlreadyExistsException(s"$p already exists")
                  fae.initCause(e)
                  throw fae
              }
          } finally Files.deleteIfExists(temp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try underlyingStream.close() finally Files.deleteIfExists(temp)
        }
      }
    }
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fs.listStatus(p, filter)
  override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
  override def exists(p: Path): Boolean = fs.exists(p)
  override def delete(p: Path): Unit = fs.delete(p, true)
  override def isLocal: Boolean = true
  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(path)
    mkdirs(qualified)
    qualified
  }
}
