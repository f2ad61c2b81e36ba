package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's checkpoint file manager for local checkpoints, over java.nio.
  * Without libhadoop, Hadoop's local file systems fork `chmod` for every
  * file they create and `readlink` for every `FileContext` rename, so the
  * stock managers start a process for nearly every file a micro-batch
  * checkpoints (offset and commit logs, state files and their checksum
  * files). Here nothing forks.
  *
  * `createAtomic` writes a hidden temp file beside its target and
  * publishes it on `close`: an atomic rename when overwriting, else a hard
  * link that fails with Hadoop's `FileAlreadyExistsException` if the
  * target exists (Spark turns that into its concurrent-writer error).
  * Reads, listings and deletes go through Hadoop's raw local file system.
  * Only `file` paths are served. */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  require(Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file",
    s"LocalCheckpointFileManager serves local file paths only, not $path")

  private val fs = FileSystem.getLocal(conf).getRaw

  private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  override def createAtomic(dst: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(dst)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    Files.createDirectories(target.getParent)
    new CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {
      private var finished = false

      override def close(): Unit = synchronized {
        if (!finished) {
          finished = true
          try {
            underlyingStream.close()
            if (overwriteIfPossible)
              Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            else
              try Files.createLink(target, tmp)
              catch { case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists")
              }
          } finally Files.deleteIfExists(tmp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!finished) {
          finished = true
          try underlyingStream.close() catch { case NonFatal(_) => () }
          finally Files.deleteIfExists(tmp)
        }
      }
    }
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    try fs.listStatus(p, filter)
    catch { case _: FileNotFoundException => Array.empty }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  override def delete(p: Path): Unit = fs.delete(p, true)

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    mkdirs(path)
    fs.makeQualified(path)
  }
}
