package graft.streaming

import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.pipeline.SinkFiles

/** The engine's streaming checkpoint writer, registered by
  * `Engine.session` under `spark.sql.streaming.checkpointFileManagerClass`,
  * so it writes the driver's offset, commit, source and metadata logs and
  * the executors' state-store files.
  *
  * On Hadoop's `LocalFileSystem` it changes two things. `createAtomic`
  * writes a hidden temp file (`.<name>.<uuid>.tmp`, Spark's shape) with
  * the engine's one fork-free local write ([[SinkFiles.createLocal]]) and
  * publishes it on `close`. Without `overwriteIfPossible` the publish is
  * a no-clobber hard link (the filesystem must allow hard links, as POSIX
  * ones do): an existing target still fails with Hadoop's
  * `FileAlreadyExistsException`, so `HDFSMetadataLog` still reports two
  * queries sharing one checkpoint. With it (state-store files) the
  * publish is an atomic move that first deletes a stale `.<name>.crc`,
  * against which Hadoop's checksummed `LocalFileSystem` would verify the
  * new bytes and fail. `mkdirs` is `Files.createDirectories`. Spark's
  * `FileContext` path for the same steps sets a permission per file and
  * per directory, and without libhadoop each set forks a `chmod`: a
  * `createAtomic` cost 36-40 ms, and a micro-batch writes three
  * (`plans/pr10/`).
  *
  * Every other step, and every other filesystem, goes to the manager
  * Spark's own factory picks without this class: `FileContext`-based,
  * or `FileSystem`-based for a scheme with no `FileContext` binding.
  * Files this class writes carry no `.crc`, which Hadoop's checksummed
  * filesystems read without verification, so a checkpoint moves between
  * the two managers in either direction.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val local: Option[LocalFileSystem] = path.getFileSystem(hadoopConf) match {
    case l: LocalFileSystem => Some(l)
    case _ => None
  }

  private[graft] val base: CheckpointFileManager =
    if (local.isDefined) new FileContextBasedCheckpointFileManager(path, hadoopConf)
    else {
      val c = new Configuration(hadoopConf)
      c.unset(ClassKey)
      CheckpointFileManager.create(path, c)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = local match {
    case Some(l) =>
      val target = l.pathToFile(p).toPath
      new LocalAtomicStream(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    case None => base.createAtomic(p, overwriteIfPossible)
  }

  override def mkdirs(p: Path): Unit = local match {
    case Some(l) => Files.createDirectories(l.pathToFile(p).toPath)
    case None => base.mkdirs(p)
  }

  override def open(p: Path): FSDataInputStream = base.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = base.list(p, filter)
  override def exists(p: Path): Boolean = base.exists(p)
  override def delete(p: Path): Unit = base.delete(p)
  override def isLocal: Boolean = base.isLocal
  override def createCheckpointDirectory(): Path = base.createCheckpointDirectory()
  override def close(): Unit = base.close()
}

object LocalCheckpointFileManager {

  /** The session key Spark resolves its checkpoint manager from. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Writes `temp`; `close` publishes it as `target`, `cancel` drops it.
    * Either way no temp file outlives the stream.
    */
  private final class LocalAtomicStream(target: java.nio.file.Path,
      temp: java.nio.file.Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(SinkFiles.createLocal(temp)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else
            try Files.createLink(target, temp)
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(
                  s"$target already exists: ${e.getMessage}")
            }
        } finally Files.deleteIfExists(temp)
      }
    }

    // Best-effort, as Spark's: a cancel runs while a failure unwinds.
    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try try underlyingStream.close() finally Files.deleteIfExists(temp)
        catch { case NonFatal(_) => () }
      }
    }
  }
}
