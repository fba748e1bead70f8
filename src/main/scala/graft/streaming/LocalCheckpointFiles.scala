package graft.streaming

import java.io.BufferedOutputStream
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path => JPath, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, LocalFileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint's file manager (`GraftFunctions.register`
  * names it in `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Without native Hadoop, the local file system behind Spark's default
  * manager forks a shell for every permission set and link-status probe,
  * so each atomic checkpoint write costs ~36 ms. On a path Hadoop
  * resolves to its local file system, [[createAtomic]] writes through
  * java.nio instead: a hidden `.<name>.<uuid>.tmp` file in the
  * destination's directory (a name Spark's log filters and state-store
  * parser skip), fsynced and published in one atomic step on `close()`.
  * Every other call, and every non-local path, goes to the manager Spark
  * would choose itself.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val spark: CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch { case _: UnsupportedFileSystemException =>
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = p.getFileSystem(hadoopConf) match {
    case fs: LocalFileSystem =>
      LocalCheckpointFiles.atomicWrite(fs.pathToFile(p).toPath,
        overwriteIfPossible)
    case _ => spark.createAtomic(p, overwriteIfPossible)
  }

  override def open(p: Path) = spark.open(p)
  override def list(p: Path, filter: PathFilter) = spark.list(p, filter)
  override def mkdirs(p: Path): Unit = spark.mkdirs(p)
  override def exists(p: Path): Boolean = spark.exists(p)
  override def delete(p: Path): Unit = spark.delete(p)
  override def isLocal: Boolean = spark.isLocal
  override def createCheckpointDirectory(): Path =
    spark.createCheckpointDirectory()
  override def close(): Unit = spark.close()
}

object LocalCheckpointFiles {

  /** Writes `dst` atomically: without `overwrite` a hard link publishes
    * the file and throws Hadoop's `FileAlreadyExistsException` if `dst`
    * exists (leaving it and its `.crc` untouched); with it, the stale
    * `.crc` goes first, so Hadoop's checksummed reader does not check the
    * new bytes against the old checksum, and an atomic move replaces
    * `dst`. `cancel()` leaves neither `dst` nor the temp file. */
  private def atomicWrite(dst: JPath, overwrite: Boolean)
      : CancellableFSDataOutputStream = {
    val dir = dst.getParent
    val name = dst.getFileName.toString
    val tmp = dir.resolve(s".$name.${UUID.randomUUID()}.tmp")
    // CREATE_NEW, not createTempFile: umask permissions, as Hadoop's files
    val ch = FileChannel.open(tmp, StandardOpenOption.CREATE_NEW,
      StandardOpenOption.WRITE)
    new CancellableFSDataOutputStream(
        new BufferedOutputStream(Channels.newOutputStream(ch))) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            underlyingStream.flush()
            ch.force(true)
            underlyingStream.close()
            if (overwrite) {
              Files.deleteIfExists(dir.resolve(s".$name.crc"))
              Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            } else {
              try Files.createLink(dst, tmp)
              catch { case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists")
              }
            }
          } finally {
            ch.close()
            Files.deleteIfExists(tmp)
          }
        }
      }

      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try ch.close() finally Files.deleteIfExists(tmp)
        }
      }
    }
  }
}
