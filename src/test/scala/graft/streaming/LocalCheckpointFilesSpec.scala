package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

class LocalCheckpointFilesSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def fresh(): (JPath, Path) = {
    val dir = Files.createTempDirectory("graft-ckpt-files")
    (dir, new Path(dir.toUri))
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("no overwrite onto an existing file throws Hadoop's " +
      "FileAlreadyExistsException and keeps its bytes and .crc") {
    val (dir, root) = fresh()
    val dst = new Path(root, "0")
    write(new FileContextBasedCheckpointFileManager(root, conf), dst, "old",
      overwrite = false)
    val crc = dir.resolve(".0.crc")
    assert(Files.exists(crc))
    val crcBytes = Files.readAllBytes(crc)

    val out = new LocalCheckpointFiles(root, conf).createAtomic(dst, false)
    out.write("new".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // as HDFSMetadataLog.write does after the exception
    assert(Files.readString(dir.resolve("0")) === "old")
    assert(Files.readAllBytes(crc).toSeq === crcBytes.toSeq)
    assert(names(dir) === Set("0", ".0.crc"))
  }

  test("overwrite replaces a file Spark's default manager wrote, and that " +
      "manager reads the new bytes back") {
    val (dir, root) = fresh()
    val dst = new Path(root, "1.delta")
    val spark = new FileContextBasedCheckpointFileManager(root, conf)
    write(spark, dst, "written by Spark's manager", overwrite = false)
    assert(Files.exists(dir.resolve(".1.delta.crc")))

    write(new LocalCheckpointFiles(root, conf), dst, "replaced",
      overwrite = true)
    assert(read(spark, dst) === "replaced")
    assert(names(dir) === Set("1.delta"))
    // the temp file took the umask's permissions, not createTempFile's 0600
    val plain = Files.createFile(dir.resolve("plain"))
    assert(Files.getPosixFilePermissions(dir.resolve("1.delta")) ===
      Files.getPosixFilePermissions(plain))
  }

  test("cancel() leaves neither the destination nor the temp file") {
    val (dir, root) = fresh()
    val out = new LocalCheckpointFiles(root, conf)
      .createAtomic(new Path(root, "2"), false)
    out.write("half".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel
    assert(names(dir).isEmpty)
  }

  test("nothing but a hidden temp file is visible before close()") {
    val (dir, root) = fresh()
    val fm = new LocalCheckpointFiles(root, conf)
    val dst = new Path(root, "3")
    val out = fm.createAtomic(dst, false)
    out.write("pending".getBytes(UTF_8))
    assert(!fm.exists(dst))
    val listed = fm.list(root).map(_.getPath.getName).toSeq
    assert(listed.size === 1 && listed.head.matches("""\.3\.[-0-9a-f]+\.tmp"""),
      listed)
    out.close()
    assert(fm.exists(dst) && read(fm, dst) === "pending")
    assert(fm.list(root).map(_.getPath.getName).toSeq === Seq("3"))
    assert(names(dir) === Set("3"))
  }

  test("a non-local scheme goes to the manager Spark would choose: with no " +
      "AbstractFileSystem, the FileSystem-based one") {
    val (dir, _) = fresh()
    val wconf = new Configuration(conf)
    wconf.set(s"fs.${WrappedLocalFs.Scheme}.impl",
      classOf[WrappedLocalFs].getName)
    val root = new Path(s"${WrappedLocalFs.Scheme}://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFiles(root, wconf)
    val dst = new Path(root, "4")
    write(fm, dst, "through Hadoop", overwrite = false)
    assert(read(fm, dst) === "through Hadoop")
    // Spark's manager wrote its own temp file and renamed it into place
    val renamed = WrappedLocalFs.renames.asScala.toSeq
      .filter(_._2.getName == "4")
    assert(renamed.size === 1 &&
      renamed.head._1.getName.matches("""\.4\.[-0-9a-f]+\.tmp"""), renamed)
    assert(Files.readString(dir.resolve("4")) === "through Hadoop")
  }
}

/** The local file system under another scheme, recording its renames: a
  * file system Hadoop does not resolve to `LocalFileSystem`, and one
  * without an `AbstractFileSystem`, so `FileContext` refuses it. */
class WrappedLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${WrappedLocalFs.Scheme}:///")
  override def getScheme: String = WrappedLocalFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    WrappedLocalFs.renames.add(src -> dst)
    super.rename(src, dst)
  }
}

object WrappedLocalFs {
  val Scheme = "graftwrapped"
  val renames = new ConcurrentLinkedQueue[(Path, Path)]()
}
