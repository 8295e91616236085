package graft.streaming

import java.io.ByteArrayOutputStream
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFileManager]] keeps the on-disk contract of Spark's
  * default manager — `.crc` sidecars written and checked, the default's
  * file and directory modes, temp file plus rename — and hands any
  * scheme but `file:` to the default. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def newRoot(): JPath = Files.createTempDirectory("graft-cfm-")

  private def write(fm: CheckpointFileManager, p: Path, body: String,
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try {
      val buf = new ByteArrayOutputStream()
      in.transferTo(buf)
      buf.toString("UTF-8")
    } finally in.close()
  }

  private def mode(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(p))

  private def names(dir: JPath): Set[String] =
    scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)

  test("a file: path writes .crc sidecars with the default manager's modes") {
    val root = newRoot()
    val ours = new LocalCheckpointFileManager(new Path(root.toUri), conf)
    assert(ours.delegate.isLocal)
    val default = CheckpointFileManager.create(new Path(root.toUri), conf)
    assert(default.isInstanceOf[FileContextBasedCheckpointFileManager])
    for ((fm, side) <- Seq(ours -> "ours", default -> "default")) {
      val dir = new Path(root.resolve(s"$side/state/0/0").toUri)
      fm.mkdirs(dir)
      write(fm, new Path(dir, "1.delta"), s"delta of $side")
      assert(read(fm, new Path(dir, "1.delta")) == s"delta of $side")
    }
    val ourDir = root.resolve("ours/state/0/0")
    val defDir = root.resolve("default/state/0/0")
    assert(names(ourDir) == Set("1.delta", ".1.delta.crc"))
    assert(names(defDir) == Set("1.delta", ".1.delta.crc"))
    for (rel <- Seq("", "state", "state/0/0", "state/0/0/1.delta",
                    "state/0/0/.1.delta.crc"))
      assert(mode(root.resolve(s"ours/$rel")) == mode(root.resolve(s"default/$rel")),
        s"mode of '$rel'")
  }

  test("a corrupted file fails its checksum on read") {
    val root = newRoot()
    val ours = new LocalCheckpointFileManager(new Path(root.toUri), conf)
    val default = CheckpointFileManager.create(new Path(root.toUri), conf)
    def corrupt(fm: CheckpointFileManager, name: String): Path = {
      val p = new Path(root.resolve(name).toUri)
      write(fm, p, "key=value;" * 20)
      val bytes = Files.readAllBytes(root.resolve(name))
      bytes(5) = (bytes(5) ^ 0x1).toByte
      Files.write(root.resolve(name), bytes)
      p
    }
    val ourFile = corrupt(ours, "ours.delta")
    intercept[ChecksumException](read(ours, ourFile))
    // Spark's default manager writes its sidecar too, but does not check
    // it on read: the same corruption comes back as data
    val defFile = corrupt(default, "default.delta")
    assert(read(default, defFile) != "key=value;" * 20)
  }

  test("cancel() leaves no file; a second atomic create without overwrite fails") {
    val root = newRoot()
    val ours = new LocalCheckpointFileManager(new Path(root.toUri), conf)
    val p = new Path(root.resolve("0").toUri)
    val out = ours.createAtomic(p, overwriteIfPossible = false)
    out.write(Array[Byte](1, 2, 3))
    out.cancel()
    assert(names(root).isEmpty)

    write(ours, p, "first")
    intercept[FileAlreadyExistsException](write(ours, p, "second"))
    assert(read(ours, p) == "first")
    write(ours, p, "third", overwrite = true)
    assert(read(ours, p) == "third")
  }

  test("any scheme but file: gets Spark's default manager") {
    val c = new Configuration(conf)
    c.set("fs.graftmock.impl", classOf[LocalCheckpointFileManagerSpec.MockFs].getName)
    c.setBoolean("fs.graftmock.impl.disable.cache", true)
    val p = new Path("graftmock:///ckpt")
    val ours = new LocalCheckpointFileManager(p, c)
    // the mock scheme has no FileContext binding, so the default falls
    // back to the FileSystem-based manager over the mock filesystem
    assert(CheckpointFileManager.create(p, c).getClass ==
      classOf[FileSystemBasedCheckpointFileManager])
    assert(ours.delegate.getClass == classOf[FileSystemBasedCheckpointFileManager])
  }
}

object LocalCheckpointFileManagerSpec {
  /** A filesystem under a scheme other than `file:`. */
  class MockFs extends RawLocalFileSystem {
    override def getScheme: String = "graftmock"
    override def getUri: URI = URI.create("graftmock:///")
  }
}
