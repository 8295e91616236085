package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** The checkpoint file manager of every stream the engine starts: the
  * offset and commit logs, source metadata and every state-store file.
  *
  * Without Hadoop's native library, Hadoop's local filesystem forks a
  * `chmod` process for every file and directory it creates, and Spark's
  * default `FileContext`-based manager forks a `readlink` process for
  * every rename. A micro-batch writes an offset entry, a commit entry
  * and a delta file per state store, each as a temp file plus a `.crc`
  * sidecar renamed into place, so those forks dominated the state
  * commit.
  *
  * For `file:` paths this manager keeps every property of the default
  * and drops the forks:
  *  - a Hadoop `LocalFileSystem` (a `ChecksumFileSystem`) writes `.crc`
  *    sidecars and checks them on read;
  *  - every file is written to a temp file and renamed into place;
  *  - permission bits are the same, set through `java.nio` instead of a
  *    forked `chmod`;
  *  - the rename is `FileSystem.rename`, as in Spark's
  *    `FileSystemBasedCheckpointFileManager`, not `FileContext.rename`.
  * Any other scheme gets Spark's default manager.
  *
  * Data files are out of scope: parquet written through Hadoop's cached
  * `file:` filesystem ([[FileChannel]], [[KeyedParquetSink]], results)
  * still forks a `chmod` per file and directory. The engine does not
  * override `fs.file.impl` for the whole JVM. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val underlying: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getScheme == "file")
      new LocalCheckpointFileManager.Local(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
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

  /** The manager serving this path (tests). */
  private[streaming] def delegate: CheckpointFileManager = underlying
}

object LocalCheckpointFileManager {

  private[streaming] val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Starts a streaming query under [[LocalCheckpointFileManager]].
    * `start` is the `writeStream…start()` call itself, on a frame built
    * by `spark`.
    *
    * The install rule: every `writeStream…start()` the engine makes runs
    * inside this helper. It pins `spark.sql.streaming.checkpointFileManagerClass`
    * on `spark` ([[graft.util.Confs]]) while the query starts and
    * initializes its sources, and not longer. The query clones the
    * session when it is built, so its offset and commit logs and its
    * state stores keep the manager for the query's whole life; its
    * sources' metadata logs (`sources/<n>`) are created by the query's
    * own thread with the session that built the frame, so the pin is
    * held until the query reports them initialized. The caller's
    * session is left as it was. The conf is not an option: nothing else
    * sets or reads it. */
  def start(spark: SparkSession)(start: => StreamingQuery): StreamingQuery =
    graft.util.Confs.withConf(spark, ConfKey,
        classOf[LocalCheckpointFileManager].getName) {
      // built with AQE off: Spark warns about it at start, and the query's
      // cloned session keeps it off (Spark forces that on stateful ones)
      val q = graft.util.Confs.withConf(spark, "spark.sql.adaptive.enabled", "false")(start)
      q match {
        case w: StreamingQueryWrapper =>
          // a query that dies initializing reports it itself; past the
          // bound, sources fall back to Spark's default manager
          try w.streamingQuery.awaitInitialization(SourceInitTimeoutMs)
          catch { case _: StreamingQueryException => () }
        case _ => ()
      }
      q
    }

  private val SourceInitTimeoutMs = 60000L

  private final class Local(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionFileSystem)
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  /** Hadoop's raw local filesystem, setting permissions with
    * `java.nio` instead of a forked `chmod`. Sticky bits, which
    * `java.nio` cannot set, take Hadoop's own path. */
  private final class NioPermissionFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // PosixFilePermission's order is the mode's bit order, 0400 first
        val bits = permission.toShort
        val perms = PosixFilePermission.values.zipWithIndex.collect {
          case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      }
  }
}
