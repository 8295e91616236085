package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The one runner for FINITE Structured Streaming queries: streams over
  * fixed input that start, drain everything available, and stop, so
  * their result must equal the batch oracle. (The long-running
  * deployment queries — [[Pipeline]], [[QueryControl]],
  * [[BulkUpsertSink]] — never drain and do not come through here.)
  *
  * The contract of [[drain]], for one or more [[Leg]]s:
  *  1. START every leg before draining any, so independent legs overlap
  *     their per-stream fixed costs (source listing, micro-batch
  *     planning, state commits) instead of serializing. Each leg starts
  *     with `spark.sql.shuffle.partitions` pinned to its state-partition
  *     count (stream confs are captured at start): every state partition
  *     writes a store snapshot per micro-batch, so small finite inputs
  *     want few. Each start goes through
  *     [[LocalCheckpointFileManager.start]].
  *  2. DRAIN every leg, in leg order; a failure passes through.
  *  3. DETACH each memory-sink leg's result eagerly (`localCheckpoint`).
  *     The sink's rows are otherwise pinned by both its temp view and the
  *     manager's terminated-query list, so returning the live table
  *     would keep every result on the heap for the session's
  *     lifetime (observed: up to 60× slowdowns for late queries in a
  *     long bench suite). Detached rows are ordinary RDD blocks the
  *     ContextCleaner frees once the caller drops the frame.
  *  4. CLEAN UP in `finally`, also when a leg's `start()` threw: stop
  *     every query, drop its temp view, clear the terminated-query
  *     registry, delete every checkpoint. Each step is best-effort, so
  *     one failing step neither skips the rest nor masks the original
  *     error.
  *
  * The runner creates and owns each leg's checkpoint: a throwaway
  * directory on shared memory when available, since finite runs need no
  * durable recovery. */
object FiniteStream {

  /** Where a leg's rows go. */
  sealed trait Sink
  /** The memory sink; [[drain]] returns its detached table. */
  case object Memory extends Sink
  /** Each micro-batch and its id go to `f` (a keyed upsert, an index
    * append); `f` must be replay-idempotent per batch id. */
  final case class Batches(f: (DataFrame, Long) => Unit) extends Sink

  /** One stream of a [[drain]] run. */
  final case class Leg(df: DataFrame, mode: String,
                       statePartitions: Int = 8, sink: Sink = Memory)

  private val counter = new AtomicInteger(0)

  private final class Run(val leg: Leg) {
    val name: String = s"stream_q_${counter.incrementAndGet()}"
    val ckpt: String = scratchDir("graft-sq-")
    var query: Option[StreamingQuery] = None
  }

  /** Run `legs` to the end of their input under the contract above.
    * Returns the detached table of every [[Memory]] leg, in leg order
    * ([[Batches]] legs contribute none). */
  def drain(legs: Leg*): Seq[DataFrame] = {
    require(legs.nonEmpty, "drain needs at least one leg")
    val s = legs.head.df.sparkSession
    val runs = ArrayBuffer.empty[Run]
    try {
      legs.foreach { leg =>
        val r = new Run(leg)
        runs += r
        r.query = Some(graft.util.Confs.withShufflePartitions(
          s, leg.statePartitions)(start(r)))
      }
      runs.toSeq.flatMap { r =>
        r.query.get.processAllAvailable()
        r.leg.sink match {
          case Memory => Some(s.table(r.name).localCheckpoint())
          case Batches(_) => None
        }
      }
    } finally {
      runs.foreach { r =>
        quietly(r.query.foreach(_.stop()))
        quietly(s.catalog.dropTempView(r.name))
      }
      quietly(s.streams.resetTerminated())
      runs.foreach(r => deleteRecursively(r.ckpt))
    }
  }

  private def start(r: Run): StreamingQuery = {
    val w = r.leg.df.writeStream.outputMode(r.leg.mode)
      .option("checkpointLocation", r.ckpt)
      .queryName(r.name)
    LocalCheckpointFileManager.start(r.leg.df.sparkSession) {
      r.leg.sink match {
        case Memory => w.format("memory").start()
        case Batches(f) => w.foreachBatch(f).start()
      }
    }
  }

  private def quietly(step: => Unit): Unit =
    try step catch { case NonFatal(_) => () }

  /** Parent of every scratch directory: shared memory when writable. */
  private[graft] val scratchRoot: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) shm
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Throwaway scratch directory under [[scratchRoot]]. */
  private[graft] def scratchDir(prefix: String): String =
    Files.createTempDirectory(scratchRoot, prefix).toString

  private[graft] def deleteRecursively(path: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = Paths.get(path)
      if (Files.exists(root)) {
        Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      }
    } catch { case _: Throwable => () } // best-effort cleanup
}
