package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

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
  *  2. DRAIN every leg, in leg order; a failure passes through. Each
  *     leg runs under `Trigger.AvailableNow`: it reads the input
  *     available at its start, runs every batch (no-data batches
  *     included) and then stops itself, so draining is waiting for it
  *     to end.
  *  3. RETURN each memory-sink leg's result detached (`localCheckpoint`)
  *     and each keyed leg's table. The memory sink's rows are otherwise
  *     pinned by both its temp view and the manager's terminated-query
  *     list, so returning the live table would keep every result on the
  *     heap for the session's lifetime (observed: up to 60× slowdowns
  *     for late queries in a long bench suite). Detached rows are
  *     ordinary RDD blocks the ContextCleaner frees once the caller
  *     drops the frame. A keyed leg upserts each micro-batch into a
  *     [[SnapshotStore]] over the leg's columns, every one nullable,
  *     keyed by the tuple of its key columns: each key's row is the
  *     latest one, the result table of update output mode. Its key
  *     columns are checked before any leg starts.
  *  4. CLEAN UP in `finally`, also when a leg's `start()` threw: stop
  *     every query still active, drop its temp view, clear the
  *     terminated-query registry, delete every checkpoint. Each step is
  *     best-effort, so one failing step neither skips the rest nor
  *     masks the original error. A drained leg has ended by itself and
  *     is not stopped: `stop()` cancels the query's job group twice
  *     whenever its thread is alive, as it still is for a moment after
  *     the query ends, and each cancel of a group with no running job
  *     logs a `Failed to cancel job group` warning. Only the jobs of
  *     its group still running are cancelled, and their tasks awaited.
  *
  * The runner creates and owns each leg's checkpoint: a throwaway
  * directory on shared memory when available, since finite runs need no
  * durable recovery. */
object FiniteStream {

  /** Where a leg's rows go. */
  sealed trait Sink
  /** The memory sink; [[drain]] returns its detached table. */
  case object Memory extends Sink
  /** Each micro-batch and its id go to `f` (an index append, a gate);
    * `f` must be replay-idempotent per batch id. */
  final case class Batches(f: (DataFrame, Long) => Unit) extends Sink
  /** Each micro-batch upserts a table keyed by the tuple of the `keys`
    * columns; [[drain]] returns that table. */
  final case class Keyed(keys: String*) extends Sink

  /** One stream of a [[drain]] run. */
  final case class Leg(df: DataFrame, mode: String,
                       statePartitions: Int = 8, sink: Sink = Memory)

  private val counter = new AtomicInteger(0)

  private final class Run(val leg: Leg) {
    val store: Option[SnapshotStore] = leg.sink match {
      case Keyed(keys @ _*) => Some(new SnapshotStore(
        StructType(leg.df.schema.map(_.copy(nullable = true))), keys))
      case _ => None
    }
    val name: String = s"stream_q_${counter.incrementAndGet()}"
    val ckpt: String = scratchDir("graft-sq-")
    var query: Option[StreamingQuery] = None
  }

  /** Run `legs` to the end of their input under the contract above.
    * Returns the detached table of every [[Memory]] leg and the table of
    * every [[Keyed]] leg, in leg order ([[Batches]] legs contribute
    * none). */
  def drain(legs: Leg*): Seq[DataFrame] = {
    require(legs.nonEmpty, "drain needs at least one leg")
    val s = legs.head.df.sparkSession
    val runs = ArrayBuffer.empty[Run]
    try {
      legs.foreach(leg => runs += new Run(leg))
      runs.foreach { r =>
        r.query = Some(graft.util.Confs.withShufflePartitions(
          s, r.leg.statePartitions)(start(r)))
      }
      runs.toSeq.flatMap { r =>
        r.query.get.awaitTermination()
        r.leg.sink match {
          case Memory => Some(s.table(r.name).localCheckpoint())
          case Keyed(_*) => r.store.map(_.df(s))
          case Batches(_) => None
        }
      }
    } finally {
      runs.foreach { r =>
        quietly(r.query.foreach(q =>
          if (q.isActive) q.stop() else cancelLeftoverJobs(q)))
        quietly(s.catalog.dropTempView(r.name))
      }
      quietly(s.streams.resetTerminated())
      runs.foreach(r => deleteRecursively(r.ckpt))
    }
  }

  private def start(r: Run): StreamingQuery = {
    val w = r.leg.df.writeStream.outputMode(r.leg.mode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", r.ckpt)
      .queryName(r.name)
    LocalCheckpointFileManager.start(r.leg.df.sparkSession) {
      r.leg.sink match {
        case Memory => w.format("memory").start()
        case Batches(f) => w.foreachBatch(f).start()
        case Keyed(_*) =>
          w.foreachBatch(r.store.get.upsert(_: DataFrame, _: Long)).start()
      }
    }
  }

  /** Cancels the jobs an ended query's batches left running, such as a
    * broadcast that a batch submitted and then did not wait for (they
    * run in the query's job group, its run id), and waits up to 10 s
    * for their tasks to end: a task is killed asynchronously and may
    * still be reading inputs the caller deletes once [[drain]] returns.
    * The wait reads the status tracker, which sees a job end before the
    * ends of its killed tasks. */
  private def cancelLeftoverJobs(q: StreamingQuery): Unit = {
    val sc = q.sparkSession.sparkContext
    val jobs = sc.statusTracker
    def running(id: Int): Boolean =
      jobs.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING)
    val left = jobs.getJobIdsForGroup(q.runId.toString).filter(running)
    left.foreach(sc.cancelJob)
    val stages = left.flatMap(jobs.getJobInfo(_).toSeq.flatMap(_.stageIds))
    def busy: Boolean = left.exists(running) ||
      stages.exists(jobs.getStageInfo(_).exists(_.numActiveTasks > 0))
    val deadline = System.nanoTime() + 10000000000L
    while (busy && System.nanoTime() < deadline) Thread.sleep(10L)
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
