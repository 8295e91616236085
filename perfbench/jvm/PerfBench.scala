package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.{BulkDoc, BulkEndpoint, BulkUpsertSink, FakeKafka, KafkaChangeFeed, Pipeline}

/** JVM half of the benchmark: drives the engine's public entry points
  * and writes raw observations (times, progress events, endpoint
  * arrivals, spans) as files into the work directory. All statistics
  * and correctness checks live in the Python half of the benchmark.
  *
  * Usage: `PerfBench <pipeline|catalog> <conf-file>`; the conf file
  * holds `key=value` lines written by `perfbench/run.py`. */
object PerfBench {

  // ---- one clock: milliseconds since JVM start of the benchmark ----
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - t0Nanos) / 1e6

  /** CPU time the program's own threads have used, in ms, summed over
    * every Java thread seen so far. JIT-compiler and GC threads are not
    * Java threads, so their catch-up work after a warm-up does not count.
    * A sampler refreshes the per-thread readings every 50 ms, so a thread
    * that ends between two readings loses at most its last 50 ms. */
  object Cpu {
    private val mx = ManagementFactory.getThreadMXBean
    private val seen = new java.util.HashMap[java.lang.Long, java.lang.Long]
    @volatile private var samplerId = -1L
    def ms: Double = synchronized {
      mx.getAllThreadIds.foreach { id =>
        if (id != samplerId) {
          val t = mx.getThreadCpuTime(id)
          if (t > 0) {
            val old = seen.get(id)
            if (old == null || t > old) seen.put(id, t)
          }
        }
      }
      var sum = 0L
      val it = seen.values.iterator
      while (it.hasNext) sum += it.next()
      sum / 1e6
    }
    def startSampler(): Unit = {
      val t = new Thread("perfbench-cpu-sampler") {
        setDaemon(true)
        override def run(): Unit = while (true) { ms; Thread.sleep(50) }
      }
      samplerId = t.getId
      t.start()
    }
  }

  // ---- spans: kept in memory, written once at the end ----
  final case class Span(id: Long, name: String, start: Double, end: Double,
                        parent: Long, run: String)
  @volatile var tracing = false
  private val spanIds = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]
  def span[T](name: String, parent: Long, run: String)(body: Long => T): T = {
    val id = spanIds.incrementAndGet()
    val s = now
    try body(id)
    finally if (tracing) spans.add(Span(id, name, s, now, parent, run))
  }

  // ---- heap: what stays live after a full collection ----
  /** The least of three samples, so that a micro-batch in flight during
    * one sample does not count as retained heap. */
  private def heapLiveMb: Double = (1 to 3).map { _ =>
    // the second collection also reclaims what the ContextCleaner released
    // in reaction to the first
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  // ---- streaming progress, from the public listener ----
  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(Double, String)]
    val started = new AtomicInteger
    val terminated = new AtomicInteger
    /** highest end offset each named query committed from its FakeKafka source */
    val committed = new ConcurrentHashMap[String, java.lang.Long]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      started.incrementAndGet(); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.add((now, p.json))
      p.sources.find(s => s.description.contains("FakeKafka") && s.endOffset != null)
        .foreach { s =>
          committed.merge(p.name, s.endOffset.trim.toLong, (a, b) => math.max(a, b))
        }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminated.incrementAndGet(); ()
    }
    /** Wait until every started query's termination event arrived. */
    def awaitQuiet(timeoutMs: Long = 10000): Unit = {
      val end = System.currentTimeMillis() + timeoutMs
      while (terminated.get < started.get && System.currentTimeMillis() < end)
        Thread.sleep(2)
    }
  }

  // ---- job/task counters keyed by the `perfbench.tag` local property ----
  final class TaskLog extends SparkListener {
    private val stageTag = new ConcurrentHashMap[Int, String]
    private val jobTag = new ConcurrentHashMap[Int, String]
    /** tag -> Array(jobs, tasks, shuffleWriteBytes, spillBytes) */
    val counters = new ConcurrentHashMap[String, Array[Long]]
    @volatile var fenceSeen = false
    private def add(tag: String, i: Int, v: Long): Unit = {
      val a = counters.computeIfAbsent(tag, _ => new Array[Long](4))
      a.synchronized { a(i) += v }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .getOrElse("untagged")
      jobTag.put(e.jobId, tag)
      e.stageIds.foreach(s => stageTag.put(s, tag))
      add(tag, 0, 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobTag.get(e.jobId) == FenceTag) fenceSeen = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = Option(stageTag.get(e.stageId)).getOrElse("untagged")
      add(tag, 1, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(tag, 2, m.shuffleWriteMetrics.bytesWritten)
        add(tag, 3, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  val TagKey = "perfbench.tag"
  val FenceTag = "fence"

  // ---- the bench-owned ES analog: stamps each document's arrival ----
  final case class Doc(version: Long, json: String, firstMs: Double)
  object Endpoint {
    val docs = new ConcurrentHashMap[String, Doc]
    val calls = new ConcurrentLinkedQueue[(Double, Double, Int)]
  }
  final class StampingEndpoint extends BulkEndpoint {
    override def bulk(partitionId: Int, it: Iterator[BulkDoc]): Unit = {
      val start = now
      var n = 0
      it.foreach { d =>
        n += 1
        val t = now
        Endpoint.docs.compute(d.id, (_, old) =>
          // external_gte: a newer or equal version replaces the document
          if (old == null) Doc(d.version, d.json, t)
          else if (d.version >= old.version) Doc(d.version, d.json, old.firstMs)
          else old)
      }
      val end = now
      Endpoint.calls.add((start, end, n))
      if (tracing) spans.add(Span(spanIds.incrementAndGet(), "sink.bulk", start, end, 0, "pipeline"))
    }
  }

  // ---- plumbing ----
  private def readConf(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap

  private def tsv(fields: Any*): String = fields.map {
    case null => "\\N"
    case s: String => s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }.mkString("\t")

  private def write(dir: Path, name: String, lines: Iterable[String]): Unit = {
    Files.write(dir.resolve(name), (lines.mkString("\n") + "\n").getBytes(UTF_8)); ()
  }

  private def buildSession(conf: Map[String, String]): SparkSession = {
    val cpus = conf("cpus")
    val work = conf("work")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // the status store keeps finished jobs/stages/tasks for the (disabled)
      // UI; keep few, so live heap tracks the engine, not the job count
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "20")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Box-drift probes, as in graft.Bench but full-result: the catalog's
    * q1 materialized, and a scan-free arithmetic fold. Min of 3 each. */
  private def calibrate(spark: SparkSession, fixtures: String): Seq[String] = {
    def min3(body: => Unit): Double = (1 to 3).map { _ =>
      val t = now; body; (now - t) / 1000
    }.min
    val q1 = graft.SparkEntry.queries.get("q1_pricing_summary").map { fn =>
      min3(fn(spark, fixtures).queryExecution.toRdd.foreach(_ => ()))
    }.getOrElse(Double.NaN)
    val cpu = min3(spark.range(0, 1L << 20, 1, 4)
      .selectExpr("aggregate(sequence(0, 63), id, " +
        "(acc, x) -> (acc * 48271L + x) % 2147483647L) AS h")
      .selectExpr("sum(h)").collect())
    Seq(tsv("calib.q1_s", q1), tsv("calib.cpu_s", cpu))
  }

  def main(args: Array[String]): Unit = {
    val conf = readConf(args(1))
    tracing = conf.getOrElse("trace", "0") == "1"
    Cpu.startSampler()
    val out = Paths.get(conf("work"))
    args(0) match {
      case "pipeline" => runPipeline(conf, out)
      case "catalog" => runCatalog(conf, out)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  // ======================= pipeline workloads =======================

  /** One generated record; `value == null` is a Kafka tombstone;
    * `expect` marks an order whose shipment falls inside the join band. */
  final case class Rec(topic: String, key: String, value: String, dueMs: Double,
                       expect: Boolean)

  private def readSchedule(path: String): Seq[Rec] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Rec(f(0), f(1), if (f(2) == "\\N") null else f(2), f(3).toDouble, f(4) == "1")
    }

  /** Produces records on their due times from one thread (open loop) and
    * logs (topic, offset, key, due, produced) per record. */
  final class Generator(recs: Seq[Rec], topicPrefix: String, origin: Double)
      extends Thread("perfbench-generator") {
    val log = new ConcurrentLinkedQueue[String]
    setDaemon(true)
    override def run(): Unit = {
      var i = 0
      while (i < recs.size) {
        val due = origin + recs(i).dueMs
        val wait = due - now
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        if (now >= due) {
          // every record already due goes out in this tick, one produce per topic
          val tickStart = now
          var j = i
          while (j < recs.size && origin + recs(j).dueMs <= tickStart) j += 1
          val slice = recs.slice(i, j)
          val byTopic = slice.groupBy(_.topic)
          slice.map(_.topic).distinct.map(t => t -> byTopic(t)).foreach { case (t, rs) =>
            val topic = topicPrefix + t
            val base = FakeKafka.endOffset(topic)
            FakeKafka.produce(topic, rs.map(r => r.key -> r.value): _*)
            val at = now
            rs.zipWithIndex.foreach { case (r, k) =>
              log.add(tsv(t, base + k, r.key, origin + r.dueMs, at))
            }
          }
          if (tracing) spans.add(Span(spanIds.incrementAndGet(), "ingress.tick",
            tickStart, now, 0, "pipeline"))
          i = j
        }
      }
    }
  }

  private def runPipeline(conf: Map[String, String], out: Path): Unit = {
    val spark = buildSession(conf)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val calib = if (tracing) calibrate(spark, conf("fixtures")) else Nil
    val work = conf("work")
    val backlog = readSchedule(conf("backlog_schedule"))
    val steady = readSchedule(conf("steady_schedule"))
    val setupReps = conf("setup_reps").toInt
    val drainTimeoutMs = conf("drain_timeout_s").toDouble * 1000
    val run = conf("run_id")
    val es = new BulkUpsertSink("order_id", new StampingEndpoint,
      orderCol = Some("__s_offset"))

    def start(prefix: String, ckpt: String): Pipeline = {
      def feed(t: String) = KafkaChangeFeed.df(spark, "embedded:9092", prefix + t,
        startingOffsets = "earliest", format = "fakekafka")
      // The customer table is the in-memory store, the engine's own choice
      // for a dimension that fits in memory (1,500 rows here). The durable
      // store prunes snapshot versions that a running enriched_orders
      // batch may still be reading (FAILED_READ_FILE.FILE_NOT_EXIST), so a
      // run on it fails at random; see perfbench/README.md.
      new Pipeline(spark, ckpt, durableDimension = false,
        sources = Some(Pipeline.Sources(feed("customers"), feed("orders"), feed("shipments"))),
        extraShippedSink = Some(es.forEachBatch))
    }
    var live: Pipeline = null
    var prefix = ""
    var liveCkpt = ""
    // what a supervisor does when a query dies: log the error, restart the
    // pipeline from its checkpoints, and count the restart
    val restarts = scala.collection.mutable.ArrayBuffer.empty[String]
    def supervise(): Unit = if (live != null) {
      val dead = live.queryHandles.toSeq.flatMap { case (n, q) => q.exception.map(n -> _) }
      if (dead.nonEmpty) {
        dead.foreach { case (n, e) =>
          restarts += tsv(now, n, String.valueOf(e.getMessage).linesIterator.next().take(300))
        }
        live.stop(); progress.awaitQuiet(); spark.streams.resetTerminated()
        live = start(prefix, liveCkpt)
      }
    }
    def waitFor(deadline: Double)(done: => Boolean): Boolean = {
      while (!done && now < deadline) { supervise(); Thread.sleep(5) }
      done
    }
    def expectedIds(rs: Seq[Rec]): Seq[String] = rs.filter(_.expect).map(_.key)

    // ---- set-up: start the pipeline until all three queries poll for data ----
    def polling(p: Pipeline): Boolean = p.queryHandles.values.forall(q =>
      q.lastProgress != null || q.status.message == "Waiting for data to arrive")
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (rep <- 0 until setupReps) {
      prefix = s"pb_${run}_${rep}_"
      liveCkpt = s"$work/ckpt/$rep"
      val t = now
      live = span("setup", 0, run) { _ =>
        val p = start(prefix, liveCkpt)
        if (!waitFor(now + drainTimeoutMs)(polling(p)))
          throw new IllegalStateException(s"set-up rep $rep: the queries never started polling")
        p
      }
      setupTimes += (now - t) / 1000
      if (rep < setupReps - 1) { live.stop(); progress.awaitQuiet() }
    }
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    // every query has committed everything sent to the topic it reads
    def caughtUp: Boolean = Seq("customers_by_key" -> "customers",
      "enriched_orders" -> "orders", "shipped_orders" -> "shipments").forall { case (q, t) =>
      Option(progress.committed.get(q)).exists(_ >= FakeKafka.endOffset(prefix + t))
    }

    // ---- phase 1: snapshot backlog, everything due at once ----
    val b0 = now
    val bGen = new Generator(backlog, prefix, b0)
    span("backlog", 0, run) { _ =>
      bGen.start(); bGen.join()
      val want = expectedIds(backlog)
      waitFor(b0 + drainTimeoutMs)(
        want.forall(Endpoint.docs.containsKey) && caughtUp)
    }
    phases += tsv("backlog", b0, now)
    // live heap with the snapshot loaded: dimension, join state, sink
    // snapshot; taken between phases so the full GC stalls no timed window
    val heap = heapLiveMb

    // ---- phase 2: open-loop steady stream ----
    val c0 = Cpu.ms
    val s0 = now + 100
    val sGen = new Generator(steady, prefix, s0)
    span("steady", 0, run) { _ =>
      sGen.start()
      while (sGen.isAlive) { supervise(); sGen.join(5) }
    }
    phases += tsv("steady", s0, now)
    val d0 = now
    span("drain", 0, run) { _ =>
      val want = expectedIds(steady)
      waitFor(d0 + drainTimeoutMs)(
        want.forall(Endpoint.docs.containsKey) && caughtUp)
    }
    phases += tsv("drain", d0, now)
    val steadyCpu = Cpu.ms - c0
    live.stop()
    progress.awaitQuiet()

    write(out, "generator.tsv", (bGen.log.asScala ++ sGen.log.asScala).toSeq)
    write(out, "endpoint.tsv", Endpoint.docs.asScala.toSeq.map { case (id, d) =>
      tsv(id, d.version, d.firstMs, d.json)
    })
    write(out, "bulk.tsv", Endpoint.calls.asScala.map { case (s, e, n) => tsv(s, e, n) })
    write(out, "progress.tsv", progress.events.asScala.map { case (t, j) => tsv(t, j) })
    write(out, "phases.tsv", phases)
    write(out, "restarts.tsv", restarts)
    write(out, "scalars.tsv", Seq(
      tsv("setup_s", median(setupTimes.toSeq)),
      tsv("setup_all_s", setupTimes.mkString(",")),
      tsv("heap_live_mb", heap),
      tsv("steady_cpu_ms", steadyCpu),
      tsv("epoch_ms_at_zero", t0EpochMs)) ++ calib)
    write(out, "spans.tsv", spans.asScala.map(s => tsv(s.id, s.name, s.start, s.end, s.parent, s.run)))
    spark.stop()
  }

  // ======================= catalog workload =======================

  private def runCatalog(conf: Map[String, String], out: Path): Unit = {
    val fixtures = conf("fixtures")
    val names = conf("queries").split(",").toSeq.filter(_.nonEmpty)
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"catalog rows not in SparkEntry.queries: ${missing.mkString(", ")}")
    val oracles = graft.SparkEntry.oracleSql
    write(out, "oracle.tsv", names.map(n => tsv(n, oracles.getOrElse(n, null))))
    val seconds = conf("seconds").toDouble
    val minPasses = conf("min_passes").toInt
    val run = conf("run_id")
    // set-up: build the session on fresh state, several times
    val setupTimes = (0 until conf("setup_reps").toInt).map { rep =>
      if (rep > 0) {
        SparkSession.active.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t = now
      span("setup", 0, run)(_ => buildSession(conf))
      (now - t) / 1000
    }
    val spark = SparkSession.active
    val progress = new ProgressLog
    val tasks = new TaskLog
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(tasks)
    val sc = spark.sparkContext
    val calib = if (tracing) calibrate(spark, fixtures) else Nil

    def sweep(): Unit = {
      spark.streams.resetTerminated()
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    val runnerEvents = scala.collection.mutable.ArrayBuffer.empty[String]
    var failures = Seq.empty[String]
    /** One full-result execution: construct, plan, execute, timed apart. */
    def execute(name: String, pass: Int, keep: Boolean): Unit = {
      sweep()
      val fn = graft.SparkEntry.queries(name)
      def phase[T](p: String, parent: Long)(body: => T): (T, Double) = {
        sc.setLocalProperty(TagKey, s"$name|$pass|$p")
        val t = now
        val r = span(p, parent, run)(_ => body)
        (r, now - t)
      }
      val cpu0 = Cpu.ms
      val times = span(s"row:$name", 0, run) { id =>
        val (df, c) = phase("construct", id)(fn(spark, fixtures))
        val (_, p) = phase("plan", id)(df.queryExecution.executedPlan)
        // pass 0 executes by writing the result the oracle checks
        val (_, e) = phase("execute", id) {
          if (!keep) df.queryExecution.toRdd.foreach(_ => ())
          else df.write.mode("overwrite").parquet(s"${conf("work")}/results/$name")
        }
        (c, p, e)
      }
      sc.setLocalProperty(TagKey, null)
      rows += tsv(name, pass, times._1, times._2, times._3, Cpu.ms - cpu0)
      progress.awaitQuiet()
      var ev = progress.events.poll()
      while (ev != null) {
        runnerEvents += tsv(name, pass, ev._1, ev._2); ev = progress.events.poll()
      }
    }

    // pass 0 warms caches and writes the results the oracle checks
    val w0 = now
    names.foreach { n =>
      try execute(n, 0, keep = true)
      catch { case e: Throwable =>
        failures :+= n
        System.err.println(s"[perfbench] $n failed: $e")
      }
    }
    val warmup = (now - w0) / 1000
    val healthy = names.filterNot(failures.contains)
    // timed: cycle through the rows until the window has passed, finishing
    // at least `minPasses` whole passes, so every row has that many samples
    val m0 = now
    var i = 0
    while (healthy.nonEmpty &&
        (i < minPasses * healthy.size || now - m0 < seconds * 1000)) {
      execute(healthy(i % healthy.size), i / healthy.size + 1, keep = false)
      i += 1
    }
    val pass = (i + healthy.size - 1) / math.max(1, healthy.size)
    val measured = (now - m0) / 1000
    sweep() // the last row's cached blocks would otherwise count as live
    val heap = heapLiveMb

    // fence: every task/job event before this job has been delivered
    sc.setLocalProperty(TagKey, FenceTag)
    spark.range(1).collect()
    sc.setLocalProperty(TagKey, null)
    val fenceEnd = System.currentTimeMillis() + 10000
    while (!tasks.fenceSeen && System.currentTimeMillis() < fenceEnd) Thread.sleep(2)

    write(out, "rows.tsv", rows)
    write(out, "runner.tsv", runnerEvents)
    write(out, "tasks.tsv", tasks.counters.asScala.map { case (k, a) =>
      tsv(k, a(0), a(1), a(2), a(3))
    })
    write(out, "failures.tsv", failures)
    write(out, "scalars.tsv", Seq(
      tsv("setup_s", median(setupTimes)),
      tsv("setup_all_s", setupTimes.mkString(",")),
      tsv("heap_live_mb", heap),
      tsv("passes", pass),
      tsv("warmup_s", warmup),
      tsv("measured_s", measured),
      tsv("epoch_ms_at_zero", t0EpochMs)) ++ calib)
    write(out, "spans.tsv", spans.asScala.map(s => tsv(s.id, s.name, s.start, s.end, s.parent, s.run)))
    spark.stop()
  }
}
