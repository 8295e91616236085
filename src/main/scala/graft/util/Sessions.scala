package graft.util

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way the engine builds a Spark session. Every main
  * (`Bench`, `Verify`, `Explain`, the tools, the pipeline demo) and the
  * shared test context go through [[local]]; every per-query or
  * per-suite cleanup goes through [[sweep]]. */
object Sessions {

  /** The factory's defaults, each set only where the JVM's `spark.*`
    * system properties (which a new `SparkConf` loads) leave the key
    * unset, so `-Dspark.k=v` overrides any of them. Pure: builds a
    * conf, starts nothing. */
  def conf(cpus: Int): SparkConf =
    new SparkConf()
      .setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.app.name", "graft")
      .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.ui.enabled", "false")
      // the deployment path a cluster uses too: Spark loads the
      // extension by class name from this conf
      .setIfMissing("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      // events.parquet carries TIMESTAMP(NANOS), which Spark reads only
      // with this legacy conf
      .setIfMissing("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming checkpoints here are per-query, finite-run and
      // throwaway: the Spark 4.1-default CRC sidecar written next to
      // EVERY offsets/commit/state file is pure fixed cost — measured
      // 156.3 → 149.5 s over the 87 stream queries (sf0.1, 32 cores).
      // Durability-paranoid deployments re-enable it per cluster conf.
      .setIfMissing("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")

  /** A `local[cpus]` session with [[conf]]'s defaults, so with
    * [[graft.GraftExtensions]]; an already running context is reused. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder().config(conf(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The bounded rank/cumulation windows (RetrievalQueries' <=30-row
    // df-rank selections, SimilarityQueries' |bands|-bounded threshold
    // sweep, CurationQueries' bucket-total prefix sum) intentionally
    // run unpartitioned over tiny relations; WindowExec warns per
    // execution and the spam buries real warnings. partitionBy(lit(1))
    // is constant-folded away by the optimizer, so silence the logger,
    // not the plan.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Inter-query hygiene: one query's session debris (terminated
    * streaming queries, cached relations, temp views over memory
    * sinks) must not stay reachable and slow later queries (observed:
    * alphabetically-late queries inflated up to 60×). Every
    * catalog query (re-)registers the views it needs per call, so
    * dropping them all is safe.
    *
    * Persistent RDDs are released here, deterministically:
    * ContextCleaner frees localCheckpoint blocks only after a GC
    * collects their frames, so over a whole catalog run the block
    * manager ratchets to GBs of dead blocks and memory pressure
    * inflates later stateful queries (observed: stream_tumbling_final
    * 1.5 s → 6.2 s from suite position alone). Every persistent RDD
    * reachable between queries belongs to a COMPLETED query — each
    * catalog function re-derives its frames per call — so this never
    * invalidates in-flight data. `blocking = true`: the caller sweeps
    * outside any timed region, so deferred block removal cannot
    * overlap the next query. */
  def sweep(spark: SparkSession): Unit = {
    spark.streams.resetTerminated()
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
