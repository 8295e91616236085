package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Scan-width guard for compute-heavy derivations (guide §2.5).
  *
  * The testdata ships one single-row-group parquet file per table, so
  * every scan stage is exactly ONE task no matter the core count —
  * byte-range splits of a file with one row group all deserialize from
  * the same group and only one yields rows. Every per-row derivation
  * above such a scan (md5 token grids, Walsh fingerprints, shingle
  * explosion, vector parses) therefore runs serially; measured 8→32
  * core ratios sat at ~1.0 across the suite because of it.
  *
  * `Widen(df)` round-robin repartitions the relation up to the
  * session's default parallelism, but ONLY when the physical scan
  * yields fewer partitions than that — at cluster scale (the 100 TB
  * case: thousands of input splits per table) the condition is false
  * and no shuffle is added, so the guard is scale-adaptive rather than
  * tuned for local mode. Callers must apply it:
  *   - AFTER any pushable filters/projections (so PushedFilters still
  *     reach the scan and the shuffle moves only surviving bytes), and
  *   - BEFORE the expensive per-row expressions (so the compute, not
  *     the raw read, is what parallelizes), and
  *   - only on order-insensitive paths (round-robin reorders rows;
  *     all consumers here aggregate/join/sort downstream), and
  *   - only on SCAN-LEVEL relations (scan + per-row ops, no exchange
  *     below): `.rdd` on a frame whose plan already contains shuffles
  *     would finalize an AdaptiveSparkPlan and trigger eager execution
  *     of its stages.
  *
  * The last rule is ENFORCED, not just documented: frames whose
  * analyzed plan contains a shuffle-inducing operator (join,
  * aggregate, window, sort, set-op, repartition, limit) pass through
  * untouched — including frames a caller already widened, so nesting
  * the guard inside shared helpers never stacks exchanges or plans
  * `.rdd` over one. Streaming frames pass through too, so the guard
  * is safe inside derivation helpers shared by batch queries and
  * streaming registries.
  */
object Widen {
  private def scanLevel(plan: LogicalPlan): Boolean = plan.collectFirst {
    case _: Join => (); case _: Aggregate => (); case _: Distinct => ()
    case _: Window => (); case _: Sort => (); case _: GlobalLimit => ()
    case _: RepartitionOperation => (); case _: Intersect => ()
    case _: Except => (); case _: Deduplicate => ()
  }.isEmpty

  def apply(df: DataFrame): DataFrame = {
    if (df.isStreaming || !scanLevel(df.queryExecution.analyzed)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** STREAMING variant: a file-stream micro-batch inherits the
    * arriving FILE count as its scan partitioning — the single-file
    * fixture delivers every batch as ONE task, so heavy per-row
    * derivation above the source (tokenize/shingle/md5 grids) runs
    * serially at any core count, exactly the batch pathology above,
    * but inside `addBatch` where the batch guard deliberately passes
    * through. The per-batch scan width is unknowable at plan time
    * (streaming plans have no `.rdd`), so the conditional cannot
    * apply; instead the derive stage is pinned at the session's
    * default parallelism — on a cluster that is the executor core
    * count, i.e. the standard production sizing for a stream's
    * transform stage, not a local tune. Apply only between the source
    * and ORDER-INSENSITIVE heavy derivations (round-robin reorders
    * rows within the batch); cheap passthrough streams should keep
    * their source partitioning (the extra exchange is pure cost
    * there). Batch frames fall through to the guarded [[apply]], so
    * helpers shared by both paths can call this unconditionally. */
  def stream(df: DataFrame): DataFrame =
    if (df.isStreaming)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else apply(df)
}
