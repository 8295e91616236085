package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `SHOW QUERIES EXTENDED` — state-size
  * observability for persistent queries: the capacity-planning signal
  * a 100 TB operator reads BEFORE a state store OOMs. ksqlDB's
  * `SHOW QUERIES EXTENDED`/`EXPLAIN <query>` surfaces per-query
  * runtime status; the Spark-native source of truth is
  * [[org.apache.spark.sql.streaming.StreamingQueryProgress]], whose
  * `stateOperators` records, per stateful operator, the state row
  * count and store memory footprint the last micro-batch left behind.
  * This relation flattens that to one row per query:
  *
  *   - `state_rows`  — Σ numRowsTotal over the query's stateful
  *     operators: the number the bounded-state arguments in this repo
  *     are ABOUT (a latest-by-key table = one row per key, a posting
  *     head = O(k) per term, an interval join = rows inside the
  *     watermark). A query whose state_rows grows without bound under
  *     steady input is the leak this view exists to catch.
  *   - `state_bytes` — Σ memoryUsedBytes: the store-footprint side of
  *     the same signal (HDFSBackedStateStore heap / RocksDB native).
  *   - `state_operators`, `batch_id`, `input_rows` — how many
  *     stateful stages, how far the query has progressed, and the
  *     last batch's input volume, for rate context.
  *
  * Queries that have not yet completed a batch report batch_id −1 and
  * zero state (no progress to read — not "no state"); PAUSED
  * registrations ([[QueryControl]]) surface with no metrics, since a
  * stopped query publishes no progress. Excluded from the DuckDB
  * oracle BY DESIGN (state_bytes depends on store layout and JVM —
  * the `UUID()`/`RANDOM()` precedent); the deterministic fields are
  * pinned by QueryMetricsSpec instead. */
object QueryMetrics {

  def extended(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val active = spark.streams.active.toSeq.map { q =>
      val p = Option(q.lastProgress)
      val ops = p.map(_.stateOperators.toSeq).getOrElse(Nil)
      (q.id.toString, Option(q.name).getOrElse(""), "RUNNING",
        p.map(_.batchId).getOrElse(-1L),
        ops.size.toLong,
        ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum,
        p.map(_.numInputRows).getOrElse(0L))
    }
    val paused = QueryControl.paused(spark).map(n =>
      ("", n, "PAUSED", -1L, 0L, 0L, 0L, 0L))
    (active ++ paused).toDF("query_id", "name", "status", "batch_id",
      "state_operators", "state_rows", "state_bytes", "input_rows")
  }

  /** `SHOW STATE STORES` — the PER-OPERATOR
    * drill-down of [[extended]]: one row per stateful operator of
    * every active query, from the same
    * [[org.apache.spark.sql.streaming.StreamingQueryProgress]]
    * `stateOperators` array, keeping the operator's position
    * (`op_index`) so repeated operator names stay distinguishable.
    * This is the row an operator sizes a RocksDB fleet from: WHICH
    * stage of a multi-stage query holds the state (a stream-stream
    * join's buffers vs the downstream aggregation's counters),
    * whether updates or removals dominate a batch
    * (`rows_updated`/`rows_removed` — watermark eviction showing up
    * as removals is healthy; zero removals under TTL expectations is
    * the leak), and the per-store footprint. Queries with no
    * completed batch contribute no rows (no progress to read).
    * Oracle-excluded like [[extended]] (bytes are store-layout- and
    * JVM-dependent); the deterministic fields are pinned in
    * ObservabilitySpec against a known stateful query. */
  def stateStores(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.streams.active.toSeq.flatMap { q =>
      val p = Option(q.lastProgress)
      val batch = p.map(_.batchId).getOrElse(-1L)
      p.map(_.stateOperators.toSeq).getOrElse(Nil).zipWithIndex.map {
        case (op, i) =>
          (q.id.toString, Option(q.name).getOrElse(""), batch,
            i.toLong, Option(op.operatorName).getOrElse(""),
            op.numRowsTotal, op.memoryUsedBytes,
            op.numRowsUpdated, op.numRowsRemoved)
      }
    }.toDF("query_id", "name", "batch_id", "op_index", "operator",
      "state_rows", "state_bytes", "rows_updated", "rows_removed")
  }
}
