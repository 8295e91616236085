package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.Catalog.Entry
import graft.sources.Tables
import graft.streaming.FiniteStream
import graft.streaming.FiniteStream.{Keyed, Leg}

/** CUSUM change-point detection (Page's test) over the hourly event
  * series — the ingest-monitoring primitive that flags when a metric's
  * level SHIFTS (upward or downward) rather than merely spikes: the
  * one-sided cumulative sums
  *
  *   S⁺_i = max(0, S⁺_{i−1} + (x_i − μ − k))     (upward shift)
  *   S⁻_i = max(0, S⁻_{i−1} − (x_i − μ + k))     (downward shift)
  *
  * alarm when S exceeds h. The recurrences look inherently sequential,
  * but both have a PREFIX-EXTREMUM closed form: with
  * y_i = x_i − (μ+k) and P_i = Σ_{j≤i} y_j,
  *
  *   S⁺_i = P_i − min(0, min_{j≤i} P_j)
  *
  * (and dually S⁻ from the running max of the (μ−k)-centered prefix).
  * That turns the per-series fold into running SUM/MIN/MAX window
  * functions — the batch spelling is pure windows sharing ONE
  * per-series sort, no sequential operator, no recursion; the fuzz
  * spec pins closed form ≡ recurrence on random series. All
  * arithmetic is exact integers (micro-unit value grid; h = μ), and
  * μ and the slack k = μ/20 use the same 2^40-shift FLOOR-division
  * spelling as [[SeasonalQueries]]: Spark `DIV`
  * truncates toward zero while DuckDB `//` floors, so a series with
  * negative values would silently desync the two engines under the
  * naive spelling — the positivity shift makes both compute the
  * floor mean bit-for-bit regardless of sign.
  *
  * Scale shape: hourly pre-aggregation collapses the event stream to
  * |series|×|hours| rows before any window; the window sorts WITHIN a
  * series only (partitionBy event_type) — never a global sort. The
  * streaming twin accumulates the same hourly counters under
  * update-mode state (one counter per live (series, hour) — bounded by
  * the time span, not the stream) and evaluates the closed form
  * OUTSIDE the stream at gate time, exactly like a monitoring pipeline
  * re-scoring its counter table per ingest window. */
object ChangePointQueries {

  /** 2^40 — the positivity shift for signed floor-means (see
    * [[SeasonalQueries]] for the floor((Σ+nB)/n) = B + floor(Σ/n)
    * identity that makes truncation equal floor). */
  private val B = 1099511627776L

  private def hourlyBatch(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hts"))
      .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("x"))

  /** The shared finalize: per-series mean/slack, centered prefixes,
    * prefix-extremum CUSUM, alarms at h = μ. */
  private[queries] def cusumOf(hourly: DataFrame): DataFrame = {
    val stats = hourly.groupBy(col("event_type"))
      .agg(expr(s"(SUM(x) + COUNT(*) * ${B}L) DIV COUNT(*) - ${B}L").as("mu"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly.join(broadcast(stats), Seq("event_type"))
      .withColumn("slack", expr(s"(mu + 20 * ${B}L) DIV 20 - ${B}L"))
      .withColumn("pp", sum(col("x") - col("mu") - col("slack")).over(w))
      .withColumn("pn", sum(col("x") - col("mu") + col("slack")).over(w))
      .withColumn("s_pos", col("pp") - least(lit(0L), min(col("pp")).over(w)))
      .withColumn("s_neg", greatest(lit(0L), max(col("pn")).over(w)) - col("pn"))
      .select(col("event_type"),
        date_format(col("hts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("x"), col("s_pos"), col("s_neg"),
        (col("s_pos") > col("mu")).cast(LongType).as("alarm_up"),
        (col("s_neg") > col("mu")).cast(LongType).as("alarm_down"))
  }

  def cusumChangepoint(s: SparkSession, d: String): DataFrame =
    cusumOf(hourlyBatch(s, d))

  val cusumSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hts,
      |         CAST(SUM(CAST(floor("value" * 1000000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type,
      |         CAST((SUM(x) + COUNT(*) * 1099511627776) // COUNT(*)
      |              - 1099511627776 AS BIGINT) AS mu
      |  FROM hourly GROUP BY 1),
      |y AS (
      |  SELECT h.event_type, h.hts, h.x, s.mu,
      |         CAST((s.mu + 20 * 1099511627776) // 20
      |              - 1099511627776 AS BIGINT) AS slack
      |  FROM hourly h JOIN stats s USING (event_type)),
      |p AS (
      |  SELECT event_type, hts, x, mu,
      |         CAST(SUM(x - mu - slack) OVER w AS BIGINT) AS pp,
      |         CAST(SUM(x - mu + slack) OVER w AS BIGINT) AS pn
      |  FROM y WINDOW w AS (PARTITION BY event_type ORDER BY hts
      |                      ROWS UNBOUNDED PRECEDING)),
      |c AS (
      |  SELECT event_type, hts, x, mu,
      |         CAST(pp - LEAST(0, MIN(pp) OVER w) AS BIGINT) AS s_pos,
      |         CAST(GREATEST(0, MAX(pn) OVER w) - pn AS BIGINT) AS s_neg
      |  FROM p WINDOW w AS (PARTITION BY event_type ORDER BY hts
      |                      ROWS UNBOUNDED PRECEDING))
      |SELECT event_type, strftime(hts, '%Y-%m-%d %H:%M:%S') AS hour, x,
      |       s_pos, s_neg,
      |       CAST(CASE WHEN s_pos > mu THEN 1 ELSE 0 END AS BIGINT) AS alarm_up,
      |       CAST(CASE WHEN s_neg > mu THEN 1 ELSE 0 END AS BIGINT) AS alarm_down
      |FROM c""".stripMargin

  /** Streaming twin: hourly counters accumulate under update-mode
    * state, the CUSUM closed form evaluates outside the stream on the
    * stored counter table. Finite input ⇒ equals the batch oracle. */
  def streamCusumChangepoint(s: SparkSession, d: String): DataFrame =
    cusumOf(hourlyStore(s, d))

  /** The shared streaming leg of the hourly-series monitors (CUSUM,
    * seasonal decomposition): update-mode per-(series, hour) counter
    * aggregation materialized into a snapshot store — state is one
    * counter per live (series, hour), bounded by the covered time
    * span, not the stream — returned as the (event_type, hts, x)
    * counter table the batch finalizers consume. */
  private[queries] def hourlyStore(s: SparkSession, d: String): DataFrame = {
    val hourly = StreamingQueries.eventsStream(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hts"))
      .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("x"))
    FiniteStream.drain(Leg(hourly, "update", sink = Keyed("event_type", "hts")))
      .head
  }

  def entries: Seq[Entry] = Seq(
    Entry("q_cusum_changepoint", cusumChangepoint, cusumSql),
    Entry("stream_cusum_changepoint", streamCusumChangepoint, cusumSql))
}
