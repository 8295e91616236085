package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.Catalog.Entry
import graft.sources.Tables

/** Classical seasonal decomposition (trend + seasonal + residual) of
  * the hourly event series, on exact integer grids — the
  * forecasting/monitoring preprocessing step next to the CUSUM gate:
  *
  *  - trend: centered 25-hour moving mean (ROWS BETWEEN 12 PRECEDING
  *    AND 12 FOLLOWING), defined only where the window is FULL —
  *    nullable edges, exactly as textbook decomposition leaves them;
  *  - seasonal: per hour-of-day slot, the mean of the detrended
  *    series (period 24 — the daily cycle of an event feed);
  *  - residual: x − trend − seasonal; anomaly when |residual| exceeds
  *    3× the series' mean |residual| (all integer arithmetic).
  *
  * Integer-division discipline: the detrended values are SIGNED, and
  * the two engines disagree on signed integer division (Spark `DIV`
  * truncates toward zero, DuckDB `//` floors), so every mean over a
  * possibly-negative sum is computed as
  *
  *    (SUM(d) + COUNT·2^40) DIV COUNT − 2^40
  *
  * — the shift makes the numerator positive, where floor and
  * truncation coincide, and floor((Σ+nB)/n) = B + floor(Σ/n) is an
  * identity, so both spellings produce the FLOOR mean bit-for-bit.
  *
  * Scale shape: one hourly pre-aggregation, then windows and means
  * partitioned by series (never global); the 25-row frame is O(1)
  * state per position. The streaming twin shares the CUSUM twin's
  * design: hourly counters under update-mode state, decomposition
  * evaluated outside the stream at gate time. */
object SeasonalQueries {

  /** 2^40 — the positivity shift for signed floor-means. */
  private val B = 1099511627776L

  private def hourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hts"))
      .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("x"))

  /** Shared finalize over an (event_type, hts, x) relation. */
  private def decomposeOf(h: DataFrame): DataFrame = {
    val wT = Window.partitionBy(col("event_type")).orderBy(col("hts"))
      .rowsBetween(-12, 12)
    val trended = h
      .withColumn("tsum", sum(col("x")).over(wT))
      .withColumn("tcnt", count(lit(1)).over(wT))
      .withColumn("trend", when(col("tcnt") === 25, expr("tsum DIV 25")))
      .withColumn("slot", hour(col("hts")).cast(LongType))
      .withColumn("d", col("x") - col("trend")) // null at the edges
    val seasonal = trended.filter(col("d").isNotNull)
      .groupBy(col("event_type"), col("slot"))
      .agg(expr(s"(SUM(d) + COUNT(d) * ${B}L) DIV COUNT(d) - ${B}L")
        .as("seasonal"))
    val resid = trended
      .join(broadcast(seasonal), Seq("event_type", "slot"), "left")
      .withColumn("resid", col("x") - col("trend") - col("seasonal"))
    val scale = resid.filter(col("resid").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("SUM(abs(resid)) DIV COUNT(resid)").as("mad"))
    resid.join(broadcast(scale), Seq("event_type"), "left")
      .select(col("event_type"),
        date_format(col("hts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("x"), col("slot"), col("trend"), col("seasonal"), col("resid"),
        when(col("resid").isNotNull,
          (abs(col("resid")) > col("mad") * 3).cast(LongType)).as("anomaly"))
  }

  def seasonalDecompose(s: SparkSession, d: String): DataFrame =
    decomposeOf(hourly(s, d))

  val seasonalSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hts,
       |         CAST(SUM(CAST(floor("value" * 1000000) AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |trended AS (
       |  SELECT event_type, hts, x,
       |         CASE WHEN COUNT(*) OVER w = 25
       |              THEN CAST(SUM(x) OVER w // 25 AS BIGINT) END AS trend,
       |         CAST(hour(hts) AS BIGINT) AS slot
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hts
       |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
       |detr AS (SELECT *, x - trend AS d FROM trended),
       |seasonal AS (
       |  SELECT event_type, slot,
       |         CAST((SUM(d) + COUNT(d) * $B) // COUNT(d) - $B AS BIGINT)
       |           AS seasonal
       |  FROM detr WHERE d IS NOT NULL GROUP BY 1, 2),
       |resid AS (
       |  SELECT t.event_type, t.hts, t.x, t.slot, t.trend, s.seasonal,
       |         t.x - t.trend - s.seasonal AS resid
       |  FROM detr t LEFT JOIN seasonal s
       |    ON t.event_type = s.event_type AND t.slot = s.slot),
       |scale AS (
       |  SELECT event_type, CAST(SUM(abs(resid)) // COUNT(resid) AS BIGINT)
       |           AS mad
       |  FROM resid WHERE resid IS NOT NULL GROUP BY 1)
       |SELECT r.event_type, strftime(r.hts, '%Y-%m-%d %H:%M:%S') AS hour,
       |       r.x, r.slot, r.trend, r.seasonal,
       |       CAST(r.resid AS BIGINT) AS resid,
       |       CASE WHEN r.resid IS NOT NULL
       |            THEN CAST(CASE WHEN abs(r.resid) > m.mad * 3
       |                      THEN 1 ELSE 0 END AS BIGINT) END AS anomaly
       |FROM resid r LEFT JOIN scale m ON r.event_type = m.event_type""".stripMargin

  /** Streaming twin: the CUSUM twin's counter-store design — hourly
    * sums accumulate under update-mode state, decomposition runs
    * outside the stream. Finite input ⇒ equals the batch oracle. */
  def streamSeasonalDecompose(s: SparkSession, d: String): DataFrame =
    decomposeOf(ChangePointQueries.hourlyStore(s, d))

  def entries: Seq[Entry] = Seq(
    Entry("q_seasonal_decompose", seasonalDecompose, seasonalSql),
    Entry("stream_seasonal_decompose", streamSeasonalDecompose, seasonalSql))
}
