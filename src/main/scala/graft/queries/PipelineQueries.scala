package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational
import graft.queries.Catalog.Entry
import graft.sources.Tables

/** Batch analogs of the reference pipeline's operators (SURVEY.md §2),
  * each DuckDB-oracle-verifiable on the driver testdata.
  *
  * Reference statements re-expressed:
  *  - S2/S3 envelope unwrap  (reference README.md:361-364,379-383)
  *  - S5 event-time assignment (README.md:410-416,421-427)
  *  - A2 latest_by_offset table (README.md:434-441)
  *  - J1 stream–table left enrichment join (README.md:448-459)
  *  - J2 stream–stream interval join WITHIN 7 DAYS (README.md:464-480)
  *  - P1 projection/aliasing (README.md:449-454), P3 filter (absent in
  *    reference, added for surface completeness, SURVEY.md §2.2)
  *  - K2 keyed idempotent upsert sink (README.md:487-493)
  */
object PipelineQueries {

  /** Flagship: enrich orders with the customer dimension (J1, broadcast),
    * then interval-join lineitem within ±7 days of the order date (J2),
    * projecting an aliased subset (P1). Mirrors
    * orders ⟕ customers_by_key ⋈ shipments WITHIN 7 DAYS.
    */
  def shippedOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    val enriched = Relational.enrichLeft(o, c, o("o_custkey") === c("c_custkey"))
    Relational.intervalJoin(enriched, l,
        l("l_orderkey") === o("o_orderkey"), o("o_orderdate"), l("l_shipdate"), "7 days")
      .select(
        o("o_orderkey").as("order_id"),
        l("l_linenumber").as("line_no"),
        c("c_custkey").as("customer_id"),
        c("c_name").as("customer_name"),
        c("c_mktsegment").as("segment"),
        o("o_totalprice").as("price"),
        date_format(l("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
  }

  val shippedOrdersSql: String =
    """SELECT o.o_orderkey AS order_id, l.l_linenumber AS line_no,
      |       c.c_custkey AS customer_id, c.c_name AS customer_name,
      |       c.c_mktsegment AS segment, o.o_totalprice AS price,
      |       strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM orders o
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      | AND l.l_shipdate >= o.o_orderdate - INTERVAL 7 DAY
      | AND l.l_shipdate <= o.o_orderdate + INTERVAL 7 DAY""".stripMargin

  /** A2: last-write-wins materialization of the events changelog keyed by
    * user_id with event_id as the offset (map-side-combining max_by). */
  def latestByKey(s: SparkSession, d: String): DataFrame =
    Relational.latestByKey(Tables.events(s, d),
      col("user_id"), col("event_id"),
      "latest_type" -> col("event_type"),
      "latest_value" -> col("value"))

  val latestByKeySql: String =
    """SELECT user_id, arg_max(event_type, event_id) AS latest_type,
      |       arg_max("value", event_id) AS latest_value
      |FROM events GROUP BY user_id""".stripMargin

  /** A2 via the exact-semantics custom Aggregator (tie-break + null
    * handling pinned to Kafka offset order) — same oracle as max_by. */
  def latestByKeyUdaf(s: SparkSession, d: String): DataFrame = {
    val latest = udaf(new graft.functions.LatestByOffsetAgg)
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(latest(col("event_id"), col("event_type")).as("latest_type"))
  }

  val latestByKeyUdafSql: String =
    """SELECT user_id, arg_max(event_type, event_id) AS latest_type
      |FROM events GROUP BY user_id""".stripMargin

  /** J1: enrichment lookup join, dimension broadcast. */
  def enrichLeftJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    Relational.enrichLeft(o, c, o("o_custkey") === c("c_custkey"))
      .select(
        o("o_orderkey").as("order_id"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        o("o_totalprice").as("price"),
        c("c_custkey").as("customer_id"),
        c("c_name").as("customer_name"),
        c("c_mktsegment").as("segment"))
  }

  val enrichLeftJoinSql: String =
    """SELECT o.o_orderkey AS order_id,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       o.o_totalprice AS price, c.c_custkey AS customer_id,
      |       c.c_name AS customer_name, c.c_mktsegment AS segment
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin

  /** J2: interval join with a ±3 day band (distinct from the flagship's 7). */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    Relational.intervalJoin(o, l, l("l_orderkey") === o("o_orderkey"),
        o("o_orderdate"), l("l_shipdate"), "3 days")
      .select(
        o("o_orderkey").as("order_id"),
        l("l_linenumber").as("line_no"),
        date_format(l("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
  }

  val intervalJoinSql: String =
    """SELECT o.o_orderkey AS order_id, l.l_linenumber AS line_no,
      |       strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      | AND l.l_shipdate >= o.o_orderdate - INTERVAL 3 DAY
      | AND l.l_shipdate <= o.o_orderdate + INTERVAL 3 DAY""".stripMargin

  /** S2: Debezium envelope unwrap round-trip. Wraps customer rows into a
    * {after, op} JSON envelope, then unwraps via the streaming operator's
    * column logic (from_json + after.* + __deleted rewrite). The oracle
    * reads the same rows directly — equality proves the unwrap is
    * lossless. */
  def envelopeUnwrap(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val envelope = c.select(
      to_json(struct(
        struct(
          col("c_custkey").as("customer_id"), col("c_name").as("name"),
          col("c_nationkey").as("nation_id"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("segment")).as("after"),
        lit("c").as("op"))).as("value"))
    val afterSchema = StructType(Seq(
      StructField("customer_id", LongType), StructField("name", StringType),
      StructField("nation_id", IntegerType), StructField("acctbal", DoubleType),
      StructField("segment", StringType)))
    graft.streaming.DebeziumEnvelope
      .unwrap(envelope, col("value"), afterSchema,
        graft.streaming.DebeziumEnvelope.Rewrite)
  }

  val envelopeUnwrapSql: String =
    """SELECT c_custkey AS customer_id, c_name AS name,
      |       c_nationkey AS nation_id, c_acctbal AS acctbal,
      |       c_mktsegment AS segment, 'false' AS __deleted
      |FROM customer""".stripMargin

  /** S3: MongoDB-style envelope unwrap with delete.handling.mode=drop
    * (reference README.md:379-383): deletes filtered out, op code kept
    * as the __op metadata column (the operation.header analog).
    * Customers in nations 0-2 are marked as delete events. */
  def envelopeUnwrapDrop(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val envelope = c.select(
      to_json(struct(
        struct(
          col("c_custkey").as("customer_id"), col("c_name").as("name"),
          col("c_mktsegment").as("segment")).as("after"),
        when(col("c_nationkey") < 3, "d").otherwise("u").as("op"))).as("value"))
    val afterSchema = StructType(Seq(
      StructField("customer_id", LongType), StructField("name", StringType),
      StructField("segment", StringType)))
    graft.streaming.DebeziumEnvelope
      .unwrap(envelope, col("value"), afterSchema,
        graft.streaming.DebeziumEnvelope.Drop)
  }

  val envelopeUnwrapDropSql: String =
    """SELECT c_custkey AS customer_id, c_name AS name,
      |       c_mktsegment AS segment, 'u' AS __op
      |FROM customer WHERE c_nationkey >= 3""".stripMargin

  /** S5: event-time extraction — format then re-parse with the reference's
    * timestamp_format, proving the parse path; also derives the hour. */
  def eventTime(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("ts_str"))
      .select(col("event_id"),
        to_timestamp(col("ts_str"), "yyyy-MM-dd'T'HH:mm:ss").as("event_time"))
      .select(col("event_id"),
        date_format(col("event_time"), "yyyy-MM-dd HH:mm:ss").as("event_time_s"),
        hour(col("event_time")).cast(LongType).as("hr"))

  val eventTimeSql: String =
    """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time_s,
      |       CAST(hour(ts) AS BIGINT) AS hr
      |FROM events""".stripMargin

  /** P1: projection with aliasing across a (broadcast) join. */
  def projection(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(n("n_nationkey").as("nation_id"), n("n_name").as("nation"),
        r("r_name").as("region"))
  }

  val projectionSql: String =
    """SELECT n.n_nationkey AS nation_id, n.n_name AS nation, r.r_name AS region
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  /** P3: filter with predicate pushdown to the parquet scan. */
  def filterPushdown(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
        col("l_quantity") > 45)
      .select(col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))

  val filterPushdownSql: String =
    """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
      |       l_quantity AS qty, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45""".stripMargin

  /** K2: keyed idempotent upsert — at-least-once delivery (union of the
    * stream with itself) collapses to exactly-once-per-key visible rows. */
  def upsertSink(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").as("order_id"),
        col("o_totalprice").as("price"), col("o_orderstatus").as("status"))
    o.unionAll(o).dropDuplicates("order_id")
  }

  val upsertSinkSql: String =
    """SELECT DISTINCT o_orderkey AS order_id, o_totalprice AS price,
      |       o_orderstatus AS status
      |FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders)""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("pipeline_shipped_orders", shippedOrders, shippedOrdersSql),
    Entry("a2_latest_by_key", latestByKey, latestByKeySql),
    Entry("a2_latest_udaf", latestByKeyUdaf, latestByKeyUdafSql),
    Entry("j1_enrich_left_join", enrichLeftJoin, enrichLeftJoinSql),
    Entry("j2_interval_join", intervalJoin, intervalJoinSql),
    Entry("s2_envelope_unwrap", envelopeUnwrap, envelopeUnwrapSql),
    Entry("s3_envelope_unwrap_drop", envelopeUnwrapDrop, envelopeUnwrapDropSql),
    Entry("s5_event_time", eventTime, eventTimeSql),
    Entry("p1_projection", projection, projectionSql),
    Entry("p3_filter_pushdown", filterPushdown, filterPushdownSql),
    Entry("k2_upsert_sink", upsertSink, upsertSinkSql))
}
