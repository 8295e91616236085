package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.queries.Catalog.Entry
import graft.sources.Tables
import graft.streaming.{TableAggregate, TableChangelog, TableTableJoin}

/** Table–table joins with changelog semantics — the last ksqlDB join
  * family (ksqlDB 0.28, reference docker-compose.yml:83) — as
  * driver-verifiable queries. Batch forms compute the joined snapshot
  * declaratively; the streaming forms run the real changelog operators
  * ([[graft.streaming.TableChangelog]], [[graft.streaming
  * .TableTableJoin]]) to completion on the finite testdata and
  * reconstruct the table FROM THE EMITTED CHANGELOG, so the oracle
  * verifies the change stream itself, not just a final state.
  *
  * Scale shapes:
  *  - pk join (batch): both inputs aggregate on their own key first
  *    (map-side-combining max_by), then join on that same key — the
  *    aggregation exchanges satisfy the join's distribution, so
  *    Catalyst inserts NO extra shuffle (pinned in PlanPropertiesSpec).
  *  - pk join (stream): both changelogs co-shuffle once into one
  *    stateful operator; state = two rows per key.
  *  - fk join (batch): dimension broadcast, fact side never shuffles.
  *  - fk join (stream): changelog stage keyed by pk, join stage keyed
  *    by fk; state per fk group = its member rows (the unavoidable
  *    FK-materialization state), fan-out work only on right-side
  *    changes.
  */
object TableJoinQueries {

  /** Left payload of the pk join: latest order facts per customer. */
  case class OrdInfo(last_price: Double, last_order_date: String)
  /** Right payload of the pk join: latest event facts per user. */
  case class EvInfo(latest_type: String, latest_value: Double)
  /** Left payload of the fk join: a customer row (fk = nation_key). */
  case class CustInfo(cust_name: String, nation_key: Long)
  /** Right payload of the fk join: a nation row. */
  case class NatInfo(nation_name: String)

  // ---- batch forms -------------------------------------------------

  /** Materialize two latest_by_offset tables (orders by customer,
    * events by user) and join them on the shared key. Left join: every
    * customer with orders appears; the event side is nullable. */
  def tableTableJoin(s: SparkSession, d: String): DataFrame = {
    val a = Relational.latestByKey(Tables.orders(s, d),
      col("o_custkey"), col("o_orderkey"),
      "last_price" -> col("o_totalprice"),
      "last_order_date" -> date_format(col("o_orderdate"), "yyyy-MM-dd"))
    val b = Relational.latestByKey(Tables.events(s, d),
      col("user_id"), col("event_id"),
      "latest_type" -> col("event_type"),
      "latest_value" -> col("value"))
    a.join(b, col("o_custkey") === col("user_id"), "left")
      .select(col("o_custkey").as("cust_id"), col("last_price"),
        col("last_order_date"), col("latest_type"), col("latest_value"))
  }

  val tableTableJoinSql: String =
    """SELECT a.o_custkey AS cust_id, a.last_price, a.last_order_date,
      |       b.latest_type, b.latest_value
      |FROM (SELECT o_custkey,
      |             arg_max(o_totalprice, o_orderkey) AS last_price,
      |             arg_max(strftime(o_orderdate, '%Y-%m-%d'), o_orderkey)
      |               AS last_order_date
      |      FROM orders GROUP BY o_custkey) a
      |LEFT JOIN (SELECT user_id,
      |             arg_max(event_type, event_id) AS latest_type,
      |             arg_max("value", event_id) AS latest_value
      |           FROM events GROUP BY user_id) b
      |  ON a.o_custkey = b.user_id""".stripMargin

  /** FULL OUTER pk table–table join — ksqlDB's third table-join
    * flavor. The orders side is restricted to o_custkey >= 100 so all
    * three row classes are exercised: right-only (users 0–99),
    * both (100–149), left-only (150+). */
  def tableTableFull(s: SparkSession, d: String): DataFrame = {
    val a = Relational.latestByKey(
      Tables.orders(s, d).filter(col("o_custkey") >= 100),
      col("o_custkey"), col("o_orderkey"),
      "last_price" -> col("o_totalprice"),
      "last_order_date" -> date_format(col("o_orderdate"), "yyyy-MM-dd"))
    val b = Relational.latestByKey(Tables.events(s, d),
      col("user_id"), col("event_id"),
      "latest_type" -> col("event_type"),
      "latest_value" -> col("value"))
    a.join(b, col("o_custkey") === col("user_id"), "full")
      .select(coalesce(col("o_custkey"), col("user_id")).as("cust_id"),
        col("last_price"), col("last_order_date"),
        col("latest_type"), col("latest_value"))
  }

  val tableTableFullSql: String =
    """SELECT coalesce(a.o_custkey, b.user_id) AS cust_id,
      |       a.last_price, a.last_order_date,
      |       b.latest_type, b.latest_value
      |FROM (SELECT o_custkey,
      |             arg_max(o_totalprice, o_orderkey) AS last_price,
      |             arg_max(strftime(o_orderdate, '%Y-%m-%d'), o_orderkey)
      |               AS last_order_date
      |      FROM orders WHERE o_custkey >= 100 GROUP BY o_custkey) a
      |FULL JOIN (SELECT user_id,
      |             arg_max(event_type, event_id) AS latest_type,
      |             arg_max("value", event_id) AS latest_value
      |           FROM events GROUP BY user_id) b
      |  ON a.o_custkey = b.user_id""".stripMargin

  /** INNER pk table–table join — ksqlDB's default table-join flavor.
    * Same two latest_by_offset tables as the left form; only keys
    * present on BOTH sides survive. */
  def tableTableInner(s: SparkSession, d: String): DataFrame = {
    val a = Relational.latestByKey(Tables.orders(s, d),
      col("o_custkey"), col("o_orderkey"),
      "last_price" -> col("o_totalprice"),
      "last_order_date" -> date_format(col("o_orderdate"), "yyyy-MM-dd"))
    val b = Relational.latestByKey(Tables.events(s, d),
      col("user_id"), col("event_id"),
      "latest_type" -> col("event_type"),
      "latest_value" -> col("value"))
    a.join(b, col("o_custkey") === col("user_id"), "inner")
      .select(col("o_custkey").as("cust_id"), col("last_price"),
        col("last_order_date"), col("latest_type"), col("latest_value"))
  }

  val tableTableInnerSql: String =
    """SELECT a.o_custkey AS cust_id, a.last_price, a.last_order_date,
      |       b.latest_type, b.latest_value
      |FROM (SELECT o_custkey,
      |             arg_max(o_totalprice, o_orderkey) AS last_price,
      |             arg_max(strftime(o_orderdate, '%Y-%m-%d'), o_orderkey)
      |               AS last_order_date
      |      FROM orders GROUP BY o_custkey) a
      |JOIN (SELECT user_id,
      |             arg_max(event_type, event_id) AS latest_type,
      |             arg_max("value", event_id) AS latest_value
      |      FROM events GROUP BY user_id) b
      |  ON a.o_custkey = b.user_id""".stripMargin

  /** Foreign-key join of the customer table (fk c_nationkey) with the
    * nation table — the ksqlDB FK table join's batch snapshot. The
    * nation side broadcasts; the customer side never shuffles. */
  def tableFkJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
        col("n_name").as("nation_name"))

  val tableFkJoinSql: String =
    """SELECT c_custkey AS cust_id, c_name AS cust_name,
      |       n_name AS nation_name
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin

  /** LEFT foreign-key join — ksqlDB's other FK table-join flavor. The
    * nation side is restricted to n_nationkey < 15 so customers of the
    * other nations exercise the unmatched-left branch (member rows
    * surface with a null nation). */
  def tableFkLeft(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_nationkey") < 15)),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
        col("n_name").as("nation_name"))

  val tableFkLeftSql: String =
    """SELECT c_custkey AS cust_id, c_name AS cust_name,
      |       n_name AS nation_name
      |FROM customer c
      |LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 15) n
      |  ON c.c_nationkey = n.n_nationkey""".stripMargin

  // ---- table aggregation (adder/subtractor) -------------------------

  /** Batch form of `CREATE TABLE agg AS SELECT status, COUNT(*),
    * SUM(price) FROM orders_by_customer GROUP BY status` — aggregate
    * OVER A TABLE, ksqlDB's last table family: the grouped set is the
    * latest-by-offset snapshot (one row per customer), not the order
    * stream, so a customer's newer order RETRACTS their older one
    * from its group. Declaratively that is snapshot-then-groupBy; the
    * two aggregations share the o_custkey exchange only when keys
    * align, and the second groupBy is over ≤|status| groups — a
    * partial-agg-friendly shape at any scale. Money on the cents grid,
    * AVG as exact integer division of the grid sums. */
  def tableAgg(s: SparkSession, d: String): DataFrame = {
    val snap = Relational.latestByKey(Tables.orders(s, d),
      col("o_custkey"), col("o_orderkey"),
      "last_status" -> col("o_orderstatus"),
      "price_cents" -> round(col("o_totalprice") * 100).cast("long"))
    snap.groupBy(col("last_status"))
      .agg(count(lit(1)).as("n_keys"), sum(col("price_cents")).as("sum_cents"))
      .withColumn("avg_cents", expr("sum_cents DIV n_keys"))
  }

  val tableAggSql: String =
    """SELECT last_status, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
      |       CAST(SUM(price_cents) // COUNT(*) AS BIGINT) AS avg_cents
      |FROM (SELECT o_custkey,
      |             arg_max(o_orderstatus, o_orderkey) AS last_status,
      |             arg_max(CAST(round(o_totalprice*100) AS BIGINT),
      |                     o_orderkey) AS price_cents
      |      FROM orders GROUP BY o_custkey)
      |GROUP BY last_status""".stripMargin

  /** Streaming twin: the real adder/subtractor pipeline —
    * orders changelog → [[graft.streaming.TableChangelog]] (retraction
    * records) → [[graft.streaming.TableAggregate]] (grouped COUNT/SUM
    * with subtract-on-update) — run to completion, the aggregate table
    * reconstructed FROM ITS OWN changelog. Same oracle as the batch
    * form iff every retraction was applied exactly. */
  def streamTableAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val changes = TableChangelog.of(ordersStatusChangelog(s, d))
    val agg = TableAggregate.of[Long, OrdStatus, String](
      changes, _.status, _.cents)
    val t = StreamingQueries.runToTable(agg.toDF(), "append")
    TableChangelog.latestState(t)
      .select(col("key").as("last_status"),
        col("after.cnt").as("n_keys"),
        col("after.sum").as("sum_cents"))
      .withColumn("avg_cents", expr("sum_cents DIV n_keys"))
  }

  /** MIN/MAX aggregation over the same table — the aggregates ksqlDB
    * CANNOT express over tables (no subtractor exists for max; see
    * [[graft.streaming.TableAggregate.ofMinMax]] for the value-count
    * retraction that makes this engine strictly more capable). Batch
    * form: snapshot-then-groupBy, MIN/MAX alongside the count. */
  def tableAggMinMax(s: SparkSession, d: String): DataFrame = {
    val snap = Relational.latestByKey(Tables.orders(s, d),
      col("o_custkey"), col("o_orderkey"),
      "last_status" -> col("o_orderstatus"),
      "price_cents" -> round(col("o_totalprice") * 100).cast("long"))
    snap.groupBy(col("last_status"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("price_cents")).as("min_cents"),
        max(col("price_cents")).as("max_cents"))
  }

  val tableAggMinMaxSql: String =
    """SELECT last_status, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |       CAST(MIN(price_cents) AS BIGINT) AS min_cents,
      |       CAST(MAX(price_cents) AS BIGINT) AS max_cents
      |FROM (SELECT o_custkey,
      |             arg_max(o_orderstatus, o_orderkey) AS last_status,
      |             arg_max(CAST(round(o_totalprice*100) AS BIGINT),
      |                     o_orderkey) AS price_cents
      |      FROM orders GROUP BY o_custkey)
      |GROUP BY last_status""".stripMargin

  /** Streaming twin: changelog → retraction records → value-count
    * MIN/MAX state ([[graft.streaming.TableAggregate.ofMinMax]]) —
    * a customer's newer order retracts the old price from its status
    * group's value map, and MIN/MAX re-derive exactly even when the
    * retracted price WAS the group extremum. Same oracle as batch. */
  def streamTableAggMinMax(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val changes = TableChangelog.of(ordersStatusChangelog(s, d))
    val agg = TableAggregate.ofMinMax[Long, OrdStatus, String](
      changes, _.status, _.cents)
    val t = StreamingQueries.runToTable(agg.toDF(), "append")
    TableChangelog.latestState(t)
      .select(col("key").as("last_status"),
        col("after.cnt").as("n_keys"),
        col("after.min").as("min_cents"),
        col("after.max").as("max_cents"))
  }

  // ---- streaming inputs --------------------------------------------

  /** Source rows for the table aggregation: the latest order's status
    * (the GROUP BY column) and price on the cents grid (the measure —
    * integer so adder/subtractor arithmetic is exact). */
  case class OrdStatus(status: String, cents: Long)

  /** The orders table as a changelog carrying the aggregation payload:
    * key = o_custkey, offset = o_orderkey. */
  private def ordersStatusChangelog(s: SparkSession,
                                    d: String): Dataset[(Long, Long, Option[OrdStatus])] = {
    import s.implicits._
    Tables.stream(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          round(col("o_totalprice") * 100).cast("long").as("cents")).as("v"))
      .as[(Long, Long, OrdStatus)]
      .map { case (k, off, v) => (k, off, Option(v)) }
  }

  /** The orders table as a keyed-versioned changelog stream:
    * key = o_custkey, offset = o_orderkey (globally unique, so
    * last-write-wins lands on the latest order per customer). */
  private def ordersChangelog(s: SparkSession,
                              d: String): Dataset[(Long, Long, Option[OrdInfo])] = {
    import s.implicits._
    Tables.stream(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        struct(col("o_totalprice").as("last_price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("last_order_date"))
          .as("v"))
      .as[(Long, Long, OrdInfo)]
      .map { case (k, off, v) => (k, off, Option(v)) }
  }

  /** The events table as a changelog keyed by user_id, versioned by
    * event_id. */
  private def eventsChangelog(s: SparkSession,
                              d: String): Dataset[(Long, Long, Option[EvInfo])] = {
    import s.implicits._
    StreamingQueries.eventsStream(s, d)
      .select(col("user_id"), col("event_id"),
        struct(col("event_type").as("latest_type"),
          col("value").as("latest_value")).as("v"))
      .as[(Long, Long, EvInfo)]
      .map { case (k, off, v) => (k, off, Option(v)) }
  }

  // ---- streaming forms ---------------------------------------------

  /** The changelog operator itself, hash-verified: run the orders
    * changelog to completion, then reconstruct the table FROM the
    * emitted c/u/d records — equal to the batch arg_max snapshot iff
    * every change row (ops, images, per-key seq) was right. */
  def streamTableChangelog(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val changes = TableChangelog.of(ordersChangelog(s, d))
    val t = StreamingQueries.runToTable(changes.toDF(), "append")
    TableChangelog.latestState(t)
      .select(col("key").as("cust_id"),
        col("after.last_price").as("last_price"),
        col("after.last_order_date").as("last_order_date"))
  }

  lazy val streamTableChangelogSql: String =
    """SELECT o_custkey AS cust_id,
      |       arg_max(o_totalprice, o_orderkey) AS last_price,
      |       arg_max(strftime(o_orderdate, '%Y-%m-%d'), o_orderkey)
      |         AS last_order_date
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Streaming pk table–table join (left): same oracle as the batch
    * form — the joined table is reconstructed from the join's OWN
    * changelog output. */
  def streamTableTableJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val changes = TableTableJoin.pkJoin(
      ordersChangelog(s, d), eventsChangelog(s, d), "left")
    val t = StreamingQueries.runToTable(changes.toDF(), "append")
    TableChangelog.latestState(t)
      .select(col("key").as("cust_id"),
        col("after.left.last_price").as("last_price"),
        col("after.left.last_order_date").as("last_order_date"),
        col("after.right.latest_type").as("latest_type"),
        col("after.right.latest_value").as("latest_value"))
  }

  /** Streaming INNER pk join — same oracle as the batch inner form;
    * a key's joined row exists only while both sides are present. */
  def streamTableTableInner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val changes = TableTableJoin.pkJoin(
      ordersChangelog(s, d), eventsChangelog(s, d), "inner")
    val t = StreamingQueries.runToTable(changes.toDF(), "append")
    TableChangelog.latestState(t)
      .select(col("key").as("cust_id"),
        col("after.left.last_price").as("last_price"),
        col("after.left.last_order_date").as("last_order_date"),
        col("after.right.latest_type").as("latest_type"),
        col("after.right.latest_value").as("latest_value"))
  }

  /** Streaming FULL OUTER pk join — same restriction and oracle as
    * the batch twin; right-only and left-only keys must surface with
    * nulls on the absent side, and the table reconstructs from the
    * join's own changelog. */
  def streamTableTableFull(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val left = ordersChangelog(s, d).filter(_._1 >= 100L)
    val changes = TableTableJoin.pkJoin(left, eventsChangelog(s, d), "full")
    val t = StreamingQueries.runToTable(changes.toDF(), "append")
    TableChangelog.latestState(t)
      .select(col("key").as("cust_id"),
        col("after.left.last_price").as("last_price"),
        col("after.left.last_order_date").as("last_order_date"),
        col("after.right.latest_type").as("latest_type"),
        col("after.right.latest_value").as("latest_value"))
  }

  /** Streaming fk table–table join: the customer changelog
    * (retraction-aware stage) routed by nation key into the join
    * state, composed in ONE query (both stateful operators run in
    * append mode). Inner join, same oracle as the batch form. */
  def streamTableFkJoin(s: SparkSession, d: String): DataFrame =
    streamFk(s, d, "inner", natFilter = None)

  /** Streaming LEFT fk join — nation side restricted as in the batch
    * twin, so members of the filtered-out groups emit with a null
    * right image (and would revise if their nation later arrived). */
  def streamTableFkLeft(s: SparkSession, d: String): DataFrame =
    streamFk(s, d, "left", natFilter = Some(col("n_nationkey") < 15))

  private def streamFk(s: SparkSession, d: String, joinType: String,
                       natFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    import s.implicits._
    val custDs = Tables.stream(s, d, "customer")
      .select(col("c_custkey"), col("c_custkey").as("off"),
        struct(col("c_name").as("cust_name"),
          col("c_nationkey").cast("long").as("nation_key")).as("v"))
      .as[(Long, Long, CustInfo)]
      .map { case (k, off, v) => (k, off, Option(v)) }
    val natRaw = Tables.stream(s, d, "nation")
    val natDs = natFilter.fold(natRaw)(natRaw.filter)
      .select(col("n_nationkey").cast("long"),
        col("n_nationkey").cast("long").as("off"),
        struct(col("n_name").as("nation_name")).as("v"))
      .as[(Long, Long, NatInfo)]
      .map { case (k, off, v) => (k, off, Option(v)) }
    val joined = TableTableJoin.fkJoin[Long, Long, CustInfo, NatInfo](
      TableChangelog.of(custDs), _.nation_key, natDs, joinType)
    val t = StreamingQueries.runToTable(joined.toDF(), "append")
    TableChangelog.latestState(t)
      .select(col("key").as("cust_id"),
        col("after.left.cust_name").as("cust_name"),
        col("after.right.nation_name").as("nation_name"))
  }

  def entries: Seq[Entry] = Seq(
    Entry("q_table_table_join", tableTableJoin, tableTableJoinSql),
    Entry("q_table_table_inner", tableTableInner, tableTableInnerSql),
    Entry("q_table_table_full", tableTableFull, tableTableFullSql),
    Entry("q_table_fk_join", tableFkJoin, tableFkJoinSql),
    Entry("q_table_fk_left", tableFkLeft, tableFkLeftSql),
    Entry("q_table_agg", tableAgg, tableAggSql),
    Entry("q_table_agg_minmax", tableAggMinMax, tableAggMinMaxSql),
    Entry("stream_table_agg_minmax", streamTableAggMinMax, tableAggMinMaxSql),
    Entry("stream_table_agg", streamTableAgg, tableAggSql),
    Entry("stream_table_changelog", streamTableChangelog,
      streamTableChangelogSql),
    Entry("stream_table_table_join", streamTableTableJoin, tableTableJoinSql),
    Entry("stream_table_table_inner", streamTableTableInner,
      tableTableInnerSql),
    Entry("stream_table_table_full", streamTableTableFull, tableTableFullSql),
    Entry("stream_table_fk_join", streamTableFkJoin, tableFkJoinSql),
    Entry("stream_table_fk_left", streamTableFkLeft, tableFkLeftSql))
}
