package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational
import graft.queries.Catalog.Entry
import graft.sources.Tables

/** General batch-SQL engine surface (SURVEY.md §2.9 closure set), each
  * query verified against a DuckDB oracle. Four sections:
  *  - relational: sorts, limits, set ops, joins, subqueries (through the
  *    `spark.sql` entry point, so Catalyst decorrelates them), as-of;
  *  - aggregation and windows: grouped, distinct, grouping-set, pivot,
  *    percentile and sketch aggregates, analytic and event-time windows;
  *  - scalar, string, JSON and array functions;
  *  - time series and history: OHLC, SAX, SCD2, cohorts,
  *    latest/earliest-by-offset, pattern sessions, sketch drift.
  *
  * Determinism across engines: double sums are order-dependent, so every
  * money aggregate is computed on an exact integer grid
  * (`round(x*100)::LONG`, cents) and divided back at the end — the sum is
  * then order-independent and bit-identical in Spark and DuckDB. Derived
  * integers are cast to BIGINT on both sides (Spark INT vs DuckDB BIGINT
  * would fail the driver's schema compare).
  */
object BatchSqlQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast(LongType)

  // ---- Relational: sorts, limits, set ops, joins, subqueries, as-of ----

  /** TPC-H Q3-style top-k revenue: 3-way join (dim broadcast), grouped
    * agg on exact cents, deterministic ORDER BY + LIMIT. */
  def q3TopkRevenue(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .groupBy(o("o_orderkey"), o("o_orderdate"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
        .as("revenue"))
      .select(col("o_orderkey").as("order_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("order_id"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT o.o_orderkey AS order_id,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       SUM(CAST(round(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l.l_discount*100) AS BIGINT)))/10000.0 AS revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY o.o_orderkey, o.o_orderdate
      |ORDER BY revenue DESC, order_id LIMIT 10""".stripMargin

  /** ORDER BY + LIMIT (Spark plans a TakeOrderedAndProject — no global
    * sort materialization; at scale this is a per-partition top-k merge). */
  def sortLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey").as("order_id"), col("o_totalprice").as("price"))
      .orderBy(col("price").desc, col("order_id"))
      .limit(20)

  val sortLimitSql: String =
    """SELECT o_orderkey AS order_id, o_totalprice AS price
      |FROM orders ORDER BY price DESC, order_id LIMIT 20""".stripMargin

  /** Pull-query analog (ksqlDB point lookup): a keyed point read that
    * must plan as a pushed-down single-key scan, not a full read. */
  def pointLookup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") === 7)
      .select(col("o_orderkey").as("order_id"),
        col("o_custkey").as("custkey"),
        col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))

  val pointLookupSql: String =
    """SELECT o_orderkey AS order_id, o_custkey AS custkey,
      |       o_totalprice AS price, o_orderstatus AS status
      |FROM orders WHERE o_orderkey = 7""".stripMargin

  /** Set operations: UNION (distinct), EXCEPT. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val bigSpenders = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
      .select(col("o_custkey").as("custkey"))
    val lowNation = Tables.customer(s, d).filter(col("c_nationkey") < 5)
      .select(col("c_custkey").as("custkey"))
    building.union(bigSpenders).distinct().except(lowNation)
  }

  val setOpsSql: String =
    """SELECT custkey FROM (
      |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION
      |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000)
      |EXCEPT
      |SELECT c_custkey AS custkey FROM customer WHERE c_nationkey < 5""".stripMargin

  /** INTERSECT as its own surface entry. */
  def intersectOp(s: SparkSession, d: String): DataFrame = {
    val machinery = Tables.customer(s, d).filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey").as("custkey"))
    val buyers = Tables.orders(s, d).select(col("o_custkey").as("custkey"))
    machinery.intersect(buyers)
  }

  val intersectSql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders""".stripMargin

  def unionAll(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.orders(s, d).filter(col("o_totalprice") > 250000)
      .select(col("o_orderkey").as("order_id"), lit("high").as("tier"))
    val lo = Tables.orders(s, d).filter(col("o_totalprice") < 2000)
      .select(col("o_orderkey").as("order_id"), lit("low").as("tier"))
    hi.unionAll(lo)
  }

  val unionAllSql: String =
    """SELECT o_orderkey AS order_id, 'high' AS tier FROM orders WHERE o_totalprice > 250000
      |UNION ALL
      |SELECT o_orderkey AS order_id, 'low' AS tier FROM orders WHERE o_totalprice < 2000""".stripMargin

  /** Explicit small cross join (cartesian surface). */
  def crossJoinSmall(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).select(col("r_name").as("region"))
      .crossJoin(Tables.nation(s, d).select(col("n_name").as("nation")))

  val crossJoinSql: String =
    """SELECT r.r_name AS region, n.n_name AS nation
      |FROM region r CROSS JOIN nation n""".stripMargin

  /** LEFT SEMI join (EXISTS). */
  def semiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 250000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
  }

  val semiJoinSql: String =
    """SELECT c_custkey AS custkey, c_name AS name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)""".stripMargin

  /** LEFT ANTI join (NOT EXISTS). */
  def antiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("c_mktsegment").as("segment"))
  }

  val antiJoinSql: String =
    """SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin

  /** Salted join == plain join (skew mitigation is a physical rewrite,
    * not a semantic change). */
  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    Relational.saltedJoin(
        l, o, l("l_orderkey"), o("o_orderkey"),
        saltSource = l("l_linenumber"), salts = 8)
      .select(col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("l_extendedprice").as("price"),
        col("o_orderstatus").as("status"))
  }

  val saltedJoinSql: String =
    """SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
      |       l.l_extendedprice AS price, o.o_orderstatus AS status
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin

  /** RANGE (interval-containment) JOIN via BINNING — the scale-safe
    * spelling of a non-equi join Spark would otherwise plan as a
    * BroadcastNestedLoopJoin (quadratic, and impossible once neither
    * side broadcasts): each supplier's ±100 balance band explodes to
    * the fixed-width bins it overlaps (≤ 3 rows at width 100), the
    * probe side computes its SINGLE bin, and the join is a plain
    * equi-join on the bin followed by the exact BETWEEN filter. A
    * (probe, range) pair meets in exactly one bin — the probe's — so
    * no dedup is needed. Customers with no matching supplier survive
    * through the left join back (count 0). The oracle spells the
    * naive BETWEEN join directly — DuckDB's IEJoin handles it at
    * oracle scale. */
  def rangeJoinBinned(s: SparkSession, d: String): DataFrame = {
    val BinW = 100.0
    val ranges = Tables.supplier(s, d)
      .select(col("s_suppkey"),
        (col("s_acctbal") - 100).as("lo"), (col("s_acctbal") + 100).as("hi"))
      .withColumn("bin", explode(expr(
        s"sequence(CAST(floor(lo / $BinW) AS BIGINT), " +
          s"CAST(floor(hi / $BinW) AS BIGINT))")))
    val probes = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"),
        expr(s"CAST(floor(c_acctbal / $BinW) AS BIGINT)").as("bin"))
    val hits = probes.join(ranges, "bin")
      .where(col("c_acctbal") >= col("lo") && col("c_acctbal") <= col("hi"))
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).cast(LongType).as("n_sup"),
        min(col("s_suppkey")).as("min_sup"))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(hits, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_sup"), lit(0L)).as("n_sup"), col("min_sup"))
  }

  val rangeJoinBinnedSql: String =
    """SELECT c.c_custkey,
      |  CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_sup,
      |  MIN(s.s_suppkey) AS min_sup
      |FROM customer c LEFT JOIN supplier s
      |  ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
      |GROUP BY c.c_custkey""".stripMargin

  /** MERGE INTO semantics (upsert + delete in one pass) over plain
    * parquet relations — the warehouse-maintenance statement spelled
    * as its relational core: ONE full-outer join on the key, then a
    * CASE per MERGE clause (matched+delete → drop, matched+update →
    * source values, not-matched → insert, target-only → carry). The
    * change set is derived deterministically from the key so the
    * oracle replays it: %10==3 doubles the balance, %10==7 deletes,
    * %10==1 inserts a fresh key. At 100 TB this is one key-partitioned
    * shuffle of each side — exactly what table-format MERGE executes
    * under the hood (plus file rewrite, which [[graft.streaming
    * .KeyedParquetSink]] owns in this engine). */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val target = Tables.customer(s, d)
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val changes = Tables.customer(s, d)
      .filter((col("c_custkey") % 10).isin(1, 3, 7))
      .select(
        when(col("c_custkey") % 10 === 1, col("c_custkey") + 10000000L)
          .otherwise(col("c_custkey")).as("s_key"),
        col("c_name").as("s_name"),
        when(col("c_custkey") % 10 === 3, col("c_acctbal") * 2)
          .when(col("c_custkey") % 10 === 1, col("c_acctbal") + 1)
          .otherwise(col("c_acctbal")).as("s_bal"),
        (col("c_custkey") % 10 === 7).as("s_del"))
    target.join(changes, col("key") === col("s_key"), "full_outer")
      .filter(!coalesce(col("s_del"), lit(false))) // matched+delete drops
      .select(
        coalesce(col("key"), col("s_key")).as("custkey"),
        coalesce(col("s_name"), col("name")).as("name"),
        coalesce(col("s_bal"), col("bal")).as("acctbal"))
  }

  val mergeUpsertSql: String =
    """WITH chg AS (
      |  SELECT CASE WHEN c_custkey % 10 = 1 THEN c_custkey + 10000000
      |              ELSE c_custkey END AS s_key,
      |    c_name AS s_name,
      |    CASE WHEN c_custkey % 10 = 3 THEN c_acctbal * 2
      |         WHEN c_custkey % 10 = 1 THEN c_acctbal + 1
      |         ELSE c_acctbal END AS s_bal,
      |    (c_custkey % 10 = 7) AS s_del
      |  FROM customer
      |  WHERE c_custkey % 10 IN (1, 3, 7))
      |SELECT coalesce(t.c_custkey, c.s_key) AS custkey,
      |  coalesce(c.s_name, t.c_name) AS name,
      |  coalesce(c.s_bal, t.c_acctbal) AS acctbal
      |FROM customer t FULL OUTER JOIN chg c ON t.c_custkey = c.s_key
      |WHERE NOT coalesce(c.s_del, false)""".stripMargin

  private def withViews(s: SparkSession, d: String, names: String*): Unit =
    names.foreach(n => Tables(s, d, n).createOrReplaceTempView(n))

  val scalarSubquerySql: String =
    """SELECT o.o_orderkey AS order_id
      |FROM orders o
      |WHERE o.o_totalprice > 1.5 * (
      |  SELECT SUM(CAST(round(o2.o_totalprice*100) AS BIGINT)) / (100.0 * COUNT(*))
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  /** Correlated scalar subquery through the SQL entry point (temp view
    * → parser → Catalyst decorrelation). The per-customer average uses
    * the exact integer-cents grid so both engines compare identical
    * doubles. */
  def scalarSubquery(s: SparkSession, d: String): DataFrame = {
    withViews(s, d, "orders")
    s.sql(scalarSubquerySql)
  }

  val inSubquerySql: String =
    """SELECT o_orderkey AS order_id, o_totalprice AS price
      |FROM orders
      |WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer
      |  WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2))""".stripMargin

  /** IN-subquery form (planned as a left-semi join after rewrite). */
  def inSubquery(s: SparkSession, d: String): DataFrame = {
    withViews(s, d, "orders", "customer", "nation")
    s.sql(inSubquerySql)
  }

  /** The custom AS-OF JOIN operator (graft.plans.AsOfJoin: LogicalPlan
    * + Strategy + sort-merge SparkPlan): every purchase event matched
    * to the same user's latest signup at-or-before it. Oracle = the
    * correlated-max spelling. Safe on default (AQE-enabled) sessions:
    * the exec pins its children's partition counts. */
  def asofJoinCustom(s: SparkSession, d: String): DataFrame = {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = Tables.events(s, d)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    graft.plans.AsOf.join(purchases, signups,
        purchases("user_id"), signups("s_user"),
        purchases("ts"), signups("s_ts"))
      .select(col("event_id"), col("user_id"),
        date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("signup_ts"))
  }

  val asofJoinCustomSql: String =
    """SELECT p.event_id, p.user_id,
      |  strftime((SELECT max(s.ts) FROM events s
      |            WHERE s.user_id = p.user_id AND s.event_type = 'signup'
      |              AND s.ts <= p.ts),
      |           '%Y-%m-%d %H:%M:%S.%f') AS signup_ts
      |FROM events p WHERE p.event_type = 'purchase'""".stripMargin

  /** FORWARD as-of through the same custom operator: every purchase
    * matched to the same user's EARLIEST 'view' at-or-after it (the
    * what-happened-next lookup). Oracle = correlated min. */
  def asofForward(s: SparkSession, d: String): DataFrame = {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    graft.plans.AsOf.join(purchases, views,
        purchases("user_id"), views("v_user"),
        purchases("ts"), views("v_ts"), direction = "forward")
      .select(col("event_id"), col("user_id"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("next_view_ts"))
  }

  val asofForwardSql: String =
    """SELECT p.event_id, p.user_id,
      |  strftime((SELECT min(v.ts) FROM events v
      |            WHERE v.user_id = p.user_id AND v.event_type = 'view'
      |              AND v.ts >= p.ts),
      |           '%Y-%m-%d %H:%M:%S.%f') AS next_view_ts
      |FROM events p WHERE p.event_type = 'purchase'""".stripMargin

  /** NEAREST as-of with a 7-day tolerance: each purchase matched to
    * the temporally closest 'click' within the window, distance ties
    * going backward (the pandas rule). The oracle ranks candidates by
    * the exact integer (2·|Δµs| + forward-flag) key — the same total
    * order the operator applies — then arg_min picks the match. */
  def asofNearest(s: SparkSession, d: String): DataFrame = {
    val sevenDaysUs = 7L * 24 * 3600 * 1000000L
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    graft.plans.AsOf.join(purchases, clicks,
        purchases("user_id"), clicks("c_user"),
        purchases("ts"), clicks("c_ts"),
        direction = "nearest", tolerance = Some(sevenDaysUs))
      .select(col("event_id"), col("user_id"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("nearest_click_ts"))
  }

  val asofNearestSql: String =
    """SELECT p.event_id, p.user_id,
      |  strftime((SELECT arg_min(c.ts,
      |              2 * abs(epoch_us(c.ts) - epoch_us(p.ts)) +
      |              CASE WHEN c.ts > p.ts THEN 1 ELSE 0 END)
      |            FROM events c
      |            WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |              AND abs(epoch_us(c.ts) - epoch_us(p.ts))
      |                  <= 7 * 24 * 3600 * 1000000::BIGINT),
      |           '%Y-%m-%d %H:%M:%S.%f') AS nearest_click_ts
      |FROM events p WHERE p.event_type = 'purchase'""".stripMargin

  /** As-of lookup within a stream: for each event, the same user's
    * most recent signup time at-or-before it (running conditional max
    * over an ordered frame — the windowed form of an as-of join). */
  def asofPrevSignup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(
      col("event_id"),
      col("user_id"),
      date_format(max(when(col("event_type") === "signup", col("ts"))).over(w),
        "yyyy-MM-dd HH:mm:ss.SSSSSS").as("asof_signup_ts"))
  }

  val asofPrevSignupSql: String =
    """SELECT event_id, user_id,
      |  strftime(MAX(CASE WHEN event_type = 'signup' THEN ts END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    '%Y-%m-%d %H:%M:%S.%f') AS asof_signup_ts
      |FROM events""".stripMargin

  // ---- Aggregation and windows --------------------------------------

  /** TPC-H Q1-style pricing summary (full scan + 2-key grouped agg with
    * map-side partial aggregation; the canonical 100 TB-friendly shape). */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
          .as("sum_disc_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
          * (lit(100L) + cents(col("l_tax")))) / 1000000.0).as("sum_charge"),
        (sum(cents(col("l_quantity"))).cast(DoubleType) / (count(lit(1)) * 100.0)).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
      |  SUM(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
      |  SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS sum_disc_price,
      |  SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT))*(100 + CAST(round(l_tax*100) AS BIGINT)))/1000000.0 AS sum_charge,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/(COUNT(*)*100.0) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Distinct aggregation (Spark expands to a two-phase agg). */
  def distinctAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_orderkey")).as("n_ord"),
        count(lit(1)).as("n"))

  val distinctAggSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
      |       COUNT(DISTINCT l_orderkey) AS n_ord, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** GROUP BY + HAVING. */
  def havingAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
      .filter(col("n_orders") >= 12)

  val havingSql: String =
    """SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
      |       MAX(o_totalprice) AS max_price
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12""".stripMargin

  /** Conditional (pivot-style) aggregation. */
  def conditionalAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))

  val conditionalAggSql: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
      |FROM events GROUP BY user_id""".stripMargin

  /** Pivot (wide conditional aggregation). */
  def pivotAgg(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "error", "signup")
    val p = Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
      types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  val pivotAggSql: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      |  CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
      |FROM events GROUP BY user_id""".stripMargin

  /** ROLLUP grouping sets (subtotals + grand total). */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg((sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))

  val rollupSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       SUM(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** CUBE grouping sets. */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("n"))

  val cubeSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  val groupingSetsSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** Explicit GROUPING SETS through the SQL entry point. */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    withViews(s, d, "lineitem")
    s.sql(groupingSetsSql)
  }

  /** GROUPING() / GROUPING_ID() over a rollup — the ANSI affordance
    * that tells a rollup-generated NULL apart from a NULL in the data
    * (the one thing the bare subtotal rows can't): grouping(col) is 1
    * exactly on the rows where col was rolled away, and grouping_id()
    * is the bitmask over the rollup columns in declaration order —
    * identical semantics in DuckDB's multi-arg GROUPING. */
  def groupingId(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("b", col("user_id") % 3)
      .rollup(col("event_type"), col("b"))
      .agg(grouping(col("event_type")).cast(LongType).as("g_type"),
        grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("b").cast(LongType).as("b"),
        col("g_type"), col("gid"), col("n"))

  val groupingIdSql: String =
    """SELECT event_type, CAST(user_id % 3 AS BIGINT) AS b,
      |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
      |  CAST(GROUPING(event_type, user_id % 3) AS BIGINT) AS gid,
      |  COUNT(*) AS n
      |FROM events GROUP BY ROLLUP(event_type, user_id % 3)""".stripMargin

  /** Exact percentiles (linear interpolation — Spark `percentile` ==
    * DuckDB `quantile_cont`). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"))

  val percentilesSql: String =
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.25) AS p25,
      |       quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.9) AS p90
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** ksqlDB `COLLECT_LIST` / `COLLECT_SET`: per-key value collection.
    * Collection order is nondeterministic under parallelism, so both
    * engines sort before joining to a string — the deterministic
    * spelling of an unordered bag (and the hash-comparable one). */
  def collectAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",")
          .as("type_set"),
        array_join(sort_array(collect_list(col("event_type"))), ",")
          .as("type_bag"),
        count(lit(1)).as("n"))

  val collectAggSql: String =
    """SELECT user_id,
      |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS type_set,
      |  array_to_string(list_sort(list(event_type)), ',') AS type_bag,
      |  COUNT(*) AS n
      |FROM events GROUP BY user_id""".stripMargin

  /** Per-key top-k via the bounded top-k operator (map-side
    * k-bounded partials — no full window sort-shuffle); the
    * row_number window form is the oracle. Top-3 orders per customer
    * by price. */
  def topkPerKey(s: SparkSession, d: String): DataFrame =
    Relational.topK(
        Tables.orders(s, d).select(col("o_custkey").as("custkey"),
          col("o_orderkey").as("order_id"), col("o_totalprice").as("price")),
        Seq("custkey"), "price", "order_id", k = 3, longScores = false)
      .select(col("custkey"), col("order_id"), col("price"),
        col("rank").as("rn"))

  val topkPerKeySql: String =
    """SELECT custkey, order_id, price, rn FROM (
      |  SELECT o_custkey AS custkey, o_orderkey AS order_id,
      |         o_totalprice AS price,
      |         CAST(row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |  FROM orders)
      |WHERE rn <= 3""".stripMargin

  /** DATA-QUALITY CHECK SUITE (the Deequ/Great-Expectations shape): a
    * fixed battery of constraints evaluated in ONE pass per table —
    * each check is an aggregate over the same scan, so the whole
    * suite costs one job per table however many constraints it
    * carries (the only sane shape at 100 TB; a per-check scan
    * multiplies cost by the suite size). Violation COUNTS, not
    * booleans, so the report localizes severity. Referential
    * integrity is the one two-table check: orders→customer spelled as
    * a broadcast-friendly left-anti count. */
  def dqChecks(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    def row(table: String, check: String, violations: DataFrame): DataFrame =
      violations.selectExpr(s"'$table' AS table_name",
        s"'$check' AS check_name", "CAST(v AS BIGINT) AS violations")
    val ordersChecks = orders.agg(
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nk"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("rng"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)).as("dom"))
    val custChecks = customer.agg(
      sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("nk"),
      (count(lit(1)) - countDistinct(col("c_custkey"))).as("dup"),
      sum(when(col("c_acctbal") < -1000, 1L).otherwise(0L)).as("rng"))
    val orphans = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    row("orders", "key_not_null", ordersChecks.selectExpr("nk AS v"))
      .unionByName(row("orders", "key_unique",
        ordersChecks.selectExpr("dup AS v")))
      .unionByName(row("orders", "price_positive",
        ordersChecks.selectExpr("rng AS v")))
      .unionByName(row("orders", "status_in_domain",
        ordersChecks.selectExpr("dom AS v")))
      .unionByName(row("customer", "key_not_null",
        custChecks.selectExpr("nk AS v")))
      .unionByName(row("customer", "key_unique",
        custChecks.selectExpr("dup AS v")))
      .unionByName(row("customer", "acctbal_range",
        custChecks.selectExpr("rng AS v")))
      .unionByName(row("orders", "fk_customer_exists", orphans))
  }

  val dqChecksSql: String =
    """WITH o AS (
      |  SELECT
      |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nk,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup,
      |    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS rng,
      |    SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
      |        THEN 1 ELSE 0 END) AS dom
      |  FROM orders),
      |c AS (
      |  SELECT
      |    SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS nk,
      |    COUNT(*) - COUNT(DISTINCT c_custkey) AS dup,
      |    SUM(CASE WHEN c_acctbal < -1000 THEN 1 ELSE 0 END) AS rng
      |  FROM customer),
      |orph AS (
      |  SELECT COUNT(*) AS v FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |SELECT 'orders' AS table_name, 'key_not_null' AS check_name,
      |  CAST(nk AS BIGINT) AS violations FROM o
      |UNION ALL SELECT 'orders', 'key_unique', CAST(dup AS BIGINT) FROM o
      |UNION ALL SELECT 'orders', 'price_positive', CAST(rng AS BIGINT) FROM o
      |UNION ALL SELECT 'orders', 'status_in_domain', CAST(dom AS BIGINT) FROM o
      |UNION ALL SELECT 'customer', 'key_not_null', CAST(nk AS BIGINT) FROM c
      |UNION ALL SELECT 'customer', 'key_unique', CAST(dup AS BIGINT) FROM c
      |UNION ALL SELECT 'customer', 'acctbal_range', CAST(rng AS BIGINT) FROM c
      |UNION ALL SELECT 'orders', 'fk_customer_exists', CAST(v AS BIGINT)
      |  FROM orph""".stripMargin

  /** Sketch aggregates (HLL distinct-count, approximate quantiles).
    * Approximation results differ across engines, so the sketch values
    * themselves can't hash-compare — instead the query emits the EXACT
    * aggregates plus `*_within_tol` booleans asserting the sketch is
    * within 5% relative error of the exact answer, all computed inside
    * the same Spark job. The DuckDB oracle produces the exact values
    * and literal TRUEs, so the row hash-matches and the sketch surface
    * is correctness-gated like every other query (mergeable sketches
    * are the 100 TB substitute for exact distinct/percentile when
    * error is acceptable). Tolerances are ~3σ of each sketch's
    * configured accuracy (HLL default rsd 0.05 → 0.15; rsd 0.02 →
    * 0.06), so the gate is deterministic-data-tight without being
    * flaky. */
  def sketchAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey")).as("a_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("a_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("a_median"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_med_raw"))
      .select(col("l_returnflag"),
        col("exact_orders"), col("exact_parts"),
        round(col("exact_med_raw"), 6).as("exact_median_price"),
        (abs(col("a_orders") - col("exact_orders")) / col("exact_orders") < 0.15)
          .as("orders_within_tol"),
        (abs(col("a_parts") - col("exact_parts")) / col("exact_parts") < 0.06)
          .as("parts_within_tol"),
        (abs(col("a_median") - col("exact_med_raw")) / col("exact_med_raw") < 0.05)
          .as("median_within_tol"))

  val sketchAggSql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  ROUND(quantile_cont(l_extendedprice, CAST(0.5 AS DOUBLE)), 6) AS exact_median_price,
      |  TRUE AS orders_within_tol,
      |  TRUE AS parts_within_tol,
      |  TRUE AS median_within_tol
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Sketch MERGEABILITY — the property that makes sketches work on a
    * cluster: per-source Datasketches HLL partials
    * (`hll_sketch_agg`), unioned (`hll_union_agg`), must estimate the
    * cardinality one sketch built over everything estimates — that
    * agreement is what lets 1000 executors sketch independently and a
    * coordinator merge. Exact estimate EQUALITY holds only in sparse
    * mode (it did at sf≤0.01 but not at sf0.1, where the union takes
    * the dense path), so the contract pinned here is the honest one:
    * merged within 1% of direct, and both within 5% of exact. The
    * query emits the verdicts plus the exact distinct count (the
    * oracle-checkable anchors); estimates stay in-engine because
    * DuckDB's HLL is a different sketch family. */
  def sketchMergeable(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val perSource = events.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged"))
    val direct = events
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("direct"),
        countDistinct(col("user_id")).cast(LongType).as("n_exact"))
    perSource.crossJoin(direct)
      .select(col("n_exact"),
        when(abs(col("merged") - col("direct")) * 100 <= col("direct"),
          1L).otherwise(0L).as("merged_near_direct"),
        // estimate sanity: within 5% of exact (k=12 default HLL)
        when(abs(col("merged") - col("n_exact")) * 20 <= col("n_exact"),
          1L).otherwise(0L).as("merged_within_5pct"))
  }

  val sketchMergeableSql: String =
    """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  CAST(1 AS BIGINT) AS merged_near_direct,
      |  CAST(1 AS BIGINT) AS merged_within_5pct
      |FROM events""".stripMargin

  /** Mergeable deterministic quantile sketch
    * ([[graft.functions.DecimalSketch]]): per-group sketches over the
    * integer-cents grid, PLUS an `ALL` row produced by union-merging the
    * per-group partials — the lossless re-aggregation path that makes stored
    * per-slice sketches a 100 TB pre-aggregation. Quantile extraction is
    * relational (explode → window cumsum → rank scan), so the DuckDB oracle
    * replicates the whole pipeline EXACTLY — unlike the log-γ grid of DDSketch,
    * the decimal grid has no libm boundary and the sketch answer hash-compares
    * across engines. */
  def decsketchQuantiles(s: SparkSession, d: String): DataFrame = {
    val sk = udaf(new graft.functions.DecimalSketchAgg)
    val skMerge = udaf(new graft.functions.DecimalSketchMergeAgg)
    val cents = Tables.lineitem(s, d).select(
      col("l_returnflag").as("grp"),
      round(col("l_extendedprice") * 100).cast(LongType).as("cents"))
    val perGrp = cents.groupBy(col("grp"))
      .agg(sk(col("cents")).as("sketch"), count(lit(1)).as("n"))
    // the ALL row never re-reads rows: it merges the 3 per-group maps
    val merged = perGrp
      .agg(skMerge(col("sketch")).as("sketch"), sum(col("n")).as("n"))
      .select(lit("ALL").as("grp"), col("sketch"), col("n"))
    graft.functions.DecimalSketch.quantileScan(
      perGrp.unionByName(merged), Seq("grp"), Seq(0.5, 0.9, 0.99), "cents")
  }

  /** Replicates the decimal-grid bucketing with pure integer/string
    * arithmetic (`'1' || repeat('0', digits-3)` builds the power of
    * ten — no libm pow), then the same cumsum rank scan. */
  val decsketchQuantilesSql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(round(l_extendedprice*100) AS BIGINT) AS cents
      |  FROM lineitem),
      |g AS (SELECT grp, cents FROM v UNION ALL SELECT 'ALL', cents FROM v),
      |b AS (
      |  SELECT grp,
      |    CASE WHEN abs(cents) < 1000 THEN cents
      |         ELSE cents - cents % CAST('1' || repeat('0',
      |                length(CAST(abs(cents) AS VARCHAR)) - 3) AS BIGINT)
      |    END AS bkt
      |  FROM g),
      |h AS (SELECT grp, bkt, COUNT(*) AS cnt FROM b GROUP BY grp, bkt),
      |nn AS (SELECT grp, COUNT(*) AS n FROM g GROUP BY grp),
      |c AS (SELECT grp, bkt,
      |        SUM(cnt) OVER (PARTITION BY grp ORDER BY bkt) AS cum
      |      FROM h),
      |qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
      |SELECT c.grp, qq.q, MIN(c.bkt) AS cents, CAST(nn.n AS BIGINT) AS n
      |FROM c JOIN nn USING (grp) CROSS JOIN qq
      |WHERE c.cum >= ceil(qq.q * nn.n)
      |GROUP BY c.grp, qq.q, nn.n""".stripMargin

  /** Weighted [[graft.functions.DecimalSketch]]: quantity-weighted
    * price percentiles — each row contributes its l_quantity to the
    * price bucket, so the p50 answers "the price point below which
    * half the UNITS (not half the line items) were sold". Same
    * bounded state and lossless merge as the unweighted form; the
    * rank scan runs over N = Σquantity. */
  def decsketchWeighted(s: SparkSession, d: String): DataFrame = {
    val sk = udaf(new graft.functions.DecimalSketchWeightedAgg)
    val rows = Tables.lineitem(s, d).select(
      col("l_returnflag").as("grp"),
      round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
      col("l_quantity").cast(LongType).as("w"))
    val perGrp = rows.groupBy(col("grp"))
      .agg(sk(col("cents"), col("w")).as("sketch"), sum(col("w")).as("n"))
    graft.functions.DecimalSketch.quantileScan(
      perGrp, Seq("grp"), Seq(0.5, 0.9), "cents")
  }

  val decsketchWeightedSql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(round(l_extendedprice*100) AS BIGINT) AS cents,
      |         CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem),
      |b AS (
      |  SELECT grp, w,
      |    CASE WHEN abs(cents) < 1000 THEN cents
      |         ELSE cents - cents % CAST('1' || repeat('0',
      |                length(CAST(abs(cents) AS VARCHAR)) - 3) AS BIGINT)
      |    END AS bkt
      |  FROM v),
      |h AS (SELECT grp, bkt, SUM(w) AS cnt FROM b GROUP BY grp, bkt),
      |nn AS (SELECT grp, SUM(w) AS n FROM b GROUP BY grp),
      |c AS (SELECT grp, bkt,
      |        SUM(cnt) OVER (PARTITION BY grp ORDER BY bkt) AS cum
      |      FROM h),
      |qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q)
      |SELECT c.grp, qq.q, MIN(c.bkt) AS cents, CAST(nn.n AS BIGINT) AS n
      |FROM c JOIN nn USING (grp) CROSS JOIN qq
      |WHERE c.cum >= ceil(qq.q * nn.n)
      |GROUP BY c.grp, qq.q, nn.n""".stripMargin

  /** The inverse sketch query: quantiles answer "value at rank q";
    * this answers "how much mass sits at or below value T" — the
    * corpus question ("what fraction of documents fit in a 512-token
    * context?") asked of the price sketch. CDF at the grid's
    * resolution: thresholds are chosen ON the grid (they are their
    * own buckets), the ≤-mass is a plain filtered sum over the
    * exploded sketch, and the fraction is one IEEE division — all
    * from stored sketches, rows long gone. */
  def sketchCdf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sk = udaf(new graft.functions.DecimalSketchAgg)
    val sketches = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"))
      .groupBy(col("grp"))
      .agg(sk(col("cents")).as("sketch"), count(lit(1)).as("n"))
    val ts = Seq(1000000L, 3000000L, 6000000L).toDF("t") // $10k/$30k/$60k
    sketches
      .select(col("grp"), col("n"),
        explode(col("sketch")).as(Seq("bkt", "cnt")))
      .join(broadcast(ts), col("bkt") <= col("t"))
      .groupBy(col("grp"), col("t"), col("n"))
      .agg(sum(col("cnt")).as("n_le"))
      .select(col("grp"), col("t"), col("n_le"),
        (col("n_le") / col("n").cast(DoubleType)).as("frac"), col("n"))
  }

  val sketchCdfSql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(round(l_extendedprice*100) AS BIGINT) AS cents
      |  FROM lineitem),
      |b AS (
      |  SELECT grp,
      |    CASE WHEN abs(cents) < 1000 THEN cents
      |         ELSE cents - cents % CAST('1' || repeat('0',
      |                length(CAST(abs(cents) AS VARCHAR)) - 3) AS BIGINT)
      |    END AS bkt
      |  FROM v),
      |h AS (SELECT grp, bkt, COUNT(*) AS cnt FROM b GROUP BY grp, bkt),
      |nn AS (SELECT grp, COUNT(*) AS n FROM b GROUP BY grp),
      |tt AS (SELECT unnest([1000000, 3000000, 6000000]) AS t)
      |SELECT h.grp, CAST(tt.t AS BIGINT) AS t,
      |  CAST(SUM(h.cnt) AS BIGINT) AS n_le,
      |  CAST(SUM(h.cnt) AS BIGINT) / CAST(nn.n AS DOUBLE) AS frac,
      |  CAST(nn.n AS BIGINT) AS n
      |FROM h JOIN nn USING (grp) JOIN tt ON h.bkt <= tt.t
      |GROUP BY h.grp, tt.t, nn.n""".stripMargin

  /** Ranking / analytic window functions: row_number, rank, lag, running
    * sum over an explicit ROWS frame with a unique ordering. */
  def windowFunctions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRank = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey").as("order_id"),
      col("o_custkey").as("custkey"),
      row_number().over(w).cast(LongType).as("rn"),
      rank().over(wRank).cast(LongType).as("price_rank"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      (sum(cents(col("o_totalprice")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) / 100.0)
        .as("running_spend"))
  }

  val windowFunctionsSql: String =
    """SELECT o_orderkey AS order_id, o_custkey AS custkey,
      |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn,
      |  CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank,
      |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
      |  SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0 AS running_spend
      |FROM orders""".stripMargin

  /** ntile / first_value / last_value over explicit frames. */
  def ntileFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d).select(
      col("o_orderkey").as("order_id"),
      col("o_custkey").as("custkey"),
      ntile(4).over(w).cast(LongType).as("quartile"),
      first_value(col("o_orderkey")).over(full).as("first_order"),
      last_value(col("o_orderkey")).over(full).as("last_order"),
      lead(col("o_orderkey"), 1).over(w).as("next_order"))
  }

  val ntileFirstLastSql: String =
    """SELECT o_orderkey AS order_id, o_custkey AS custkey,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  first_value(o_orderkey) OVER wf AS first_order,
      |  last_value(o_orderkey) OVER wf AS last_order,
      |  lead(o_orderkey, 1) OVER w AS next_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  /** RANGE window frame: per-customer 30-day trailing spend, on an
    * integer day grid so both engines share exact frame semantics. */
  def rangeFrame(s: SparkSession, d: String): DataFrame = {
    val dayN = datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("__day"))
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("__day", dayN.cast(LongType))
      .select(col("o_orderkey").as("order_id"),
        col("o_custkey").as("custkey"),
        col("__day").as("day_n"),
        (sum(round(col("o_totalprice") * 100).cast(LongType)).over(w) / 100.0)
          .as("trailing_30d_spend"))
  }

  val rangeFrameSql: String =
    """SELECT o_orderkey AS order_id, o_custkey AS custkey,
      |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS day_n,
      |  SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)/100.0 AS trailing_30d_spend
      |FROM orders""".stripMargin

  /** Tumbling event-time window aggregation (batch analog of the
    * streaming windowed agg; date_trunc == 1h tumbling window start).
    * Arbitrary-precision doubles are summed on a fixed 1e-6 grid with
    * floor() — exact, order-independent, identical cross-engine. */
  def tumblingAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0).as("sum_value"))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  val tumblingAggSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type, COUNT(*) AS n,
      |       SUM(CAST(floor("value"*1000000) AS BIGINT))/1000000.0 AS sum_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin

  /** Hopping windows (1 h size, 15 min hop — ksqlDB `WINDOW HOPPING`):
    * every event lands in size/hop = 4 overlapping windows. Spark's
    * `window(ts, size, slide)` generates them inline (a projection,
    * not a join); both engines align buckets to the epoch so the
    * window starts agree exactly. */
  def hoppingAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  val hoppingAggSql: String =
    """WITH e AS (
      |  SELECT time_bucket(INTERVAL '15 minutes', ts) tb, event_type, "value"
      |  FROM events),
      |w AS (
      |  SELECT tb - k.k * INTERVAL '15 minutes' AS ws, event_type, "value"
      |  FROM e, (SELECT unnest(generate_series(0, 3)) k) k)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      |       COUNT(*) AS n,
      |       SUM(CAST(floor("value"*1000000) AS BIGINT))/1000000.0 AS sum_value
      |FROM w GROUP BY ws, event_type""".stripMargin

  /** Session windows (30 min inactivity gap) per user — batch form of
    * the streaming session aggregation; oracle = gaps-and-islands. */
  def sessionWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        col("n"))

  // ---- Scalar, string, JSON and array functions ---------------------

  /** Scalar string/math function surface. */
  def scalarFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey").as("partkey"),
      upper(col("p_brand")).as("brand_u"),
      length(col("p_name")).cast(LongType).as("name_len"),
      substring(col("p_type"), 1, 5).as("type5"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      abs(col("p_size") - 25).cast(LongType).as("size_dist"),
      (col("p_size") % 7).cast(LongType).as("size_mod"),
      floor(col("p_retailprice")).as("price_floor"))

  val scalarFuncsSql: String =
    """SELECT p_partkey AS partkey, upper(p_brand) AS brand_u,
      |       CAST(length(p_name) AS BIGINT) AS name_len,
      |       substr(p_type, 1, 5) AS type5,
      |       concat(p_brand, '#', p_type) AS brand_type,
      |       CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
      |       CAST(p_size % 7 AS BIGINT) AS size_mod,
      |       CAST(floor(p_retailprice) AS BIGINT) AS price_floor
      |FROM part""".stripMargin

  /** Date/time scalar functions. */
  def dateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("order_id"),
      year(col("o_orderdate")).cast(LongType).as("yr"),
      month(col("o_orderdate")).cast(LongType).as("mo"),
      dayofmonth(col("o_orderdate")).cast(LongType).as("dy"),
      datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
        .cast(LongType).as("days_since"))

  val dateFuncsSql: String =
    """SELECT o_orderkey AS order_id,
      |       CAST(year(o_orderdate) AS BIGINT) AS yr,
      |       CAST(month(o_orderdate) AS BIGINT) AS mo,
      |       CAST(day(o_orderdate) AS BIGINT) AS dy,
      |       CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since
      |FROM orders""".stripMargin

  /** CASE WHEN bucketing + explicit floor-based cast (double→bigint cast
    * truncates in Spark but rounds in DuckDB — floor() first on both
    * sides keeps them identical). */
  def caseCast(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        floor(col("o_totalprice")).cast(LongType).as("price_int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("price_int")).cast(DoubleType).as("sum_price_int"))

  val caseCastSql: String =
    """SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
      |            WHEN o_totalprice > 100000 THEN 'mid'
      |            ELSE 'low' END AS bucket,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS DOUBLE) AS sum_price_int
      |FROM (SELECT o_totalprice FROM orders)
      |GROUP BY 1""".stripMargin

  /** Null-handling scalar surface: nullif/coalesce/isnull arithmetic. */
  def nullHandling(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("custkey"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("__default"))
        .as("seg_or_default"),
      isnull(nullif(col("c_nationkey"), lit(0))).cast(LongType).as("is_nation0"),
      when(col("c_acctbal") < 0, null).otherwise(col("c_acctbal")).as("pos_bal"))

  val nullHandlingSql: String =
    """SELECT c_custkey AS custkey,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '__default') AS seg_or_default,
      |  CAST(NULLIF(c_nationkey, 0) IS NULL AS BIGINT) AS is_nation0,
      |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal
      |FROM customer""".stripMargin

  /** LIKE / pattern matching. */
  def likePatterns(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_type").like("%BRUSHED%") || col("p_name").like("g%n%"))
      .select(col("p_partkey").as("partkey"), col("p_type"), col("p_name"))

  val likePatternsSql: String =
    """SELECT p_partkey AS partkey, p_type, p_name FROM part
      |WHERE p_type LIKE '%BRUSHED%' OR p_name LIKE 'g%n%'""".stripMargin

  /** Regexp extraction + string padding/translate (identical regex
    * semantics for these simple patterns across engines). */
  def regexpStrings(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey").as("partkey"),
      regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
      lpad(col("p_brand"), 12, "_").as("brand_pad"),
      translate(col("p_name"), "aeiou", "AEIOU").as("name_vowels"),
      rtrim(concat(col("p_brand"), lit("  "))).as("brand_rtrim"))

  val regexpStringsSql: String =
    """SELECT p_partkey AS partkey,
      |  regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
      |  lpad(p_brand, 12, '_') AS brand_pad,
      |  translate(p_name, 'aeiou', 'AEIOU') AS name_vowels,
      |  rtrim(p_brand || '  ') AS brand_rtrim
      |FROM part""".stripMargin

  /** JSON field extraction from the events.props column. */
  def jsonFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(LongType).as("k"))

  val jsonFuncsSql: String =
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin

  /** Array function surface over the token arrays. */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextShingles.tokens(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast(LongType).as("n"),
        element_at(col("t"), 1).as("first_tok"),
        array_contains(col("t"), "data").cast(LongType).as("has_data"),
        size(array_distinct(col("t"))).cast(LongType).as("n_distinct"),
        array_join(slice(col("t"), 1, 3), "_").as("first3"),
        array_max(transform(col("t"), x => length(x))).cast(LongType).as("max_tok_len"))

  val arrayFuncsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents)
      |SELECT doc_id,
      |  CAST(len(t) AS BIGINT) AS n,
      |  t[1] AS first_tok,
      |  CAST(CASE WHEN list_contains(t, 'data') THEN 1 ELSE 0 END AS BIGINT) AS has_data,
      |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
      |  array_to_string(t[1:3], '_') AS first3,
      |  CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_tok_len
      |FROM t""".stripMargin

  // ---- Time series and history --------------------------------------

  /** OHLC candlestick bars — the canonical Kafka-ETL time-series
    * rollup (the reference's events topic is exactly this shape:
    * reference README.md stream of (event_id, ts, value)): per
    * (event_type, 1 h tumbling window), open/close are the values of
    * the FIRST/LAST event in OFFSET order (`min_by`/`max_by` on the
    * monotone event_id — ksql's EARLIEST_BY_OFFSET/LATEST_BY_OFFSET
    * picked per window), high/low the extremes, volume an
    * order-independent exact-grid sum. One shuffle on the grouping
    * keys with full map-side partial aggregation — min_by/max_by
    * partials are a single (value, ord) pair per key, so the shuffle
    * carries O(groups), not O(rows), at any scale. */
  def ohlcBars(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("open_px"),
        max(col("value")).as("high_px"),
        min(col("value")).as("low_px"),
        max_by(col("value"), col("event_id")).as("close_px"),
        count(lit(1)).as("n_trades"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0)
          .as("volume"))
      .select(
        date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("open_px"), col("high_px"), col("low_px"),
        col("close_px"), col("n_trades"), col("volume"))

  val ohlcBarsSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
      |    AS window_start,
      |  event_type,
      |  arg_min("value", event_id) AS open_px,
      |  max("value") AS high_px,
      |  min("value") AS low_px,
      |  arg_max("value", event_id) AS close_px,
      |  COUNT(*) AS n_trades,
      |  SUM(CAST(floor("value"*1000000) AS BIGINT))/1000000.0 AS volume
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Events per PAA window for [[saxMotif]] (count-based tumbling, so
    * window membership is a pure function of the row's rank — no
    * ragged time-bucket edges). */
  private[queries] val SaxW = 8

  /** The typed event frame the SAX stages consume (shared with the
    * streaming twin, which reads the same columns off the stream). */
  private[queries] def saxEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        round(col("value") * 100).cast(LongType).as("cents"))

  /** PAA stage: complete [[SaxW]]-event window sums per series. */
  private[queries] def saxSums(ev: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    ev.withColumn("rn", row_number().over(wOrd))
      .withColumn("wid", expr(s"(rn - 1) div $SaxW"))
      .groupBy(col("event_type"), col("wid"))
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === SaxW) // drop the ragged tail window
  }

  /** Symbolization breakpoints: per-series rank-based quartiles of
    * the window sums — the TRAINED artifact the streaming twin joins
    * against (broadcast; |series| rows). */
  private[queries] def saxBreakpoints(sums: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("s"), col("wid"))
    sums
      .withColumn("nw", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
      .withColumn("rr", row_number().over(wRank))
      .groupBy(col("event_type"), col("nw")).agg(
        min(when(col("rr") === ceil(lit(0.25) * col("nw")), col("s"))).as("b1"),
        min(when(col("rr") === ceil(lit(0.5) * col("nw")), col("s"))).as("b2"),
        min(when(col("rr") === ceil(lit(0.75) * col("nw")), col("s"))).as("b3"))
  }

  /** SAX motif discovery (Lin et al.'s Symbolic Aggregate
    * approXimation, the standard time-series indexing/mining
    * transform) made exactly-verifiable: per event type, the value
    * series (integer cents, (ts, event_id) order) is piecewise-
    * aggregated into [[SaxW]]-event window SUMS (sums, not means —
    * the integer grid stays exact), symbolized into a 4-letter
    * alphabet by the series' own rank-based quartiles (value at rank
    * ⌈qN⌉ — deterministic under ties, and 0.25/0.5/0.75 are exact
    * binary doubles so ⌈qN⌉ matches across engines), and scanned for
    * the most frequent letter TRIGRAM — the motif. Everything after
    * the one per-series shuffle is window-count-sized; at 100 TB the
    * partition key is the series id and the same plan serves millions
    * of series. Complements [[ohlcBars]] (shape summary) and
    * `q_pattern_match` (known pattern): motif discovery finds the
    * recurring shape NOBODY named in advance. */
  def saxMotif(s: SparkSession, d: String): DataFrame = {
    val words = saxWords(s, d)
    val wBest = Window.partitionBy(col("event_type"))
      .orderBy(col("n_occ").desc, col("motif"))
    words.groupBy(col("event_type"), col("nw"),
        col("word").as("motif"))
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("pick", row_number().over(wBest))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("motif"), col("n_occ"),
        col("nw").as("n_windows"))
  }

  val saxMotifSql: String =
    s"""WITH e AS (
      |  SELECT event_type, ts, event_id,
      |         CAST(round(value*100) AS BIGINT) AS cents,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events),
      |sums AS (
      |  SELECT event_type, (rn - 1) // $SaxW AS wid,
      |         SUM(cents) AS s, COUNT(*) AS cnt
      |  FROM e GROUP BY event_type, (rn - 1) // $SaxW
      |  HAVING COUNT(*) = $SaxW),
      |ranked AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS nw,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY s, wid) AS rr
      |  FROM sums),
      |bps AS (
      |  SELECT event_type, nw,
      |    MIN(CASE WHEN rr = ceil(0.25::DOUBLE * nw) THEN s END) AS b1,
      |    MIN(CASE WHEN rr = ceil(0.5::DOUBLE * nw) THEN s END) AS b2,
      |    MIN(CASE WHEN rr = ceil(0.75::DOUBLE * nw) THEN s END) AS b3
      |  FROM ranked GROUP BY event_type, nw),
      |ltr AS (
      |  SELECT s.event_type, s.wid, b.nw,
      |    CASE WHEN s.s < b.b1 THEN 'a' WHEN s.s < b.b2 THEN 'b'
      |         WHEN s.s < b.b3 THEN 'c' ELSE 'd' END AS ltr
      |  FROM sums s JOIN bps b USING (event_type)),
      |words AS (
      |  SELECT event_type, nw,
      |    ltr || lead(ltr, 1) OVER w || lead(ltr, 2) OVER w AS word
      |  FROM ltr
      |  WINDOW w AS (PARTITION BY event_type ORDER BY wid)),
      |cnts AS (
      |  SELECT event_type, nw, word AS motif, COUNT(*) AS n_occ
      |  FROM words WHERE word IS NOT NULL
      |  GROUP BY event_type, nw, word)
      |SELECT event_type, motif, n_occ, nw AS n_windows
      |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
      |        ORDER BY n_occ DESC, motif) AS pick FROM cnts)
      |WHERE pick = 1""".stripMargin

  /** Symbolic time-series similarity (the SAX payoff beyond motifs:
    * once series are words, similarity search is SET ALGEBRA, not
    * DTW): pairwise Jaccard over each series' DISTINCT trigram
    * vocabulary. The join key is the word itself — candidate pairs
    * come from an equi-join on trigrams (never series × series), the
    * same bucket-first discipline as every dedup operator; at 100 TB
    * with millions of series the word relation shuffles once and hot
    * words AQE-split. Jaccard stays exact: intersection/union counts
    * are BIGINT, the ratio is one IEEE division. */
  def saxSimilarity(s: SparkSession, d: String): DataFrame = {
    // feeds three branches (self-join a/b + vocab): persist per the
    // multi-branch convention, detach the result, release the cache
    val words = saxWords(s, d)
      .select(col("event_type"), col("word")).distinct()
      .persist()
    try saxJaccard(words).localCheckpoint()
    finally { words.unpersist(blocking = false); () }
  }

  /** Each series' trigram words: window sums symbolized by the
    * series' breakpoints, each letter joined to the next two. */
  private def saxWords(s: SparkSession, d: String): DataFrame = {
    val sums = saxSums(saxEvents(s, d))
    val wSeq = Window.partitionBy(col("event_type")).orderBy(col("wid"))
    sums.join(saxBreakpoints(sums), Seq("event_type"))
      .withColumn("ltr",
        when(col("s") < col("b1"), "a").when(col("s") < col("b2"), "b")
          .when(col("s") < col("b3"), "c").otherwise("d"))
      .withColumn("word", concat(col("ltr"),
        lead(col("ltr"), 1).over(wSeq), lead(col("ltr"), 2).over(wSeq)))
      .filter(col("word").isNotNull)
  }

  /** Pairwise Jaccard of distinct (event_type, word) vocabularies,
    * shared with the streaming twin's stored vocabularies. */
  private[queries] def saxJaccard(words: DataFrame): DataFrame = {
    val vocab = words.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nv"))
    words.as("a")
      .join(words.as("b"), col("a.word") === col("b.word") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(vocab.select(col("event_type").as("type_a"),
        col("nv").as("nv_a")), Seq("type_a"))
      .join(vocab.select(col("event_type").as("type_b"),
        col("nv").as("nv_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_common"),
        col("nv_a"), col("nv_b"),
        (col("n_common") /
          (col("nv_a") + col("nv_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  val saxSimilaritySql: String =
    s"""WITH e AS (
      |  SELECT event_type, ts, event_id,
      |         CAST(round(value*100) AS BIGINT) AS cents,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events),
      |sums AS (
      |  SELECT event_type, (rn - 1) // $SaxW AS wid,
      |         SUM(cents) AS s, COUNT(*) AS cnt
      |  FROM e GROUP BY event_type, (rn - 1) // $SaxW
      |  HAVING COUNT(*) = $SaxW),
      |ranked AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS nw,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY s, wid) AS rr
      |  FROM sums),
      |bps AS (
      |  SELECT event_type, nw,
      |    MIN(CASE WHEN rr = ceil(0.25::DOUBLE * nw) THEN s END) AS b1,
      |    MIN(CASE WHEN rr = ceil(0.5::DOUBLE * nw) THEN s END) AS b2,
      |    MIN(CASE WHEN rr = ceil(0.75::DOUBLE * nw) THEN s END) AS b3
      |  FROM ranked GROUP BY event_type, nw),
      |ltr AS (
      |  SELECT s.event_type, s.wid,
      |    CASE WHEN s.s < b.b1 THEN 'a' WHEN s.s < b.b2 THEN 'b'
      |         WHEN s.s < b.b3 THEN 'c' ELSE 'd' END AS ltr
      |  FROM sums s JOIN bps b USING (event_type)),
      |words AS (
      |  SELECT DISTINCT event_type,
      |    ltr || lead(ltr, 1) OVER w || lead(ltr, 2) OVER w AS word
      |  FROM ltr
      |  WINDOW w AS (PARTITION BY event_type ORDER BY wid)),
      |wv AS (SELECT event_type, word FROM words WHERE word IS NOT NULL),
      |vocab AS (SELECT event_type, COUNT(*) AS nv FROM wv GROUP BY event_type),
      |inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         COUNT(*) AS n_common
      |  FROM wv a JOIN wv b
      |    ON a.word = b.word AND a.event_type < b.event_type
      |  GROUP BY a.event_type, b.event_type)
      |SELECT i.type_a, i.type_b, i.n_common, va.nv AS nv_a, vb.nv AS nv_b,
      |  i.n_common / CAST(va.nv + vb.nv - i.n_common AS DOUBLE) AS jaccard
      |FROM inter i
      |  JOIN vocab va ON va.event_type = i.type_a
      |  JOIN vocab vb ON vb.event_type = i.type_b""".stripMargin

  /** SCD TYPE-2 dimension build — the warehouse history table a CDC
    * changelog feeds: per user, each run of consecutive identical
    * states collapses to one versioned row with [valid_from,
    * valid_to) bounds (valid_to null on the current version). Change
    * points come from lag() (state differs from the previous event),
    * bounds from lead() over just the change points — two window
    * passes sharing ONE (user_id)-partitioned sort, no self-join. At
    * 100 TB this is the standard one-shuffle dimension-history
    * rebuild; the incremental form applies the same window per
    * micro-batch partition-locally. Timestamps are formatted so the
    * hash compares exact microseconds. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val events = Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("state"),
        col("ts"), col("event_id"))
      .withColumn("__prev", lag(col("state"), 1).over(order))
      .filter(col("__prev").isNull || col("__prev") =!= col("state"))
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    events
      .withColumn("__to", lead(col("ts"), 1).over(order))
      .select(col("user_id"), col("state"),
        date_format(col("ts"), fmt).as("valid_from"),
        date_format(col("__to"), fmt).as("valid_to"),
        when(col("__to").isNull, 1L).otherwise(0L).as("is_current"))
  }

  val scd2HistorySql: String =
    """WITH marked AS (
      |  SELECT user_id, event_type AS state, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |chg AS (
      |  SELECT user_id, state, ts, event_id FROM marked
      |  WHERE prev IS NULL OR prev <> state)
      |SELECT user_id, state,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |  strftime(lead(ts) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id), '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
      |  CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_current
      |FROM chg""".stripMargin

  /** Point-in-time read over the SCD2 history ([[scd2History]]'s
    * consumer side): each user's state AS OF a fixed instant —
    * `valid_from ≤ T < valid_to` (open versions unbounded). The
    * canonical time-travel lookup a feature store serves; one filter
    * over the history, no window. */
  def scd2AsOf(s: SparkSession, d: String): DataFrame = {
    val t = "2024-02-15 00:00:00"
    scd2History(s, d)
      .filter(col("valid_from") <= lit(t) &&
        (col("valid_to").isNull || col("valid_to") > lit(t)))
      .select(col("user_id"), col("state").as("state_asof"),
        col("valid_from"))
  }

  val scd2AsOfSql: String =
    s"""WITH h AS ($scd2HistorySql)
       |SELECT user_id, state AS state_asof, valid_from
       |FROM h
       |WHERE valid_from <= '2024-02-15 00:00:00'
       |  AND (valid_to IS NULL OR valid_to > '2024-02-15 00:00:00')"""
      .stripMargin

  /** ksqlDB `EARLIEST_BY_OFFSET` + `LATEST_BY_OFFSET` side by side:
    * first/last value per key in offset order — both are single-pass
    * declarative aggregates (`min_by`/`max_by`) with map-side
    * partials, so each map partition ships one candidate per key. */
  def earliestByOffset(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min_by(col("event_type"), col("event_id")).as("earliest_type"),
        max_by(col("event_type"), col("event_id")).as("latest_type"),
        min(col("event_id")).as("first_offset"),
        max(col("event_id")).as("last_offset"))

  val earliestByOffsetSql: String =
    """SELECT user_id,
      |       arg_min(event_type, event_id) AS earliest_type,
      |       arg_max(event_type, event_id) AS latest_type,
      |       min(event_id) AS first_offset,
      |       max(event_id) AS last_offset
      |FROM events GROUP BY user_id""".stripMargin

  /** ksqlDB's two-arg `LATEST_BY_OFFSET(col, N)` / `EARLIEST_BY_OFFSET
    * (col, N)` (reference README.md:436-437 shows the family): the N
    * latest / earliest values per key as an array IN ASCENDING OFFSET
    * ORDER — ksqlDB sorts the capped buffer by sequence before output,
    * so `latest_by_offset(v, 3)` ends with the single latest value.
    * Spark spelling: collect the (offset, value) pairs, sort
    * descending, slice the newest N, project the value, reverse back
    * to ascending — all builtin codegen'd collection functions, one
    * shuffle, map-side partial collect. Per-key state is the full key
    * history ONLY because this batch query keeps collect_list exact;
    * the streaming analog bounds it with `max_by`-style top-N pruning
    * per partial. Arrays joined to strings so the hash compare is
    * order-deterministic cross-engine. */
  def latestKByOffset(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        array_join(expr(
          "reverse(transform(slice(sort_array(collect_list(struct(event_id, event_type)), false), 1, 3), x -> x.event_type))"),
          ",").as("latest3"),
        array_join(expr(
          "transform(slice(sort_array(collect_list(struct(event_id, event_type)), true), 1, 3), x -> x.event_type)"),
          ",").as("earliest3"),
        count(lit(1)).cast(LongType).as("n"))

  val latestKByOffsetSql: String =
    """SELECT user_id,
      |  array_to_string(list_reverse(list(event_type ORDER BY event_id DESC)[1:3]), ',') AS latest3,
      |  array_to_string(list(event_type ORDER BY event_id ASC)[1:3], ',') AS earliest3,
      |  COUNT(*) AS n
      |FROM events GROUP BY user_id""".stripMargin

  /** Session gap for [[sessionize]], microseconds (30 minutes). */
  private[queries] val SessionGapUs = 1800L * 1000000L

  /** Gap-based sessionization — assign every EVENT its per-user
    * session number (a new session starts when the gap since the
    * user's previous event exceeds 30 minutes). This is the row-level
    * complement of `q_session_window`'s session AGGREGATE: analytics
    * that need the session id ON the event (attribution, funnel
    * stitching, per-session features) rather than per-session rollups.
    * Two windows over ONE partitioning (user_id): the lag that detects
    * the gap and the running sum that numbers the sessions — a single
    * shuffle on the user key, each user's history sorted locally, the
    * standard scalable shape for per-entity ordered scans. Exact
    * BIGINT microsecond arithmetic; ties broken by event_id so the
    * numbering is deterministic under any partitioning. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("__us"), col("event_id"))
    val prev = lag(col("__us"), 1).over(byUser)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("__us"))
      .withColumn("__new", when(prev.isNull ||
        (col("__us") - prev) > SessionGapUs, 1L).otherwise(0L))
      .select(col("event_id"), col("user_id"),
        sum(col("__new")).over(byUser
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(LongType).as("session_seq"))
  }

  val sessionizeSql: String =
    s"""WITH o AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
       |g AS (
       |  SELECT event_id, user_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL
       |           OR us - lag(us) OVER w > $SessionGapUs
       |         THEN 1 ELSE 0 END AS n
       |  FROM o
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
       |SELECT event_id, user_id,
       |  CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_seq
       |FROM g""".stripMargin

  /** GAPS-AND-ISLANDS: per user, contiguous runs of ACTIVE DAYS
    * (consecutive calendar days with ≥1 event) — the classic
    * streak/retention shape. The grouping key is the
    * day − dense_rank trick: within a user, consecutive days share
    * (day_n − rank), so one window + one groupBy finds every island
    * without self-joins; both engines agree exactly on the integer
    * day grid. */
  def gapsIslands(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_n"))
    Tables.events(s, d)
      .select(col("user_id"),
        datediff(col("ts").cast(DateType), lit("2024-01-01").cast(DateType))
          .cast(LongType).as("day_n"))
      .distinct()
      .withColumn("__grp", col("day_n") - dense_rank().over(w))
      .groupBy(col("user_id"), col("__grp"))
      .agg(min(col("day_n")).as("island_start"),
        max(col("day_n")).as("island_end"),
        count(lit(1)).cast(LongType).as("days_active"))
      .select(col("user_id"), col("island_start"), col("island_end"),
        col("days_active"))
  }

  val gapsIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS day_n
      |  FROM events),
      |grp AS (
      |  SELECT user_id, day_n,
      |    day_n - dense_rank() OVER (PARTITION BY user_id ORDER BY day_n)
      |      AS g
      |  FROM days)
      |SELECT user_id, MIN(day_n) AS island_start, MAX(day_n) AS island_end,
      |  CAST(COUNT(*) AS BIGINT) AS days_active
      |FROM grp GROUP BY user_id, g""".stripMargin

  /** Ordered conversion funnel — the event-analytics staple: how many
    * users progressed view → click → purchase IN THAT ORDER (each
    * stage's FIRST occurrence strictly after the previous stage's).
    * One grouped aggregate computes each user's first-occurrence time
    * per stage (conditional min — map-side partials, one shuffle on
    * user_id), then one tiny rollup counts the stages; no joins, no
    * per-stage passes over the events. Microsecond BIGINT comparisons
    * only. */
  def eventFunnel(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val first = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", us)).as("v"),
        min(when(col("event_type") === "click", us)).as("c"),
        min(when(col("event_type") === "purchase", us)).as("p"))
    first.agg(
      count(lit(1)).cast(LongType).as("n_users"),
      sum(when(col("v").isNotNull, 1L).otherwise(0L)).cast(LongType)
        .as("n_viewed"),
      sum(when(col("c") > col("v"), 1L).otherwise(0L)).cast(LongType)
        .as("n_view_click"),
      sum(when(col("c") > col("v") && col("p") > col("c"), 1L).otherwise(0L))
        .cast(LongType).as("n_view_click_purchase"))
  }

  val eventFunnelSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
      |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
      |  FROM events GROUP BY user_id)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_viewed,
      |  CAST(SUM(CASE WHEN c > v THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_view_click,
      |  CAST(SUM(CASE WHEN c > v AND p > c THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_view_click_purchase
      |FROM f""".stripMargin

  /** Event-type transition counts — the first-order behavior model
    * (what follows what): per user, each event's successor in time
    * order, counted per (type, next type) pair. One user-key shuffle
    * for the lead window, then a tiny grouped agg over ≤ |types|²
    * rows; ties broken by event_id for cross-engine determinism. */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("__us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("__us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).cast(LongType).as("n_transitions"))
  }

  val eventTransitionsSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |t AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS next_type
      |  FROM o)
      |SELECT event_type, next_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_transitions
      |FROM t WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type""".stripMargin

  /** Microseconds per week — the integer cohort grid shared by both
    * spellings of [[cohortRetention]] (calendar week functions differ
    * across engines at the edges; an epoch-week index does not). */
  private val WeekUs = 7L * 86400L * 1000000L

  /** Weekly cohort retention — the product-analytics staple: users
    * cohorted by their signup week, retention = distinct active users
    * per (cohort week, weeks-since-signup). Shapes: one grouped agg
    * finds each user's signup time (map-side partials), an equi-join on
    * the user key tags every event with its cohort — the cohort
    * relation is |users|, which GROWS with the data, so it is NOT
    * broadcast-hinted: the planner broadcasts it while it fits and
    * degrades to a shuffled hash join beyond, instead of dying on the
    * broadcast limit at scale — and one final agg counts distinct
    * users per cell. All week arithmetic on an exact
    * BIGINT epoch-week grid. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
      .select(col("user_id"), expr(s"unix_micros(ts) div $WeekUs").as("wk"))
    val cohorts = Tables.events(s, d)
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(expr(s"min(unix_micros(ts)) div $WeekUs").as("cohort_wk"))
    events.join(cohorts, "user_id")
      .filter(col("wk") >= col("cohort_wk"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct(col("user_id")).cast(LongType).as("n_active"))
  }

  val cohortRetentionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) // $WeekUs AS wk, event_type,
       |         epoch_us(ts) AS us
       |  FROM events),
       |c AS (
       |  SELECT user_id, min(us) // $WeekUs AS cohort_wk
       |  FROM e WHERE event_type = 'signup' GROUP BY user_id)
       |SELECT c.cohort_wk, e.wk - c.cohort_wk AS week_offset,
       |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
       |FROM e JOIN c ON c.user_id = e.user_id
       |WHERE e.wk >= c.cohort_wk
       |GROUP BY c.cohort_wk, e.wk - c.cohort_wk""".stripMargin

  /** Row-pattern matching (MATCH_RECOGNIZE-lite, the SQL:2016 /
    * Flink-CEP capability Spark lacks natively) via SEQUENCE FOLDING:
    * each user's event history collapses to one ordered string (one
    * char per event type), and the pattern engine is plain regexp —
    * `v+c*p` counts view→click*→purchase funnels, `p.*e` flags an
    * error anywhere after a purchase. This composes the building
    * blocks Spark DOES have into whole-history pattern semantics the
    * funnel/transition queries can't express (arbitrary regex over
    * the full sequence, not fixed stage pairs). Scale shape: ONE
    * shuffle on the entity key, per-key payload bounded by events-
    * per-user (sessionize first when histories are unbounded); the
    * regex runs codegen'd per row, no driver-side graph. Patterns
    * stay in the RE2 ∩ java.util.regex common dialect (greedy
    * quantifiers, no backrefs), so the DuckDB oracle replicates the
    * match semantics exactly — ordering is pinned by (ts, event_id)
    * with micro-aligned, tie-free timestamps in the testdata. */
  def patternMatch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_id"), unix_micros(col("ts")).as("us"),
      substring(col("event_type"), 1, 1).as("ch"))
    ev.groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("ch")))),
        x => x.getField("ch")), "").as("seq"))
      .select(col("user_id"), col("seq"),
        length(col("seq")).cast(LongType).as("seq_len"),
        size(regexp_extract_all(col("seq"), lit("v+c*p"), lit(0)))
          .cast(LongType).as("n_funnel"),
        col("seq").rlike("p.*e").cast(LongType).as("err_after_purchase"))
  }

  val patternMatchSql: String =
    """WITH e AS (
      |  SELECT user_id, substring(event_type, 1, 1) AS ch, ts, event_id
      |  FROM events),
      |s AS (
      |  SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS seq
      |  FROM e GROUP BY user_id)
      |SELECT user_id, seq,
      |  CAST(length(seq) AS BIGINT) AS seq_len,
      |  CAST(len(regexp_extract_all(seq, 'v+c*p')) AS BIGINT) AS n_funnel,
      |  CAST(CASE WHEN regexp_matches(seq, 'p.*e') THEN 1 ELSE 0 END
      |       AS BIGINT) AS err_after_purchase
      |FROM s""".stripMargin

  /** Session-scoped row-pattern matching — MATCH_RECOGNIZE's pattern
    * WINDOW semantics, the production CEP form: a match may not span
    * a session gap (>30 min), so `q_pattern_match`'s whole-history
    * fold becomes a per-(user, session) fold and the per-user report
    * aggregates over sessions. A funnel straddling a gap counts ZERO
    * here and one there — that difference is the semantics under
    * test. Same single entity-key shuffle: the gaps-and-islands
    * numbering, the per-session fold, and the per-user rollup all
    * ride one hashpartitioning(user_id). */
  def patternSessions(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), substring(col("event_type"), 1, 1).as("ch"))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(wOrd) > SessionGapUs ||
          lag(col("us"), 1).over(wOrd).isNull, 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(wOrd))
    val perSession = sess.groupBy(col("user_id"), col("sess"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("ch")))),
        x => x.getField("ch")), "").as("seq"))
      .select(col("user_id"),
        size(regexp_extract_all(col("seq"), lit("v+c*p"), lit(0)))
          .cast(LongType).as("n_funnel"),
        col("seq").rlike("p.*e").cast(LongType).as("err_sess"),
        length(col("seq")).cast(LongType).as("len"))
    perSession.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_funnel")).as("n_funnel"),
        sum(col("err_sess")).as("n_err_sessions"),
        sum(col("len")).as("n_events"))
  }

  val patternSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, substring(event_type, 1, 1) AS ch,
      |         epoch_us(ts) AS us, event_id
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
      |                   OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
      |              ORDER BY us, event_id) AS sess
      |  FROM m),
      |ps AS (
      |  SELECT user_id, sess,
      |         string_agg(ch, '' ORDER BY us, event_id) AS seq
      |  FROM sess GROUP BY user_id, sess)
      |SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(len(regexp_extract_all(seq, 'v+c*p'))) AS BIGINT) AS n_funnel,
      |  CAST(SUM(CASE WHEN regexp_matches(seq, 'p.*e') THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_err_sessions,
      |  CAST(SUM(length(seq)) AS BIGINT) AS n_events
      |FROM ps GROUP BY user_id""".stripMargin

  /** Distribution-drift scoring over stored [[graft.functions.DecimalSketch]]s:
    * total-variation distance between each event type's value
    * distribution and the global mix, computed ENTIRELY from the
    * sketches — the rows are gone after one bounded-state pass, and
    * the drift math is pure integer arithmetic. TVD is chosen over
    * PSI/KL/KS exactly because it needs no libm log: the scaled form
    * Σ|ct·Ng − cg·Nt| is exact in BIGINT, so the oracle hash-matches,
    * and the normalized TVD = scaled / (2·Nt·Ng) ∈ [0,1] is one IEEE
    * division both engines agree on. The production shape: per-slice
    * sketches are the stored artifact; a drift gate (retrain trigger,
    * data-quality alarm) re-reads sketches, never rows — the same
    * pattern as [[graft.sources.IvfIndex]]'s centroid-drift gate but
    * for full distributions rather than means. */
  def sketchDrift(s: SparkSession, d: String): DataFrame = {
    val sk = udaf(new graft.functions.DecimalSketchAgg)
    val perType = Tables.events(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .groupBy(col("event_type"))
      .agg(sk(col("cents")).as("sketch"), count(lit(1)).as("n"))
    tvdAgainstGlobal(perType)
  }

  /** The drift tail shared with the streaming monitor: from a
    * (event_type, sketch, n) table, TVD of each type vs the merged
    * global. Global bucket set ⊇ each type's (merge is a union), so
    * the global side is the spine: |types| × |buckets| rows, tiny. */
  private[queries] def tvdAgainstGlobal(perType: DataFrame): DataFrame = {
    val skMerge = udaf(new graft.functions.DecimalSketchMergeAgg)
    val global = perType
      .agg(skMerge(col("sketch")).as("sketch"), sum(col("n")).as("ng"))
      .select(col("ng"), explode(col("sketch")).as(Seq("bkt", "cg")))
    val spine = perType.select(col("event_type"), col("n").as("nt"))
      .crossJoin(broadcast(global))
    val typed = perType.select(col("event_type"),
      explode(col("sketch")).as(Seq("bkt", "ct")))
    spine.join(typed, Seq("event_type", "bkt"), "left")
      .na.fill(0L, Seq("ct"))
      .groupBy(col("event_type"), col("nt"), col("ng"))
      .agg(sum(abs(col("ct") * col("ng") - col("cg") * col("nt")))
        .as("tvd_scaled"))
      .select(col("event_type"), col("tvd_scaled"),
        (col("tvd_scaled") / (lit(2.0) * col("nt") * col("ng"))).as("tvd"),
        col("nt").as("n"))
  }

  val sketchDriftSql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN abs(cents) < 1000 THEN cents
      |         ELSE cents - cents % CAST('1' || repeat('0',
      |                length(CAST(abs(cents) AS VARCHAR)) - 3) AS BIGINT)
      |    END AS bkt
      |  FROM v),
      |t AS (SELECT event_type, bkt, COUNT(*) AS ct FROM b GROUP BY event_type, bkt),
      |nt AS (SELECT event_type, COUNT(*) AS nt FROM b GROUP BY event_type),
      |g AS (SELECT bkt, COUNT(*) AS cg FROM b GROUP BY bkt),
      |ng AS (SELECT COUNT(*) AS ng FROM b),
      |spine AS (
      |  SELECT nt.event_type, nt.nt, g.bkt, g.cg, ng.ng
      |  FROM nt CROSS JOIN g CROSS JOIN ng),
      |j AS (
      |  SELECT s.event_type, s.nt, s.ng,
      |         abs(COALESCE(t.ct, 0) * s.ng - s.cg * s.nt) AS term
      |  FROM spine s LEFT JOIN t
      |    ON t.event_type = s.event_type AND t.bkt = s.bkt)
      |SELECT event_type, CAST(SUM(term) AS BIGINT) AS tvd_scaled,
      |       CAST(SUM(term) AS BIGINT) / (2.0::DOUBLE * nt * ng) AS tvd,
      |       nt AS n
      |FROM j GROUP BY event_type, nt, ng""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q3_topk_revenue", q3TopkRevenue, q3Sql),
    Entry("q_sort_limit", sortLimit, sortLimitSql),
    Entry("q_point_lookup", pointLookup, pointLookupSql),
    Entry("q_set_ops", setOps, setOpsSql),
    Entry("q_intersect", intersectOp, intersectSql),
    Entry("q_union_all", unionAll, unionAllSql),
    Entry("q_cross_join", crossJoinSmall, crossJoinSql),
    Entry("q_semi_join", semiJoin, semiJoinSql),
    Entry("q_anti_join", antiJoin, antiJoinSql),
    Entry("q_salted_join", saltedJoin, saltedJoinSql),
    Entry("q_range_join_binned", rangeJoinBinned, rangeJoinBinnedSql),
    Entry("q_merge_upsert", mergeUpsert, mergeUpsertSql),
    Entry("q_scalar_subquery", scalarSubquery, scalarSubquerySql),
    Entry("q_in_subquery", inSubquery, inSubquerySql),
    Entry("q_asof_join_custom", asofJoinCustom, asofJoinCustomSql),
    Entry("q_asof_forward", asofForward, asofForwardSql),
    Entry("q_asof_nearest", asofNearest, asofNearestSql),
    Entry("q_asof_prev_signup", asofPrevSignup, asofPrevSignupSql),
    Entry("q1_pricing_summary", q1PricingSummary, q1Sql),
    Entry("q_distinct_agg", distinctAgg, distinctAggSql),
    Entry("q_having", havingAgg, havingSql),
    Entry("q_conditional_agg", conditionalAgg, conditionalAggSql),
    Entry("q_pivot", pivotAgg, pivotAggSql),
    Entry("q_rollup", rollupAgg, rollupSql),
    Entry("q_cube", cubeAgg, cubeSql),
    Entry("q_grouping_sets", groupingSets, groupingSetsSql),
    Entry("q_grouping_id", groupingId, groupingIdSql),
    Entry("q_percentiles", percentiles, percentilesSql),
    Entry("q_collect_agg", collectAgg, collectAggSql),
    Entry("q_topk_per_key", topkPerKey, topkPerKeySql),
    Entry("q_dq_checks", dqChecks, dqChecksSql),
    Entry("q_sketch_agg", sketchAgg, sketchAggSql),
    Entry("q_sketch_mergeable", sketchMergeable, sketchMergeableSql),
    Entry("q_decsketch_quantiles", decsketchQuantiles, decsketchQuantilesSql),
    Entry("q_decsketch_weighted", decsketchWeighted, decsketchWeightedSql),
    Entry("q_sketch_cdf", sketchCdf, sketchCdfSql),
    Entry("q_window_functions", windowFunctions, windowFunctionsSql),
    Entry("q_ntile_first_last", ntileFirstLast, ntileFirstLastSql),
    Entry("q_range_frame", rangeFrame, rangeFrameSql),
    Entry("q_tumbling_agg", tumblingAgg, tumblingAggSql),
    Entry("q_hopping_agg", hoppingAgg, hoppingAggSql),
    Entry("q_session_window", sessionWindowAgg, StreamingQueries.sessionAggSql),
    Entry("q_scalar_funcs", scalarFuncs, scalarFuncsSql),
    Entry("q_date_funcs", dateFuncs, dateFuncsSql),
    Entry("q_case_cast", caseCast, caseCastSql),
    Entry("q_null_handling", nullHandling, nullHandlingSql),
    Entry("q_like_patterns", likePatterns, likePatternsSql),
    Entry("q_regexp_strings", regexpStrings, regexpStringsSql),
    Entry("q_json_funcs", jsonFuncs, jsonFuncsSql),
    Entry("q_array_funcs", arrayFuncs, arrayFuncsSql),
    Entry("q_ohlc_bars", ohlcBars, ohlcBarsSql),
    Entry("q_sax_motif", saxMotif, saxMotifSql),
    Entry("q_sax_similarity", saxSimilarity, saxSimilaritySql),
    Entry("q_scd2_history", scd2History, scd2HistorySql),
    Entry("q_scd2_asof", scd2AsOf, scd2AsOfSql),
    Entry("q_earliest_by_offset", earliestByOffset, earliestByOffsetSql),
    Entry("q_latest_k_by_offset", latestKByOffset, latestKByOffsetSql),
    Entry("q_sessionize", sessionize, sessionizeSql),
    Entry("q_gaps_islands", gapsIslands, gapsIslandsSql),
    Entry("q_event_funnel", eventFunnel, eventFunnelSql),
    Entry("q_event_transitions", eventTransitions, eventTransitionsSql),
    Entry("q_cohort_retention", cohortRetention, cohortRetentionSql),
    Entry("q_pattern_match", patternMatch, patternMatchSql),
    Entry("q_pattern_sessions", patternSessions, patternSessionsSql),
    Entry("q_sketch_drift", sketchDrift, sketchDriftSql))
}
