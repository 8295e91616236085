package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational
import graft.sources.Tables

/** Second tranche of batch-SQL surface: JSON extraction, exact
  * percentiles, pivot, ntile/first/last analytics, and subquery forms
  * exercised through the `spark.sql` entry point (temp views →
  * Catalyst's subquery decorrelation), each with a DuckDB oracle. */
object BatchSqlQueries2 {

  /** JSON field extraction from the events.props column. */
  def jsonFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(LongType).as("k"))

  val jsonFuncsSql: String =
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin

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

  private def withViews(s: SparkSession, d: String, names: String*): Unit =
    names.foreach(n => Tables(s, d, n).createOrReplaceTempView(n))

  /** Correlated scalar subquery through the SQL entry point (temp view
    * → parser → Catalyst decorrelation). The per-customer average uses
    * the exact integer-cents grid so both engines compare identical
    * doubles. */
  def scalarSubquery(s: SparkSession, d: String): DataFrame = {
    withViews(s, d, "orders")
    s.sql(
      """SELECT o.o_orderkey AS order_id
        |FROM orders o
        |WHERE o.o_totalprice > 1.5 * (
        |  SELECT SUM(CAST(round(o2.o_totalprice*100) AS BIGINT)) / (100.0 * COUNT(*))
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }

  val scalarSubquerySql: String =
    """SELECT o.o_orderkey AS order_id
      |FROM orders o
      |WHERE o.o_totalprice > 1.5 * (
      |  SELECT SUM(CAST(round(o2.o_totalprice*100) AS BIGINT)) / (100.0 * COUNT(*))
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  /** IN-subquery form (planned as a left-semi join after rewrite). */
  def inSubquery(s: SparkSession, d: String): DataFrame = {
    withViews(s, d, "orders", "customer", "nation")
    s.sql(
      """SELECT o_orderkey AS order_id, o_totalprice AS price
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer
        |  WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2))""".stripMargin)
  }

  val inSubquerySql: String =
    """SELECT o_orderkey AS order_id, o_totalprice AS price
      |FROM orders
      |WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer
      |  WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2))""".stripMargin

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

  /** Mergeable deterministic quantile sketch ([[graft.functions.DecimalSketch]]):
    * per-group sketches over the integer-cents grid, PLUS an `ALL` row
    * produced by union-merging the per-group partials — the lossless
    * re-aggregation path that makes stored per-slice sketches a 100 TB
    * pre-aggregation. Quantile extraction is relational (explode →
    * window cumsum → rank scan), so the DuckDB oracle replicates the
    * whole pipeline EXACTLY — unlike the log-γ grid of DDSketch, the
    * decimal grid has no libm boundary and the sketch answer
    * hash-compares across engines. */
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

  /** Explicit GROUPING SETS through the SQL entry point. */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    withViews(s, d, "lineitem")
    s.sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

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

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_point_lookup" -> pointLookup _,
    "q_salted_join" -> saltedJoin _,
    "q_sketch_agg" -> sketchAgg _,
    "q_topk_per_key" -> topkPerKey _,
    "q_asof_join_custom" -> asofJoinCustom _,
    "q_asof_forward" -> asofForward _,
    "q_asof_nearest" -> asofNearest _,
    "q_range_join_binned" -> rangeJoinBinned _,
    "q_sketch_mergeable" -> sketchMergeable _,
    "q_decsketch_quantiles" -> decsketchQuantiles _,
    "q_decsketch_weighted" -> decsketchWeighted _,
    "q_sketch_drift" -> sketchDrift _,
    "q_sketch_cdf" -> sketchCdf _,
    "q_asof_prev_signup" -> asofPrevSignup _,
    "q_grouping_sets" -> groupingSets _,
    "q_array_funcs" -> arrayFuncs _,
    "q_json_funcs" -> jsonFuncs _,
    "q_percentiles" -> percentiles _,
    "q_pivot" -> pivotAgg _,
    "q_ntile_first_last" -> ntileFirstLast _,
    "q_scalar_subquery" -> scalarSubquery _,
    "q_in_subquery" -> inSubquery _)

  def oracles: Map[String, String] = Map(
    "q_point_lookup" -> pointLookupSql,
    "q_sketch_agg" -> sketchAggSql,
    "q_salted_join" -> saltedJoinSql,
    "q_topk_per_key" -> topkPerKeySql,
    "q_asof_join_custom" -> asofJoinCustomSql,
    "q_asof_forward" -> asofForwardSql,
    "q_asof_nearest" -> asofNearestSql,
    "q_range_join_binned" -> rangeJoinBinnedSql,
    "q_sketch_mergeable" -> sketchMergeableSql,
    "q_decsketch_quantiles" -> decsketchQuantilesSql,
    "q_decsketch_weighted" -> decsketchWeightedSql,
    "q_sketch_drift" -> sketchDriftSql,
    "q_sketch_cdf" -> sketchCdfSql,
    "q_asof_prev_signup" -> asofPrevSignupSql,
    "q_grouping_sets" -> groupingSetsSql,
    "q_array_funcs" -> arrayFuncsSql,
    "q_json_funcs" -> jsonFuncsSql,
    "q_percentiles" -> percentilesSql,
    "q_pivot" -> pivotAggSql,
    "q_ntile_first_last" -> ntileFirstLastSql,
    "q_scalar_subquery" -> scalarSubquerySql,
    "q_in_subquery" -> inSubquerySql)
}
