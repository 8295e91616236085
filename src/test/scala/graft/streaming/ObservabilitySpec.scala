package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The OPS surface a 100 TB deployment watches: `Dataset.observe`
  * rides metrics on the data plan itself (no second scan — the
  * aggregates are computed by the same tasks that process the rows)
  * and, for streams, every micro-batch's observed metrics arrive in
  * the `QueryProgressEvent`, where a monitor alerts on row-rate or
  * data-quality drift. Pinned here because a conf or API regression
  * would silently blind production monitoring: the numbers must be
  * exact (the observation is the same data the batch processed, not
  * a sample), and per-batch attribution must be correct.
  */
class ObservabilitySpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  test("batch observe: exact row count + domain stats with no second scan") {
    val obs = Observation("stats")
    val df = spark.range(0, 1000)
      .observe(obs, count(lit(1)).as("rows"),
        sum(col("id")).as("id_sum"),
        count_if(col("id") % 7 === 0).as("sevens"))
      .filter(col("id") % 2 === 0)
    // the observation sees PRE-filter rows: it measures the point in
    // the plan where it is attached
    assert(df.count() == 500)
    assert(obs.get("rows") == 1000L)
    assert(obs.get("id_sum") == 499500L)
    assert(obs.get("sevens") == 143L)
  }

  test("streaming observe: per-batch metrics arrive in QueryProgressEvent") {
    import spark.implicits._
    val seen = new ConcurrentLinkedQueue[Row]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("batch_stats")) seen.add(m.get("batch_stats"))
      }
    }
    spark.streams.addListener(listener)
    val in = MemoryStream[Long](spark)
    val q = in.toDF().select(col("value"))
      .observe("batch_stats", count(lit(1)).as("rows"),
        max(col("value")).as("max_v"))
      .writeStream.format("memory").queryName("obs_sink")
      .outputMode("append").start()
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      in.addData(10L, 20L)
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (seen.size() < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val metrics = seen.toArray(Array.empty[Row])
        .map(r => (r.getAs[Long]("rows"), r.getAs[Long]("max_v")))
      assert(metrics.contains((3L, 3L)) && metrics.contains((2L, 20L)),
        metrics.mkString(", "))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      spark.catalog.dropTempView("obs_sink")
      ()
    }
  }

  test("SHOW QUERIES EXTENDED: per-query state rows/bytes from progress (VERDICT r15 #7)") {
    import spark.implicits._
    val in = MemoryStream[Long](spark)
    // a stateful aggregation with a KNOWN state cardinality: one state
    // row per distinct key — the deterministic field the view must get
    // exactly right (bytes are store-layout-dependent: only sign-pinned)
    val q = in.toDF()
      .select((col("value") % 7).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ext_state_sink")
      .outputMode("update").start()
    try {
      in.addData(0L to 99L: _*)
      q.processAllAvailable()
      val ext = graft.GraftSql.sql(spark, "SHOW QUERIES EXTENDED;")
      assert(ext.columns.toSeq === Seq("query_id", "name", "status",
        "batch_id", "state_operators", "state_rows", "state_bytes",
        "input_rows"))
      val row = ext.collect()
        .find(_.getAs[String]("name") == "ext_state_sink")
        .getOrElse(fail("query missing from SHOW QUERIES EXTENDED"))
      assert(row.getAs[String]("status") === "RUNNING")
      assert(row.getAs[Long]("batch_id") >= 0L)
      assert(row.getAs[Long]("state_operators") === 1L)
      // 7 distinct keys -> exactly 7 state rows
      assert(row.getAs[Long]("state_rows") === 7L)
      assert(row.getAs[Long]("state_bytes") > 0L)
      assert(row.getAs[Long]("input_rows") === 100L)
      // growth under new KEYS, stability under repeated ones — the
      // leak-vs-steady-state distinction the view exists to make
      in.addData(0L to 99L: _*)
      q.processAllAvailable()
      val again = graft.GraftSql.sql(spark, "SHOW QUERIES EXTENDED;")
        .collect().find(_.getAs[String]("name") == "ext_state_sink").get
      assert(again.getAs[Long]("state_rows") === 7L,
        "repeated keys must not grow state")
    } finally {
      q.stop()
      spark.catalog.dropTempView("ext_state_sink")
      ()
    }
  }

  test("SHOW STATE STORES: per-operator state drill-down (r18 verdict #8)") {
    import spark.implicits._
    val in = MemoryStream[Long](spark)
    // TWO stateful operators in one query — dedup (one state row per
    // distinct value) feeding an aggregation (one per group key) — so
    // the per-operator view must attribute each store to its stage,
    // which the per-query EXTENDED totals cannot
    val q = in.toDF()
      .select((col("value") % 12).as("v"))
      .dropDuplicates("v")
      .groupBy((col("v") % 5).as("k")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ss_sink")
      .outputMode("update").start()
    try {
      in.addData(0L to 99L: _*)
      q.processAllAvailable()
      val st = graft.GraftSql.sql(spark, "SHOW STATE STORES;")
      assert(st.columns.toSeq === Seq("query_id", "name", "batch_id",
        "op_index", "operator", "state_rows", "state_bytes",
        "rows_updated", "rows_removed"))
      val rows = st.collect().filter(_.getAs[String]("name") == "ss_sink")
        .sortBy(_.getAs[Long]("op_index"))
      assert(rows.length === 2, rows.mkString(", "))
      rows.foreach { r =>
        assert(r.getAs[String]("operator").nonEmpty)
        assert(r.getAs[Long]("state_bytes") > 0L)
      }
      // one store holds the 12 dedup values, the other the 5 group
      // keys (progress order of the two operators is plan-dependent —
      // assert the multiset)
      assert(rows.map(_.getAs[Long]("state_rows")).sorted.toSeq ===
        Seq(5L, 12L))
      // the drill-down must reconcile with the per-query totals
      val ext = graft.GraftSql.sql(spark, "SHOW QUERIES EXTENDED;")
        .collect().find(_.getAs[String]("name") == "ss_sink").get
      assert(ext.getAs[Long]("state_operators") === 2L)
      assert(rows.map(_.getAs[Long]("state_rows")).sum ===
        ext.getAs[Long]("state_rows"))
      assert(rows.map(_.getAs[Long]("state_bytes")).sum ===
        ext.getAs[Long]("state_bytes"))
    } finally {
      q.stop()
      spark.catalog.dropTempView("ss_sink")
      ()
    }
  }
}
