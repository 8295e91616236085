package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's user interface is SQL (ksqlDB statements, reference
  * README.md:346-493). This spec proves the whole graft surface is
  * reachable through plain `spark.sql(...)` strings on a session built
  * with [[GraftExtensions]] + [[GraftSql]] views: relational queries,
  * the native Catalyst expressions (injected session-wide, no manual
  * registration), and the Aggregator-backed SQL aggregates — each
  * checked against its DataFrame-DSL spelling. */
class SqlSurfaceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    GraftSql.initViews(spark, sf)
    ()
  }

  // multiset compare (row → count), so a duplicate-multiplicity skew
  // between the SQL and DSL spellings can't pass silently
  private def sameRows(sql: DataFrame, dsl: DataFrame): Unit = {
    val a = sql.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val b = dsl.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(a.nonEmpty, "SQL result is empty")
    val onlyA = a.collect { case (r, n) if b.getOrElse(r, 0) != n => r -> n }
    val onlyB = b.collect { case (r, n) if a.getOrElse(r, 0) != n => r -> n }
    assert(a == b, s"SQL vs DSL mismatch: ${onlyA.take(3)} / ${onlyB.take(3)}")
  }

  test("extension-injected natives resolve in SQL with no per-session registration") {
    // runs BEFORE GraftSql.registerFunctions is ever called: the only
    // way these names resolve is the GraftExtensions injection
    val row = spark.sql(
      """SELECT round(cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |                        CAST(array(1.0, 1.0) AS ARRAY<FLOAT>)), 6) c,
        |       simhash16(array('a','b')) s,
        |       size(hashed_shingles(array('a','b','c','d','e','f'), 5)) nsh,
        |       size(minhash_slices(array('a','b','c','d','e'))) nmh
        |""".stripMargin).collect()(0)
    assert(math.abs(row.getDouble(0) - 0.707107) < 1e-6)
    assert(row.getLong(1) >= 0 && row.getLong(1) < (1 << 16))
    assert(row.getInt(2) == 2) // 6 tokens, width 5 → 2 shingles
    assert(row.getInt(3) == 8) // 8 minhash slices
  }

  test("wrong arity / bad width surface as clear errors naming the function") {
    def analysisMessage(sql: String): String =
      intercept[Exception](spark.sql(sql).collect()).getMessage
    assert(analysisMessage("SELECT cosine_sim(array(1.0))")
      .contains("cosine_sim(vec1, vec2)"))
    assert(analysisMessage("SELECT simhash64(array('a'), 2)")
      .contains("simhash64(tokens)"))
    assert(analysisMessage("SELECT hashed_shingles(array('a','b'), 0)")
      .contains("width must be positive"))
  }

  test("token-array natives reject a non-array input at analysis, naming themselves") {
    for (name <- Seq("hashed_shingles", "shingle_hash_seq", "minhash_slices",
        "simhash16", "simhash64")) {
      val err = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $name(1)"))
      assert(err.getMessage.contains(s"$name expects array<string>, got int"),
        s"$name: ${err.getMessage}")
    }
  }

  test("relational SQL over views matches the DSL: agg + join + window") {
    sameRows(
      spark.sql(
        """SELECT o.o_orderpriority AS priority,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |GROUP BY o.o_orderpriority""".stripMargin),
      {
        import org.apache.spark.sql.functions._
        sources.Tables.lineitem(spark, sf).as("l")
          .join(sources.Tables.orders(spark, sf).as("o"),
            col("l.l_orderkey") === col("o.o_orderkey"))
          .groupBy(col("o.o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l.l_extendedprice") * 100).cast("long")).as("cents"))
      })
  }

  test("window-function SQL matches the DSL") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    sameRows(
      spark.sql(
        """SELECT * FROM (
          |  SELECT o_custkey, o_orderkey,
          |         rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) rk
          |  FROM orders) WHERE rk <= 2""".stripMargin),
      sources.Tables.orders(spark, sf)
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc)).as("rk"))
        .filter(col("rk") <= 2))
  }

  test("cosine top-k over the embeddings view — the ksqlDB-style similarity query") {
    import org.apache.spark.sql.functions._
    val q = sources.Tables.embeddings(spark, sf)
      .orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val qLit = q.map(v => s"CAST($v AS FLOAT)").mkString("array(", ",", ")")
    val sql = spark.sql(
      s"""SELECT vec_id, round(cosine_sim(embedding, $qLit), 6) AS sim
         |FROM embeddings ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)
    val dsl = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        round(graft.functions.GraftFunctions.cosineSim(
          col("embedding"), lit(q.toArray)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
    assert(sql.collect().toSeq == dsl.collect().toSeq)
  }

  test("dedup signatures via SQL: simhash16 + hashed_shingles over documents") {
    import org.apache.spark.sql.functions._
    sameRows(
      spark.sql(
        """SELECT doc_id,
          |       simhash16(split(trim(text), '\\s+')) AS simhash,
          |       CAST(size(hashed_shingles(split(trim(text), '\\s+'), 5)) AS BIGINT) AS n_shingles
          |FROM documents""".stripMargin),
      sources.Tables.documents(spark, sf)
        .select(col("doc_id"),
          graft.functions.TextShingles.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          graft.functions.SimHash16(col("__toks")).as("simhash"),
          size(graft.functions.HashedShingles(col("__toks"), 5))
            .cast("long").as("n_shingles")))
  }

  test("aggregator-backed SQL aggregates: latest_by_offset + topk_by_score") {
    sameRows(
      spark.sql(
        """SELECT user_id, latest_by_offset(event_id, event_type) AS latest_type
          |FROM events GROUP BY user_id""".stripMargin),
      queries.PipelineQueries.latestByKeyUdaf(spark, sf))
    // the k-bounded 2-arg family matches the unbounded collect_list
    // spelling of the same contract (ascending offset, latest LAST)
    sameRows(
      spark.sql(
        """SELECT user_id,
          |  array_join(latest_3_by_offset(event_id, event_type), ',') AS latest3,
          |  array_join(earliest_3_by_offset(event_id, event_type), ',') AS earliest3,
          |  COUNT(*) AS n
          |FROM events GROUP BY user_id""".stripMargin),
      queries.BatchSqlQueries.latestKByOffset(spark, sf))
  }

  test("aggregator-backed SQL aggregates: decimal_sketch family") {
    import org.apache.spark.sql.functions._
    val sk = udaf(new graft.functions.DecimalSketchAgg)
    // SQL build == DSL build, per group
    sameRows(
      spark.sql(
        """SELECT l_returnflag AS grp,
          |  decimal_sketch(CAST(round(l_extendedprice*100) AS BIGINT)) AS sketch
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      graft.sources.Tables.lineitem(spark, sf)
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("grp")).agg(sk(col("cents")).as("sketch")))
    // lossless merge: union-merging the per-group sketches in SQL
    // equals sketching the whole table directly
    sameRows(
      spark.sql(
        """SELECT decimal_sketch_merge(sketch) AS m FROM (
          |  SELECT l_returnflag,
          |    decimal_sketch(CAST(round(l_extendedprice*100) AS BIGINT)) AS sketch
          |  FROM lineitem GROUP BY l_returnflag)""".stripMargin),
      spark.sql(
        """SELECT decimal_sketch(CAST(round(l_extendedprice*100) AS BIGINT)) AS m
          |FROM lineitem""".stripMargin))
  }

  test("connector DDL: the reference's CREATE SOURCE CONNECTOR statements run 1:1") {
    // reference README.md:352-366 verbatim (minus the Connect-internal
    // credentials, which parse the same way)
    val status = GraftSql.sql(spark,
      """CREATE SOURCE CONNECTOR customers_reader WITH (
        |    'connector.class' = 'io.debezium.connector.postgresql.PostgresConnector',
        |    'database.hostname' = 'postgres',
        |    'table.whitelist' = 'public.customers',
        |    'transforms' = 'unwrap',
        |    'transforms.unwrap.type' = 'io.debezium.transforms.ExtractNewRecordState',
        |    'transforms.unwrap.drop.tombstones' = 'false',
        |    'transforms.unwrap.delete.handling.mode' = 'rewrite'
        |);""".stripMargin).collect()
    assert(status.head.getString(3) == "CREATED")
    GraftSql.sql(spark,
      """CREATE SOURCE CONNECTOR logistics_reader WITH (
        |    'connector.class' = 'io.debezium.connector.mongodb.MongoDbConnector',
        |    'transforms.unwrap.delete.handling.mode' = 'drop',
        |    'transforms.unwrap.operation.header' = 'true'
        |);""".stripMargin)

    // the Debezium SMT properties became the engine's unwrap knobs
    val cust = ConnectorDdl.connector(spark, "customers_reader").get
    assert(cust.deleteMode == streaming.DebeziumEnvelope.Rewrite)
    assert(!cust.dropTombstones)
    val logi = ConnectorDdl.connector(spark, "logistics_reader").get
    assert(logi.deleteMode == streaming.DebeziumEnvelope.Drop)
    assert(logi.dropTombstones) // debezium default: drop them

    val shown = GraftSql.sql(spark, "SHOW CONNECTORS").collect()
    assert(shown.map(_.getString(0)).toSet
      .intersect(Set("customers_reader", "logistics_reader")).size == 2)

    // duplicate CREATE fails; IF NOT EXISTS doesn't
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "CREATE SOURCE CONNECTOR customers_reader WITH ('a'='b')")
    }
    GraftSql.sql(spark,
      "CREATE SOURCE CONNECTOR IF NOT EXISTS customers_reader WITH ('a'='b')")
    assert(ConnectorDdl.connector(spark, "customers_reader").get
      .props.contains("connector.class")) // original spec kept
  }

  test("connector DDL: a feed created via DDL carries the topic column contract end-to-end") {
    if (ConnectorDdl.connector(spark, "customers_reader").isEmpty)
      GraftSql.sql(spark,
        """CREATE SOURCE CONNECTOR customers_reader WITH (
          |  'transforms.unwrap.delete.handling.mode' = 'rewrite')""".stripMargin)
    val spec = ConnectorDdl.connector(spark, "customers_reader").get
    val feed = spec.offlineFeed(spark)
    assert(feed.df.columns.toSeq == Seq("key", "value", "partition", "offset", "ts"))
    val q = feed.df.writeStream.format("memory")
      .queryName("ddl_feed_probe").outputMode("append").start()
    try {
      feed.add("c1" -> streaming.DebeziumJson.insert("id" -> 1, "name" -> "x"))
      feed.flush()
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, offset FROM ddl_feed_probe").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("c1", 0L)))
    } finally q.stop()
  }

  test("connector DDL: CREATE SINK CONNECTOR yields the keyed bulk-upsert sink") {
    // reference README.md:487-493 verbatim
    GraftSql.sql(spark,
      """CREATE SINK CONNECTOR enriched_writer WITH (
        |    'connector.class' = 'io.confluent.connect.elasticsearch.ElasticsearchSinkConnector',
        |    'connection.url' = 'http://elastic:9200',
        |    'type.name' = 'kafka-connect',
        |    'topics' = 'shipped_orders'
        |);""".stripMargin)
    val sink = ConnectorDdl.connector(spark, "enriched_writer").get
      .bulkSink(keyCol = "order_id")
    assert(sink != null) // construction wires HttpBulkEndpoint to the URL
    // a SOURCE-only operation on a SINK connector fails with a clear error
    intercept[IllegalArgumentException] {
      ConnectorDdl.connector(spark, "enriched_writer").get.offlineFeed(spark)
    }
    GraftSql.sql(spark, "DROP CONNECTOR enriched_writer")
    assert(ConnectorDdl.connector(spark, "enriched_writer").isEmpty)
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "DROP CONNECTOR enriched_writer")
    }
    GraftSql.sql(spark, "DROP CONNECTOR IF EXISTS enriched_writer") // no-op ok
  }

  test("connector DDL: multi-topic sink specs need an explicit topic, one index each") {
    GraftSql.sql(spark,
      """CREATE SINK CONNECTOR multi_writer WITH (
        |    'connection.url' = 'http://elastic:9200',
        |    'topics' = 'shipped_orders, returned_orders'
        |);""".stripMargin)
    val spec = ConnectorDdl.connector(spark, "multi_writer").get
    assert(spec.topics == Seq("shipped_orders", "returned_orders"))
    // ambiguous: two topics, no selection — must NOT silently build an
    // index literally named "shipped_orders, returned_orders"
    val e = intercept[IllegalArgumentException] { spec.bulkSink("id") }
    assert(e.getMessage.contains("shipped_orders") &&
      e.getMessage.contains("returned_orders"))
    // explicit per-topic sinks construct fine; unknown topics are refused
    assert(spec.bulkSink("id", topic = "returned_orders") != null)
    intercept[IllegalArgumentException] { spec.bulkSink("id", topic = "nope") }
    GraftSql.sql(spark, "DROP CONNECTOR multi_writer")
  }

  test("CSAS WITH-properties may contain ')' inside quoted values") {
    // a paren-free character class would truncate the WITH block here
    // and fall through to spark.sql with a confusing parse error
    val stmt =
      """CREATE STREAM paren_props WITH (
        |    'note' = 'a (parenthesized) value', url = 'http://x/(y)'
        |) AS SELECT l_orderkey FROM lineitem WHERE l_quantity > 49
        |EMIT CHANGES;""".stripMargin
    assert(ConnectorDdl.handles(stmt))
    val st = GraftSql.sql(spark, stmt).collect().head
    assert(st.getString(3) == "CREATED" &&
      st.getString(2).contains("url=http://x/(y)") &&
      st.getString(2).contains("a (parenthesized) value"))
    assert(spark.table("paren_props").columns.toSeq == Seq("l_orderkey"))
  }

  test("ksqlDB persistent queries: CSAS/CTAS with EMIT register views; plain CTAS passes through") {
    // the reference's CTAS shape (README.md:434-441) over our views
    GraftSql.sql(spark,
      """CREATE TABLE nation_counts AS
        |    SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n
        |    FROM nation GROUP BY n_regionkey
        |    EMIT CHANGES;""".stripMargin)
    sameRows(
      spark.sql("SELECT * FROM nation_counts"),
      spark.sql("SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM nation GROUP BY n_regionkey"))

    // the CSAS-with-props shape (README.md:464-480): props accepted and
    // echoed, view registered
    val st = GraftSql.sql(spark,
      """CREATE STREAM big_lines WITH (
        |    kafka_topic = 'big_lines'
        |)   AS
        |    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45
        |    EMIT CHANGES;""".stripMargin).collect().head
    assert(st.getString(3) == "CREATED" &&
      st.getString(2).contains("kafka_topic=big_lines"))
    assert(spark.table("big_lines").columns.toSeq == Seq("l_orderkey", "l_quantity"))

    // a plain Spark CTAS (no EMIT) is NOT intercepted — it must reach
    // spark.sql and create a real (session-catalog) table
    assert(!ConnectorDdl.handles("CREATE TABLE t AS SELECT 1 AS x"))
    // CREATE STREAM is always ksql syntax, EMIT or not
    assert(ConnectorDdl.handles(
      "CREATE STREAM s AS SELECT l_orderkey FROM lineitem"))
    // a ksql WITH-property block marks a CTAS as ksql even without EMIT
    // (Spark spells properties TBLPROPERTIES/OPTIONS, never WITH)
    assert(ConnectorDdl.handles(
      "CREATE TABLE t WITH (kafka_topic = 't') AS SELECT 1 AS x"))
  }

  test("ksql PARTITION BY re-keys a CSAS stream; joins on the new key line up") {
    // ksqlDB's re-key statement (docs "Partition By"; not exercised by
    // the reference session — the last ksql DDL keyword family): the
    // derived stream is keyed and physically hash-partitioned by the
    // named column
    val st = GraftSql.sql(spark,
      """CREATE STREAM orders_by_cust AS
        |    SELECT o_custkey, o_orderkey, o_totalprice
        |    FROM orders
        |    PARTITION BY o_custkey
        |    EMIT CHANGES;""".stripMargin).collect().head
    assert(st.getString(3) == "CREATED" && st.getString(2).contains("key=o_custkey"))
    // the clause was peeled, the select ran, and the re-key is a real
    // hash repartition in the registered view's plan
    val view = spark.table("orders_by_cust")
    assert(view.columns.toSeq ==
      Seq("o_custkey", "o_orderkey", "o_totalprice"))
    assert(view.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"), view.queryExecution.analyzed)
    // a qualified re-key column binds to the projected output column
    GraftSql.sql(spark,
      """CREATE STREAM cust_names AS
        |    SELECT c.c_custkey, c.c_name FROM customer c
        |    PARTITION BY c.c_custkey;""".stripMargin)
    // joining the two re-keyed streams on the shared key is correct
    sameRows(
      spark.sql(
        """SELECT o.o_orderkey, n.c_name
          |FROM orders_by_cust o JOIN cust_names n
          |  ON o.o_custkey = n.c_custkey
          |WHERE o.o_totalprice > 300000""".stripMargin),
      spark.sql(
        """SELECT o_orderkey, c_name
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE o_totalprice > 300000""".stripMargin))
    // a window-spec PARTITION BY is NOT a re-key (ends in ')', never a
    // trailing identifier)
    val (body, key) = ConnectorDdl.splitPartitionBy(
      "SELECT user_id, row_number() OVER (PARTITION BY user_id)")
    assert(key.isEmpty && body.endsWith(")"))
    // ksql allows keying by a column the projection aliased away or
    // omitted — the key is injected into the registered view's schema
    GraftSql.sql(spark,
      """CREATE STREAM orders_rekeyed AS
        |    SELECT o_orderkey, o_totalprice AS price
        |    FROM orders
        |    PARTITION BY o_custkey;""".stripMargin)
    val rk = spark.table("orders_rekeyed")
    assert(rk.columns.toSeq == Seq("o_custkey", "o_orderkey", "price"), rk.columns.toSeq)
    assert(rk.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"), rk.queryExecution.analyzed)
    sameRows(
      spark.sql("SELECT o_custkey, o_orderkey, price FROM orders_rekeyed"),
      spark.sql("SELECT o_custkey, o_orderkey, o_totalprice AS price FROM orders"))
    spark.catalog.dropTempView("orders_by_cust")
    spark.catalog.dropTempView("cust_names")
    spark.catalog.dropTempView("orders_rekeyed")
  }

  test("ksql ROWOFFSET/ROWPARTITION pseudo-columns map onto the feed's physical columns") {
    import spark.implicits._
    // a topic-shaped relation with the ChangeFeed column contract
    Seq(("a", "v1", 0, 10L), ("a", "v2", 0, 20L), ("b", "w1", 0, 5L))
      .toDF("key", "value", "partition", "offset")
      .createOrReplaceTempView("pseudo_src")
    GraftSql.sql(spark,
      """CREATE STREAM pseudo_out AS
        |    SELECT key, value, ROWPARTITION AS part, ROWOFFSET AS off
        |    FROM pseudo_src
        |    EMIT CHANGES;""".stripMargin)
    val rows = spark.sql("SELECT key, value, part, off FROM pseudo_out")
      .as[(String, String, Int, Long)].collect().toSet
    assert(rows == Set(("a", "v1", 0, 10L), ("a", "v2", 0, 20L),
      ("b", "w1", 0, 5L)), rows)
    // and inside the latest_by_offset family: ksql's canonical
    // max-offset spelling with the pseudo-column runs 1:1
    GraftSql.sql(spark,
      """CREATE TABLE pseudo_latest AS
        |    SELECT key, max_by(value, ROWOFFSET) AS v
        |    FROM pseudo_src GROUP BY key EMIT CHANGES;""".stripMargin)
    val latest = spark.sql("SELECT key, v FROM pseudo_latest")
      .as[(String, String)].collect().toMap
    assert(latest == Map("a" -> "v2", "b" -> "w1"), latest)
    // an identifier CONTAINING the pseudo-name is untouched
    assert(ConnectorDdl.rewritePseudoColumns("SELECT my_rowoffset_col FROM t")
      == "SELECT my_rowoffset_col FROM t")
    // string LITERALS are never rewritten — a textual hit inside one
    // would silently corrupt output data
    assert(ConnectorDdl.rewritePseudoColumns(
        "SELECT key, 'ROWOFFSET unavailable' AS note, ROWOFFSET FROM t")
      == "SELECT key, 'ROWOFFSET unavailable' AS note, offset FROM t")
    // including literals with escaped quotes before a real use
    assert(ConnectorDdl.rewritePseudoColumns(
        "SELECT 'it''s ROWPARTITION', ROWPARTITION FROM t")
      == "SELECT 'it''s ROWPARTITION', partition FROM t")
    spark.catalog.dropTempView("pseudo_out")
    spark.catalog.dropTempView("pseudo_latest")
  }

  test("ksql admin forms: quoted SET stores the unquoted key; SHOW STREAMS lists views") {
    // the reference's first statement, README.md:346 — Spark's native
    // SET would have stored the key WITH its quotes
    val st = GraftSql.sql(spark, "SET 'auto.offset.reset' = 'earliest';")
      .collect().head
    assert(st.getString(0) == "auto.offset.reset" &&
      st.getString(1) == "earliest")
    assert(spark.conf.get("auto.offset.reset") == "earliest")
    val streams = GraftSql.sql(spark, "SHOW STREAMS;")
      .collect().map(_.getString(0)).toSet
    assert(streams.contains("lineitem") && streams.contains("documents"))
    // a CTAS-declared TABLE is not a stream (ksql lists it under SHOW
    // TABLES only)
    GraftSql.sql(spark,
      "CREATE TABLE show_streams_tbl AS SELECT 1 AS x EMIT CHANGES")
    assert(!GraftSql.sql(spark, "SHOW STREAMS;")
      .collect().map(_.getString(0)).contains("show_streams_tbl"))
    // ksql '' escaping in SET values round-trips to a single quote
    GraftSql.sql(spark, "SET 'graft.test.quoted' = 'it''s';")
    assert(spark.conf.get("graft.test.quoted") == "it's")
  }

  test("ksql WINDOW TUMBLING/HOPPING/SESSION clauses run verbatim through CSAS") {
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, sf)
    // TUMBLING + WINDOWSTART pseudo-column + GRACE PERIOD accepted
    GraftSql.sql(spark,
      """CREATE TABLE win_tum AS
        |SELECT event_type, WINDOWSTART AS ws, count(*) AS n
        |FROM events WINDOW TUMBLING (SIZE 1 HOUR, GRACE PERIOD 10 MINUTES)
        |GROUP BY event_type EMIT CHANGES;""".stripMargin)
    sameRows(spark.table("win_tum"),
      ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("ws"), col("n")))
    // HOPPING expands each event into overlapping windows
    GraftSql.sql(spark,
      """CREATE TABLE win_hop AS
        |SELECT event_type, WINDOWSTART AS ws, WINDOWEND AS we, count(*) AS n
        |FROM events WINDOW HOPPING (SIZE 1 HOUR, ADVANCE BY 15 MINUTES)
        |GROUP BY event_type EMIT CHANGES;""".stripMargin)
    sameRows(spark.table("win_hop"),
      ev.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("ws"),
          col("window.end").as("we"), col("n")))
    // SESSION maps onto session_window with the gap
    GraftSql.sql(spark,
      """CREATE TABLE win_sess AS
        |SELECT user_id, WINDOWSTART AS ws, count(*) AS n
        |FROM events WINDOW SESSION (30 MINUTES)
        |GROUP BY user_id EMIT CHANGES;""".stripMargin)
    sameRows(spark.table("win_sess"),
      ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("session_window.start").as("ws"),
          col("n")))
    // a WINDOW clause without GROUP BY is an error, as in ksql
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "CREATE TABLE win_bad AS SELECT count(*) FROM events " +
          "WINDOW TUMBLING (SIZE 1 HOUR) EMIT CHANGES;")
    }
    assert(err.getMessage.contains("requires GROUP BY"), err.getMessage)
    Seq("win_tum", "win_hop", "win_sess")
      .foreach(spark.catalog.dropTempView)
  }

  test("WINDOW rewrite ignores literals/comments and non-outer clauses") {
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, sf)
    // the clause text inside a string literal is DATA, not a clause:
    // no window rewrite fires and the literal survives intact
    GraftSql.sql(spark,
      """CREATE STREAM win_lit AS
        |SELECT event_type, 'WINDOW TUMBLING (SIZE 1 HOUR)' AS hint
        |FROM events EMIT CHANGES;""".stripMargin)
    assert(spark.table("win_lit").select("hint").distinct()
      .collect().map(_.getString(0)).toSeq ==
      Seq("WINDOW TUMBLING (SIZE 1 HOUR)"))
    // ANSI FROM-keyword expressions in the select list (substring ...
    // FROM 1) must not be mistaken for the source relation, and a
    // subquery's GROUP BY (depth > 0) must not receive the window
    // expression — only the outer one does
    GraftSql.sql(spark,
      """CREATE TABLE win_ansi AS
        |SELECT substring(event_type FROM 1 FOR 2) AS et2,
        |       WINDOWSTART AS ws, count(*) AS n
        |FROM events WINDOW TUMBLING (SIZE 1 HOUR)
        |WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id)
        |GROUP BY et2 EMIT CHANGES;""".stripMargin)
    sameRows(spark.table("win_ansi"),
      ev.groupBy(window(col("ts"), "1 hour"),
          expr("substring(event_type, 1, 2)").as("et2"))
        .agg(count(lit(1)).as("n"))
        .select(col("et2"), col("window.start").as("ws"), col("n")))
    // TUMBLING with ADVANCE BY is invalid ksql: reject loudly instead
    // of silently producing overlapping (hopping) windows
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "CREATE TABLE win_tadv AS SELECT event_type, count(*) AS n " +
          "FROM events WINDOW TUMBLING (SIZE 1 HOUR, ADVANCE BY 15 " +
          "MINUTES) GROUP BY event_type EMIT CHANGES;")
    }
    assert(err.getMessage.contains("does not take ADVANCE BY"),
      err.getMessage)
    // the windowed-agg GRACE PERIOD is recoverable as a watermark delay
    assert(ConnectorDdl.windowGrace(
      "SELECT k, count(*) FROM s WINDOW TUMBLING (SIZE 1 HOUR, GRACE " +
        "PERIOD 10 MINUTES) GROUP BY k") == Some("10 MINUTE"))
    assert(ConnectorDdl.windowGrace(
      "SELECT k, count(*) FROM s WINDOW SESSION (30 MINUTES) GROUP BY k")
      .isEmpty)
    // ... but a grace spelled inside a literal is not
    assert(ConnectorDdl.windowGrace(
      "SELECT 'WINDOW TUMBLING (SIZE 1 HOUR, GRACE PERIOD 9 DAYS)' AS " +
        "hint FROM s").isEmpty)
    Seq("win_lit", "win_ansi").foreach(spark.catalog.dropTempView)
  }

  test("WINDOW RETENTION bounds the queryable windows and validates") {
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, sf)
    // without retention the table serves every window; with RETENTION
    // 2 HOURS only windows ending within 2h of the latest event remain
    GraftSql.sql(spark,
      """CREATE TABLE win_all AS
        |SELECT event_type, WINDOWEND AS we, count(*) AS n
        |FROM events WINDOW TUMBLING (SIZE 1 HOUR)
        |GROUP BY event_type EMIT CHANGES;""".stripMargin)
    GraftSql.sql(spark,
      """CREATE TABLE win_ret AS
        |SELECT event_type, WINDOWEND AS we, count(*) AS n
        |FROM events WINDOW TUMBLING (SIZE 1 HOUR, RETENTION 2 HOURS)
        |GROUP BY event_type EMIT CHANGES;""".stripMargin)
    val hwm = ev.agg(max(col("ts"))).collect().head.getTimestamp(0)
    val expected = spark.table("win_all")
      .filter(col("we") > lit(hwm) - expr("INTERVAL 2 HOURS"))
    val all = spark.table("win_all").count()
    val ret = spark.table("win_ret").count()
    assert(ret == expected.count() && ret < all,
      s"retention kept $ret of $all windows")
    // retention shorter than size + grace is a statement-time error
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "CREATE TABLE win_short AS SELECT event_type, count(*) AS n " +
          "FROM events WINDOW TUMBLING (SIZE 2 HOURS, GRACE PERIOD " +
          "30 MINUTES, RETENTION 1 HOURS) GROUP BY event_type " +
          "EMIT CHANGES;")
    }
    assert(err.getMessage.contains("RETENTION"), err.getMessage)
    // the reader surfaces it for a streaming runner; literal-guarded
    assert(ConnectorDdl.windowRetention(
      "SELECT k, count(*) FROM s WINDOW HOPPING (SIZE 1 HOUR, ADVANCE " +
        "BY 30 MINUTES, RETENTION 7 DAYS) GROUP BY k") == Some("7 DAY"))
    assert(ConnectorDdl.windowRetention(
      "SELECT 'RETENTION 7 DAYS' AS hint FROM s WINDOW TUMBLING " +
        "(SIZE 1 HOUR) GROUP BY k").isEmpty)
    // session windows validate retention against the gap
    GraftSql.sql(spark,
      """CREATE TABLE win_sess_ret AS
        |SELECT user_id, count(*) AS n
        |FROM events WINDOW SESSION (30 MINUTES, RETENTION 1 HOURS)
        |GROUP BY user_id EMIT CHANGES;""".stripMargin)
    assert(spark.table("win_sess_ret").count() > 0)
    Seq("win_all", "win_ret", "win_sess_ret")
      .foreach(spark.catalog.dropTempView)
  }

  test("ksql introspection: SHOW TABLES / DESCRIBE / SHOW QUERIES / TERMINATE") {
    // SHOW TABLES is the complement of SHOW STREAMS: only
    // CTAS-declared TABLEs
    GraftSql.sql(spark,
      "CREATE TABLE introspect_tbl AS SELECT 1 AS x, 'a' AS y EMIT CHANGES")
    val tables = GraftSql.sql(spark, "SHOW TABLES;")
      .collect().map(_.getString(0)).toSet
    assert(tables.contains("introspect_tbl"), tables.toString)
    assert(!tables.contains("lineitem"), tables.toString)
    // DESCRIBE dumps (name, kind, field, type) rows for the relation
    val desc = GraftSql.sql(spark, "DESCRIBE introspect_tbl;")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
    assert(desc.toSeq == Seq(("TABLE", "x", "INT"), ("TABLE", "y", "STRING")),
      desc.mkString(","))
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "DESCRIBE no_such_relation_xyz;")
    }
    assert(err.getMessage.contains("no such stream/table"), err.getMessage)
    // PRINT peeks at the relation backing a topic (final dotted
    // segment), honoring LIMIT
    assert(GraftSql.sql(spark,
      "PRINT 'customers.public.nation' FROM BEGINNING LIMIT 3;")
      .count() == 3L)
    assert(GraftSql.sql(spark, "PRINT 'nation';").count() == 10L)
    val noTopic = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "PRINT 'no.such.topic_xyz';")
    }
    assert(noTopic.getMessage.contains("no relation"), noTopic.getMessage)
    // Spark's richer native forms stay Spark-native: EXTENDED keeps
    // the full catalog metadata (col_name/data_type/comment schema)
    assert(!ConnectorDdl.handles("DESCRIBE EXTENDED lineitem"))
    assert(GraftSql.sql(spark, "DESCRIBE EXTENDED lineitem")
      .columns.toSeq == Seq("col_name", "data_type", "comment"))
    assert(!ConnectorDdl.handles("SHOW TABLES IN default"))
    // SHOW QUERIES lists running persistent queries; TERMINATE stops by
    // queryName; a second TERMINATE of the same id errors
    assert(GraftSql.sql(spark, "SHOW QUERIES;").count() == 0L)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val feed =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = feed.toDF().writeStream.outputMode("append")
      .format("memory").queryName("introspect_q").start()
    try {
      val shown = GraftSql.sql(spark, "SHOW QUERIES;")
        .collect().map(r => (r.getString(1), r.getString(2)))
      assert(shown.toSeq == Seq(("introspect_q", "RUNNING")), shown.toSeq)
      val term = GraftSql.sql(spark, "TERMINATE introspect_q;")
        .collect().map(r => (r.getString(1), r.getString(2)))
      assert(term.toSeq == Seq(("introspect_q", "TERMINATED")), term.toSeq)
      assert(!q.isActive)
      assert(GraftSql.sql(spark, "SHOW QUERIES;").count() == 0L)
      val gone = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "TERMINATE introspect_q;")
      }
      assert(gone.getMessage.contains("no such running query"))
      // TERMINATE ALL on an idle session is a no-op, not an error
      assert(GraftSql.sql(spark, "TERMINATE ALL;").count() == 0L)
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("introspect_q")
      spark.streams.resetTerminated()
      spark.catalog.dropTempView("introspect_tbl")
    }
  }

  test("ksql EXPLAIN: registered relation, bare select, Spark forms untouched") {
    // a CSAS view: EXPLAIN <name> reports the recorded statement +
    // Spark's formatted plan of the registered view
    GraftSql.sql(spark,
      "CREATE TABLE explain_tbl AS SELECT n_regionkey, count(*) AS n " +
        "FROM nation GROUP BY n_regionkey EMIT CHANGES")
    try {
      val byName = GraftSql.sql(spark, "EXPLAIN explain_tbl;").collect().head
      assert(byName.getString(0) == "explain_tbl")
      assert(byName.getString(1) == "TABLE")
      assert(byName.getString(2).toLowerCase.contains("group by"))
      assert(byName.getString(3).contains("HashAggregate"),
        byName.getString(3).take(300))
      // a bare SELECT: the ksql rewrites apply before explaining
      // (the dialect MASK → ksql_mask mapping proves the chain ran)
      val sel = GraftSql.sql(spark,
        "EXPLAIN SELECT MASK(n_name) AS m, count(*) AS n FROM nation " +
          "GROUP BY 1;").collect().head
      assert(sel.getString(1) == "QUERY")
      assert(sel.getString(2).contains("ksql_mask"), sel.getString(2))
      assert(sel.getString(3).contains("HashAggregate"))
      // Spark's own EXPLAIN variants do not match the ksql form
      assert(!ConnectorDdl.handles("EXPLAIN EXTENDED SELECT 1"))
      assert(!ConnectorDdl.handles("EXPLAIN FORMATTED SELECT 1"))
      assert(ConnectorDdl.handles("EXPLAIN SELECT 1"))
    } finally spark.catalog.dropTempView("explain_tbl")
  }

  test("ksql INSERT INTO ... VALUES appends typed rows; SHOW TOPICS lists the surface") {
    GraftSql.sql(spark,
      "CREATE STREAM ins_s AS SELECT n_nationkey AS id, n_name AS name " +
        "FROM nation WHERE n_nationkey < 3 EMIT CHANGES")
    try {
      assert(spark.table("ins_s").count() == 3L)
      // full-row insert; values cast to the view's column types
      val st = GraftSql.sql(spark, "INSERT INTO ins_s VALUES (99, 'zed');")
        .collect().head
      assert(st.getString(3) == "INSERTED", st.toString)
      assert(spark.table("ins_s").count() == 4L)
      // named-column insert: unmentioned columns become null
      GraftSql.sql(spark, "INSERT INTO ins_s (id) VALUES (100);")
      val rows = spark.table("ins_s").collect()
        .map(r => (r.getInt(0), Option(r.getString(1)))).toSet
      assert(rows.contains((99, Some("zed"))) && rows.contains((100, None)),
        rows.toString)
      // unknown column and unknown relation fail loudly
      val badCol = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "INSERT INTO ins_s (nope) VALUES (1);")
      }
      assert(badCol.getMessage.contains("no such column"), badCol.getMessage)
      val badRel = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "INSERT INTO no_such_rel_xyz VALUES (1);")
      }
      assert(badRel.getMessage.contains("no such stream"), badRel.getMessage)
      // the INSERT ... SELECT query form is intercepted too (round
      // 10, the second persistent-query form) — real catalog tables
      // delegate to Spark inside the handler
      assert(ConnectorDdl.handles("INSERT INTO ins_s SELECT * FROM nation"))
      // many inserts stay a FLAT base ∪ LocalRelation plan — the
      // union count must not grow with N (a per-insert unionByName
      // chain would re-analyze an N-deep plan on every statement)
      (0 until 40).foreach(i =>
        GraftSql.sql(spark, s"INSERT INTO ins_s VALUES (${200 + i}, 'b');"))
      assert(spark.table("ins_s").count() == 45L)
      // VALUES speak the ksql dialect: ksql's ROUND(-2.5) is -2,
      // Spark's round is -3
      GraftSql.sql(spark, "INSERT INTO ins_s (id) VALUES (ROUND(-2.5));")
      assert(spark.table("ins_s").filter("id < 0").collect()
        .map(_.getInt(0)).toSeq == Seq(-2))
      val unions = spark.table("ins_s").queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }
      assert(unions.length <= 1,
        s"INSERT plan nests ${unions.length} unions")
      // SHOW TOPICS: session relations + sink-connector topics
      GraftSql.sql(spark,
        "CREATE SINK CONNECTOR topic_probe WITH (" +
          "'connector.class'='io.confluent.connect.elasticsearch" +
          ".ElasticsearchSinkConnector', " +
          "'connection.url'='http://localhost:1', 'topics'='shipped_xyz');")
      val topics = GraftSql.sql(spark, "SHOW TOPICS;")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(topics.contains("ins_s"), topics.toString)
      assert(topics.get("shipped_xyz").exists(_.contains("topic_probe")),
        topics.toString)
      GraftSql.sql(spark, "DROP CONNECTOR topic_probe;")
    } finally spark.catalog.dropTempView("ins_s")
  }

  test("ksql SHOW FUNCTIONS / DESCRIBE FUNCTION cover the graft surface") {
    val rows = GraftSql.sql(spark, "SHOW FUNCTIONS;")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    val fns = rows.toMap
    // every table entry, exactly once, with its category
    assert(rows.size == FunctionTable.entries.size, rows.toString)
    FunctionTable.entries.foreach { case (id, info, _) =>
      val cat = if (info.getGroup == "agg_funcs") "AGGREGATE" else "SCALAR"
      assert(rows.count(_._1 == id.funcName) == 1, id.funcName)
      assert(fns(id.funcName) == cat, id.funcName)
    }
    // the families, incl. the Aggregator-backed ones, with the right category
    for (n <- Seq("cosine_sim", "mask_keep_left"))
      assert(fns.get(n).contains("SCALAR"), n)
    for (n <- Seq("latest_by_offset", "topk", "correlation", "histogram",
                  "decimal_sketch", "decimal_sketch_merge",
                  "decimal_sketch_weighted", "kmv_sketch_256",
                  "mg_sketch_64", "mg_sketch_merge_64"))
      assert(fns.get(n).contains("AGGREGATE"), n)
    // LIST FUNCTIONS is the ksql synonym
    assert(GraftSql.sql(spark, "LIST FUNCTIONS;").count() == fns.size)
    // usage strings come from the builders' own arity messages, so
    // they can't drift from the registrations
    val d = GraftSql.sql(spark, "DESCRIBE FUNCTION mask_keep_left;")
      .collect().head
    assert(d.getString(1) == "SCALAR" &&
      d.getString(2) == "mask_keep_left(str, n)", d.toString)
    val agg = GraftSql.sql(spark, "DESCRIBE FUNCTION latest_by_offset;")
      .collect().head
    assert(agg.getString(2).contains("ignoreNulls"), agg.toString)
    // a non-graft name delegates to Spark's native DESCRIBE FUNCTION
    val builtin = GraftSql.sql(spark, "DESCRIBE FUNCTION abs;").collect()
    assert(builtin.nonEmpty &&
      builtin.map(_.getString(0)).mkString.contains("abs"),
      builtin.mkString("|"))
  }

  test("ksql CREATE TYPE: named types resolve in stream DDL; full lifecycle") {
    val st = GraftSql.sql(spark,
      "CREATE TYPE contact AS STRUCT<street VARCHAR, zip INT>;")
      .collect().head
    assert(st.getString(2) == "REGISTERED", st.toString)
    try {
      // a definition may reference an earlier type (stored resolved)
      GraftSql.sql(spark, "CREATE TYPE contacts AS ARRAY<CONTACT>;")
      GraftSql.sql(spark,
        "CREATE STREAM typed_s (id INT, c CONTACT, cs CONTACTS) WITH " +
          "(kafka_topic='typed.topic', value_format='json');")
      val schema = spark.table("typed_s").schema
      val cType = schema("c").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      // ksqlDB uppercases unquoted identifiers; the scalar-spelling
      // translation preserves that, so the struct fields land as
      // STREET/ZIP (Spark's resolver is case-insensitive downstream)
      assert(cType.fieldNames.toSeq == Seq("STREET", "ZIP"), cType.sql)
      assert(schema("cs").dataType.sql == s"ARRAY<${cType.sql}>",
        schema("cs").dataType.sql)
      // typed round-trip: INSERT a struct row, CSAS projecting into it
      GraftSql.sql(spark,
        "INSERT INTO typed_s VALUES (1, " +
          "named_struct('street', 'main', 'zip', 10), " +
          "array(named_struct('street', 's2', 'zip', 20)));")
      GraftSql.sql(spark,
        "CREATE STREAM typed_zip AS SELECT id, c.zip AS zip " +
          "FROM typed_s EMIT CHANGES")
      val rows = spark.table("typed_zip").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(rows == Set((1, 10)), rows.toString)
      // lifecycle: SHOW lists, duplicate CREATE fails, DROP removes,
      // DROP of a missing type needs IF EXISTS, bad definitions fail
      // at CREATE time
      def listed(): Set[String] = GraftSql.sql(spark, "SHOW TYPES;")
        .collect().map(_.getString(0)).toSet
      assert(listed() == Set("contact", "contacts"))
      val dup = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "CREATE TYPE contact AS VARCHAR;") }
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
      GraftSql.sql(spark, "DROP TYPE contacts;")
      assert(listed() == Set("contact"))
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "DROP TYPE contacts;") }
      GraftSql.sql(spark, "DROP TYPE IF EXISTS contacts;")
      val bad = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "CREATE TYPE bad AS STRUCT<oops;") }
      assert(bad.getMessage.contains("cannot parse"), bad.getMessage)
    } finally {
      GraftSql.sql(spark, "DROP TYPE IF EXISTS contact;")
      GraftSql.sql(spark, "DROP TYPE IF EXISTS contacts;")
      spark.catalog.dropTempView("typed_s")
      spark.catalog.dropTempView("typed_zip")
    }
  }

  test("ksql BYTES type maps to BINARY in stream DDL (bare and generic)") {
    GraftSql.sql(spark,
      "CREATE STREAM bytes_s (id INT, payload BYTES, " +
        "blobs ARRAY<BYTES>) WITH " +
        "(kafka_topic='bytes.topic', value_format='json');")
    try {
      val schema = spark.table("bytes_s").schema
      assert(schema("payload").dataType ==
        org.apache.spark.sql.types.BinaryType, schema.sql)
      assert(schema("blobs").dataType.sql == "ARRAY<BINARY>", schema.sql)
      // the bytes codec family round-trips through the typed column
      GraftSql.sql(spark,
        "INSERT INTO bytes_s VALUES (1, TO_BYTES('hi', 'utf8'), " +
          "array(TO_BYTES('07', 'hex')));")
      val row = GraftSql.sql(spark,
        "SELECT FROM_BYTES(payload, 'utf8') AS p, " +
          "FROM_BYTES(blobs[1], 'hex') AS b FROM bytes_s").collect().head
      assert(row.getString(0) == "hi" && row.getString(1) == "07", row)
    } finally {
      GraftSql.sql(spark, "DROP STREAM IF EXISTS bytes_s;")
      ()
    }
  }

  test("ksql TIME type maps to INT millis-of-day in stream DDL; struct FIELD named TIME survives") {
    // TIME lands as the Connect wire format (int32 ms since midnight,
    // org.apache.kafka.connect.data.Time) in bare and generic type
    // positions — but a struct FIELD literally named TIME must keep
    // its NAME and its own type (the r11 regex rewrote it to INT)
    GraftSql.sql(spark,
      "CREATE STREAM time_s (id INT, t TIME, tarr ARRAY<TIME>, " +
        "ev STRUCT<TIME TIMESTAMP, at TIME>) WITH " +
        "(kafka_topic='time.topic', value_format='json');")
    try {
      val schema = spark.table("time_s").schema
      assert(schema("t").dataType == org.apache.spark.sql.types.IntegerType,
        schema.sql)
      assert(schema("tarr").dataType.sql == "ARRAY<INT>", schema.sql)
      val ev = schema("ev").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(ev.fieldNames.map(_.toUpperCase).toSeq == Seq("TIME", "AT"),
        ev.sql)
      assert(ev.fields(0).dataType ==
        org.apache.spark.sql.types.TimestampType, ev.sql)
      assert(ev.fields(1).dataType ==
        org.apache.spark.sql.types.IntegerType, ev.sql)
      // PARSE_TIME writes the wire value; FORMAT_TIME round-trips it
      GraftSql.sql(spark, "INSERT INTO time_s (id, t) VALUES " +
        "(1, PARSE_TIME('12:34:56', 'HH:mm:ss'));")
      val row = GraftSql.sql(spark,
        "SELECT t, FORMAT_TIME(t, 'HH:mm:ss') AS s FROM time_s")
        .collect().head
      assert(row.getInt(0) == (12 * 3600 + 34 * 60 + 56) * 1000, row)
      assert(row.getString(1) == "12:34:56", row)
    } finally {
      GraftSql.sql(spark, "DROP STREAM IF EXISTS time_s;")
      ()
    }
  }

  test("ksql CAST error model: dialect yields null/wrap where Spark ANSI throws") {
    // through the dialect: Java cast semantics (ksqlDB's SqlCasts)
    val r = GraftSql.sql(spark,
      "SELECT CAST('abc' AS INT) AS bad, " +
        "CAST(CAST(2147483648 AS BIGINT) AS INT) AS wrapped " +
        "FROM (VALUES (1))").collect().head
    assert(r.isNullAt(0) && r.getInt(1) == Int.MinValue, r.toString)
    // the session conf is untouched: Spark-native users keep ANSI
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assertThrows[Exception](
      spark.sql("SELECT CAST('abc' AS INT)").collect())
  }

  test("ksql ALTER STREAM ADD COLUMN widens the schema; guards hold") {
    GraftSql.sql(spark,
      "CREATE STREAM alter_s (id INT, name VARCHAR) WITH " +
        "(kafka_topic='alter.topic', value_format='json');")
    try {
      GraftSql.sql(spark, "INSERT INTO alter_s VALUES (1, 'a');")
      val st = GraftSql.sql(spark,
        "ALTER STREAM alter_s ADD COLUMN score DOUBLE, " +
          "ADD COLUMN tags MAP<VARCHAR, INT>;").collect()
      assert(st.map(r => (r.getString(2), r.getString(4))).toSeq ==
        Seq(("score", "ALTERED"), ("tags", "ALTERED")), st.mkString(","))
      val schema = spark.table("alter_s").schema
      assert(schema.fieldNames.toSeq ==
        Seq("id", "name", "score", "tags"), schema.sql)
      assert(schema("tags").dataType.sql == "MAP<STRING, INT>",
        schema("tags").dataType.sql)
      // existing records read NULL for the new columns
      val row = spark.table("alter_s").collect().head
      assert(row.getInt(0) == 1 && row.isNullAt(2) && row.isNullAt(3))
      // kind guard, duplicate column, unknown relation all loud
      assert(intercept[IllegalArgumentException](GraftSql.sql(spark,
        "ALTER TABLE alter_s ADD COLUMN x INT;"))
        .getMessage.contains("STREAM"))
      assert(intercept[IllegalArgumentException](GraftSql.sql(spark,
        "ALTER STREAM alter_s ADD COLUMN name VARCHAR;"))
        .getMessage.contains("already exists"))
      assert(intercept[IllegalArgumentException](GraftSql.sql(spark,
        "ALTER STREAM nope_s ADD COLUMN x INT;"))
        .getMessage.contains("does not exist"))
    } finally {
      GraftSql.sql(spark, "DROP STREAM IF EXISTS alter_s;")
      ()
    }
  }

  test("GraftSql.script runs a multi-statement session; ';' in literals survives") {
    val out = GraftSql.script(spark,
      """-- a ksql-session-shaped script
        |SET 'auto.offset.reset' = 'earliest';
        |CREATE TABLE script_tbl AS
        |  SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey
        |  EMIT CHANGES;
        |SELECT 'a;b' AS semi_lit, n_regionkey FROM script_tbl; -- trailing
        |""".stripMargin)
    try {
      assert(out.length == 3, out.map(_._1).mkString("||"))
      assert(out(1)._1.toUpperCase.contains("CREATE TABLE"), out(1)._1)
      // the literal semicolon did not split the last statement
      val last = out(2)._2.collect()
      assert(last.nonEmpty && last.head.getString(0) == "a;b")
      val err = intercept[Exception] {
        GraftSql.script(spark, "SELECT 1; SELECT no_such_col FROM nation;")
      }
      assert(err != null) // fail-fast: second statement aborts the run
    } finally spark.catalog.dropTempView("script_tbl")
  }

  test("connector DDL: Connect-idiomatic hyphenated and backquoted names work") {
    GraftSql.sql(spark,
      "CREATE SOURCE CONNECTOR customers-reader-2 WITH ('a' = 'b')")
    assert(ConnectorDdl.connector(spark, "customers-reader-2").isDefined)
    GraftSql.sql(spark, "DROP CONNECTOR customers-reader-2")
    assert(ConnectorDdl.connector(spark, "customers-reader-2").isEmpty)
    GraftSql.sql(spark,
      "CREATE SINK CONNECTOR `weird name.sink` WITH ('connection.url' = 'http://x')")
    assert(ConnectorDdl.connector(spark, "weird name.sink").isDefined)
    GraftSql.sql(spark, "DROP CONNECTOR `weird name.sink`")
  }

  test("ksql WITHIN interval join: the reference's shipped_orders statement runs verbatim") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // the two upstream streams of reference README.md:464-480, with
    // event times spanning the 7-day band both ways
    Seq(
      (1L, 101L, "ann", 34L, 10.0, "EUR", "2024-01-01 00:00:00"),
      (2L, 102L, "bob", 45L, 20.0, "USD", "2024-01-02 00:00:00"),
      (3L, 103L, "cyd", 29L, 30.0, "EUR", "2024-01-03 00:00:00"),
      (4L, 104L, "dee", 52L, 40.0, "GBP", "2024-01-04 00:00:00"),
      (5L, 105L, "eli", 61L, 50.0, "USD", "2024-01-05 00:00:00"))
      .toDF("order_id", "customer_id", "customer_name", "customer_age",
        "price", "currency", "ts0")
      .withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
      .createOrReplaceTempView("enriched_orders")
    Seq(
      ("ship-1", 1L, "Berlin",   "2024-01-03 00:00:00"), // +2d   → in
      ("ship-2", 2L, "Madrid",   "2024-01-08 00:00:00"), // +6d   → in
      ("ship-3", 3L, "Lisbon",   "2024-01-11 00:00:00"), // +8d   → OUT
      ("ship-4", 4L, "Dublin",   "2024-01-03 00:00:00"), // -1d   → in
      ("ship-5", 5L, "Warsaw",   "2024-01-12 00:00:00"), // +7d   → in (inclusive)
      ("ship-6", 1L, "Tallinn",  "2024-01-21 00:00:00"), // +20d  → OUT
      ("ship-7", 9L, "Nicosia",  "2024-01-05 00:00:00"), // no such order
      ("ship-8", 3L, "Vilnius",  "2024-01-06 00:00:00")) // +3d   → in
      .toDF("shipment_id", "order_id", "origin", "ts0")
      .withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
      .createOrReplaceTempView("shipments")
    // reference README.md:464-480, byte-for-byte
    val st = GraftSql.sql(spark,
      """CREATE STREAM shipped_orders WITH (
        |    kafka_topic = 'shipped_orders'
        |)   AS
        |    SELECT o.order_id,
        |           s.shipment_id,
        |           o.customer_id,
        |           o.customer_name,
        |           o.customer_age,
        |           s.origin,
        |           o.price,
        |           o.currency
        |    FROM enriched_orders AS o
        |    INNER JOIN shipments s
        |    WITHIN 7 DAYS
        |    ON s.order_id = o.order_id
        |    EMIT CHANGES;""".stripMargin).collect().head
    assert(st.getString(3) == "CREATED")
    val got = spark.table("shipped_orders")
      .orderBy("order_id", "shipment_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(5))).toSeq
    assert(got == Seq(
      (1L, "ship-1", "Berlin"),
      (2L, "ship-2", "Madrid"),
      (3L, "ship-8", "Vilnius"),
      (4L, "ship-4", "Dublin"),
      (5L, "ship-5", "Warsaw")), got)
    // the rewrite text itself: band predicate on both streams' ts
    val rewritten = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM enriched_orders AS o INNER JOIN shipments s WITHIN 7 DAYS ON s.order_id = o.order_id")
    assert(rewritten.contains("s.ts >= o.ts - INTERVAL 7 DAY") &&
      rewritten.contains("s.ts <= o.ts + INTERVAL 7 DAY") &&
      rewritten.contains("(s.order_id = o.order_id)"), rewritten)
    // asymmetric ksql form: WITHIN (before, after)
    val asym = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM enriched_orders o LEFT JOIN shipments s WITHIN (1 HOUR, 2 DAYS) ON s.order_id = o.order_id WHERE o.price > 0")
    assert(asym.contains("s.ts >= o.ts - INTERVAL 1 HOUR") &&
      asym.contains("s.ts <= o.ts + INTERVAL 2 DAY") &&
      asym.contains("LEFT JOIN") && asym.endsWith("WHERE o.price > 0"), asym)
  }

  test("WITHIN edge cases: rowtime beats schema-order ts; ON stops before a second JOIN; `price * 2` still inherits rowtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // a stream whose RAW string ts precedes the parsed rowtime in the
    // schema — the band must bind to rowtime, not the string
    Seq((1L, "01/02/2024 00:00", "x"))
      .toDF("k", "ts", "v")
      .withColumn("rowtime", to_timestamp(col("ts"), "MM/dd/yyyy HH:mm"))
      .createOrReplaceTempView("tsfirst")
    val band = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM tsfirst a INNER JOIN tsfirst b WITHIN 1 DAYS ON a.k = b.k")
    assert(band.contains("b.rowtime >= a.rowtime - INTERVAL 1 DAY"), band)
    // the ON condition must not swallow a following JOIN clause
    val multi = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM tsfirst a INNER JOIN tsfirst b WITHIN 1 DAYS " +
        "ON a.k = b.k JOIN region ON b.k = region.r_regionkey")
    assert(multi.contains("(a.k = b.k) AND") &&
      multi.contains("JOIN region ON b.k = region.r_regionkey") &&
      !multi.contains("region.r_regionkey) AND"), multi)
    // arithmetic '*' is not a wildcard: the derived stream still
    // inherits rowtime (the old any-asterisk skip disabled it)
    val prop = ConnectorDdl.propagateRowtime(spark,
      "SELECT k, 2 * 2 AS p2 FROM tsfirst t")
    assert(prop.contains("t.rowtime AS rowtime"), prop)
    // a real wildcard select still skips (rowtime flows through *)
    val wild = ConnectorDdl.propagateRowtime(spark,
      "SELECT t.* FROM tsfirst t")
    assert(!wild.contains("AS rowtime"), wild)
    // GROUP-BY-less full aggregate skips (appending would break it)
    val agg = ConnectorDdl.propagateRowtime(spark,
      "SELECT count(k) AS n FROM tsfirst t")
    assert(!agg.contains("AS rowtime"), agg)
  }

  test("bare stream schema: parenthesized types parse; malformed items get a diagnostic") {
    val st = GraftSql.sql(spark,
      """CREATE STREAM dec_stream (id INT, v DECIMAL(4,2))
        |WITH (kafka_topic = 'no.such.topic');""".stripMargin).collect().head
    assert(st.getString(3) == "CREATED")
    val schema = spark.table("dec_stream").schema
    assert(schema("v").dataType.typeName.startsWith("decimal"), schema)
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "CREATE STREAM bad_stream (id) WITH (kafka_topic = 'no.such.t2');")
    }
    assert(err.getMessage.contains("must be '<name> <type>'"), err.getMessage)
  }

  test("bare stream schema: ksql generic types (MAP/ARRAY) keep their inner commas") {
    val st = GraftSql.sql(spark,
      """CREATE STREAM map_stream (id INT, m MAP<VARCHAR, INT>, a ARRAY<VARCHAR>)
        |WITH (kafka_topic = 'no.such.topic3');""".stripMargin).collect().head
    assert(st.getString(3) == "CREATED")
    val schema = spark.table("map_stream").schema
    assert(schema("m").dataType.typeName == "map", schema)
    assert(schema("a").dataType.typeName == "array", schema)
  }

  test("WITHIN event time: a typed event_ts beats a raw string ts in the preference order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // no rowtime; `ts` is a raw non-ISO string, `event_ts` is typed —
    // the band must bind to the TYPED column even though `ts` ranks
    // earlier by name
    Seq((1L, "01/02/2024 00:00"))
      .toDF("k", "ts")
      .withColumn("event_ts", to_timestamp(col("ts"), "MM/dd/yyyy HH:mm"))
      .createOrReplaceTempView("strts")
    val band = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM strts a INNER JOIN strts b WITHIN 1 DAYS ON a.k = b.k")
    assert(band.contains("b.event_ts >= a.event_ts - INTERVAL 1 DAY"), band)
  }

  test("WITHIN event time: a typed NON-preferred column beats an untyped preferred name") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // `ts` is a raw non-ISO string and the only timestamp-TYPED column
    // is named created_at (no preferred name is typed) — binding the
    // string `ts` would cast to NULL in the band and silently zero the
    // join, so the single typed column must win
    Seq((1L, "01/02/2024 00:00"))
      .toDF("k", "ts")
      .withColumn("created_at", to_timestamp(col("ts"), "MM/dd/yyyy HH:mm"))
      .createOrReplaceTempView("typednp")
    val band = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM typednp a INNER JOIN typednp b WITHIN 1 DAYS ON a.k = b.k")
    assert(band.contains("b.created_at >= a.created_at - INTERVAL 1 DAY"), band)
    // all-string legacy schema: the bare preferred name still binds
    Seq((1L, "2024-01-02 00:00:00")).toDF("k", "ts")
      .createOrReplaceTempView("allstr")
    val legacy = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM allstr a INNER JOIN allstr b WITHIN 1 DAYS ON a.k = b.k")
    assert(legacy.contains("b.ts >= a.ts - INTERVAL 1 DAY"), legacy)
  }

  test("WITHIN event time: a PARSEABLE string ts beats an unrelated typed column") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, current_timestamp}
    // the legacy convention: `ts` holds clean ISO event time as a
    // string, and an unrelated timestamp-typed ingest_time sits beside
    // it — the band must stay on EVENT time (the probe proves the
    // string casts), not silently switch to ingestion time
    Seq((1L, "2024-01-02 00:00:00")).toDF("k", "ts")
      .withColumn("ingest_time", current_timestamp())
      .createOrReplaceTempView("isots")
    val band = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM isots a INNER JOIN isots b WITHIN 1 DAYS ON a.k = b.k")
    assert(band.contains("b.ts >= a.ts - INTERVAL 1 DAY"), band)
    // two unrelated typed columns + a parseable ts: still binds ts
    // (previously ambiguous → threw)
    Seq((1L, "2024-01-02 00:00:00")).toDF("k", "ts")
      .withColumn("ingest_time", current_timestamp())
      .withColumn("load_ts", current_timestamp())
      .createOrReplaceTempView("isots2")
    val band2 = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM isots2 a INNER JOIN isots2 b WITHIN 1 DAYS ON a.k = b.k")
    assert(band2.contains("b.ts >= a.ts - INTERVAL 1 DAY"), band2)
  }

  test("WITHIN event time: a STREAMING view keeps the legacy string-ts precedence") {
    import org.apache.spark.sql.functions.{col, lit}
    // a streaming relation cannot be sampled at plan time, so the
    // cast probe never runs — the bare preferred `ts` must STILL beat
    // the single unrelated timestamp-typed column, or a legacy
    // stream's interval join silently switches from event time to
    // ingest time with no error
    val srel = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .select(col("value").as("k"),
        lit("2024-01-02 00:00:00").as("ts"),
        col("timestamp").as("ingest_time"))
    assert(srel.isStreaming)
    srel.createOrReplaceTempView("stream_legacy_ts")
    val band = ConnectorDdl.rewriteWithin(spark,
      "SELECT * FROM stream_legacy_ts a INNER JOIN stream_legacy_ts b " +
        "WITHIN 1 DAYS ON a.k = b.k")
    assert(band.contains("b.ts >= a.ts - INTERVAL 1 DAY"), band)
    spark.catalog.dropTempView("stream_legacy_ts")
  }

  test("WITHIN ... GRACE PERIOD: clause accepted, stripped from the batch band, parsed for streaming") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    Seq((1L, "2024-01-02 00:00:00"))
      .toDF("k", "raw")
      .withColumn("event_ts", to_timestamp(col("raw")))
      .createOrReplaceTempView("gracets")
    val stmt = "SELECT * FROM gracets a INNER JOIN gracets b " +
      "WITHIN 7 DAYS GRACE PERIOD 15 MINUTES ON a.k = b.k"
    val band = ConnectorDdl.rewriteWithin(spark, stmt)
    // the band is the WITHIN interval; the grace clause must not leak
    // into the rewritten SQL
    assert(band.contains("INTERVAL 7 DAY"), band)
    assert(!band.toUpperCase.contains("GRACE PERIOD"), band)
    // the streaming runner reads the grace back as the watermark delay
    assert(ConnectorDdl.withinGrace(stmt).contains("15 MINUTE"))
    assert(ConnectorDdl.withinGrace(
      "SELECT * FROM gracets a INNER JOIN gracets b WITHIN 7 DAYS " +
        "ON a.k = b.k").isEmpty)
    // asymmetric band + grace both parse
    val asym = "SELECT * FROM gracets a INNER JOIN gracets b " +
      "WITHIN (1 DAY, 2 DAYS) GRACE PERIOD 1 HOUR ON a.k = b.k"
    assert(ConnectorDdl.rewriteWithin(spark, asym)
      .contains("- INTERVAL 1 DAY"), ConnectorDdl.rewriteWithin(spark, asym))
    assert(ConnectorDdl.withinGrace(asym).contains("1 HOUR"))
    // a bad grace unit is an error, not a silent drop
    val bad = intercept[IllegalArgumentException] {
      ConnectorDdl.rewriteWithin(spark,
        "SELECT * FROM gracets a INNER JOIN gracets b " +
          "WITHIN 7 DAYS GRACE PERIOD 2 FORTNIGHTS ON a.k = b.k")
    }
    assert(bad.getMessage.contains("unsupported"), bad.getMessage)
    spark.catalog.dropTempView("gracets")
  }

  test("ksql latest/earliest_by_offset(col, N) rewrite to sorted-slice arrays and run") {
    import spark.implicits._
    val r = ConnectorDdl.rewriteLatestByOffset(
      "SELECT k, latest_by_offset(v, 3) AS l3, earliest_by_offset(v, 2) AS e2 " +
        "FROM s GROUP BY k")
    // LATEST slices the newest N then reverses back to ksql's
    // ascending-offset output order (latest value LAST)
    assert(r.contains(
      "reverse(transform(slice(sort_array(collect_list(struct(offset, v)), false), 1, 3), s -> s.v))"), r)
    assert(r.contains(
      "transform(slice(sort_array(collect_list(struct(offset, v)), true), 1, 2), s -> s.v)"), r)
    // the engine's own 2-arg UDAF spelling (offset COLUMN, value) must
    // pass through untouched — only an integer-literal N matches
    val udaf = "SELECT latest_by_offset(event_id, event_type) FROM s"
    assert(ConnectorDdl.rewriteLatestByOffset(udaf) == udaf)
    // and the rewritten SQL is valid Spark SQL with correct semantics
    Seq((1L, 10L, "a"), (1L, 30L, "c"), (1L, 20L, "b"), (2L, 5L, "x"))
      .toDF("k", "offset", "v").createOrReplaceTempView("lko")
    val out = spark.sql(ConnectorDdl.rewriteLatestByOffset(
        "SELECT k, latest_by_offset(v, 2) AS l2, earliest_by_offset(v, 2) AS e2 " +
          "FROM lko GROUP BY k"))
      .as[(Long, Seq[String], Seq[String])].collect()
      .map { case (k, l, e) => k -> ((l, e)) }.toMap
    // ksql order: ascending offset, so the latest value is LAST
    assert(out(1L) == ((Seq("b", "c"), Seq("a", "b"))), out)
    assert(out(2L) == ((Seq("x"), Seq("x"))), out)
  }

  test("rowtime propagation skips ANY registry aggregate, not a hardcoded list") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    Seq((1L, "2024-01-02 00:00:00"))
      .toDF("k", "tsraw")
      .withColumn("rowtime", to_timestamp(col("tsraw")))
      .createOrReplaceTempView("rtprop")
    // GROUP-BY-less full aggregates over functions the old whitelist
    // missed: appending a bare rowtime column would break them
    for (sel <- Seq(
        "SELECT stddev_samp(k) AS s FROM rtprop t",
        "SELECT count(DISTINCT k) AS n FROM rtprop t",
        "SELECT any_value(k) AS a FROM rtprop t",
        "SELECT approx_count_distinct(k) AS n FROM rtprop t",
        "SELECT histogram(CAST(k AS STRING)) AS h FROM rtprop t",
        "SELECT kmv_sketch_256(k) AS s FROM rtprop t",
        "SELECT decimal_sketch(k) AS s FROM rtprop t",
        "SELECT decimal_sketch_weighted(k, k) AS s FROM rtprop t",
        "SELECT mg_sketch_64(CAST(k AS STRING)) AS s FROM rtprop t",
        "SELECT correlation(k, k) AS c FROM rtprop t"))
      assert(!ConnectorDdl.propagateRowtime(spark, sel).contains("AS rowtime"),
        sel)
    // scalar functions must NOT suppress propagation
    val scalar = ConnectorDdl.propagateRowtime(spark,
      "SELECT upper(concat('a', 'b')) AS u, abs(k) AS a FROM rtprop t")
    assert(scalar.contains("t.rowtime AS rowtime"), scalar)
  }

  test("the reference's ENTIRE ksql session runs verbatim, statement for statement") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Backing relations for the three topics (the offline analog of
    // the CDC/Avro data the reference's connectors feed in, with the
    // ChangeFeed offset column): reference README.md:502-526 inserts,
    // plus one customer UPDATE so latest_by_offset has work to do.
    Seq(("5", "fred", 34, 0L), ("7", "sue", 25, 1L), ("2", "bill", 51, 2L),
        ("5", "fred", 35, 3L))
      .toDF("id", "name", "age", "offset")
      .createOrReplaceTempView("customers")
    Seq(("2", "13", 50.50, "usd", "2020-04-03T11:20:00"),
        ("7", "29", 15.00, "aud", "2020-04-02T12:36:00"),
        ("5", "17", 25.25, "eur", "2020-04-02T17:22:00"),
        ("5", "15", 13.75, "usd", "2020-04-03T02:55:00"),
        ("7", "22", 29.71, "aud", "2020-04-04T00:12:00"))
      .toDF("customer_id", "order_id", "price", "currency", "ts")
      .createOrReplaceTempView("orders")
    Seq(("17", "75", "texas", "2020-04-04T19:20:00"),
        ("22", "71", "iowa", "2020-04-04T12:25:00"),
        ("29", "89", "california", "2020-04-05T13:21:00"),
        ("13", "92", "maine", "2020-04-04T06:13:00"),
        ("15", "95", "florida", "2020-04-04T01:13:00"))
      .toDF("order_id", "shipment_id", "origin", "ts")
      .createOrReplaceTempView("shipments")
    GraftSql.sql(spark, "DROP CONNECTOR IF EXISTS customers_reader")
    GraftSql.sql(spark, "DROP CONNECTOR IF EXISTS logistics_reader")
    GraftSql.sql(spark, "DROP CONNECTOR IF EXISTS enriched_writer")
    try {
      // ---- the ten statements of README.md:346-493, byte-for-byte ----
      val statements = Seq(
        "SET 'auto.offset.reset' = 'earliest';",
        """CREATE SOURCE CONNECTOR customers_reader WITH (
          |    'connector.class' = 'io.debezium.connector.postgresql.PostgresConnector',
          |    'database.hostname' = 'postgres',
          |    'table.whitelist' = 'public.customers',
          |    'transforms' = 'unwrap',
          |    'transforms.unwrap.type' = 'io.debezium.transforms.ExtractNewRecordState',
          |    'transforms.unwrap.drop.tombstones' = 'false',
          |    'transforms.unwrap.delete.handling.mode' = 'rewrite'
          |);""".stripMargin,
        """CREATE SOURCE CONNECTOR logistics_reader WITH (
          |    'connector.class' = 'io.debezium.connector.mongodb.MongoDbConnector',
          |    'transforms.unwrap.delete.handling.mode' = 'drop'
          |);""".stripMargin,
        """CREATE STREAM customers WITH (
          |    kafka_topic = 'customers.public.customers',
          |    value_format = 'avro'
          |);""".stripMargin,
        """CREATE STREAM orders WITH (
          |    kafka_topic = 'my-replica-set.logistics.orders',
          |    value_format = 'avro',
          |    timestamp = 'ts',
          |    timestamp_format = 'yyyy-MM-dd''T''HH:mm:ss'
          |);""".stripMargin,
        """CREATE STREAM shipments WITH (
          |    kafka_topic = 'my-replica-set.logistics.shipments',
          |    value_format = 'avro',
          |    timestamp = 'ts',
          |    timestamp_format = 'yyyy-MM-dd''T''HH:mm:ss'
          |);""".stripMargin,
        """CREATE TABLE customers_by_key AS
          |    SELECT id,
          |           latest_by_offset(name) AS name,
          |           latest_by_offset(age) AS age
          |    FROM customers
          |    GROUP BY id
          |    EMIT CHANGES;""".stripMargin,
        """CREATE STREAM enriched_orders AS
          |    SELECT o.order_id,
          |           o.price,
          |           o.currency,
          |           c.id AS customer_id,
          |           c.name AS customer_name,
          |           c.age AS customer_age
          |    FROM orders AS o
          |    LEFT JOIN customers_by_key c
          |    ON o.customer_id = c.id
          |    EMIT CHANGES;""".stripMargin,
        """CREATE STREAM shipped_orders WITH (
          |    kafka_topic = 'shipped_orders'
          |)   AS
          |    SELECT o.order_id,
          |           s.shipment_id,
          |           o.customer_id,
          |           o.customer_name,
          |           o.customer_age,
          |           s.origin,
          |           o.price,
          |           o.currency
          |    FROM enriched_orders AS o
          |    INNER JOIN shipments s
          |    WITHIN 7 DAYS
          |    ON s.order_id = o.order_id
          |    EMIT CHANGES;""".stripMargin,
        """CREATE SINK CONNECTOR enriched_writer WITH (
          |    'connector.class' = 'io.confluent.connect.elasticsearch.ElasticsearchSinkConnector',
          |    'connection.url' = 'http://elastic:9200',
          |    'type.name' = 'kafka-connect',
          |    'topics' = 'shipped_orders'
          |);""".stripMargin)
      statements.foreach(stmt => GraftSql.sql(spark, stmt))
      // ---- the published result: 5 shipped-order documents ----
      val got = spark.table("shipped_orders")
        .select(col("order_id"), col("shipment_id"), col("customer_name"),
          col("customer_age"), col("origin"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getInt(3), r.getString(4)))
        .sortBy(_._1)
      assert(got.toSeq == Seq(
        ("13", "92", "bill", 51, "maine"),
        ("15", "95", "fred", 35, "florida"), // latest_by_offset: age 35
        ("17", "75", "fred", 35, "texas"),
        ("22", "71", "sue", 25, "iowa"),
        ("29", "89", "sue", 25, "california")), got.toSeq)
      // the latest_by_offset rewrite elected the UPDATE, not the insert
      val fred = spark.table("customers_by_key")
        .filter(col("id") === "5").collect().head
      assert(fred.getInt(2) == 35)
      // implicit ROWTIME flowed through the CSAS chain (ksql semantics)
      assert(spark.table("enriched_orders").columns.contains("rowtime"))
      // streams registered for the admin surface
      val streams = GraftSql.sql(spark, "SHOW STREAMS;")
        .collect().map(_.getString(0)).toSet
      assert(Set("customers", "orders", "shipments",
        "enriched_orders", "shipped_orders").subsetOf(streams))
      // the same session as ONE pasted script (GraftSql.script) —
      // connector drops prepended so the re-run is self-contained;
      // the published documents must reproduce again
      val script = (Seq("DROP CONNECTOR IF EXISTS customers_reader;",
        "DROP CONNECTOR IF EXISTS logistics_reader;",
        "DROP CONNECTOR IF EXISTS enriched_writer;") ++ statements)
        .mkString("\n")
      val ran = GraftSql.script(spark, script)
      assert(ran.length == 13, ran.map(_._1.take(30)).mkString("||"))
      val again = spark.table("shipped_orders").collect()
      assert(again.length == 5)
    } finally {
      // restore the shared testdata views for the rest of the suite
      GraftSql.initViews(spark, sf)
    }
  }

  test("full ksqlDB-porting path: GraftSql.init is enough for a SQL-only user") {
    GraftSql.init(spark, sf)
    val out = spark.sql(
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin).collect()
    assert(out.nonEmpty && out.forall(!_.isNullAt(1)))
  }

  test("round-10 surface composes in ONE pasted script: types, lambdas, drops") {
    GraftSql.init(spark, sf)
    val script =
      """SET 'graft.script.prop' = 'on';
        |CREATE TYPE money AS STRUCT<cents BIGINT, currency VARCHAR>;
        |-- lambda arrows inside literals must survive the => rewrite
        |CREATE STREAM r10_docs AS
        |  SELECT doc_id,
        |         '(x) => x' AS arrow_hint,
        |         TRANSFORM(SPLIT(text, ' '), (w) => LENGTH(w)) AS lens,
        |         REDUCE(SPLIT(text, ' '), 0, (s, w) => s + LENGTH(w)) AS chars
        |  FROM documents EMIT CHANGES;
        |SELECT count(*) AS n_long FROM r10_docs
        |  WHERE ARRAY_LENGTH(FILTER(lens, (n) => n > 4)) > 3;
        |SHOW PROPERTIES;
        |DROP STREAM r10_docs;
        |UNSET 'graft.script.prop';
        |DROP TYPE money;""".stripMargin
    val ran = GraftSql.script(spark, script)
    assert(ran.length == 8, ran.map(_._1.take(30)).mkString("||"))
    val arrows = ran(2)._2 // CREATE STREAM status row exists
    assert(arrows.columns.contains("status"))
    // the literal survived, the lambdas ran
    val sel = ran(3)._2.collect().head
    assert(sel.getLong(0) > 0)
    val props = ran(4)._2.collect().map(_.getString(0))
    assert(props.contains("graft.script.prop"))
    assert(!spark.catalog.tableExists("r10_docs"))
  }

  test("round-10 second-half surface composes in ONE pasted script: subscripts, chr/instr, round, multi-explode") {
    GraftSql.init(spark, sf)
    val script =
      """-- bracket text inside a literal must survive the subscript rewrite
        |CREATE STREAM r10b_docs AS
        |  SELECT doc_id,
        |         'arr[1] in a literal' AS bracket_hint,
        |         SPLIT(text, ' ')[1] AS head_word,
        |         SPLIT(text, ' ')[-1] AS tail_word,
        |         CHR(CAST(65 + doc_id % 26 AS INT)) AS letter,
        |         CAST(INSTR(text, 'e', -1) AS BIGINT) AS last_e,
        |         ROUND(CAST(doc_id AS DOUBLE) / 7) AS septile
        |  FROM documents EMIT CHANGES;
        |SELECT count(*) AS n FROM r10b_docs WHERE head_word IS NOT NULL;
        |SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS w,
        |       EXPLODE(GENERATE_SERIES(1, 2)) AS c
        |  FROM documents WHERE doc_id = 1;
        |DROP STREAM r10b_docs;""".stripMargin
    val ran = GraftSql.script(spark, script)
    assert(ran.length == 4, ran.map(_._1.take(30)).mkString("||"))
    // the CSAS view is dropped by the script's last statement; check
    // through the script's own SELECT results instead
    val n = ran(1)._2.collect().head.getLong(0)
    assert(n > 0)
    val zip = ran(2)._2
    assert(zip.columns.toSeq == Seq("doc_id", "w", "c"))
    val rows = zip.collect()
    assert(rows.nonEmpty && rows.exists(_.isNullAt(2))) // null-padded
    assert(!spark.catalog.tableExists("r10b_docs"))
  }

  test("INSERT INTO <stream> SELECT — the second persistent-query form") {
    GraftSql.init(spark, sf)
    try {
      GraftSql.sql(spark,
        "CREATE STREAM ins_tgt AS SELECT doc_id, source FROM documents " +
          "WHERE doc_id < 10 EMIT CHANGES;")
      val before = spark.table("ins_tgt").count()
      // ksql dialect rides along (MASK) and EMIT CHANGES is accepted
      GraftSql.sql(spark,
        "INSERT INTO ins_tgt SELECT doc_id + 1000 AS doc_id, " +
          "MASK(source) AS source FROM documents WHERE doc_id < 5 " +
          "EMIT CHANGES;")
      val after = spark.table("ins_tgt")
      assert(after.count() == before + 5)
      // the appended rows went through the dialect rewrite
      val masked = after
        .filter(org.apache.spark.sql.functions.col("doc_id") >= 1000)
        .select("source").distinct().collect().map(_.getString(0))
      assert(masked.nonEmpty && masked.forall(_.matches("xxxn+")), // srcN
        masked.toSeq)
      // column subset is rejected loudly
      val e = intercept[IllegalArgumentException](
        GraftSql.sql(spark,
          "INSERT INTO ins_tgt SELECT doc_id FROM documents LIMIT 1;"))
      assert(e.getMessage.contains("missing target column"), e.getMessage)
      // unknown target
      intercept[IllegalArgumentException](
        GraftSql.sql(spark,
          "INSERT INTO no_such_stream SELECT 1 AS x;"))
      // repeated inserts accumulate without stacking (content check)
      GraftSql.sql(spark,
        "INSERT INTO ins_tgt SELECT doc_id + 2000 AS doc_id, source " +
          "FROM documents WHERE doc_id < 3;")
      assert(spark.table("ins_tgt").count() == before + 8)
      GraftSql.sql(spark, "DROP STREAM ins_tgt;")
    } finally GraftSql.initViews(spark, sf)
  }

  test("DEFINE / UNDEFINE / ${var} substitution, incl. inside literals") {
    GraftSql.init(spark, sf)
    GraftSql.sql(spark, "DEFINE src = 'documents';")
    GraftSql.sql(spark, "DEFINE hi = 'hello';")
    val vars = GraftSql.sql(spark, "SHOW VARIABLES;").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vars == Map("src" -> "documents", "hi" -> "hello"))
    // substitutes in relation position AND inside a string literal
    val n = GraftSql.sql(spark,
      "SELECT count(*) AS n, '${hi} world' AS g FROM ${src};")
      .collect().head
    assert(n.getLong(0) > 0 && n.getString(1) == "hello world")
    // undefined references fall through to Spark's own ${...}
    // substitution (conf/env-backed) — DEFINE has priority, Spark's
    // layer keeps its native behavior
    assert(GraftSql.sql(spark, "SELECT '${nope}' AS x;")
      .collect().head.getString(0) != "hello world")
    GraftSql.sql(spark, "UNDEFINE src;")
    assert(GraftSql.sql(spark, "SHOW VARIABLES;").count() == 1)
    GraftSql.sql(spark, "UNDEFINE hi;")
  }

  test("RUN SCRIPT executes a statement file through the session") {
    GraftSql.init(spark, sf)
    val f = java.nio.file.Files.createTempFile("graft-script-", ".sql")
    java.nio.file.Files.write(f,
      """DEFINE who = 'region';
        |CREATE STREAM script_out AS SELECT r_regionkey FROM ${who}
        |  EMIT CHANGES;""".stripMargin.getBytes)
    val status = GraftSql.sql(spark, s"RUN SCRIPT '$f';").collect()
    assert(status.length == 2 && status.forall(_.getString(1) == "EXECUTED"))
    assert(spark.table("script_out").count() > 0)
    GraftSql.sql(spark, "DROP STREAM script_out;")
    GraftSql.sql(spark, "UNDEFINE who;")
  }

  test("DESCRIBE CONNECTOR and SHOW CONNECTOR PLUGINS") {
    GraftSql.sql(spark,
      """CREATE SOURCE CONNECTOR desc_me WITH (
        |'connector.class' = 'io.debezium.connector.postgresql.PostgresConnector',
        |'topic.prefix' = 'pg');""".stripMargin)
    val d = GraftSql.sql(spark, "DESCRIBE CONNECTOR desc_me;")
      .collect().head
    assert(d.getString(0) == "desc_me" && d.getString(1) == "SOURCE" &&
      d.getString(2).contains("PostgresConnector") &&
      d.getString(3).contains("topic.prefix=pg"))
    intercept[IllegalArgumentException](
      GraftSql.sql(spark, "DESCRIBE CONNECTOR no_such;"))
    val plugins = GraftSql.sql(spark, "SHOW CONNECTOR PLUGINS;")
      .collect().map(_.getString(0))
    assert(plugins.exists(_.contains("PostgresConnector")) &&
      plugins.exists(_.contains("Elasticsearch")))
    GraftSql.sql(spark, "DROP CONNECTOR desc_me;")
  }

  test("SET / UNSET / SHOW PROPERTIES round-trip the session overrides") {
    GraftSql.sql(spark, "SET 'graft.test.prop' = 'v1';")
    GraftSql.sql(spark, "SET 'graft.test.other' = 'v2';")
    val shown = GraftSql.sql(spark, "SHOW PROPERTIES;").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("graft.test.prop").contains("v1") &&
      shown.get("graft.test.other").contains("v2"))
    GraftSql.sql(spark, "UNSET 'graft.test.prop';")
    val after = GraftSql.sql(spark, "SHOW PROPERTIES;").collect()
      .map(_.getString(0)).toSet
    assert(!after.contains("graft.test.prop") &&
      after.contains("graft.test.other"))
    GraftSql.sql(spark, "UNSET 'graft.test.other';")
  }

  test("DROP STREAM / DROP TABLE: kind-checked, bookkeeping cleared") {
    GraftSql.init(spark, sf)
    try {
      GraftSql.sql(spark,
        "CREATE STREAM drop_me AS SELECT o_orderkey FROM orders;")
      GraftSql.sql(spark,
        "CREATE TABLE drop_tbl AS SELECT count(*) AS n FROM orders " +
          "EMIT CHANGES;")
      // wrong kind is rejected, like ksql
      val e = intercept[IllegalArgumentException](
        GraftSql.sql(spark, "DROP TABLE drop_me;"))
      assert(e.getMessage.contains("is a STREAM"))
      val st = GraftSql.sql(spark, "DROP STREAM drop_me DELETE TOPIC;")
        .collect().head
      assert(st.getString(3) == "DROPPED" &&
        st.getString(2) == "TOPIC DELETED")
      assert(!spark.catalog.tableExists("drop_me"))
      // dropped relations vanish from SHOW STREAMS / EXPLAIN
      val streams = GraftSql.sql(spark, "SHOW STREAMS;")
        .collect().map(_.getString(0)).toSet
      assert(!streams.contains("drop_me"))
      GraftSql.sql(spark, "DROP TABLE drop_tbl;")
      assert(!spark.catalog.tableExists("drop_tbl"))
      // missing target: IF EXISTS is a no-op status, bare form throws
      val nf = GraftSql.sql(spark, "DROP STREAM IF EXISTS drop_me;")
        .collect().head
      assert(nf.getString(3) == "NOT FOUND")
      intercept[IllegalArgumentException](
        GraftSql.sql(spark, "DROP STREAM drop_me;"))
      // an undeclared temp view is a stream for DROP purposes (it is
      // listed by SHOW STREAMS); re-registered for the suite after
      GraftSql.sql(spark, "DROP STREAM region;")
      assert(!spark.catalog.tableExists("region"))
    } finally GraftSql.initViews(spark, sf)
  }

  test("CSAS with multiple EXPLODEs: the zip rewrite reaches persistent queries") {
    GraftSql.init(spark, sf)
    try {
      GraftSql.sql(spark,
        """CREATE STREAM word_series AS
          |    SELECT doc_id,
          |           EXPLODE(SPLIT(text, ' ')) AS word,
          |           EXPLODE(GENERATE_SERIES(1, 2)) AS copy_nr
          |    FROM documents
          |    EMIT CHANGES;""".stripMargin)
      val df = spark.table("word_series")
      assert(df.columns.toSeq == Seq("doc_id", "word", "copy_nr"))
      // lockstep: row count = sum over docs of max(#words, 2); with
      // every doc having ≥ 2 words this is the total word count
      val expected = spark.sql(
        "SELECT CAST(SUM(greatest(size(split(trim(text), '\\\\s+')), 2)) " +
          "AS BIGINT) FROM documents").collect().head.getLong(0)
      assert(df.count() == expected)
      // beyond the series length the zip null-pads
      assert(df.filter("copy_nr IS NULL").count() > 0)
      assert(df.filter("word IS NULL").count() == 0 ||
        df.filter("word IS NULL").count() < df.count())
    } finally {
      GraftSql.sql(spark, "DROP STREAM IF EXISTS word_series;")
      ()
    }
  }
}
