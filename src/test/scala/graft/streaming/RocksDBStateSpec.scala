package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The production state-store configuration (SURVEY.md §4: RocksDB is
  * the 1:1 analog of ksqlDB's table state): a latest-by-key streaming
  * aggregation must produce identical results under
  * RocksDBStateStoreProvider, carrying state across micro-batches. */
class RocksDBStateSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  test("golden pipeline produces the 5 reference rows under RocksDB state") {
    val p = new Pipeline(spark,
      java.nio.file.Files.createTempDirectory("graft-rocks-ckpt-").toString)
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34),
        "7" -> DebeziumJson.insert("id" -> "7", "name" -> "sue", "age" -> 25),
        "2" -> DebeziumJson.insert("id" -> "2", "name" -> "bill", "age" -> 51))
      p.ordersFeed.add(
        "13" -> """{"customer_id":"2","order_id":"13","price":50.50,"currency":"usd","ts":"2020-04-03T11:20:00"}""",
        "17" -> """{"customer_id":"5","order_id":"17","price":25.25,"currency":"eur","ts":"2020-04-02T17:22:00"}""",
        "15" -> """{"customer_id":"5","order_id":"15","price":13.75,"currency":"usd","ts":"2020-04-03T02:55:00"}""",
        "29" -> """{"customer_id":"7","order_id":"29","price":15.00,"currency":"aud","ts":"2020-04-02T12:36:00"}""",
        "22" -> """{"customer_id":"7","order_id":"22","price":29.71,"currency":"aud","ts":"2020-04-04T00:12:00"}""")
      p.shipmentsFeed.add(
        "17" -> """{"order_id":"17","shipment_id":"75","origin":"texas","ts":"2020-04-04T19:20:00"}""",
        "22" -> """{"order_id":"22","shipment_id":"71","origin":"iowa","ts":"2020-04-04T12:25:00"}""",
        "29" -> """{"order_id":"29","shipment_id":"89","origin":"california","ts":"2020-04-05T13:21:00"}""",
        "13" -> """{"order_id":"13","shipment_id":"92","origin":"maine","ts":"2020-04-04T06:13:00"}""",
        "15" -> """{"order_id":"15","shipment_id":"95","origin":"florida","ts":"2020-04-04T01:13:00"}""")
      p.step()
      assert(p.shippedOrders.size == 5)
      assert(p.shippedOrders.get("22").map(_.origin).contains("iowa"))
    } finally p.stop()
  }

  test("latest-by-key update-mode agg works on RocksDB state across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(String, String, Long)] // key, value, offset
    val table = LatestByKey.table(
      feed.toDF().toDF("k", "v", "offset"), "k", "offset", Seq("v"))
    val name = s"rocks_${System.nanoTime()}"
    val q = table.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      feed.addData(("a", "v1", 1L), ("b", "w1", 2L))
      q.processAllAvailable()
      feed.addData(("a", "v2", 3L)) // state for "b" must survive in RocksDB
      q.processAllAvailable()
      val got = spark.table(name).as[(String, String)].collect().toMap
      assert(got == Map("a" -> "v2", "b" -> "w1"))
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
    } finally q.stop()
  }

  test("TableAggregate adder/subtractor state survives RocksDB across batches") {
    import spark.implicits._
    import TableAggregateSpec.Acct
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Long, Long, Option[Acct])]
    val agg = TableAggregate.of[Long, Acct, String](
      TableChangelog.of(feed.toDS()), _.grp, _.bal)
    val name = s"rocks_tagg_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      feed.addData((1L, 1L, Some(Acct("g", 10L))), (2L, 2L, Some(Acct("g", 5L))))
      q.processAllAvailable()
      // batch 2 retracts key 1's old balance from RocksDB-held state
      feed.addData((1L, 3L, Some(Acct("g", 20L))))
      q.processAllAvailable()
      feed.addData((2L, 4L, None)) // and batch 3 subtracts a tombstone
      q.processAllAvailable()
      val st = TableChangelog.latestState(spark.table(name)).collect()
        .map(r => (r.getString(0),
          (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
      assert(st == Map("g" -> ((1L, 20L))))
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
    } finally q.stop()
  }

  test("MIN/MAX value-count map state survives RocksDB across batches") {
    import spark.implicits._
    import TableAggregateSpec.Acct
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Long, Long, Option[Acct])]
    val agg = TableAggregate.ofMinMax[Long, Acct, String](
      TableChangelog.of(feed.toDS()), _.grp, _.bal)
    val name = s"rocks_tmm_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      feed.addData((1L, 1L, Some(Acct("g", 100L))), (2L, 2L, Some(Acct("g", 5L))))
      q.processAllAvailable()
      // the RETRACTED EXTREMUM case across a batch boundary: the
      // value-count map holding {100, 5} lives in RocksDB; key 1's
      // update must re-derive max = 5 from the recovered map
      feed.addData((1L, 3L, Some(Acct("g", 4L))))
      q.processAllAvailable()
      val st = TableChangelog.latestState(spark.table(name)).collect()
        .map(r => (r.getString(0),
          (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1),
            r.getStruct(1).getLong(2)))).toMap
      assert(st == Map("g" -> ((2L, 4L, 5L))))
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
    } finally q.stop()
  }

  test("Misra-Gries update-mode sketch state survives RocksDB across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(String, String)] // (source, term)
    val mg = udaf(new graft.functions.MgSketchAgg(4))
    val agg = feed.toDF().toDF("source", "term")
      .groupBy(col("source")).agg(mg(col("term")).as("sk"))
    val name = s"rocks_mg_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      feed.addData(("s", "a"), ("s", "a"), ("s", "b"))
      q.processAllAvailable()
      // batch 2 folds into the RocksDB-held <=4-counter map: 'a' must
      // still carry its prior count
      feed.addData(("s", "a"), ("s", "c"))
      q.processAllAvailable()
      val sk = spark.table(name)
        .collect().head.getAs[Map[String, Long]]("sk")
      assert(sk("a") == 3L && sk("b") == 1L && sk("c") == 1L)
      assert(sk.size <= 4)
    } finally q.stop()
  }

  test("table-table joins (changelog + pk + fk) run on RocksDB state across batches") {
    import spark.implicits._
    import TableTableJoinSpec.{Cust, Ev, Nat, Ord}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // pk join: state for key 7 must survive a batch boundary in RocksDB
    val lf = MemoryStream[(Long, Long, Option[Ord])]
    val rf = MemoryStream[(Long, Long, Option[Ev])]
    val pk = TableTableJoin.pkJoin(lf.toDS(), rf.toDS(), "inner")
    val pkName = s"rockspk_${System.nanoTime()}"
    val q1 = pk.writeStream.outputMode("append")
      .format("memory").queryName(pkName).start()
    try {
      lf.addData((7L, 1L, Some(Ord(10.0))))
      q1.processAllAvailable()
      rf.addData((7L, 1L, Some(Ev("click")))) // joins against stored left
      q1.processAllAvailable()
      val st = TableChangelog.latestState(spark.table(pkName))
        .selectExpr("key", "after.left.price", "after.right.etype")
        .as[(Long, Double, String)].collect().toSeq
      assert(st == Seq((7L, 10.0, "click")), st.toString)
    } finally {
      q1.stop()
      spark.catalog.dropTempView(pkName)
      spark.streams.resetTerminated()
    }
    // fk join: the two chained stateful operators (changelog stage +
    // fk-group stage) both keep state in RocksDB; the fan-out uses
    // membership stored in the PREVIOUS batch
    val cf = MemoryStream[(Long, Long, Option[Cust])]
    val nf = MemoryStream[(Long, Long, Option[Nat])]
    val fk = TableTableJoin.fkJoin[Long, Long, Cust, Nat](
      TableChangelog.of(cf.toDS()), _.nation, nf.toDS(), "inner")
    val fkName = s"rocksfk_${System.nanoTime()}"
    val q2 = fk.writeStream.outputMode("append")
      .format("memory").queryName(fkName).start()
    try {
      nf.addData((1L, 1L, Some(Nat("FRANCE"))))
      cf.addData((10L, 1L, Some(Cust("ann", 1L))))
      q2.processAllAvailable()
      nf.addData((1L, 2L, Some(Nat("FR")))) // fan-out from stored members
      q2.processAllAvailable()
      val st = TableChangelog.latestState(spark.table(fkName))
        .selectExpr("key", "after.left.name", "after.right.nname")
        .as[(Long, String, String)].collect().toSeq
      assert(st == Seq((10L, "ann", "FR")), st.toString)
    } finally {
      q2.stop()
      spark.catalog.dropTempView(fkName)
      spark.streams.resetTerminated()
    }
  }

  test("fkJoinTws (MapState point writes) matches fkJoin semantics incl. the fk move") {
    import spark.implicits._
    import TableTableJoinSpec.{Cust, Nat}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cf = MemoryStream[(Long, Long, Option[Cust])]
    val nf = MemoryStream[(Long, Long, Option[Nat])]
    val out = TableTableJoin.fkJoinTws[Long, Long, Cust, Nat](
      TableChangelog.of(cf.toDS()), _.nation, nf.toDS(), "inner")
    val name = s"tws_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def state() = TableChangelog.latestState(spark.table(name))
      .selectExpr("key", "after.left.name", "after.left.nation",
        "after.right.nname")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    try {
      nf.addData((1L, 1L, Some(Nat("FRANCE"))))
      q.processAllAvailable()
      cf.addData((10L, 1L, Some(Cust("ann", 1L))),
        (11L, 2L, Some(Cust("bob", 1L))))
      q.processAllAvailable()
      assert(state() == Seq((10L, "ann", 1L, "FRANCE"),
        (11L, "bob", 1L, "FRANCE")))
      // fan-out from MapState members stored in earlier batches
      nf.addData((1L, 2L, Some(Nat("FR"))))
      q.processAllAvailable()
      assert(state() == Seq((10L, "ann", 1L, "FR"), (11L, "bob", 1L, "FR")))
      // fk move: removal at old group, reappearance when nation 2 lands
      cf.addData((10L, 3L, Some(Cust("ann", 2L))))
      q.processAllAvailable()
      assert(state() == Seq((11L, "bob", 1L, "FR")))
      nf.addData((2L, 1L, Some(Nat("GERMANY"))))
      q.processAllAvailable()
      assert(state() == Seq((10L, "ann", 2L, "GERMANY"),
        (11L, "bob", 1L, "FR")))
      // tombstone removes the member row via an O(1) map delete
      cf.addData((11L, 4L, None))
      q.processAllAvailable()
      assert(state() == Seq((10L, "ann", 2L, "GERMANY")))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("stream_neardup matches its batch oracle under RocksDB state") {
    // the 100 TB configuration for the first-wins bucket registry:
    // flatMapGroupsWithState keeps one long per distinct (band, sig)
    // in RocksDB; the final flags must equal the batch EXISTS oracle
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamNeardup(spark, d)
      .as[(Long, Long)].collect().toMap
    val bands = graft.queries.DedupQueries.bandRows(
      spark.read.parquet(s"$d/documents.parquet"))
    val expected = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.sig" === $"b.sig" &&
          $"b.doc_id" < $"a.doc_id", "leftsemi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup_bands"))
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty && got == expected,
      s"got=${got.size} rows, expected=${expected.size}")
  }

  test("stream_cross_source_banded matches its batch matrix under RocksDB state") {
    // the bounded-state contamination registry (r18 verdict #1) in its
    // production configuration: the O(docs × bands) claim registry
    // holds its (band, sig) buckets in RocksDB; the compaction rollup
    // must equal the batch LSH-banded matrix
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries
      .streamCrossSourceBanded(spark, d)
      .collect().map(_.toSeq).toSet
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val expected = graft.queries.DedupQueries.jaccardPairs(
        docs.select(col("doc_id"), col("text")),
        candidates = Some(graft.queries.DedupQueries.minhashLshOver(docs)),
        threshold = 0.8)
      .join(docs.select(col("doc_id").as("doc_a"),
        col("source").as("src_canonical")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"),
        col("source").as("src_dup")), Seq("doc_b"))
      .groupBy(col("src_canonical"), col("src_dup"))
      .agg(count(lit(1)).as("n_pairs"))
      .collect().map(_.toSeq).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("claim registries' widened tuple state survives RocksDB across batches (r17 #3)") {
    // the r17 rework widened the per-key state to (Boolean, Long, Int)
    // in neardupCore and (Boolean, Long, Array[Long]) in claimCore —
    // the array-bearing tuple is exactly the shape most likely to hit
    // a product-encoder edge under the production provider. Drive both
    // cores with a contestation SPANNING a micro-batch boundary, so
    // the retained sole-owner state must round-trip through RocksDB
    // before its release.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))

    // --- neardupCore: (contested, sole, nPend) ---
    val nIn = MemoryStream[(Long, Int, String)]
    val nName = s"rocks_ndc_${System.nanoTime()}"
    val nQ = graft.queries.StreamingQueries.neardupCore(
        nIn.toDF().toDF("doc_id", "band", "sig"))
      .writeStream.outputMode("append").format("memory")
      .queryName(nName).start()
    try {
      nIn.addData((10L, 0, "X"), (10L, 0, "X")) // sole-owned ×2 → state
      nQ.processAllAvailable()
      assert(spark.table(nName).isEmpty) // retained, nothing emitted
      nIn.addData((5L, 0, "X")) // batch 2 contests RocksDB-held state
      nQ.processAllAvailable()
      val log = spark.table(nName).collect()
        .map(r => (r.getLong(0), r.getString(2))).toSeq
      assert(log.sorted == Seq((5L, "X"), (10L, "X"), (10L, "X")),
        log.toString)
      val dup = graft.queries.StreamingQueries
        .electDupBands(spark.table(nName))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(dup == Map(10L -> 2L), dup.toString)
    } finally {
      nQ.stop()
      spark.catalog.dropTempView(nName)
      spark.streams.resetTerminated()
    }

    // --- claimCore: (contested, sole, retained positions) incl. the
    // pend-cap spill path, across the same boundary ---
    val cIn = MemoryStream[(Long, Long, String)]
    val cName = s"rocks_clc_${System.nanoTime()}"
    val cQ = graft.queries.StreamingQueries.claimCoreBounded(
        cIn.toDF().toDF("doc_id", "pos", "sig"), pendCap = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName(cName).start()
    try {
      cIn.addData((10L, 1L, "G"), (10L, 2L, "G"), (10L, 3L, "G"))
      cQ.processAllAvailable()
      // positions 1,2 retained in the RocksDB array; 3 spilled
      assert(spark.table(cName).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 3L)))
      cIn.addData((5L, 9L, "G")) // contests: the recovered array replays
      cQ.processAllAvailable()
      val log = spark.table(cName).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(log == Set((10L, 1L), (10L, 2L), (10L, 3L), (5L, 9L)))
      val flagged = graft.queries.StreamingQueries
        .electClaims(spark.table(cName))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flagged == Set((10L, 1L), (10L, 2L), (10L, 3L)))
    } finally {
      cQ.stop()
      spark.catalog.dropTempView(cName)
      spark.streams.resetTerminated()
    }
  }

  test("stream_pattern_match CEP automaton state survives RocksDB across batches") {
    // the constant-space NFA state (phase + flags + counters) is held
    // per user in RocksDB; the final table must equal the batch
    // regex-over-folded-history result
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamPatternMatch(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = graft.queries.BatchSqlQueries.patternMatch(spark, d)
      .select(col("user_id"), col("seq_len"), col("n_funnel"),
        col("err_after_purchase"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.nonEmpty && got == expected,
      s"got=${got.size} rows, expected=${expected.size}")
  }

  test("stream_sax_motif automaton state survives RocksDB across batches") {
    // partial-window sum + two letters + <=64 trigram counters per
    // series in RocksDB; final motifs must equal the batch SAX query
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamSaxMotif(spark, d)
      .as[(String, String, Long, Long)].collect().toSet
    val expected = graft.queries.BatchSqlQueries.saxMotif(spark, d)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got.nonEmpty && got == expected,
      s"got=${got.size} rows, expected=${expected.size}")
  }

  test("stream_decsketch bounded bucket-map state survives RocksDB across batches") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamDecsketch(spark, d)
      .as[(String, Double, Long, Long)].collect().toSet
    val sk = udaf(new graft.functions.DecimalSketchAgg)
    val batch = graft.sources.Tables.events(spark, d)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(sk(col("cents")).as("sketch"), count(lit(1)).as("n"))
    val expected = graft.functions.DecimalSketch
      .quantileScan(batch, Seq("event_type"), Seq(0.5, 0.95), "cents")
      .as[(String, Double, Long, Long)].collect().toSet
    assert(got.nonEmpty && got == expected,
      s"got=${got.size} rows, expected=${expected.size}")
  }

  test("stream_bpe_pairs matches the batch pair counts under RocksDB state") {
    // update-mode grouped sum keyed on the symbol pair: state is one
    // count per distinct bigram, held in RocksDB across micro-batches
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamBpePairs(spark, d)
      .as[(String, Long)].collect().toMap
    val batch = graft.queries.TextQueries.bpePairs(spark, d)
      .as[(String, Long)].collect().toMap
    assert(got.nonEmpty && got == batch,
      s"got=${got.size} pairs, batch=${batch.size}")
  }

  test("stream_ohlc_bars matches the batch bars under RocksDB state") {
    // min_by/max_by windowed state — one (value, ord) pair per
    // window-key in RocksDB; final bars must equal the batch rollup
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val stream = graft.queries.StreamingQueries.ohlcBars(spark, d)
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.BatchSqlQueries.ohlcBars(spark, d)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty && stream == batch,
      s"stream=${stream.size} bars, batch=${batch.size}")
  }

  test("stream_heavy_hitters sketch state survives RocksDB across batches") {
    // the count-min grid is the streaming state object; under RocksDB
    // the serialized buffer round-trips per batch — the final 20-row
    // contract (exact counts + in-bound estimates) must still hold
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamHeavyHitters(spark, d)
      .as[(String, Long, Long, Long)].collect()
    assert(got.length == 20)
    assert(got.forall { case (_, _, lo, hi) => lo == 1L && hi == 1L },
      got.mkString(", "))
    val batch = graft.queries.TextQueries.heavyHitters(spark, d)
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSeq == batch.toSeq)
  }

  test("LONG-pack top-k posting-head state survives RocksDB across batches (r15)") {
    // the TopKBufL head is the streaming state object of the whole
    // retrieval family (hybrid / phrase / proximity / bm25 heads);
    // under RocksDB the product-encoded k-bounded buffer round-trips
    // per micro-batch, and the finalized ranks must equal the batch
    // positional-index query bit-for-bit
    val d = "/root/testdata/sf0.001"
    val stream = graft.queries.RetrievalQueries.streamPhraseMatch(spark, d)
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.RetrievalQueries.phraseMatch(spark, d)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty && stream == batch,
      s"stream=${stream.size} rows, batch=${batch.size}")
  }

  test("fkJoin and fkJoinTws emit byte-identical changelogs on the same input") {
    import spark.implicits._
    import TableTableJoinSpec.{Cust, Nat}
    import TableChangelog.Change
    import TableTableJoin.Joined
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // SAME-s1 members (per-key stage-1 seqs both start at 0) force the
    // fan-out tie-break: with minors per member and the (s1, pk)
    // deterministic ordering, both storages must assign identical
    // composite seqs to every change row.
    def script(cf: MemoryStream[(Long, Long, Option[Cust])],
               nf: MemoryStream[(Long, Long, Option[Nat])],
               q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      nf.addData((1L, 1L, Some(Nat("FRANCE"))))
      q.processAllAvailable()
      cf.addData((10L, 1L, Some(Cust("ann", 1L))),
        (11L, 2L, Some(Cust("bob", 1L))))
      q.processAllAvailable()
      nf.addData((1L, 2L, Some(Nat("FR")))) // fan-out across a tie
      q.processAllAvailable()
      cf.addData((10L, 3L, Some(Cust("ann", 2L)))) // fk move
      q.processAllAvailable()
      nf.addData((2L, 1L, Some(Nat("GERMANY"))))
      q.processAllAvailable()
      cf.addData((11L, 4L, None)) // tombstone
      q.processAllAvailable()
    }
    def run(tws: Boolean): Seq[Change[Long, Joined[Cust, Nat]]] = {
      val cf = MemoryStream[(Long, Long, Option[Cust])]
      val nf = MemoryStream[(Long, Long, Option[Nat])]
      val changes = TableChangelog.of(cf.toDS())
      val out =
        if (tws) TableTableJoin.fkJoinTws[Long, Long, Cust, Nat](
          changes, _.nation, nf.toDS(), "inner")
        else TableTableJoin.fkJoin[Long, Long, Cust, Nat](
          changes, _.nation, nf.toDS(), "inner")
      val name = s"fkeq_${if (tws) "tws" else "gs"}_${System.nanoTime()}"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        script(cf, nf, q)
        spark.table(name).as[Change[Long, Joined[Cust, Nat]]]
          .collect().sortBy(c => (c.key, c.seq)).toSeq
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
        spark.streams.resetTerminated()
      }
    }
    val a = run(tws = false)
    val b = run(tws = true)
    assert(a.nonEmpty && a == b,
      s"changelogs diverged:\n  fkJoin   = $a\n  fkJoinTws = $b")
  }

  test("StatefulEnrichJoin keeps its customer image in RocksDB across batches") {
    // the last stateful operator missing from the provider matrix:
    // the flatMapGroupsWithState customer image must survive a batch
    // boundary in RocksDB (batch 1's orders look up batch 0's image),
    // the within-batch offset ordering must hold, and a tombstone
    // written to RocksDB must null later lookups
    import java.sql.Timestamp
    import RocksDBStateSpec.{SejCust, SejOrd}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val cFeed = MemoryStream[SejCust]
    val oFeed = MemoryStream[SejOrd]
    // batch 0: image v1, plus a same-batch update — order A (offset 10)
    // must see the pre-update image, order B (offset 30) the update
    cFeed.addData(SejCust("5", "fred", 34, "false", 1),
      SejCust("5", "frederick", 35, "false", 20))
    oFeed.addData(SejOrd("5", "A", 1.0, "usd", ts("2020-04-03 11:20:00"), 10),
      SejOrd("5", "B", 2.0, "usd", ts("2020-04-03 11:21:00"), 30))
    val joined = StatefulEnrichJoin(spark, cFeed.toDF(), oFeed.toDF())
    val name = s"sej_rocks_${System.nanoTime()}"
    val q = joined.toDF().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
      // batch 1: order C must read the batch-0 image FROM RocksDB
      oFeed.addData(SejOrd("5", "C", 3.0, "usd", ts("2020-04-03 11:22:00"), 40))
      q.processAllAvailable()
      // batch 2: tombstone, then batch 3's order sees null fields
      cFeed.addData(SejCust("5", null, null, "true", 50))
      q.processAllAvailable()
      oFeed.addData(SejOrd("5", "D", 4.0, "usd", ts("2020-04-03 11:23:00"), 60))
      q.processAllAvailable()
      val byId = spark.table(name).as[EnrichedOrder].collect()
        .map(o => o.order_id -> o.customer_name).toMap
      assert(byId("A").contains("fred"), byId.toString)
      assert(byId("B").contains("frederick"), byId.toString)
      assert(byId("C").contains("frederick"), byId.toString)
      assert(byId("D").isEmpty, byId.toString)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("stream_scd2 matches the batch history under RocksDB state") {
    // the open-tail-only SCD2 state (buffered unclosed versions per
    // user) lives in RocksDB; final emissions must equal the one-shot
    // batch build row for row
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamScd2(spark, d)
      .as[(Long, String, String, Option[String], Long)]
      .collect().sorted.toSeq
    val expected = graft.queries.BatchSqlQueries.scd2History(spark, d)
      .as[(Long, String, String, Option[String], Long)]
      .collect().sorted.toSeq
    assert(got.nonEmpty && got == expected,
      s"got=${got.size} rows, expected=${expected.size}")
  }
}

object RocksDBStateSpec {
  // top-level (encoder-friendly) inputs for the StatefulEnrichJoin test
  case class SejCust(id: String, name: String, age: java.lang.Integer,
                     __deleted: String, offset: Long)
  case class SejOrd(customer_id: String, order_id: String, price: Double,
                    currency: String, o_ts: java.sql.Timestamp, offset: Long)
}
