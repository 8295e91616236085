package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The golden pipeline THROUGH the production façades: ingress via
  * [[KafkaChangeFeed.df]] against the embedded [[FakeKafka]] broker
  * (real `readStream.format(...)` DataSource V2 micro-batch path, the
  * same column selection and startingOffsets handling the Kafka
  * connector gets), egress mirrored into a [[BulkUpsertSink]] against
  * the ES-semantics mock endpoint. Until now these façades were
  * contract-spec'd only (`KafkaChangeFeedSpec`, `BulkUpsertSinkSpec`);
  * this runs the reference's golden fixture end-to-end through them
  * and must reproduce the five published documents plus the live
  * insert — the same bar `PipelineGoldenSpec` holds for the offline
  * feeds. */
class KafkaFacadePipelineSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private val run = System.nanoTime()
  private def topic(name: String) = s"facade_${run}_$name"

  private def orderJson(cust: String, order: String, price: Double,
                        cur: String, ts: String) =
    s"""{"customer_id":"$cust","order_id":"$order","price":$price,"currency":"$cur","ts":"$ts"}"""

  private def shipmentJson(order: String, ship: String, origin: String,
                           ts: String) =
    s"""{"order_id":"$order","shipment_id":"$ship","origin":"$origin","ts":"$ts"}"""

  test("golden fixture through fakekafka ingress + bulk-upsert egress") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("facade-pipeline").toString
    // ksql session property drives startingOffsets, as in the
    // reference's SET statement (op S0)
    spark.conf.set("auto.offset.reset", "earliest")
    val feeds = Pipeline.Sources(
      customers = KafkaChangeFeed.df(spark, "embedded:9092",
        topic("customers"), format = "fakekafka"),
      orders = KafkaChangeFeed.df(spark, "embedded:9092",
        topic("orders"), format = "fakekafka"),
      shipments = KafkaChangeFeed.df(spark, "embedded:9092",
        topic("shipments"), format = "fakekafka"))
    val esStore = BulkUpsertSinkSpec.newStore()
    val es = new BulkUpsertSink("order_id",
      new BulkUpsertSinkSpec.MockEndpoint(esStore),
      orderCol = Some("__s_offset"))
    val p = new Pipeline(spark, ckpt, sources = Some(feeds),
      extraShippedSink = Some(es.forEachBatch))
    try {
      // a real broker makes produced data visible to the continuously
      // running queries IMMEDIATELY — the in-memory feeds' staged
      // flush() cannot pin arrival order here. Produce in dataflow
      // order with a drain between stages (exactly how the reference
      // demo runs its inserts by hand): customers commit to the
      // dimension before any order's enrichment batch can run
      FakeKafka.produce(topic("customers"),
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34),
        "7" -> DebeziumJson.insert("id" -> "7", "name" -> "sue", "age" -> 25),
        "2" -> DebeziumJson.insert("id" -> "2", "name" -> "bill", "age" -> 51))
      p.step()
      FakeKafka.produce(topic("orders"),
        "13" -> orderJson("2", "13", 50.50, "usd", "2020-04-03T11:20:00"),
        "29" -> orderJson("7", "29", 15.00, "aud", "2020-04-02T12:36:00"),
        "17" -> orderJson("5", "17", 25.25, "eur", "2020-04-02T17:22:00"),
        "15" -> orderJson("5", "15", 13.75, "usd", "2020-04-03T02:55:00"),
        "22" -> orderJson("7", "22", 29.71, "aud", "2020-04-04T00:12:00"))
      p.step()
      FakeKafka.produce(topic("shipments"),
        "17" -> shipmentJson("17", "75", "texas", "2020-04-04T19:20:00"),
        "22" -> shipmentJson("22", "71", "iowa", "2020-04-04T12:25:00"),
        "29" -> shipmentJson("29", "89", "california", "2020-04-05T13:21:00"),
        "13" -> shipmentJson("13", "92", "maine", "2020-04-04T06:13:00"),
        "15" -> shipmentJson("15", "95", "florida", "2020-04-04T01:13:00"))
      p.step()
      val got = p.shippedOrders.values
        .map(r => (r.order_id, r.shipment_id, r.customer_id, r.customer_name,
          r.customer_age, r.origin, r.price, r.currency)).sorted
      val expected = Seq(
        ("13", "92", "2", Some("bill"), Some(51), "maine", 50.50, "usd"),
        ("15", "95", "5", Some("fred"), Some(34), "florida", 13.75, "usd"),
        ("17", "75", "5", Some("fred"), Some(34), "texas", 25.25, "eur"),
        ("22", "71", "7", Some("sue"), Some(25), "iowa", 29.71, "aud"),
        ("29", "89", "7", Some("sue"), Some(25), "california", 15.00, "aud"))
      assert(got == expected)
      // the ES-analog index saw the same five documents, keyed by
      // order_id, with the enriched customer fields in the payload
      assert(BulkUpsertSinkSpec.snapshot(esStore).keySet ==
        Set("13", "15", "17", "22", "29"))
      assert(BulkUpsertSinkSpec.doc(esStore, "13")
        .exists(j => j.contains("\"bill\"") && j.contains("\"maine\"")))

      // live insert (reference README.md:654-672): customer → order →
      // shipment, produced to the BROKER, visible through the façade
      FakeKafka.produce(topic("customers"),
        "9" -> DebeziumJson.insert("id" -> "9", "name" -> "victor", "age" -> 23))
      p.step()
      FakeKafka.produce(topic("orders"),
        "31" -> orderJson("9", "31", 525.50, "usd", "2020-04-03T11:20:00"))
      p.step()
      FakeKafka.produce(topic("shipments"),
        "31" -> shipmentJson("31", "97", "new jersey", "2020-04-04T19:20:00"))
      p.step()
      assert(p.shippedOrders.get("31").contains(ShippedOrder(
        "31", "97", "9", Some("victor"), Some(23), "new jersey", 525.50, "usd")))
      assert(BulkUpsertSinkSpec.doc(esStore, "31")
        .exists(_.contains("\"victor\"")))
      assert(BulkUpsertSinkSpec.snapshot(esStore).size == 6)
    } finally {
      p.stop()
      spark.streams.resetTerminated()
      Seq("customers", "orders", "shipments")
        .foreach(t => FakeKafka.deleteTopic(topic(t)))
      graft.streaming.FiniteStream.deleteRecursively(ckpt)
    }
  }

  test("fakekafka honors startingOffsets=latest (S0 surface)") {
    import org.apache.spark.sql.functions.col
    val t = topic("latest_check")
    FakeKafka.produce(t, "a" -> "old1", "b" -> "old2")
    val df = KafkaChangeFeed.df(spark, "embedded:9092", t,
      startingOffsets = "latest", format = "fakekafka")
    val name = s"latest_${System.nanoTime()}"
    val ckpt = java.nio.file.Files.createTempDirectory("facade-latest").toString
    val q = df.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0L, "latest must skip the backlog")
      FakeKafka.produce(t, "c" -> "new1")
      q.processAllAvailable()
      val rows = spark.table(name)
        .select(col("key"), col("value"), col("offset"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.toSeq == Seq(("c", "new1", 2L)), rows.toSeq)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
      FakeKafka.deleteTopic(t)
      graft.streaming.FiniteStream.deleteRecursively(ckpt)
    }
  }
}
