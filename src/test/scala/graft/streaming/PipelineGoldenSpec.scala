package graft.streaming

import java.nio.file.Files

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{LogCapture, SharedSpark}

/** End-to-end golden test: the reference's manual Elasticsearch check
  * (reference README.md:548-637) as a deterministic spec — seed
  * 3 customers / 5 orders / 5 shipments, expect exactly the 5 golden
  * shipped_orders rows; then the live-insert replay (README.md:654-679)
  * must surface exactly one new row. Negative fixtures (FIXTURES.md §2)
  * cover what the reference's data never exercises.
  */
class PipelineGoldenSpec extends AnyFunSuite with SharedSpark {

  private def newPipeline(): Pipeline = {
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    new Pipeline(spark, ckpt)
  }

  private def orderJson(cust: String, order: String, price: Double,
                        cur: String, ts: String) =
    s"""{"customer_id":"$cust","order_id":"$order","price":$price,"currency":"$cur","ts":"$ts"}"""

  private def shipmentJson(order: String, ship: String, origin: String,
                           ts: String) =
    s"""{"order_id":"$order","shipment_id":"$ship","origin":"$origin","ts":"$ts"}"""

  private def seed(p: Pipeline): Unit = {
    p.customersFeed.add(
      "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34),
      "7" -> DebeziumJson.insert("id" -> "7", "name" -> "sue", "age" -> 25),
      "2" -> DebeziumJson.insert("id" -> "2", "name" -> "bill", "age" -> 51))
    p.ordersFeed.add(
      "13" -> orderJson("2", "13", 50.50, "usd", "2020-04-03T11:20:00"),
      "29" -> orderJson("7", "29", 15.00, "aud", "2020-04-02T12:36:00"),
      "17" -> orderJson("5", "17", 25.25, "eur", "2020-04-02T17:22:00"),
      "15" -> orderJson("5", "15", 13.75, "usd", "2020-04-03T02:55:00"),
      "22" -> orderJson("7", "22", 29.71, "aud", "2020-04-04T00:12:00"))
    p.shipmentsFeed.add(
      "17" -> shipmentJson("17", "75", "texas", "2020-04-04T19:20:00"),
      "22" -> shipmentJson("22", "71", "iowa", "2020-04-04T12:25:00"),
      "29" -> shipmentJson("29", "89", "california", "2020-04-05T13:21:00"),
      "13" -> shipmentJson("13", "92", "maine", "2020-04-04T06:13:00"),
      "15" -> shipmentJson("15", "95", "florida", "2020-04-04T01:13:00"))
  }

  test("golden 5-row output matches reference README.md:548-637, then live insert adds row 31") {
    val p = newPipeline()
    try {
      seed(p)
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

      // live-insert replay (README.md:654-672): customer → order → shipment
      p.customersFeed.add(
        "9" -> DebeziumJson.insert("id" -> "9", "name" -> "victor", "age" -> 23))
      p.step()
      p.ordersFeed.add(
        "31" -> orderJson("9", "31", 525.50, "usd", "2020-04-03T11:20:00"))
      p.step()
      p.shipmentsFeed.add(
        "31" -> shipmentJson("31", "97", "new jersey", "2020-04-04T19:20:00"))
      p.step()
      assert(p.shippedOrders.size == 6)
      assert(p.shippedOrders.get("31").contains(ShippedOrder(
        "31", "97", "9", Some("victor"), Some(23), "new jersey", 525.50, "usd")))
    } finally p.stop()
  }

  test("interval-join miss: shipment >7 days after the order is excluded") {
    val p = newPipeline()
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.ordersFeed.add(
        "17" -> orderJson("5", "17", 25.25, "eur", "2020-04-02T17:22:00"))
      p.shipmentsFeed.add(
        "17" -> shipmentJson("17", "75", "texas", "2020-04-15T00:00:00"))
      p.step()
      assert(p.shippedOrders.size == 0)
    } finally p.stop()
  }

  test("left-join null: order for unknown customer passes through with null customer fields") {
    val p = newPipeline()
    try {
      p.ordersFeed.add(
        "40" -> orderJson("99", "40", 9.99, "usd", "2020-04-03T11:20:00"))
      p.shipmentsFeed.add(
        "40" -> shipmentJson("40", "80", "ohio", "2020-04-03T12:00:00"))
      p.step()
      assert(p.shippedOrders.get("40").contains(ShippedOrder(
        "40", "80", "99", None, None, "ohio", 9.99, "usd")))
    } finally p.stop()
  }

  test("latest-by-offset: customer update at higher offset is visible to later orders") {
    val p = newPipeline()
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.step()
      p.customersFeed.add(
        "5" -> DebeziumJson.upsert("id" -> "5", "name" -> "frederick", "age" -> 35))
      p.step()
      p.ordersFeed.add(
        "50" -> orderJson("5", "50", 1.00, "usd", "2020-04-03T11:20:00"))
      p.shipmentsFeed.add(
        "50" -> shipmentJson("50", "90", "texas", "2020-04-03T12:00:00"))
      p.step()
      assert(p.shippedOrders.get("50").map(r => (r.customer_name, r.customer_age))
        .contains((Some("frederick"), Some(35))))
    } finally p.stop()
  }

  test("CDC delete (rewrite): deleted customer yields null fields for later orders") {
    val p = newPipeline()
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.step()
      assert(p.customersByKey.size == 1)
      p.customersFeed.add(
        "5" -> DebeziumJson.delete("id" -> "5", "name" -> "fred", "age" -> 34))
      p.step()
      assert(p.customersByKey.size == 0)
      p.ordersFeed.add(
        "60" -> orderJson("5", "60", 2.00, "usd", "2020-04-03T11:20:00"))
      p.shipmentsFeed.add(
        "60" -> shipmentJson("60", "91", "iowa", "2020-04-03T12:00:00"))
      p.step()
      assert(p.shippedOrders.get("60").contains(ShippedOrder(
        "60", "91", "5", None, None, "iowa", 2.00, "usd")))
    } finally p.stop()
  }

  test("Kafka tombstone: null-value record deletes the customer key (drop.tombstones=false)") {
    val p = newPipeline()
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.step()
      assert(p.customersByKey.size == 1)
      // the literal null value — no Debezium JSON at all, just the
      // compaction marker the reference keeps with drop.tombstones=false
      p.customersFeed.add("5" -> null)
      p.step()
      assert(p.customersByKey.size == 0)
      // a later order for the tombstoned customer must no longer enrich
      p.ordersFeed.add(
        "65" -> orderJson("5", "65", 3.00, "usd", "2020-04-03T11:20:00"))
      p.shipmentsFeed.add(
        "65" -> shipmentJson("65", "93", "ohio", "2020-04-03T12:00:00"))
      p.step()
      assert(p.shippedOrders.get("65").contains(ShippedOrder(
        "65", "93", "5", None, None, "ohio", 3.00, "usd")))
    } finally p.stop()
  }

  test("durable dimension store: golden output and tombstone removal, no driver-memory dimension") {
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val p = new Pipeline(spark, ckpt, durableDimension = true)
    try {
      assert(p.customersByKey.isInstanceOf[DurableSnapshotStore])
      seed(p)
      p.step()
      val got = p.shippedOrders.values
        .map(r => (r.order_id, r.shipment_id, r.customer_name)).sorted
      assert(got == Seq(
        ("13", "92", Some("bill")), ("15", "95", Some("fred")),
        ("17", "75", Some("fred")), ("22", "71", Some("sue")),
        ("29", "89", Some("sue"))))
      // tombstone deletes the key from the durable snapshot too
      assert(p.customersByKey.size == 3)
      p.customersFeed.add("5" -> null)
      p.step()
      assert(p.customersByKey.size == 2)
      p.ordersFeed.add(
        "80" -> orderJson("5", "80", 4.00, "usd", "2020-04-03T11:20:00"))
      p.shipmentsFeed.add(
        "80" -> shipmentJson("80", "96", "utah", "2020-04-03T12:00:00"))
      p.step()
      assert(p.shippedOrders.get("80").contains(ShippedOrder(
        "80", "96", "5", None, None, "utah", 4.00, "usd")))
    } finally p.stop()
  }

  test("egress parity: the golden rows bulk-upsert into the ES-analog endpoint") {
    // the reference's full topology ends at the Elasticsearch sink
    // connector (README.md:487-493) — run the golden fixture and ship
    // the final table through BulkUpsertSink with the same key, then
    // assert the endpoint holds exactly the 5 golden documents
    import BulkUpsertSinkSpec.{MockEndpoint, newStore, snapshot}
    val p = newPipeline()
    try {
      seed(p)
      p.step()
      val store = newStore()
      val sink = new BulkUpsertSink("order_id", new MockEndpoint(store))
      sink.upsert(p.shippedOrders.df.get, batchId = 0)
      val docs = snapshot(store)
      assert(docs.keySet == Set("13", "15", "17", "22", "29"))
      assert(docs("13")._1.contains("\"customer_name\":\"bill\"") &&
        docs("13")._1.contains("\"origin\":\"maine\""))
      // replay of the same table converges (the connector's
      // at-least-once → exactly-once-per-key contract)
      sink.upsert(p.shippedOrders.df.get, batchId = 0)
      assert(snapshot(store) == docs)
    } finally p.stop()
  }

  test("shipped_orders computes each batch once: every sink reads the one persisted batch") {
    // q3 persists the batch for all its sinks; if the keyed sink
    // dropped that cache, the extra sink would re-run the interval join
    val levels = new java.util.concurrent.ConcurrentLinkedQueue[StorageLevel]()
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val logged = LogCapture.logged {
      val p = new Pipeline(spark, ckpt, extraShippedSink = Some { (b, _) =>
        levels.add(b.storageLevel); ()
      })
      try { seed(p); p.step() } finally p.stop()
    }
    assert(!levels.isEmpty)
    assert(!levels.contains(StorageLevel.NONE), levels)
    assert(!logged.exists(_.contains("Asked to cache already cached data")),
      logged.filter(_.contains("cache")))
  }

  test("late data: shipment below the advanced watermark is dropped (state eviction)") {
    val p = newPipeline()
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.ordersFeed.add(
        "17" -> orderJson("5", "17", 25.25, "eur", "2020-04-02T17:22:00"))
      p.step()
      // advance both watermarks ~2 months: an unrelated matched pair
      p.ordersFeed.add(
        "70" -> orderJson("5", "70", 1.00, "usd", "2020-06-01T00:00:00"))
      p.shipmentsFeed.add(
        "70" -> shipmentJson("70", "80", "texas", "2020-06-01T01:00:00"))
      p.step()
      assert(p.shippedOrders.get("70").isDefined)
      // in-band for order 17, but far below watermark (≈2020-05-25):
      // the join state for April was evicted — row must NOT appear
      p.shipmentsFeed.add(
        "17" -> shipmentJson("17", "75", "texas", "2020-04-03T00:00:00"))
      p.step()
      assert(p.shippedOrders.get("17").isEmpty)
    } finally p.stop()
  }

  test("out-of-order arrival: shipment before its order still joins (symmetric buffering)") {
    val p = newPipeline()
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.shipmentsFeed.add(
        "15" -> shipmentJson("15", "95", "florida", "2020-04-04T01:13:00"))
      p.step()
      assert(p.shippedOrders.size == 0)
      p.ordersFeed.add(
        "15" -> orderJson("5", "15", 13.75, "usd", "2020-04-03T02:55:00"))
      p.step()
      assert(p.shippedOrders.get("15").map(_.shipment_id).contains("95"))
    } finally p.stop()
  }
}
