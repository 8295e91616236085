package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Non-lockstep arrival: the golden specs drive the pipeline with
  * [[Pipeline.step]], which pins the reference demo's by-hand arrival
  * order (customer → order → shipment). Real topic consumers are
  * independent, so this spec asserts the documented contract when that
  * pinning is absent (Pipeline.scala step() scaladoc):
  *
  *  - enrichment is a lookup at PROCESSING time: an order processed
  *    before its customer's CDC insert commits enriches null and is
  *    never retroactively re-enriched;
  *  - under fully racing feeds (everything flushed before any query
  *    drains) either enrichment outcome is legal per order, but
  *    delivery stays exactly-once-per-key and later orders see every
  *    committed dimension update. */
class PipelineConcurrencySpec extends AnyFunSuite with SharedSpark {

  private def newPipeline(): Pipeline =
    new Pipeline(spark, Files.createTempDirectory("graft-ckpt-").toString)

  private def orderJson(cust: String, order: String, price: Double,
                        cur: String, ts: String) =
    s"""{"customer_id":"$cust","order_id":"$order","price":$price,"currency":"$cur","ts":"$ts"}"""

  private def shipmentJson(order: String, ship: String, origin: String,
                           ts: String) =
    s"""{"order_id":"$order","shipment_id":"$ship","origin":"$origin","ts":"$ts"}"""

  test("order processed before its customer commits enriches null — and stays null") {
    val p = newPipeline()
    try {
      val q = p.queryHandles
      // the order's micro-batch runs while the dimension is still empty
      p.ordersFeed.add(
        "100" -> orderJson("5", "100", 10.0, "usd", "2020-04-03T11:20:00"))
      p.ordersFeed.flush()
      q("enriched_orders").processAllAvailable()
      // ...the customer lands immediately AFTER that batch committed
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34))
      p.customersFeed.flush()
      q("customers_by_key").processAllAvailable()
      p.shipmentsFeed.add(
        "100" -> shipmentJson("100", "90", "texas", "2020-04-03T12:00:00"))
      p.shipmentsFeed.flush()
      q("shipped_orders").processAllAvailable()

      // within-batch staleness is permanent: no retroactive re-enrichment
      assert(p.shippedOrders.get("100").contains(ShippedOrder(
        "100", "90", "5", None, None, "texas", 10.0, "usd")))

      // but every LATER order sees the committed dimension row
      p.ordersFeed.add(
        "101" -> orderJson("5", "101", 11.0, "usd", "2020-04-03T13:20:00"))
      p.shipmentsFeed.add(
        "101" -> shipmentJson("101", "91", "iowa", "2020-04-03T14:00:00"))
      p.step()
      assert(p.shippedOrders.get("101").contains(ShippedOrder(
        "101", "91", "5", Some("fred"), Some(34), "iowa", 11.0, "usd")))
      // and the stale row is still exactly one row, still null-enriched
      assert(p.shippedOrders.get("100").exists(_.customer_name.isEmpty))
      assert(p.shippedOrders.size == 2)
    } finally p.stop()
  }

  test("fully racing feeds: either enrichment outcome, always exactly-once-per-key") {
    val p = newPipeline()
    try {
      val q = p.queryHandles
      // stage everything, then flush all three feeds back-to-back with
      // NO intermediate drain: the three queries race from here
      p.customersFeed.add(
        "7" -> DebeziumJson.insert("id" -> "7", "name" -> "sue", "age" -> 25))
      p.ordersFeed.add(
        "200" -> orderJson("7", "200", 20.0, "aud", "2020-04-02T12:36:00"))
      p.shipmentsFeed.add(
        "200" -> shipmentJson("200", "80", "california", "2020-04-02T13:00:00"))
      p.customersFeed.flush()
      p.ordersFeed.flush()
      p.shipmentsFeed.flush()
      // settle in REVERSE dataflow order (the worst case for staleness),
      // then barrier everything twice so all hops propagate
      q("shipped_orders").processAllAvailable()
      q("enriched_orders").processAllAvailable()
      q("customers_by_key").processAllAvailable()
      p.step(); p.step()

      val rows = p.shippedOrders.values.filter(_.order_id == "200")
      assert(rows.size == 1, s"exactly-once-per-key violated: $rows")
      val r = rows.head
      assert(r.shipment_id == "80" && r.customer_id == "7" &&
        r.price == 20.0 && r.currency == "aud")
      // the race decides enrichment; both outcomes are legal, nothing else is
      assert(r.customer_name.isEmpty || r.customer_name.contains("sue"),
        s"impossible enrichment: $r")

      // post-race determinism: the dimension is committed now, so a new
      // order MUST enrich
      p.ordersFeed.add(
        "201" -> orderJson("7", "201", 21.0, "aud", "2020-04-02T15:00:00"))
      p.shipmentsFeed.add(
        "201" -> shipmentJson("201", "81", "oregon", "2020-04-02T16:00:00"))
      p.step()
      assert(p.shippedOrders.get("201").exists(_.customer_name.contains("sue")))
    } finally p.stop()
  }
}
