package graft.streaming

import java.nio.file.Files

/** Runnable demo of the streaming engine: replays the reference's seed
  * data (reference README.md:502-527) through the three chained
  * streaming queries and prints the shipped_orders sink — the offline
  * equivalent of the reference's final
  * `curl .../shipped_orders/_search` check (README.md:532-637). */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local(4)

    val p = new Pipeline(spark, Files.createTempDirectory("graft-demo-").toString)
    p.customersFeed.add(
      "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34),
      "7" -> DebeziumJson.insert("id" -> "7", "name" -> "sue", "age" -> 25),
      "2" -> DebeziumJson.insert("id" -> "2", "name" -> "bill", "age" -> 51))
    p.ordersFeed.add(
      "13" -> """{"customer_id":"2","order_id":"13","price":50.50,"currency":"usd","ts":"2020-04-03T11:20:00"}""",
      "29" -> """{"customer_id":"7","order_id":"29","price":15.00,"currency":"aud","ts":"2020-04-02T12:36:00"}""",
      "17" -> """{"customer_id":"5","order_id":"17","price":25.25,"currency":"eur","ts":"2020-04-02T17:22:00"}""",
      "15" -> """{"customer_id":"5","order_id":"15","price":13.75,"currency":"usd","ts":"2020-04-03T02:55:00"}""",
      "22" -> """{"customer_id":"7","order_id":"22","price":29.71,"currency":"aud","ts":"2020-04-04T00:12:00"}""")
    p.shipmentsFeed.add(
      "17" -> """{"order_id":"17","shipment_id":"75","origin":"texas","ts":"2020-04-04T19:20:00"}""",
      "22" -> """{"order_id":"22","shipment_id":"71","origin":"iowa","ts":"2020-04-04T12:25:00"}""",
      "29" -> """{"order_id":"29","shipment_id":"89","origin":"california","ts":"2020-04-05T13:21:00"}""",
      "13" -> """{"order_id":"13","shipment_id":"92","origin":"maine","ts":"2020-04-04T06:13:00"}""",
      "15" -> """{"order_id":"15","shipment_id":"95","origin":"florida","ts":"2020-04-04T01:13:00"}""")
    p.step()
    println(s"[demo] shipped_orders after seed: ${p.shippedOrders.size} rows")
    p.shippedOrders.values.sortBy(_.order_id).foreach(r => println(s"[demo] $r"))

    // live insert (README.md:654-672)
    p.customersFeed.add(
      "9" -> DebeziumJson.insert("id" -> "9", "name" -> "victor", "age" -> 23))
    p.ordersFeed.add(
      "31" -> """{"customer_id":"9","order_id":"31","price":525.50,"currency":"usd","ts":"2020-04-03T11:20:00"}""")
    p.shipmentsFeed.add(
      "31" -> """{"order_id":"31","shipment_id":"97","origin":"new jersey","ts":"2020-04-04T19:20:00"}""")
    p.step()
    println(s"[demo] shipped_orders after live insert: ${p.shippedOrders.size} rows")
    println(s"[demo] order 31 -> ${p.shippedOrders.get("31")}")

    p.stop()
    spark.stop()
  }
}
