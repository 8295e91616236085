package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The exact-parity stateful stream–table join: within-batch offset
  * ordering — the semantic the snapshot-join form cannot provide
  * (SURVEY.md §7 "what is hard" #1). */
class StatefulEnrichJoinSpec extends AnyFunSuite with SharedSpark {

  case class Cust(id: String, name: String, age: java.lang.Integer,
                  __deleted: String, offset: Long)
  case class Ord(customer_id: String, order_id: String, price: Double,
                 currency: String, o_ts: Timestamp, offset: Long)

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Stages batch 0 before the query starts so its records are
    * guaranteed to land in ONE micro-batch (a running query may split
    * post-start addData calls across triggers). */
  private def run(custs: Seq[Seq[Cust]], ords: Seq[Seq[Ord]]): Seq[EnrichedOrder] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cFeed = MemoryStream[Cust]
    val oFeed = MemoryStream[Ord]
    val steps = custs.zipAll(ords, Seq.empty[Cust], Seq.empty[Ord])
    steps.headOption.foreach { case (cb, ob) =>
      if (cb.nonEmpty) cFeed.addData(cb)
      if (ob.nonEmpty) oFeed.addData(ob)
    }
    val joined = StatefulEnrichJoin(spark, cFeed.toDF(), oFeed.toDF())
    val name = s"sej_${System.nanoTime()}"
    val q = joined.toDF().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      steps.drop(1).foreach { case (cb, ob) =>
        if (cb.nonEmpty) cFeed.addData(cb)
        if (ob.nonEmpty) oFeed.addData(ob)
        q.processAllAvailable()
      }
      spark.table(name).as[EnrichedOrder].collect().toSeq
    } finally q.stop()
  }

  test("same-batch offset order: order before customer-update sees the old image") {
    val out = run(
      custs = Seq(
        Seq(Cust("5", "fred", 34, "false", 1),
            Cust("5", "frederick", 35, "false", 20))), // same batch, offset 20
      ords = Seq(
        Seq(Ord("5", "A", 1.0, "usd", ts("2020-04-03 11:20:00"), 10), // before update
            Ord("5", "B", 2.0, "usd", ts("2020-04-03 11:21:00"), 30)))) // after update
    val byId = out.map(o => o.order_id -> o.customer_name).toMap
    assert(byId("A").contains("fred"))      // offset 10 < 20: old image
    assert(byId("B").contains("frederick")) // offset 30 > 20: new image
  }

  test("left semantics: order with absent customer emits null fields immediately") {
    val out = run(
      custs = Seq(Seq.empty),
      ords = Seq(Seq(Ord("99", "X", 9.9, "usd", ts("2020-04-03 11:20:00"), 1))))
    assert(out.map(o => (o.order_id, o.customer_name, o.customer_age)) ==
      Seq(("X", None, None)))
  }

  test("tombstone: delete at higher offset nulls later orders, keeps earlier ones enriched") {
    val out = run(
      custs = Seq(
        Seq(Cust("5", "fred", 34, "false", 1)),
        Seq(Cust("5", null, null, "true", 10))),
      ords = Seq(
        Seq(Ord("5", "A", 1.0, "usd", ts("2020-04-03 11:20:00"), 5)),
        Seq(Ord("5", "B", 2.0, "usd", ts("2020-04-03 11:21:00"), 15))))
    val byId = out.map(o => o.order_id -> o.customer_name).toMap
    assert(byId("A").contains("fred"))
    assert(byId("B").isEmpty)
  }

  test("out-of-order customer update below current offset is ignored (latest-by-offset)") {
    val out = run(
      custs = Seq(
        Seq(Cust("5", "new", 40, "false", 100)),
        Seq(Cust("5", "stale", 30, "false", 50))),
      ords = Seq(
        Seq.empty,
        Seq(Ord("5", "A", 1.0, "usd", ts("2020-04-03 11:20:00"), 200))))
    assert(out.map(o => (o.order_id, o.customer_name)) == Seq(("A", Some("new"))))
  }
}
