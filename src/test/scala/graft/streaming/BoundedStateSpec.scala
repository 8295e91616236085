package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Scale-critical streaming behaviors beyond the reference's surface:
  *  - dropDuplicatesWithinWatermark: streaming dedup whose state is
  *    BOUNDED by the watermark (the 100 TB dedup form — unbounded-state
  *    dropDuplicates would grow forever on an infinite stream).
  *  - Trigger.AvailableNow: catch-up processing that drains all
  *    available input and stops — the batch-over-streaming operational
  *    mode used for backfills.
  */
class BoundedStateSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark dedups and evicts state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(String, Timestamp)]
    val deduped = feed.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val name = s"ddww_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      feed.addData(("a", ts("2024-01-01 10:00:00")),
        ("a", ts("2024-01-01 10:01:00")), // dup within watermark: dropped
        ("b", ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)

      // advance event time ~2h: watermark passes, "a" state evicts
      feed.addData(("c", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.asScala_headNumRows
      // re-emitting "a" far beyond the original watermark window is
      // accepted again (state was evicted) — bounded-state semantics
      feed.addData(("a", ts("2024-01-01 12:01:00")))
      q.processAllAvailable()
      val ks = spark.table(name).as[(String, Timestamp)].collect().map(_._1)
      assert(ks.count(_ == "a") == 2, ks.mkString(","))
      assert(stateRows <= 3)
    } finally q.stop()
  }

  implicit private class StateOps(arr: Array[org.apache.spark.sql.streaming.StateOperatorProgress]) {
    def asScala_headNumRows: Long = if (arr.isEmpty) 0L else arr.head.numRowsTotal
  }

  test("Trigger.AvailableNow drains existing input and terminates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Long, String)]
    feed.addData((1L, "x"), (2L, "y"))
    val name = s"avnow_${System.nanoTime()}"
    val q = feed.toDF().toDF("id", "v").writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append").format("memory").queryName(name).start()
    assert(q.awaitTermination(60000), "query did not self-terminate")
    assert(spark.table(name).count() == 2)
  }
}
