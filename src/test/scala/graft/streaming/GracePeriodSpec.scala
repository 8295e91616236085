package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ConnectorDdl, SharedSpark}

/** ksql `GRACE PERIOD` semantics end-to-end: the clause parsed from a
  * WITHIN statement ([[ConnectorDdl.withinGrace]]) becomes the
  * watermark delay of the streaming interval join, and that delay is
  * exactly the late-admission bound — a late row inside the grace
  * still joins, the same row outside a tighter grace is dropped. */
class GracePeriodSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Drive the ±1 h interval join with the given statement's grace as
    * watermark delay; returns the joined rows seen after a late right
    * row (k=1 at 10:20) arrives once the watermark advanced to
    * 12:00 − grace. */
  private def lateRowOutcome(stmt: String): Seq[(Long, Timestamp)] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val grace = ConnectorDdl.withinGrace(stmt)
      .getOrElse(fail(s"no grace parsed from: $stmt"))
    val lf = MemoryStream[(Long, Timestamp)]
    val rf = MemoryStream[(Long, Timestamp)]
    val joined = lf.toDF().toDF("lk", "lts").withWatermark("lts", grace)
      .join(rf.toDF().toDF("rk", "rts").withWatermark("rts", grace),
        expr("""lk = rk AND
                rts >= lts - INTERVAL 1 HOUR AND
                rts <= lts + INTERVAL 1 HOUR"""), "inner")
    val name = s"grace_${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // batch 1: left k=1 at 10:00, plus 12:00 rows on BOTH sides that
      // drag the global watermark to 12:00 − grace
      lf.addData((1L, ts("2024-01-01 10:00:00")),
        (99L, ts("2024-01-01 12:00:00")))
      rf.addData((98L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // batch 2: the LATE right row — k=1 at 10:20, inside the ±1 h
      // band of left 10:00, but 1 h 40 min behind the sides' max time
      rf.addData((1L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      spark.table(name).select(col("lk"), col("rts"))
        .as[(Long, Timestamp)].collect().toSeq.sortBy(_._1)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("a late row within the grace period still joins; outside it, it is dropped") {
    val wide = "SELECT * FROM a INNER JOIN b WITHIN 1 HOUR " +
      "GRACE PERIOD 3 HOURS ON a.k = b.k"
    // grace 3 h: watermark 9:00 — the 10:20 row is admitted and joins
    assert(lateRowOutcome(wide) ==
      Seq((1L, ts("2024-01-01 10:20:00"))), "wide grace should admit")
    val tight = "SELECT * FROM a INNER JOIN b WITHIN 1 HOUR " +
      "GRACE PERIOD 10 MINUTES ON a.k = b.k"
    // grace 10 min: watermark 11:50 — the same 10:20 row is late and
    // must NOT produce a join row
    assert(lateRowOutcome(tight).isEmpty, "tight grace should drop")
  }
}
