package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Incremental behavior of the stateful sessionizer
  * (`StreamingQueries.sessionizeCore`) that the finite-input oracle
  * (stream_sessionize == q_sessionize) cannot see: sessions must close
  * MID-STREAM — via a proven in-buffer gap or a watermark timeout on an
  * idle group — with the per-user numbering carried across micro-batches,
  * and the state for a fully-closed user must be removed. */
class StreamSessionizeSpec extends AnyFunSuite with SharedSpark {

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessions close incrementally; numbering survives micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Timestamp, Long, Long)]
    val in = feed.toDF().toDF("ts", "user_id", "event_id")
      .withWatermark("ts", "1 minute")
    val out = graft.queries.StreamingQueries.sessionizeCore(in)
    val name = s"sess_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def table() = spark.table(name).as[(Long, Long, Long)].collect()
      .map { case (ev, uid, seq) => (uid, ev) -> seq }.toMap
    try {
      // batch 1: user 1's first session (2 events, 10 min apart) plus a
      // later event from user 2 that drags the watermark to ~11:59 —
      // past 10:10 + 30 min, so user 1's open session must close by
      // TIMEOUT in the no-data batch even though no gap proves it
      feed.addData(
        (ts("2024-01-01 10:00:00"), 1L, 100L),
        (ts("2024-01-01 10:10:00"), 1L, 101L),
        (ts("2024-01-01 12:00:00"), 2L, 200L))
      q.processAllAvailable()
      val t1 = table()
      assert(t1.get((1L, 100L)).contains(1L), t1.toString)
      assert(t1.get((1L, 101L)).contains(1L), t1.toString)
      assert(!t1.contains((2L, 200L)), "user 2's open session leaked early")

      // batch 2: user 1 returns two hours later — the arriving event
      // itself proves nothing new closed yet (session 2 stays open);
      // user 2 gets a second event 5 min after its first (same session)
      feed.addData(
        (ts("2024-01-01 12:00:00"), 1L, 102L),
        (ts("2024-01-01 12:05:00"), 2L, 201L))
      q.processAllAvailable()

      // batch 3: far-future flush closes everything still open
      feed.addData((ts("2024-01-01 23:00:00"), 99L, 900L))
      q.processAllAvailable()
      val t3 = table()
      // numbering continuity: user 1's return is session TWO, even
      // though session one was emitted from a different micro-batch
      assert(t3.get((1L, 102L)).contains(2L), t3.toString)
      // user 2's two events share one session despite arriving in
      // different micro-batches (buffered, sorted, closed once)
      assert(t3.get((2L, 200L)).contains(1L), t3.toString)
      assert(t3.get((2L, 201L)).contains(1L), t3.toString)
      // closed users keep only their bare session counter (the buffer
      // — the unbounded part — is released); the flush user holds the
      // one still-open buffered session: 3 state entries total
      val stateRows = q.lastProgress.stateOperators.headOption
        .map(_.numRowsTotal).getOrElse(-1L)
      assert(stateRows == 3L,
        s"expected 2 counter-only users + 1 open session in state, got $stateRows")
    } finally q.stop()
  }

  test("delivery independence: any random batching yields the batch answer when nothing is late") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(17)
    // 60 events over 3 users within one day; a 35-day watermark delay
    // means no delivery order can make any of them late, so EVERY
    // batching must converge to the one-shot batch sessionization
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val events = (1 to 60).map { i =>
      val uid = 1L + rnd.nextInt(3)
      val t = new Timestamp(base + rnd.nextInt(24 * 60) * 60000L)
      (t, uid, i.toLong)
    }
    // reference: per user, order by (time, id), split on >30 min gaps
    val gapMs = 30 * 60000L
    val expected = events.groupBy(_._2).flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._1.getTime, e._3))
      var seq = 0L
      var prev = Long.MinValue
      sorted.map { e =>
        if (prev == Long.MinValue || e._1.getTime - prev > gapMs) seq += 1
        prev = e._1.getTime
        (e._3, uid, seq)
      }
    }.toSet

    for (seed <- Seq(1, 2)) {
      val order = new scala.util.Random(seed).shuffle(events)
      val feed = MemoryStream[(Timestamp, Long, Long)]
      val in = feed.toDF().toDF("ts", "user_id", "event_id")
        .withWatermark("ts", "35 days")
      val out = graft.queries.StreamingQueries.sessionizeCore(in)
      val name = s"sess_rand_${seed}_${System.nanoTime()}"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        // deliver in 4 arbitrary chunks, then flush far-future
        order.grouped((order.size + 3) / 4).foreach { chunk =>
          feed.addData(chunk: _*)
          q.processAllAvailable()
        }
        feed.addData((ts("2099-01-01 00:00:00"), 99L, 9999L))
        q.processAllAvailable()
        val got = spark.table(name).as[(Long, Long, Long)].collect()
          .filter(_._2 != 99L).toSet
        assert(got == expected,
          s"seed $seed diverged: missing=${expected -- got} extra=${got -- expected}")
      } finally q.stop()
    }
  }

  test("a buffered gap alone never closes a session; late arrivals drop instead of splicing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Timestamp, Long, Long)]
    val in = feed.toDF().toDF("ts", "user_id", "event_id")
      .withWatermark("ts", "1 minute")
    val out = graft.queries.StreamingQueries.sessionizeCore(in)
    val name = s"sess_ooo_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def table() = spark.table(name).as[(Long, Long, Long)].collect()
      .map { case (ev, uid, seq) => ev -> seq }.toMap
    try {
      // one batch delivers 10:00 and 12:00 together: the 2 h gap places
      // a boundary, but [10:00] must NOT emit until the watermark
      // passes 10:30 — an out-of-order 10:15 could still legally arrive
      // while the watermark is below it and extend that session
      feed.addData(
        (ts("2024-01-01 10:00:00"), 7L, 700L),
        (ts("2024-01-01 12:00:00"), 7L, 701L))
      q.processAllAvailable()
      // after this batch the watermark is ~11:59, so the no-data batch
      // MAY close [10:00] (wm > 10:30) — but anything in (wm, ∞) is
      // still admissible. Send 10:15: it is BELOW the watermark now —
      // a late row — and must drop, not splice into emitted history
      feed.addData((ts("2024-01-01 10:15:00"), 7L, 702L))
      q.processAllAvailable()
      feed.addData((ts("2024-01-01 23:00:00"), 99L, 900L)) // flush
      q.processAllAvailable()
      val t = table()
      assert(t.get(700L).contains(1L), t.toString)
      assert(t.get(701L).contains(2L), t.toString)
      assert(!t.contains(702L), s"late event spliced into final output: $t")
    } finally q.stop()
  }
}
