package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

import TableAggregate.GroupAgg
import TableChangelog.Change

/** Incremental contracts of [[TableAggregate]] — the adder/subtractor
  * semantics the finite-input oracle query cannot see: an update
  * RETRACTS the key's old contribution before adding the new one, a
  * group-moving update touches BOTH groups, a group whose last member
  * leaves dies with a `d` (sum exactly zero — integer grid), a
  * re-created group's seq continues (so latestState reconstruction
  * stays max_by-safe across death), and the final state is invariant
  * to micro-batch slicing. */
object TableAggregateSpec {
  case class Acct(grp: String, bal: Long)
}

class TableAggregateSpec extends AnyFunSuite with SharedSpark {
  import TableAggregateSpec._

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private def harness() = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Long, Long, Option[Acct])]
    val out = TableAggregate.of[Long, Acct, String](
      TableChangelog.of(feed.toDS()), _.grp, _.bal)
    val name = s"tagg_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).as[Change[String, GroupAgg]].collect()
      .sortBy(c => (c.key, c.seq)).toSeq
    (feed, q, rows _, name)
  }

  test("adder/subtractor: updates retract, moves touch both groups, death and rebirth") {
    val (feed, q, rows, name) = harness()
    try {
      // two keys join group a, one joins b
      feed.addData((1L, 10L, Some(Acct("a", 100L))),
        (2L, 11L, Some(Acct("a", 50L))), (3L, 12L, Some(Acct("b", 7L))))
      q.processAllAvailable()
      assert(rows() == Seq(
        Change("a", "c", None, Some(GroupAgg(2L, 150L)), 0L),
        Change("b", "c", None, Some(GroupAgg(1L, 7L)), 0L)))

      // same-group balance update: subtract 100, add 120 → net +20
      feed.addData((1L, 20L, Some(Acct("a", 120L))))
      q.processAllAvailable()
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(GroupAgg(2L, 150L)), Some(GroupAgg(2L, 170L)), 1L))

      // group MOVE: key 3 leaves b (b dies, sum exactly 0) and joins a
      feed.addData((3L, 21L, Some(Acct("a", 7L))))
      q.processAllAvailable()
      assert(rows().filter(_.key == "b").last ==
        Change("b", "d", Some(GroupAgg(1L, 7L)), None, 1L))
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(GroupAgg(2L, 170L)), Some(GroupAgg(3L, 177L)), 2L))

      // duplicate-value upsert: changelog emits nothing → no agg record
      val n = rows().size
      feed.addData((1L, 30L, Some(Acct("a", 120L))))
      q.processAllAvailable()
      assert(rows().size == n, "duplicate upsert must not emit")

      // tombstone: key 2 leaves a
      feed.addData((2L, 40L, None))
      q.processAllAvailable()
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(GroupAgg(3L, 177L)), Some(GroupAgg(2L, 127L)), 3L))

      // rebirth of b: seq CONTINUES (2), so max_by(seq) reconstruction
      // never resurrects the dead image
      feed.addData((9L, 50L, Some(Acct("b", 3L))))
      q.processAllAvailable()
      assert(rows().filter(_.key == "b").last ==
        Change("b", "c", None, Some(GroupAgg(1L, 3L)), 2L))
      val state = TableChangelog.latestState(spark.table(name))
        .collect().map(r => (r.getString(0),
          (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
      assert(state == Map("a" -> ((2L, 127L)), "b" -> ((1L, 3L))))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("final state is invariant to micro-batch slicing") {
    val data: Seq[(Long, Long, Option[Acct])] = Seq(
      (1L, 1L, Some(Acct("x", 10L))), (2L, 2L, Some(Acct("y", 20L))),
      (1L, 3L, Some(Acct("y", 11L))), (3L, 4L, Some(Acct("x", 5L))),
      (2L, 5L, None), (1L, 6L, Some(Acct("x", 12L))),
      (3L, 7L, None), (4L, 8L, Some(Acct("z", 1L))))
    def finalState(slices: Seq[Seq[(Long, Long, Option[Acct])]]): Map[String, (Long, Long)] = {
      val (feed, q, _, name) = harness()
      try {
        slices.foreach { s => feed.addData(s: _*); q.processAllAvailable() }
        TableChangelog.latestState(spark.table(name))
          .collect().map(r => (r.getString(0),
            (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
        spark.streams.resetTerminated()
      }
    }
    val oneShot = finalState(Seq(data))
    val rowPer = finalState(data.map(Seq(_)))
    val pairs = finalState(data.grouped(2).toSeq)
    assert(oneShot == Map("x" -> ((1L, 12L)), "z" -> ((1L, 1L))))
    assert(rowPer == oneShot)
    assert(pairs == oneShot)
  }

  test("fuzz: random upsert/delete histories match the brute-force final table (8 histories)") {
    val rnd = new scala.util.Random(1302)
    val groups = Vector("g0", "g1", "g2", "g3")
    for (_ <- 1 to 8) {
      val nOps = 12 + rnd.nextInt(20)
      val hist: Seq[(Long, Long, Option[Acct])] =
        (1 to nOps).map { off =>
          val key = rnd.nextInt(5).toLong
          if (rnd.nextInt(4) == 0) (key, off.toLong, None) // tombstone
          else (key, off.toLong,
            Some(Acct(groups(rnd.nextInt(groups.size)), rnd.nextInt(100).toLong)))
        }
      // brute force: final table = last value per key, then groupBy
      val table = hist.groupBy(_._1).values
        .flatMap(_.maxBy(_._2)._3).toSeq
      val expect = table.groupBy(_.grp).map { case (g, vs) =>
        (g, (vs.size.toLong, vs.map(_.bal).sum)) }
      // random slicing into micro-batches
      val nSlices = 1 + rnd.nextInt(5)
      val marks = hist.map(_ => rnd.nextInt(nSlices))
      val slices = (0 until nSlices).map(i =>
        hist.zip(marks).collect { case (h, m) if m == i => h })
        .filter(_.nonEmpty)
      val (feed, q, _, name) = harness()
      try {
        slices.foreach { sl => feed.addData(sl: _*); q.processAllAvailable() }
        val got = TableChangelog.latestState(spark.table(name))
          .collect().map(r => (r.getString(0),
            (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
        assert(got == expect, s"history=$hist slices=$slices")
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
        spark.streams.resetTerminated()
      }
    }
  }

  // ---- MIN/MAX with value-count retraction --------------------------

  private def minMaxHarness() = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Long, Long, Option[Acct])]
    val out = TableAggregate.ofMinMax[Long, Acct, String](
      TableChangelog.of(feed.toDS()), _.grp, _.bal)
    val name = s"tmm_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name)
      .as[Change[String, TableAggregate.MinMaxAgg]].collect()
      .sortBy(c => (c.key, c.seq)).toSeq
    (feed, q, rows _, name)
  }

  private def mmState(name: String): Map[String, (Long, Long, Long)] =
    TableChangelog.latestState(spark.table(name))
      .collect().map(r => (r.getString(0),
        (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1),
          r.getStruct(1).getLong(2)))).toMap

  test("MIN/MAX: retracting the extremum re-derives the runner-up; death, rebirth, interior swaps") {
    import TableAggregate.MinMaxAgg
    val (feed, q, rows, name) = minMaxHarness()
    try {
      feed.addData((1L, 10L, Some(Acct("a", 100L))),
        (2L, 11L, Some(Acct("a", 50L))), (3L, 12L, Some(Acct("b", 7L))))
      q.processAllAvailable()
      assert(rows() == Seq(
        Change("a", "c", None, Some(MinMaxAgg(2L, 50L, 100L)), 0L),
        Change("b", "c", None, Some(MinMaxAgg(1L, 7L, 7L)), 0L)))

      // THE case no running scalar survives: the group MAX (100)
      // retracts; the value-count map re-derives max = 60
      feed.addData((1L, 20L, Some(Acct("a", 60L))))
      q.processAllAvailable()
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(MinMaxAgg(2L, 50L, 100L)),
          Some(MinMaxAgg(2L, 50L, 60L)), 1L))

      // group move: b dies with a d record, a gains a new MIN
      feed.addData((3L, 21L, Some(Acct("a", 7L))))
      q.processAllAvailable()
      assert(rows().filter(_.key == "b").last ==
        Change("b", "d", Some(MinMaxAgg(1L, 7L, 7L)), None, 1L))
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(MinMaxAgg(2L, 50L, 60L)),
          Some(MinMaxAgg(3L, 7L, 60L)), 2L))

      // INTERIOR swap: 50 → 55 changes neither cnt nor min nor max —
      // no record may be emitted, but the map MUST persist the swap
      val n = rows().size
      feed.addData((2L, 30L, Some(Acct("a", 55L))))
      q.processAllAvailable()
      assert(rows().size == n, "interior value swap must not emit")
      // ...because the next retraction depends on it: 55 leaves (its
      // key tombstones) — if the swap was lost this would fail the
      // negative-multiplicity guard or emit a wrong aggregate
      feed.addData((2L, 31L, None))
      q.processAllAvailable()
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(MinMaxAgg(3L, 7L, 60L)),
          Some(MinMaxAgg(2L, 7L, 60L)), 3L))

      // duplicate values hold by MULTIPLICITY: two keys at 60, one
      // leaves, max stays 60; the second leaves, max falls to 7
      feed.addData((4L, 40L, Some(Acct("a", 60L))))
      q.processAllAvailable()
      feed.addData((1L, 41L, None))
      q.processAllAvailable()
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(MinMaxAgg(3L, 7L, 60L)),
          Some(MinMaxAgg(2L, 7L, 60L)), 5L))
      feed.addData((4L, 42L, None))
      q.processAllAvailable()
      assert(rows().filter(_.key == "a").last ==
        Change("a", "u", Some(MinMaxAgg(2L, 7L, 60L)),
          Some(MinMaxAgg(1L, 7L, 7L)), 6L))

      // rebirth of b: seq CONTINUES (2) so max_by(seq) reconstruction
      // never resurrects the dead image
      feed.addData((9L, 50L, Some(Acct("b", 3L))))
      q.processAllAvailable()
      assert(rows().filter(_.key == "b").last ==
        Change("b", "c", None, Some(MinMaxAgg(1L, 3L, 3L)), 2L))
      assert(mmState(name) ==
        Map("a" -> ((1L, 7L, 7L)), "b" -> ((1L, 3L, 3L))))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("MIN/MAX: a key changing twice in ONE batch nets its intermediate images (ADVICE r14)") {
    import TableAggregate.MinMaxAgg
    val (feed, q, rows, name) = minMaxHarness()
    try {
      feed.addData((1L, 10L, Some(Acct("a", 5L))))
      q.processAllAvailable()
      // ONE batch, two changes of the same key: 5 -> 9 -> 3. The
      // changelog emits the intermediate u records (-5,+9) then
      // (-9,+3); under an adversarial group-iterator order the -9 can
      // precede its +9, so value 9's multiplicity is TRANSIENTLY
      // negative — the per-value pre-aggregation must net the batch's
      // deltas (9 nets to 0) instead of crashing mid-fold, and the
      // compressed emission is a single u: 5 -> 3.
      feed.addData((1L, 20L, Some(Acct("a", 9L))),
        (1L, 21L, Some(Acct("a", 3L))))
      q.processAllAvailable()
      assert(rows().last ==
        Change("a", "u", Some(MinMaxAgg(1L, 5L, 5L)),
          Some(MinMaxAgg(1L, 3L, 3L)), 1L))
      assert(mmState(name) == Map("a" -> ((1L, 3L, 3L))))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("MIN/MAX fuzz: random histories match brute force under random slicing (8 histories)") {
    val rnd = new scala.util.Random(1403)
    val groups = Vector("g0", "g1", "g2")
    for (_ <- 1 to 8) {
      val nOps = 12 + rnd.nextInt(20)
      val hist: Seq[(Long, Long, Option[Acct])] =
        (1 to nOps).map { off =>
          val key = rnd.nextInt(5).toLong
          if (rnd.nextInt(4) == 0) (key, off.toLong, None)
          else (key, off.toLong,
            Some(Acct(groups(rnd.nextInt(groups.size)),
              rnd.nextInt(20).toLong))) // small domain → real duplicates
        }
      val table = hist.groupBy(_._1).values
        .flatMap(_.maxBy(_._2)._3).toSeq
      val expect = table.groupBy(_.grp).map { case (g, vs) =>
        (g, (vs.size.toLong, vs.map(_.bal).min, vs.map(_.bal).max)) }
      val nSlices = 1 + rnd.nextInt(5)
      val marks = hist.map(_ => rnd.nextInt(nSlices))
      val slices = (0 until nSlices).map(i =>
        hist.zip(marks).collect { case (h, m) if m == i => h })
        .filter(_.nonEmpty)
      val (feed, q, _, name) = minMaxHarness()
      try {
        slices.foreach { sl => feed.addData(sl: _*); q.processAllAvailable() }
        assert(mmState(name) == expect, s"history=$hist slices=$slices")
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
        spark.streams.resetTerminated()
      }
    }
  }

  test("inconsistent changelog input (retraction on an empty group) fails fast") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[Change[Long, Acct]]
    val out = TableAggregate.of[Long, Acct, String](
      feed.toDS(), _.grp, _.bal)
    val name = s"tagg_bad_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      feed.addData(Change(1L, "d", Some(Acct("ghost", 9L)), None, 0L))
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getCause != null &&
        String.valueOf(e.getCause.getMessage).contains("went negative"))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }
}
