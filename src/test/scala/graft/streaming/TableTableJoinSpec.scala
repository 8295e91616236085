package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

import TableChangelog.Change
import TableTableJoin.Joined

/** Incremental contracts of [[TableChangelog]] and [[TableTableJoin]]
  * that the finite-input oracle queries cannot see: change ops emitted
  * batch-by-batch, retractions on tombstones, an update to EITHER join
  * side revising the joined output, the FK fan-out, and a foreign-key
  * MOVE removing the row from the old group — with the composite seq
  * ordering the move across the two groups so reconstruction lands on
  * the new side. */
object TableTableJoinSpec {
  case class Cust(name: String, nation: Long)
  case class Nat(nname: String)
  case class Ord(price: Double)
  case class Ev(etype: String)
}

class TableTableJoinSpec extends AnyFunSuite with SharedSpark {
  import TableTableJoinSpec._

  override def sessionConf = Map("spark.sql.shuffle.partitions" -> "2")

  private def drain[T](q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    q.processAllAvailable()

  test("TableChangelog: c/u/d ops, LWW by offset, replay emits nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Long, Long, Option[Cust])]
    val out = TableChangelog.of(feed.toDS())
    val name = s"tcl_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).as[Change[Long, Cust]].collect()
      .sortBy(c => (c.key, c.seq)).toSeq
    try {
      feed.addData((1L, 10L, Some(Cust("ann", 1L))))
      drain(q)
      assert(rows() == Seq(
        Change(1L, "c", None, Some(Cust("ann", 1L)), 0L)))

      // update + an intra-batch second version: both changes emitted,
      // in offset order
      feed.addData((1L, 20L, Some(Cust("ann2", 1L))),
        (1L, 30L, Some(Cust("ann3", 2L))))
      drain(q)
      assert(rows().drop(1) == Seq(
        Change(1L, "u", Some(Cust("ann", 1L)), Some(Cust("ann2", 1L)), 1L),
        Change(1L, "u", Some(Cust("ann2", 1L)), Some(Cust("ann3", 2L)), 2L)))

      // replay of an applied offset + a STALE out-of-order version:
      // nothing emitted
      feed.addData((1L, 30L, Some(Cust("ann3", 2L))),
        (1L, 25L, Some(Cust("stale", 9L))))
      drain(q)
      assert(rows().size == 3, rows().toString)

      // tombstone → d with the before image
      feed.addData((1L, 40L, None))
      drain(q)
      assert(rows().last ==
        Change(1L, "d", Some(Cust("ann3", 2L)), None, 3L))

      // reconstruction of the full changelog: key 1 deleted
      val st = TableChangelog.latestState(spark.table(name))
      assert(st.count() == 0L)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("TableChangelog: value-identical upsert advances offset, emits nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(Long, Long, Option[Cust])]
    val out = TableChangelog.of(feed.toDS())
    val name = s"tclnoop_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).as[Change[Long, Cust]].collect()
      .sortBy(c => (c.key, c.seq)).toSeq
    try {
      feed.addData((1L, 10L, Some(Cust("ann", 1L))))
      drain(q)
      assert(rows().size == 1)

      // same value, higher offset: a no-op upsert — nothing emitted
      feed.addData((1L, 20L, Some(Cust("ann", 1L))))
      drain(q)
      assert(rows().size == 1, rows().toString)

      // ...but the offset DID advance: a different value at an offset
      // between the two upserts is stale and stays suppressed
      feed.addData((1L, 15L, Some(Cust("ghost", 9L))))
      drain(q)
      assert(rows().size == 1, rows().toString)

      // a real update still emits, with the DENSE next seq (the no-op
      // consumed no seq number)
      feed.addData((1L, 30L, Some(Cust("ann2", 1L))))
      drain(q)
      assert(rows().last ==
        Change(1L, "u", Some(Cust("ann", 1L)), Some(Cust("ann2", 1L)), 1L))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("pkJoin: an update to EITHER side revises the joined row; tombstone retracts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lf = MemoryStream[(Long, Long, Option[Ord])]
    val rf = MemoryStream[(Long, Long, Option[Ev])]
    val out = TableTableJoin.pkJoin(lf.toDS(), rf.toDS(), "inner")
    val name = s"pkj_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).as[Change[Long, Joined[Ord, Ev]]]
      .collect().sortBy(c => (c.key, c.seq)).toSeq
    try {
      // left alone: inner join emits nothing
      lf.addData((7L, 1L, Some(Ord(10.0))))
      drain(q)
      assert(rows().isEmpty)

      // right arrives: joined row appears
      rf.addData((7L, 1L, Some(Ev("click"))))
      drain(q)
      assert(rows() == Seq(Change(7L, "c", None,
        Some(Joined(Some(Ord(10.0)), Some(Ev("click")))), 0L)))

      // LEFT update revises
      lf.addData((7L, 2L, Some(Ord(20.0))))
      drain(q)
      assert(rows().last == Change(7L, "u",
        Some(Joined(Some(Ord(10.0)), Some(Ev("click")))),
        Some(Joined(Some(Ord(20.0)), Some(Ev("click")))), 1L))

      // RIGHT update revises
      rf.addData((7L, 2L, Some(Ev("buy"))))
      drain(q)
      assert(rows().last == Change(7L, "u",
        Some(Joined(Some(Ord(20.0)), Some(Ev("click")))),
        Some(Joined(Some(Ord(20.0)), Some(Ev("buy")))), 2L))

      // right tombstone: inner-joined row retracts
      rf.addData((7L, 3L, None))
      drain(q)
      assert(rows().last == Change(7L, "d",
        Some(Joined(Some(Ord(20.0)), Some(Ev("buy")))), None, 3L))
      assert(TableChangelog.latestState(spark.table(name)).count() == 0L)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("pkJoin left-outer: right side nullable, right update still revises") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lf = MemoryStream[(Long, Long, Option[Ord])]
    val rf = MemoryStream[(Long, Long, Option[Ev])]
    val out = TableTableJoin.pkJoin(lf.toDS(), rf.toDS(), "left")
    val name = s"pkjl_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).as[Change[Long, Joined[Ord, Ev]]]
      .collect().sortBy(c => (c.key, c.seq)).toSeq
    try {
      lf.addData((7L, 1L, Some(Ord(10.0))))
      drain(q)
      assert(rows() == Seq(Change(7L, "c", None,
        Some(Joined(Some(Ord(10.0)), None: Option[Ev])), 0L)))
      rf.addData((7L, 1L, Some(Ev("click"))))
      drain(q)
      assert(rows().last.op == "u")
      assert(rows().last.after.flatMap(_.right).contains(Ev("click")))
      // left tombstone deletes even though right remains
      lf.addData((7L, 2L, None))
      drain(q)
      assert(rows().last.op == "d")
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("pkJoin full-outer: either side alone is present; tombstones flip sides, not rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lf = MemoryStream[(Long, Long, Option[Ord])]
    val rf = MemoryStream[(Long, Long, Option[Ev])]
    val out = TableTableJoin.pkJoin(lf.toDS(), rf.toDS(), "full")
    val name = s"pkjf_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def state() = TableChangelog.latestState(spark.table(name))
      .selectExpr("key", "after.left.price", "after.right.etype")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        Option(r.getString(2)))).toSeq.sortBy(_._1)
    try {
      // right-only key surfaces immediately with a null left
      rf.addData((1L, 1L, Some(Ev("click"))))
      drain(q)
      assert(state() == Seq((1L, None, Some("click"))))
      // left arrives: same row revises to both-sides
      lf.addData((1L, 1L, Some(Ord(5.0))))
      drain(q)
      assert(state() == Seq((1L, Some(5.0), Some("click"))))
      // right tombstone: the row STAYS (left present), right goes null
      rf.addData((1L, 2L, None))
      drain(q)
      assert(state() == Seq((1L, Some(5.0), None)))
      // left tombstone too: now the row retracts entirely
      lf.addData((1L, 2L, None))
      drain(q)
      assert(state().isEmpty)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("fkJoin: right update fans out to all members; fk move re-homes the row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val custFeed = MemoryStream[(Long, Long, Option[Cust])]
    val natFeed = MemoryStream[(Long, Long, Option[Nat])]
    val changes = TableChangelog.of(custFeed.toDS())
    val out = TableTableJoin.fkJoin[Long, Long, Cust, Nat](
      changes, _.nation, natFeed.toDS(), "inner")
    val name = s"fkj_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).as[Change[Long, Joined[Cust, Nat]]]
      .collect().sortBy(c => (c.key, c.seq)).toSeq
    def state() = TableChangelog.latestState(spark.table(name))
      .selectExpr("key", "after.left.name", "after.left.nation",
        "after.right.nname")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    try {
      // nation 1 + two customers in it
      natFeed.addData((1L, 1L, Some(Nat("FRANCE"))))
      drain(q)
      custFeed.addData((10L, 1L, Some(Cust("ann", 1L))),
        (11L, 2L, Some(Cust("bob", 1L))))
      drain(q)
      assert(state() == Seq((10L, "ann", 1L, "FRANCE"),
        (11L, "bob", 1L, "FRANCE")))

      // right-side rename fans out: BOTH members re-emit
      natFeed.addData((1L, 2L, Some(Nat("FR"))))
      drain(q)
      val fanout = rows().filter(c =>
        c.after.flatMap(_.right).contains(Nat("FR")))
      assert(fanout.map(_.key).sorted == Seq(10L, 11L), rows().toString)
      assert(fanout.forall(_.op == "u"))
      assert(state() == Seq((10L, "ann", 1L, "FR"), (11L, "bob", 1L, "FR")))

      // fk MOVE: ann → nation 2 (not yet present; inner join → her row
      // disappears: d in the old group, nothing in the new)
      custFeed.addData((10L, 3L, Some(Cust("ann", 2L))))
      drain(q)
      assert(state() == Seq((11L, "bob", 1L, "FR")))

      // nation 2 arrives: ann's row reappears with the NEW nation
      natFeed.addData((2L, 1L, Some(Nat("GERMANY"))))
      drain(q)
      assert(state() == Seq((10L, "ann", 2L, "GERMANY"),
        (11L, "bob", 1L, "FR")))

      // customer tombstone removes the joined row
      custFeed.addData((11L, 4L, None))
      drain(q)
      assert(state() == Seq((10L, "ann", 2L, "GERMANY")))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("fkJoin: minors are PER MEMBER and rebase on a left-side change") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val custFeed = MemoryStream[(Long, Long, Option[Cust])]
    val natFeed = MemoryStream[(Long, Long, Option[Nat])]
    val out = TableTableJoin.fkJoin[Long, Long, Cust, Nat](
      TableChangelog.of(custFeed.toDS()), _.nation, natFeed.toDS(), "inner")
    val name = s"fkseq_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def seqsOf(k: Long) = spark.table(name)
      .as[Change[Long, Joined[Cust, Nat]]].collect()
      .filter(_.key == k).map(_.seq).sorted.toSeq
    val M = 1L << 20
    try {
      natFeed.addData((1L, 1L, Some(Nat("FRANCE"))))
      drain(q)
      // both members join at their own stage-1 seq 0 (stage-1 seqs are
      // per key): each add emits major 2·0+1, minor 0
      custFeed.addData((10L, 1L, Some(Cust("ann", 1L))),
        (11L, 2L, Some(Cust("bob", 1L))))
      drain(q)
      // one fan-out: EACH member spends its own minor 1 — a group-
      // global counter would hand one of them minor 2
      natFeed.addData((1L, 2L, Some(Nat("FR"))))
      drain(q)
      assert(seqsOf(10L) == Seq(1L * M, 1L * M + 1), seqsOf(10L).toString)
      assert(seqsOf(11L) == Seq(1L * M, 1L * M + 1), seqsOf(11L).toString)
      // ann's left-side update (same fk) advances her major to 2·1+1
      // and REBASES her minor space to 0 — the budget is renewable,
      // not a lifetime cap
      custFeed.addData((10L, 3L, Some(Cust("ann2", 1L))))
      drain(q)
      assert(seqsOf(10L) == Seq(1L * M, 1L * M + 1, 3L * M))
      // next fan-out: ann continues at her new major, bob at his old
      natFeed.addData((1L, 3L, Some(Nat("F3"))))
      drain(q)
      assert(seqsOf(10L) == Seq(1L * M, 1L * M + 1, 3L * M, 3L * M + 1))
      assert(seqsOf(11L) == Seq(1L * M, 1L * M + 1, 1L * M + 2))
      // and reconstruction lands on the latest images
      val st = TableChangelog.latestState(spark.table(name))
        .selectExpr("key", "after.left.name", "after.right.nname")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      assert(st == Seq((10L, "ann2", "F3"), (11L, "bob", "F3")))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("fkJoin left-outer: member row present before the right side arrives") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val custFeed = MemoryStream[(Long, Long, Option[Cust])]
    val natFeed = MemoryStream[(Long, Long, Option[Nat])]
    val out = TableTableJoin.fkJoin[Long, Long, Cust, Nat](
      TableChangelog.of(custFeed.toDS()), _.nation, natFeed.toDS(), "left")
    val name = s"fkjl_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      custFeed.addData((10L, 1L, Some(Cust("ann", 1L))))
      drain(q)
      val st = TableChangelog.latestState(spark.table(name))
        .selectExpr("key", "after.right.nname").collect()
      assert(st.length == 1 && st.head.isNullAt(1), st.mkString(","))
      natFeed.addData((1L, 1L, Some(Nat("FRANCE"))))
      drain(q)
      val st2 = TableChangelog.latestState(spark.table(name))
        .selectExpr("key", "after.right.nname").collect()
      assert(st2.length == 1 && st2.head.getString(1) == "FRANCE")
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }
}
