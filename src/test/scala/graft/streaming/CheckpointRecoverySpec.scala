package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Fault tolerance (SURVEY.md §2.6): a stateful streaming query
  * restarted from its checkpoint resumes with its accumulated state —
  * the Spark analog of ksqlDB's RocksDB + changelog-topic recovery. */
class CheckpointRecoverySpec extends AnyFunSuite with SharedSpark {

  // checkpoints with Spark's default CRC sidecars on (the session
  // factory turns them off), as any deployment outside the factory runs
  override def sessionConf = Map(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true")

  test("latest-by-key state survives a query restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-recover-").toString
    val store = new SnapshotStore(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))), keys = Seq("k"))

    val feed = MemoryStream[(String, String, Long)]
    def startQuery(f: MemoryStream[(String, String, Long)]) =
      LatestByKey.table(f.toDF().toDF("k", "v", "offset"), "k", "offset", Seq("v"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => store.upsert(b) }
        .start()

    val q1 = startQuery(feed)
    feed.addData(("a", "v1", 1L), ("b", "w1", 2L))
    q1.processAllAvailable()
    q1.stop()
    assert(store.size == 2)

    // restart: a NEW source instance + the same checkpoint. Sources
    // must be REPLAYABLE from the committed offset (Kafka is; a fresh
    // MemoryStream emulates that by re-staging batch 0), after which
    // the offset log skips the committed batch and only the new update
    // for "a" is processed — "b" comes from recovered state.
    val feed2 = MemoryStream[(String, String, Long)]
    feed2.addData(("a", "v1", 1L), ("b", "w1", 2L)) // replayed batch 0
    feed2.addData(("a", "v2", 3L))                  // new batch 1
    val q2 = startQuery(feed2)
    q2.processAllAvailable()
    q2.stop()

    val rows = store.df(spark).as[(String, String)].collect().toMap
    assert(rows == Map("a" -> "v2", "b" -> "w1"))
  }

  test("fk-join membership state survives a restart: fan-out from recovery") {
    import spark.implicits._
    import CheckpointRecoverySpec.{FkA, FkB}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-fk-recover-").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Option[String])]()
    def gotSeq: Seq[(Long, String, Option[String])] = {
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }

    // one combined feed: left member changes carry side="L", the
    // right image side="R" — both sides of an fk join are streams
    def startQuery(l: MemoryStream[(Long, Long, Option[FkA])],
                   r: MemoryStream[(Long, Long, Option[FkB])]) = {
      val joined = TableTableJoin.fkJoin[Long, Long, FkA, FkB](
        TableChangelog.of(l.toDS()), _.fk, r.toDS())
      joined.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[
             TableChangelog.Change[Long, TableTableJoin.Joined[FkA, FkB]]],
           _: Long) =>
            b.collect().foreach { ch =>
              got.add((ch.key, ch.op,
                ch.after.flatMap(_.right).map(_.rname)))
            }
        }
        .start()
    }

    // batch 0: two members of fk group 10, right image N1 — each
    // member emits a create joined to N1
    val l1 = MemoryStream[(Long, Long, Option[FkA])]
    val r1 = MemoryStream[(Long, Long, Option[FkB])]
    l1.addData((1L, 1L, Some(FkA("a1", 10L))), (2L, 2L, Some(FkA("a2", 10L))))
    r1.addData((10L, 1L, Some(FkB("N1"))))
    val q1 = startQuery(l1, r1)
    q1.processAllAvailable()
    q1.stop()
    assert(gotSeq.count(_._3.contains("N1")) == 2, gotSeq)

    // restart: fresh sources replay batch 0 (skipped via the offset
    // log), then ONLY a right-side update arrives. The fan-out to
    // both members can only come from membership state recovered
    // from the checkpoint.
    got.clear()
    val l2 = MemoryStream[(Long, Long, Option[FkA])]
    val r2 = MemoryStream[(Long, Long, Option[FkB])]
    l2.addData((1L, 1L, Some(FkA("a1", 10L))), (2L, 2L, Some(FkA("a2", 10L))))
    r2.addData((10L, 1L, Some(FkB("N1"))))
    r2.addData((10L, 2L, Some(FkB("N2"))))
    val q2 = startQuery(l2, r2)
    q2.processAllAvailable()
    q2.stop()

    val revised = gotSeq.filter(_._3.contains("N2")).map(_._1).toSet
    assert(revised == Set(1L, 2L),
      s"expected recovered fan-out to both members, got $gotSeq")
  }

  test("CEP automaton phase survives a restart: a funnel spanning the crash") {
    import spark.implicits._
    import PatternMatch.{EventIn, MatchRow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-cep-recover-").toString
    val store = new SnapshotStore(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("seq_len",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_funnel",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("err_after_purchase",
          org.apache.spark.sql.types.LongType))), keys = Seq("user_id"))

    def startQuery(f: MemoryStream[EventIn]) =
      PatternMatch.table(spark, f.toDF())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => store.upsert(b) }
        .start()

    // batch 0 leaves user 7 mid-candidate (v then c: phase = InVC)
    val b0 = Seq(EventIn(7L, 1000L, 1L, "v"), EventIn(7L, 2000L, 2L, "c"))
    val feed = MemoryStream[EventIn]
    val q1 = startQuery(feed)
    feed.addData(b0)
    q1.processAllAvailable()
    q1.stop()

    // restart: the completing 'p' (then an 'e') arrives AFTER the
    // crash — the funnel can only count 1 if the NFA phase was
    // recovered from the checkpoint, not re-derived from batch 1
    val feed2 = MemoryStream[EventIn]
    feed2.addData(b0) // replayed batch 0 (skipped by the offset log)
    feed2.addData(Seq(EventIn(7L, 3000L, 3L, "p"), EventIn(7L, 4000L, 4L, "e")))
    val q2 = startQuery(feed2)
    q2.processAllAvailable()
    q2.stop()

    val row = store.df(spark).as[MatchRow].collect().head
    assert(row == MatchRow(7L, 4L, 1L, 1L), row)
  }

  test("SAX partial-window sum survives a restart: a PAA window spanning the crash") {
    import spark.implicits._
    import SaxMotif.{MotifRow, SaxIn}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-sax-recover-").toString
    val store = new SnapshotStore(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("motif",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_occ",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_windows",
          org.apache.spark.sql.types.LongType))), keys = Seq("event_type"))

    def startQuery(f: MemoryStream[SaxIn]) =
      SaxMotif.table(spark, f.toDF(), 2)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => store.upsert(b) }
        .start()

    def in(i: Int, c: Long): SaxIn =
      SaxIn("t", i.toLong * 1000, i.toLong, c, 100L, 200L, 300L)

    // batch 0: window 1 completes (10+20=30 → 'a'); event 3 (150)
    // starts window 2 and stays a PARTIAL SUM in state at the crash
    val b0 = Seq(in(1, 10L), in(2, 20L), in(3, 150L))
    val feed = MemoryStream[SaxIn]
    val q1 = startQuery(feed)
    feed.addData(b0)
    q1.processAllAvailable()
    q1.stop()

    // restart: event 4 (100) completes window 2 — its letter is 'c'
    // (sum 250) ONLY if the partial 150 was recovered; events 5+6
    // complete window 3 (110 → 'b') and the first trigram appears
    val feed2 = MemoryStream[SaxIn]
    feed2.addData(b0) // replayed batch 0 (skipped by the offset log)
    feed2.addData(Seq(in(4, 100L), in(5, 50L), in(6, 60L)))
    val q2 = startQuery(feed2)
    q2.processAllAvailable()
    q2.stop()

    val row = store.df(spark).as[MotifRow].collect().head
    assert(row == MotifRow("t", "acb", 1L, 3L), row)
  }

  test("k-bounded LONG-pack top-k head survives a restart: post-crash arrivals displace correctly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-recover-topk-").toString
    val store = new SnapshotStore(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("scores",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.types.StructField("ids",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))), keys = Seq("g"))
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScoreLong(3))
    val feed = MemoryStream[(String, Long, Long)]
    def startQuery(f: MemoryStream[(String, Long, Long)]) =
      f.toDF().toDF("g", "score", "id")
        .groupBy(org.apache.spark.sql.functions.col("g"))
        .agg(topk(org.apache.spark.sql.functions.col("score"),
          org.apache.spark.sql.functions.col("id")).as("top"))
        .select(org.apache.spark.sql.functions.col("g"),
          org.apache.spark.sql.functions.col("top.scores").as("scores"),
          org.apache.spark.sql.functions.col("top.ids").as("ids"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => store.upsert(b) }
        .start()

    val q1 = startQuery(feed)
    feed.addData(("t", 50L, 1L), ("t", 30L, 2L), ("t", 40L, 3L))
    q1.processAllAvailable()
    q1.stop()

    // restart from the checkpoint; the new batch must (a) displace the
    // recovered minimum (30@2) with a higher score, (b) reject a score
    // below the recovered floor, and (c) break a tie against a
    // RECOVERED entry by id asc — all three only work if the full
    // (scores, ids) buffer came back intact
    val feed2 = MemoryStream[(String, Long, Long)]
    feed2.addData(("t", 50L, 1L), ("t", 30L, 2L), ("t", 40L, 3L))
    feed2.addData(("t", 45L, 9L), ("t", 10L, 8L), ("t", 50L, 7L))
    val q2 = startQuery(feed2)
    q2.processAllAvailable()
    q2.stop()

    val rows = store.df(spark).as[(String, Seq[Long], Seq[Long])]
      .collect().map { case (g, sc, ids) => g -> ((sc, ids)) }.toMap
    // final head: 50@1 (tie with 50@7 broken by id), 50@7, 45@9
    assert(rows("t") == ((Seq(50L, 50L, 45L), Seq(1L, 7L, 9L))), rows)
  }

  test("table-aggregate: a retraction arriving AFTER restart subtracts from recovered state") {
    import spark.implicits._
    import TableAggregateSpec.Acct
    import TableAggregate.GroupAgg
    import TableChangelog.Change
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-tagg-recover-").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      Change[String, GroupAgg]]()

    def startQuery(f: MemoryStream[(Long, Long, Option[Acct])]) =
      TableAggregate.of[Long, Acct, String](
        TableChangelog.of(f.toDS()), _.grp, _.bal)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Change[String, GroupAgg]],
                         _: Long) => b.collect().foreach(got.add); () }
        .start()

    val b0 = Seq((1L, 1L, Some(Acct("g", 10L))), (2L, 2L, Some(Acct("g", 5L))))
    val feed = MemoryStream[(Long, Long, Option[Acct])]
    val q1 = startQuery(feed)
    feed.addData(b0: _*)
    q1.processAllAvailable()
    q1.stop()

    // restart: key 1 MOVES g→h. Correctness needs BOTH stateful
    // operators to recover — the changelog stage must produce key 1's
    // before-image (g, 10) from ITS state, and the aggregate stage
    // must subtract it from g's recovered (2, 15)
    val feed2 = MemoryStream[(Long, Long, Option[Acct])]
    feed2.addData(b0: _*) // replayed batch 0 (skipped by the offset log)
    feed2.addData((1L, 3L, Some(Acct("h", 20L))))
    val q2 = startQuery(feed2)
    q2.processAllAvailable()
    q2.stop()

    import scala.jdk.CollectionConverters._
    val changes = got.asScala.toSeq
    assert(changes.contains(
      Change("g", "u", Some(GroupAgg(2L, 15L)), Some(GroupAgg(1L, 5L)), 1L)),
      changes)
    assert(changes.contains(
      Change("h", "c", None, Some(GroupAgg(1L, 20L)), 0L)), changes)
  }

  test("MIN/MAX table-aggregate: retracting the recovered EXTREMUM after restart re-derives the runner-up") {
    import spark.implicits._
    import TableAggregateSpec.Acct
    import TableAggregate.MinMaxAgg
    import TableChangelog.Change
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-tmm-recover-").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      Change[String, MinMaxAgg]]()

    def startQuery(f: MemoryStream[(Long, Long, Option[Acct])]) =
      TableAggregate.ofMinMax[Long, Acct, String](
        TableChangelog.of(f.toDS()), _.grp, _.bal)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Change[String, MinMaxAgg]],
                         _: Long) => b.collect().foreach(got.add); () }
        .start()

    val b0 = Seq((1L, 1L, Some(Acct("g", 100L))), (2L, 2L, Some(Acct("g", 5L))))
    val feed = MemoryStream[(Long, Long, Option[Acct])]
    val q1 = startQuery(feed)
    feed.addData(b0: _*)
    q1.processAllAvailable()
    q1.stop()

    // restart: key 1's update retracts the group MAXIMUM (100). The
    // VALUE-COUNT MAP {100→1, 5→1} must come back from the checkpoint
    // for the runner-up (5) to be re-derivable — a scalar (cnt, min,
    // max) recovery could never produce max = 5 here
    val feed2 = MemoryStream[(Long, Long, Option[Acct])]
    feed2.addData(b0: _*) // replayed batch 0 (skipped by the offset log)
    feed2.addData((1L, 3L, Some(Acct("g", 4L))))
    val q2 = startQuery(feed2)
    q2.processAllAvailable()
    q2.stop()

    import scala.jdk.CollectionConverters._
    val changes = got.asScala.toSeq
    assert(changes.contains(
      Change("g", "u", Some(MinMaxAgg(2L, 5L, 100L)),
        Some(MinMaxAgg(2L, 4L, 5L)), 1L)), changes)
  }

  test("a checkpoint written by Spark's default file manager restarts under the engine's") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2020-04-02 00:00:00")
    def at(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    import CheckpointRecoverySpec.Rec
    // one combined feed, side "L" or "R": a ±1-day interval join whose
    // matches need the state of both sides across the restart
    val b0 = Seq(Rec("L", "a", at(0)), Rec("L", "b", at(1)), Rec("R", "c", at(2)))
    val b1 = Seq(Rec("R", "a", at(3)), Rec("R", "b", at(30)), Rec("L", "c", at(1)))
    def writer(f: MemoryStream[Rec], ckpt: String,
               out: java.util.concurrent.ConcurrentLinkedQueue[String]) = {
      val in = f.toDF().withWatermark("ts", "1 day")
      val l = in.filter($"side" === "L").select($"id".as("l_id"), $"ts".as("l_ts"))
      val r = in.filter($"side" === "R").select($"id".as("r_id"), $"ts".as("r_ts"))
      l.join(r, org.apache.spark.sql.functions.expr(
          "l_id = r_id AND r_ts BETWEEN l_ts AND l_ts + INTERVAL 1 DAY"))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("l_id").as[String].collect().foreach(out.add); () }
    }
    import scala.jdk.CollectionConverters._

    val whole = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val feed = MemoryStream[Rec]
    val q = LocalCheckpointFileManager.start(spark)(
      writer(feed, Files.createTempDirectory("graft-cfm-whole-").toString, whole).start())
    feed.addData(b0: _*)
    q.processAllAvailable()
    feed.addData(b1: _*)
    q.processAllAvailable()
    q.stop()

    val ckpt = Files.createTempDirectory("graft-cfm-compat-").toString
    val restarted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // the first run starts outside the engine's helper: Spark picks its
    // default, FileContext-based manager
    assert(spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
    val feed1 = MemoryStream[Rec]
    val q1 = writer(feed1, ckpt, restarted).start()
    feed1.addData(b0: _*)
    q1.processAllAvailable()
    q1.stop()
    val feed2 = MemoryStream[Rec]
    feed2.addData(b0: _*) // replayed batch 0 (skipped by the offset log)
    feed2.addData(b1: _*)
    val q2 = LocalCheckpointFileManager.start(spark)(writer(feed2, ckpt, restarted).start())
    q2.processAllAvailable()
    q2.stop()

    assert(whole.asScala.toSeq.sorted == Seq("a", "c"))
    assert(restarted.asScala.toSeq.sorted == whole.asScala.toSeq.sorted)
  }
}

object CheckpointRecoverySpec {
  case class FkA(name: String, fk: Long)
  case class FkB(rname: String)
  case class Rec(side: String, id: String, ts: java.sql.Timestamp)
}
