package graft.queries

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream

/** Incremental contract of the streaming claim-log registries
  * ([[StreamingQueries.neardupCore]] / [[StreamingQueries.claimCore]],
  * order-independent form — r16 verdict #1): a bucket's rows are
  * retained while sole-owned and released the moment a second
  * distinct document arrives; the emitted SET is therefore identical
  * under any arrival order, and the finalize-time min-doc_id election
  * ([[StreamingQueries.electDupBands]] /
  * [[StreamingQueries.electClaims]]) reproduces the batch owner
  * rule exactly. */
class StreamNeardupSpec extends AnyFunSuite with SharedSpark {

  test("claim log releases buckets at contestation; election is min-id") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Int, String)]
    val ckpt = FiniteStream.scratchDir("neardup-spec-")
    val q = StreamingQueries.neardupCore(
        in.toDF().toDF("doc_id", "band", "sig"))
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .queryName("neardup_inc").start()
    def log(): Set[(Long, Int, String)] = {
      q.processAllAvailable()
      spark.table("neardup_inc").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    }
    try {
      // batch 1: doc 10 sole-owns bucket (0, "X") — retained, NOT
      // emitted; docs 20 and 30 contest (0, "Y") within the batch —
      // both released immediately
      in.addData((10L, 0, "X"), (20L, 0, "Y"), (30L, 0, "Y"))
      assert(log() == Set((20L, 0, "Y"), (30L, 0, "Y")))
      // batch 2: doc 5 arrives AFTER doc 10 with a smaller id — the
      // bucket becomes contested, releasing the RETAINED doc-10 row
      // alongside the arrival (order-independence: nothing was
      // decided at doc 10's arrival time)
      in.addData((5L, 0, "X"))
      assert(log() == Set((20L, 0, "Y"), (30L, 0, "Y"),
        (10L, 0, "X"), (5L, 0, "X")))
      // batch 3: contested buckets pass rows straight through; the
      // same sig on ANOTHER band is an independent sole-owned bucket
      in.addData((7L, 0, "X"), (7L, 1, "X"))
      val l3 = log()
      assert(l3.contains((7L, 0, "X")) && !l3.contains((7L, 1, "X")))
      // finalize election: min-id owners (5 for X, 20 for Y) are not
      // flagged; every other member counts its collided bands
      val dup = StreamingQueries.electDupBands(spark.table("neardup_inc"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dup == Map(7L -> 1L, 10L -> 1L, 30L -> 1L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("neardup_inc")
      spark.streams.resetTerminated()
      FiniteStream.deleteRecursively(ckpt)
    }
  }

  test("claimCore: within-doc repeats stay retained; election flags non-owners") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long, String)]
    val ckpt = FiniteStream.scratchDir("claim-spec-")
    val q = StreamingQueries.claimCore(
        in.toDF().toDF("doc_id", "pos", "sig"))
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .queryName("claim_inc").start()
    def log(): Set[(Long, Long, String)] = {
      q.processAllAvailable()
      spark.table("claim_inc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    try {
      // batch 1: doc 10 carries gram G at two of ITS OWN positions;
      // doc 20 contests — all three occurrences released with their
      // position payloads intact
      in.addData((10L, 3L, "G"), (10L, 9L, "G"), (20L, 0L, "G"))
      assert(log() == Set((10L, 3L, "G"), (10L, 9L, "G"), (20L, 0L, "G")))
      // batch 2: a smaller doc arrives late — released (contested)
      in.addData((5L, 1L, "G"))
      assert(log().contains((5L, 1L, "G")))
      // batch 3: new G occurrence passes through; gram H sole-owned
      // by doc 10 (two occurrences, even across batches) — retained
      in.addData((10L, 40L, "G"), (10L, 41L, "H"))
      in.addData((10L, 55L, "H"))
      val l3 = log()
      assert(l3.contains((10L, 40L, "G")))
      assert(!l3.exists(_._3 == "H"),
        "within-doc repeats must never release a sole-owned gram")
      // election: doc 5 owns G; every occurrence in a later doc is
      // flagged — including the pre-5-arrival doc-10 rows (the batch
      // min-id rule, order-independent)
      val flagged = StreamingQueries.electClaims(spark.table("claim_inc"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flagged == Set((10L, 3L), (10L, 9L), (20L, 0L), (10L, 40L)))
    } finally {
      q.stop()
      spark.catalog.dropTempView("claim_inc")
      spark.streams.resetTerminated()
      FiniteStream.deleteRecursively(ckpt)
    }
  }

  test("claimCore pend cap: overflow spills to the log, election unchanged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // one document repeating one gram past the cap — the pathological
    // state-inflation shape (ADVICE r17); cap = 2 so the third and
    // fourth positions must spill to the log while still sole-owned
    val batches = Seq(
      Seq((10L, 1L, "G"), (10L, 2L, "G"), (10L, 3L, "G")),
      Seq((10L, 4L, "G")),
      Seq((5L, 9L, "G")))
    def run(cap: Int, tag: String) = {
      val in = MemoryStream[(Long, Long, String)]
      val ckpt = FiniteStream.scratchDir(s"claim-cap-$tag-")
      val q = StreamingQueries.claimCoreBounded(
          in.toDF().toDF("doc_id", "pos", "sig"), cap)
        .writeStream.outputMode("append").format("memory")
        .option("checkpointLocation", ckpt)
        .queryName(s"claim_cap_$tag").start()
      try {
        val mids = batches.map { b =>
          in.addData(b: _*); q.processAllAvailable()
          spark.table(s"claim_cap_$tag").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val flagged = StreamingQueries
          .electClaims(spark.table(s"claim_cap_$tag"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (mids, flagged)
      } finally {
        q.stop()
        spark.catalog.dropTempView(s"claim_cap_$tag")
        spark.streams.resetTerminated()
        FiniteStream.deleteRecursively(ckpt)
      }
    }
    val (midsCapped, flaggedCapped) = run(2, "c2")
    // after batch 1 the spill is visible (position 3 only — 1 and 2
    // are retained under the cap); after batch 2 position 4 spilled
    assert(midsCapped(0) == Set((10L, 3L)))
    assert(midsCapped(1) == Set((10L, 3L), (10L, 4L)))
    // contestation replays exactly the retained rows — the final log
    // holds every occurrence once
    assert(midsCapped(2) ==
      Set((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (5L, 9L)))
    // the election is identical to the effectively-uncapped run
    val (_, flaggedWide) = run(1 << 20, "wide")
    assert(flaggedCapped == flaggedWide)
    assert(flaggedCapped == Set((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L)))
    // cap = 0 — every position spills and pend stays empty, so
    // ownership must be remembered through soleDoc itself (ADVICE r18:
    // inferring it from pend.nonEmpty forgets the owner and a later
    // second document never contests)
    val (midsZero, flaggedZero) = run(0, "c0")
    assert(midsZero(0) == Set((10L, 1L), (10L, 2L), (10L, 3L)))
    assert(midsZero(2).contains((5L, 9L)),
      "a second document must still contest a spill-everything key")
    assert(flaggedZero == flaggedWide)
  }

  test("reversed arrival order yields the same election as sorted arrival") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val batchesFwd = Seq(
      Seq((5L, 0, "X"), (10L, 0, "X")),
      Seq((20L, 0, "Y"), (30L, 0, "Y"), (7L, 0, "X")))
    val batchesRev = Seq(
      Seq((30L, 0, "Y")),
      Seq((20L, 0, "Y"), (10L, 0, "X")),
      Seq((7L, 0, "X")),
      Seq((5L, 0, "X")))
    def run(batches: Seq[Seq[(Long, Int, String)]], tag: String) = {
      val in = MemoryStream[(Long, Int, String)]
      val ckpt = FiniteStream.scratchDir(s"neardup-ord-$tag-")
      val q = StreamingQueries.neardupCore(
          in.toDF().toDF("doc_id", "band", "sig"))
        .writeStream.outputMode("append").format("memory")
        .option("checkpointLocation", ckpt)
        .queryName(s"neardup_ord_$tag").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        StreamingQueries.electDupBands(spark.table(s"neardup_ord_$tag"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally {
        q.stop()
        spark.catalog.dropTempView(s"neardup_ord_$tag")
        spark.streams.resetTerminated()
        FiniteStream.deleteRecursively(ckpt)
      }
    }
    val fwd = run(batchesFwd, "fwd")
    val rev = run(batchesRev, "rev")
    assert(fwd == rev)
    assert(fwd == Set((7L, 1L), (10L, 1L), (30L, 1L)))
  }

  test("retained sole-owner rows survive a query restart from checkpoint") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = FiniteStream.scratchDir("neardup-recover-")
    // memory sinks don't recover; foreachBatch does — collect claim
    // rows emitted AFTER the restart only
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    def start(in: MemoryStream[(Long, Int, String)]) =
      StreamingQueries.neardupCore(in.toDF().toDF("doc_id", "band", "sig"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r =>
            emitted.add((r.getLong(0), r.getString(2))))
          ()
        }
        .start()
    val feed = MemoryStream[(Long, Int, String)]
    val q1 = start(feed)
    try {
      feed.addData((10L, 0, "X"))
      q1.processAllAvailable()
    } finally q1.stop()
    // sole-owned bucket: nothing emitted yet — the row is in STATE
    assert(emitted.isEmpty, emitted.toString)
    // restart from the same checkpoint with a replayable source: the
    // committed batch re-stages, then a NEW doc contests the bucket —
    // BOTH rows release, proving the retained row survived recovery
    val feed2 = MemoryStream[(Long, Int, String)]
    feed2.addData((10L, 0, "X")) // replayed committed batch 0
    feed2.addData((42L, 0, "X")) // new batch: contests recovered state
    val q2 = start(feed2)
    try {
      q2.processAllAvailable()
      assert(emitted.toArray.toSet == Set((10L, "X"), (42L, "X")),
        emitted.toString)
    } finally {
      q2.stop()
      spark.streams.resetTerminated()
      FiniteStream.deleteRecursively(ckpt)
    }
  }

  test("catalog entry equals the batch min-owner spelling on sf0.001") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.streamNeardup(spark, sf)
      .collect().map(_.toSeq).toSet
    // batch spelling of the same flags: a band row is flagged iff a
    // smaller doc_id shares its (band, sig) bucket
    val b = DedupQueries.bandRows(spark.read.parquet(s"$sf/documents.parquet"))
    val owners = b.groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("min_id"))
    val batch = b.join(owners, Seq("band", "sig"))
      .filter(col("doc_id") > col("min_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_dup_bands"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture produced no near-duplicates")
  }
}
